package graft

import graft.streaming._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Adapter conformance kit — the KinesaliteTest analog generalized: ONE
  * shared contract suite asserting the transport semantics every
  * [[ShardReader]]/[[RecordWriter]] pair must uphold (per-shard
  * ordering, checkpoint resume, parent-gated reshard for both split and
  * two-parent merge, throttle requeue, the Either dead-letter channel,
  * at_timestamp positioning), run unchanged against each built-in
  * transport AND the Kinesis adapter over the in-JVM fake. A new
  * adapter earns its place by subclassing with a fixture — nothing else.
  */
trait TransportConformanceKit extends SparkSpec {

  /** One transport under test. */
  trait Fixture {
    /** TransportRegistry name the streaming source reads from. */
    def id: String
    /** Sink-side writer for the same backing log. */
    def writer: RecordWriter
    /** Direct append to a named shard (reshard tests need records in
      * specific shards). */
    def append(shard: String, value: String): Unit
    /** Declare reshard parentage of `child`. */
    def declareParents(child: String, parents: Seq[String]): Unit
    /** Set the arrival clock (µs) for subsequent appends/puts. */
    def setClockUs(us: Long): Unit
    def close(): Unit
  }

  def transportName: String
  def freshFixture(): Fixture

  private def withFixture2[T](body: Fixture => T): T = {
    val f = freshFixture()
    try body(f) finally f.close()
  }

  private def drain(id: String, extra: Map[String, String] = Map.empty,
      checkpoint: Option[String] = None): Seq[(String, Long, String)] = {
    var r = spark.readStream.format(ShardedLog.Format).option("transport", id)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val buf = mutable.ArrayBuffer.empty[(String, Long, String)]
    val q = r.load().writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        buf.synchronized {
          rows.foreach(x => buf += ((x.getString(0), x.getLong(1), x.getString(2))))
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(Files.createTempDirectory("ckpt").toString))
      .start()
    q.processAllAvailable(); q.stop()
    buf.toSeq
  }

  test(s"[$transportName] sink puts drain through the source; per-shard order = put order") {
    withFixture2 { f =>
      implicit val rec: ToRecord[(String, String)] =
        ToRecord.instance(_._1, _._2.getBytes("UTF-8"))
      val sink = BatchingSink.over[(String, String)](f.writer, sleeper = _ => ())
      val input = (1 to 40).map(i => (s"key-${i % 5}", s"payload-$i"))
      val out = sink.run(input.iterator).toSeq
      assert(out.forall(_.isRight), "all puts succeed")

      val rows = drain(f.id)
      assert(rows.length === 40)
      val byKeyPayloads = input.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      byKeyPayloads.foreach { case (_, payloads) =>
        val shardOf = rows.filter(r => payloads.contains(r._3)).map(_._1).distinct
        assert(shardOf.length === 1, "one key maps to exactly one shard")
        val inOrder = rows.filter(_._1 == shardOf.head)
          .sortBy(_._2).map(_._3).filter(payloads.contains)
        assert(inOrder === payloads, "per-shard order preserves put order")
      }
    }
  }

  test(s"[$transportName] checkpoint resume delivers only post-offset records, once") {
    withFixture2 { f =>
      val ckpt = Files.createTempDirectory("ckpt").toString
      (1 to 3).foreach(i => f.append("resume-shard", s"old-$i"))
      val first = drain(f.id, checkpoint = Some(ckpt))
      assert(first.map(_._3).sorted === (1 to 3).map(i => s"old-$i"))

      (1 to 2).foreach(i => f.append("resume-shard", s"new-$i"))
      val second = drain(f.id, checkpoint = Some(ckpt))
      assert(second.map(_._3).sorted === (1 to 2).map(i => s"new-$i"),
        s"resume must deliver exactly the new records, got $second")
    }
  }

  test(s"[$transportName] split child is gated until its parent drains") {
    withFixture2 { f =>
      (1 to 3).foreach(i => f.append("sp-parent", s"p-$i"))
      f.declareParents("sp-child", Seq("sp-parent"))
      f.append("sp-child", "c-1")
      val seen = mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.format(ShardedLog.Format)
        .option("transport", f.id).option("maxFilesPerTrigger", "1")
        .load().writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val shards = df.select("shard").collect().map(_.getString(0))
          seen.synchronized { shards.foreach(s => seen += batchId -> s) }
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()
      assert(seen.count(_._2 == "sp-parent") === 3)
      assert(seen.count(_._2 == "sp-child") === 1)
      val lastParent = seen.filter(_._2 == "sp-parent").map(_._1).max
      val firstChild = seen.filter(_._2 == "sp-child").map(_._1).min
      assert(lastParent < firstChild,
        s"child admitted at batch $firstChild before parent drained at $lastParent")
    }
  }

  test(s"[$transportName] merge child is gated until BOTH parents drain") {
    withFixture2 { f =>
      (1 to 2).foreach(i => f.append("mg-p1", s"p1-$i"))
      (1 to 4).foreach(i => f.append("mg-p2", s"p2-$i"))
      f.declareParents("mg-m", Seq("mg-p1", "mg-p2"))
      f.append("mg-m", "m-1")
      val seen = mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.format(ShardedLog.Format)
        .option("transport", f.id).option("maxFilesPerTrigger", "1")
        .load().writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val shards = df.select("shard").collect().map(_.getString(0))
          seen.synchronized { shards.foreach(s => seen += batchId -> s) }
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()
      assert(seen.count(_._2 == "mg-p1") === 2, "all p1 records delivered")
      assert(seen.count(_._2 == "mg-p2") === 4, "all p2 records delivered")
      assert(seen.count(_._2 == "mg-m") === 1, "merged child delivered (no loss)")
      val lastParent = seen.filter(r => r._2 == "mg-p1" || r._2 == "mg-p2").map(_._1).max
      val firstChild = seen.filter(_._2 == "mg-m").map(_._1).min
      assert(lastParent < firstChild,
        s"merge child at batch $firstChild before both parents drained at $lastParent")
    }
  }

  test(s"[$transportName] throttle requeue + Either dead-letter route through the real writer") {
    withFixture2 { f =>
      // decorate the transport's writer: every key's FIRST attempt is
      // throttled (exercising the sink's requeue against this
      // transport), keys marked bad hard-fail (the Left channel) and
      // must never reach the log
      val throttledOnce = mutable.Set.empty[String]
      val sleeps = mutable.Buffer.empty[Long]
      val flaky = new RecordWriter {
        override def putRecords(records: Seq[(String, Array[Byte])]) = {
          val decisions = records.map { case (k, p) =>
            if (k.startsWith("bad")) Left(Some("InternalFailure"))
            else if (throttledOnce.add(k)) Left(Some(BatchingSink.ThrottledCode))
            else Right((k, p))
          }
          val forwarded = decisions.collect { case Right(r) => r }
          val innerResults =
            if (forwarded.nonEmpty) f.writer.putRecords(forwarded).iterator
            else Iterator.empty
          decisions.map {
            case Left(code) => BatchingSink.PutResult(code)
            case Right(_) => innerResults.next()
          }
        }
      }
      implicit val rec: ToRecord[(String, String)] =
        ToRecord.instance(_._1, _._2.getBytes("UTF-8"))
      val sink = BatchingSink.over[(String, String)](flaky,
        config = BatchingSink.Config(sendingThreshold = 10, maxBufferSize = 20),
        sleeper = sleeps += _)
      val input = (1 to 24).map(i =>
        (if (i % 8 == 0) s"bad-$i" else s"key-$i", s"v-$i"))
      val out = sink.run(input.iterator).toSeq

      val (lefts, rights) = out.partition(_.isLeft)
      assert(lefts.map(_.left.toOption.get.record._1).toSet ===
        input.map(_._1).filter(_.startsWith("bad")).toSet)
      assert(lefts.forall(_.left.toOption.get.errorCode === "InternalFailure"))
      assert(rights.size === 21 && lefts.size === 3)
      assert(sleeps.count(_ == 800L) >= 1, "throttled flush must self-throttle")

      val rows = drain(f.id)
      val delivered = rows.map(_._3).sorted
      val expected = input.filterNot(_._1.startsWith("bad")).map(_._2).sorted
      assert(delivered === expected,
        "every non-failed record lands exactly once; failed records never land")
    }
  }

  test(s"[$transportName] an always-throttling writer terminates with every record in Left") {
    withFixture2 { f =>
      // a writer that throttles every put: the sink's requeue is bounded by maxTries, so each record is put
      // maxTries + 1 times and then dead-letters as throttled. The put
      // cap turns a regression to unbounded requeue into a failure, not
      // a hang.
      val puts = mutable.Map.empty[String, Int].withDefaultValue(0)
      val throttling = new RecordWriter {
        override def putRecords(records: Seq[(String, Array[Byte])]) = {
          records.foreach { case (k, _) => puts(k) += 1 }
          if (puts.values.sum > 1000)
            throw new BatchingSink.ClientException("throttle requeue never terminated")
          records.map(_ => BatchingSink.PutResult(Some(BatchingSink.ThrottledCode)))
        }
      }
      implicit val rec: ToRecord[(String, String)] =
        ToRecord.instance(_._1, _._2.getBytes("UTF-8"))
      val config = BatchingSink.Config(sendingThreshold = 10, maxBufferSize = 20, maxTries = 3)
      val sink = BatchingSink.over[(String, String)](throttling, config, sleeper = _ => ())
      val input = (1 to 24).map(i => (s"key-$i", s"v-$i"))
      val out = sink.run(input.iterator).toSeq

      assert(out.size === input.size)
      assert(out.forall(_.left.toOption.exists(_.errorCode == BatchingSink.ThrottledCode)))
      assert(out.map(_.left.toOption.get.record).toSet === input.toSet)
      assert(puts.toMap === input.map(_._1 -> (config.maxTries + 1)).toMap)
      // nothing dead-lettered reached the log: only a directly appended
      // sentinel drains
      f.append("s0", "sentinel")
      assert(drain(f.id).map(_._3) === Seq("sentinel"))
    }
  }

  test(s"[$transportName] non-UTF-8 binary payloads round-trip byte-exactly") {
    withFixture2 { f =>
      implicit val rec: ToRecord[(String, Array[Byte])] =
        ToRecord.instance(_._1, _._2)
      val sink = BatchingSink.over[(String, Array[Byte])](f.writer, sleeper = _ => ())
      // payloads no UTF-8 line layout can carry: an invalid lead byte,
      // an embedded newline, NULs and a high-bit sweep — plus one plain
      // text record to prove the two kinds coexist in one stream
      val payloads: Seq[Array[Byte]] = Seq(
        Array(0xFF, 0x00, 0x80, 0xC3).map(_.toByte),
        "text-with\nnewline".getBytes("UTF-8"),
        Array.tabulate(64)(i => (i * 7 % 256).toByte),
        "plain-text".getBytes("UTF-8"))
      val input = payloads.zipWithIndex.map { case (p, i) => (s"bin-key-$i", p) }
      val out = sink.run(input.iterator).toSeq
      assert(out.forall(_.isRight), "all binary puts succeed")

      val buf = mutable.ArrayBuffer.empty[(String, Array[Byte])]
      val q = spark.readStream.format(ShardedLog.Format).option("transport", f.id)
        .load().selectExpr("value", "value_bin").writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect()
          buf.synchronized {
            rows.foreach(x => buf += ((x.getString(0), x.getAs[Array[Byte]](1))))
          }
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()

      def b64(a: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(a)
      assert(buf.map(r => b64(r._2)).sorted === payloads.map(b64).sorted,
        "every payload's exact bytes come back through value_bin")
      assert(buf.exists(_._1 == "plain-text"),
        "text payloads keep their readable value view")
    }
  }

  test(s"[$transportName] at_timestamp starts from the first record at/after the timestamp") {
    withFixture2 { f =>
      f.setClockUs(1000L * 1000L)
      f.append("ts-shard", "early")
      f.setClockUs(5000L * 1000L)
      f.append("ts-shard", "late")
      val rows = drain(f.id, Map(
        "startingPosition" -> "at_timestamp", "timestampMs" -> "3000"))
      assert(rows.map(_._3) === Seq("late"))
    }
  }
}

class InMemoryTransportConformance extends TransportConformanceKit {
  override def transportName = "in-memory"
  private var n = 0
  override def freshFixture(): Fixture = {
    n += 1
    val theId = s"conf-mem-$n"
    // clock in a serializable box built as a LOCAL: a closure over a
    // fixture field would drag the (unserializable) suite into the
    // registered reader, which ships into executor tasks
    val clockBox = new java.util.concurrent.atomic.AtomicLong(1000L * 1000L)
    val fake = new InMemoryTransport(theId, numShards = 3,
      clock = () => clockBox.get())
    TransportRegistry.register(theId, fake)
    new Fixture {
      override def id: String = theId
      override def writer: RecordWriter = fake
      override def append(shard: String, value: String): Unit =
        fake.append(shard, value)
      override def declareParents(child: String, parents: Seq[String]): Unit =
        fake.declareParents(child, parents)
      override def setClockUs(us: Long): Unit = clockBox.set(us)
      override def close(): Unit = {
        TransportRegistry.unregister(theId); InMemoryTransport.drop(theId)
      }
    }
  }
}

class FileTransportConformance extends TransportConformanceKit {
  override def transportName = "file"
  private var n = 0
  override def freshFixture(): Fixture = new Fixture {
    n += 1
    val id = s"conf-file-$n"
    private val root = Files.createTempDirectory("conf-file")
    private var clockUs = 1000L * 1000L
    private val nextSeq = mutable.Map.empty[String, Long]
    TransportRegistry.register(id, new FileShardReader(root.toString))
    override val writer: RecordWriter = new FileRecordWriter(root.toString, 3)
    override def append(shard: String, value: String): Unit = {
      val seq = nextSeq.getOrElse(shard, 0L) + 1L
      nextSeq(shard) = seq
      val p = ShardedLog.append(root, shard, seq, Seq(value))
      // arrival time = file mtime: pin it to the fixture clock
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(clockUs / 1000L))
    }
    override def declareParents(child: String, parents: Seq[String]): Unit =
      ShardedLog.declareParents(root, child, parents)
    override def setClockUs(us: Long): Unit = clockUs = us
    override def close(): Unit = TransportRegistry.unregister(id)
  }
}

/** The Kinesis adapter over the in-JVM fake — proves the full mapping
  * (describeStream topology, iterator/getRecords paging with opaque
  * sequence strings, putRecords error codes, the dense-position ledger
  * with commit-time pruning) satisfies the same contract as the
  * built-in transports. */
class KinesisTransportConformance extends TransportConformanceKit {
  override def transportName = "kinesis-adapter"
  private var n = 0
  override def freshFixture(): Fixture = new Fixture {
    n += 1
    val id = s"conf-kin-$n"
    private val core = FakeKinesis.create(id, numShards = 3)
    private val port = new FakeKinesisPort(id)
    TransportRegistry.register(id,
      new KinesisShardReader("stream", port, pollLimit = 7, sleeper = _ => ()))
    override val writer: RecordWriter = new KinesisRecordWriter("stream", port)
    override def append(shard: String, value: String): Unit =
      core.append(shard, value, value.getBytes("UTF-8"))
    override def declareParents(child: String, parents: Seq[String]): Unit =
      core.declareChild(child, parents.headOption, parents.drop(1).headOption)
    override def setClockUs(us: Long): Unit = core.nowUs = us
    override def close(): Unit = {
      TransportRegistry.unregister(id); FakeKinesis.drop(id)
    }
  }
}
