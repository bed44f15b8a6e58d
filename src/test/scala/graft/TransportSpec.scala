package graft

import graft.streaming.{BatchingSink, FileRecordWriter, FileShardReader, InMemoryTransport, ShardedLog,
  ToRecord, TransportRegistry}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame

/** Seam-specific extras on top of the TransportConformance kit (which
  * owns the shared ordering/resume/reshard/throttle/at_timestamp
  * contract for every transport): the N+1 frontier guard and
  * registry failure modes.
  *
  * The injectable client seam (graft.streaming.Transport): both the
  * source and the sink compile against traits, so a user swaps the local
  * sharded-log transport for a real client adapter without touching
  * operator code (the reference's own pattern: the sink takes a bare
  * `PutRecordsRequest => PutRecordsResult`, KinesisGraphStage.scala:20,
  * the source drives describeStream/getShardIterator/getRecords,
  * KinesisSource.scala:115-163). The in-memory fake proves the path
  * end-to-end: records written through BatchingSink.over become visible
  * to a real Structured Streaming query, no filesystem involved. */
class TransportSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshId(): String = { n += 1; s"transport-spec-$n" }

  private def drain(id: String, extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format(ShardedLog.Format).option("transport", id)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val name = "tr_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = r.load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("a reader carrying the frontier in describeShards never gets per-shard maxSequence calls") {
    // The N+1 guard: a remote client pays one API call per trigger when
    // ShardInfo.maxSeq is populated (the reference's single
    // describeStream); maxSequence must then never be consulted for
    // batch admission.
    val id = freshId()
    val inner = new InMemoryTransport(id, numShards = 3)
    val counting = new graft.streaming.ShardReader {
      val maxSeqCalls = new java.util.concurrent.atomic.AtomicInteger(0)
      override def describeShards() = inner.describeShards()
      override def maxSequence(shard: String) = {
        maxSeqCalls.incrementAndGet(); inner.maxSequence(shard)
      }
      override def sequenceAtTimestamp(shard: String, tsUs: Long) =
        inner.sequenceAtTimestamp(shard, tsUs)
      override def read(shard: String, afterSeq: Long, toSeq: Long) =
        inner.read(shard, afterSeq, toSeq)
    }
    TransportRegistry.register(id, counting)
    try {
      (1 to 9).foreach(i => inner.putRecords(Seq((s"k$i", s"v$i".getBytes))))
      val rows = drain(id).collect()
      assert(rows.length === 9)
      assert(counting.maxSeqCalls.get === 0)
    } finally { TransportRegistry.unregister(id); InMemoryTransport.drop(id) }
  }

  test("FileRecordWriter: concurrent writers never replace each other's flushes") {
    val root = Files.createTempDirectory("fw-conc")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    // 4 sink instances (one per partition in a real job) hammer one
    // shard: sequence allocation must serialize, or flushes replace
    // each other silently (same seq + REPLACE_EXISTING move)
    val threads = (1 to 4).map { t =>
      new Thread(() => (1 to 50).foreach(i =>
        w.putRecords(Seq(("k", s"t$t-$i".getBytes("UTF-8"))))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try {
      val rows = drain(id).collect()
      assert(rows.length === 200, "every concurrent flush must survive")
      assert(rows.map(_.getString(2)).toSet.size === 200)
    } finally TransportRegistry.unregister(id)
  }

  test("FileRecordWriter carries line-breaking payloads via the binary layout, byte-exact") {
    // Formerly a ClientException rejection; since the binary-fidelity
    // change the writer is serialization-format agnostic (the reference
    // streams raw ByteBuffers, KinesisSource.scala:68-70): a flush that
    // is not newline-free UTF-8 falls back to the length-prefixed
    // `.recb` layout and must round-trip the exact bytes.
    val root = Files.createTempDirectory("fw-bin")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    val payloads = Seq(
      "a\nb".getBytes("UTF-8"),      // embedded newline
      Array[Byte](-1, -2, -3))       // not UTF-8
    w.putRecords(payloads.map(("k", _)))
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try {
      val got = drain(id).select("value_bin").collect().map(_.getAs[Array[Byte]](0))
      assert(got.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]) ===
        payloads.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]))
    } finally TransportRegistry.unregister(id)
  }

  /** (shard, seq, payload) of every record under a file-transport root,
    * read back through the streaming source, in (shard, seq) order. */
  private def drainFiles(root: Path): Seq[(String, Long, Seq[Byte])] = {
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try drain(id).select("shard", "seq", "value_bin").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(r => (r._1, r._2))
    finally TransportRegistry.unregister(id)
  }

  private def recordFiles(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith("0")).sorted.toSeq
    finally s.close()
  }

  private def put(w: FileRecordWriter, payload: String): Unit =
    w.putRecords(Seq(("k", payload.getBytes("UTF-8"))))

  test("FileRecordWriter cursor: an external append at the next sequence is kept") {
    val root = Files.createTempDirectory("fw-ext")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    put(w, "a")
    ShardedLog.append(root, "shard-0", 2, Seq("external"))
    put(w, "b")
    assert(recordFiles(root.resolve("shard-0")) ===
      Seq("00000001.rec", "00000002.rec", "00000003.rec"))
    assert(drainFiles(root) === Seq("a", "external", "b").zipWithIndex.map {
      case (v, i) => ("shard-0", i + 1L, v.getBytes("UTF-8").toSeq) })
  }

  test("FileRecordWriter cursor: a shard directory deleted between puts restarts at 00000001") {
    val root = Files.createTempDirectory("fw-del")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    put(w, "a"); put(w, "b")
    graft.util.TempDirs.delete(root.resolve("shard-0").toString)
    put(w, "c")
    assert(recordFiles(root.resolve("shard-0")) === Seq("00000001.rec"))
    assert(drainFiles(root) === Seq(("shard-0", 1L, "c".getBytes("UTF-8").toSeq)))
  }

  test("FileRecordWriter cursor: text and binary flushes share one sequence space") {
    val root = Files.createTempDirectory("fw-alt")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    val payloads = (1 to 6).map(i =>
      if (i % 2 == 0) Array[Byte](-1, i.toByte) else s"text-$i".getBytes("UTF-8"))
    payloads.foreach(p => w.putRecords(Seq(("k", p))))
    assert(recordFiles(root.resolve("shard-0")) === (1 to 6).map(i =>
      f"$i%08d" + (if (i % 2 == 0) ".recb" else ".rec")))
    assert(drainFiles(root) === payloads.zipWithIndex.map {
      case (p, i) => ("shard-0", i + 1L, p.toSeq) })
  }

  test("FileRecordWriter cursor: two writer instances on one root never replace a flush") {
    val root = Files.createTempDirectory("fw-two")
    val w1 = new FileRecordWriter(root.toString, numShards = 1)
    val w2 = new FileRecordWriter(root.toString, numShards = 1)
    (1 to 6).foreach(i => put(if (i % 2 == 1) w1 else w2, s"r$i"))
    assert(recordFiles(root.resolve("shard-0")) === (1 to 6).map(i => f"$i%08d.rec"))
    assert(drainFiles(root) === (1 to 6).map(i =>
      ("shard-0", i.toLong, s"r$i".getBytes("UTF-8").toSeq)))
  }

  test("unregistered transport name fails fast with a clear error") {
    val err = intercept[Exception] { drain("no-such-transport") }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(_.getMessage != null) &&
      chain(err).exists(t => Option(t.getMessage).exists(_.contains("no transport registered"))))
  }

  test("Rec equality compares binary payload content, not array identity") {
    import graft.streaming.Transport.Rec
    val bytes = Array[Byte](-1, 0, 42)
    val a = Rec.ofBytes("s-0", 1L, bytes, 100L)
    val b = Rec.ofBytes("s-0", 1L, bytes.clone(), 100L)
    assert(a.bin.isDefined, "a non-UTF-8 payload must carry bin")
    assert(a === b, "identical payload bytes in fresh arrays must be equal")
    assert(a.hashCode === b.hashCode)
    assert(a !== Rec.ofBytes("s-0", 1L, Array[Byte](-1, 0, 43), 100L))
    // text-only records: content compare degenerates to field compare
    assert(Rec("s-0", 2L, "x", 5L) === Rec("s-0", 2L, "x", 5L))
    assert(Rec("s-0", 2L, "x", 5L) !== a)
  }
}
