package graft.perfbench

import graft.streaming._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-run record ledger the executor-side sink reaches through a static
  * (local mode: tasks run in the driver JVM). Record ids are 0..n-1. */
object Ledger {
  @volatile var ackUs: Array[Long] = Array.emptyLongArray
  @volatile var acks: AtomicIntegerArray = new AtomicIntegerArray(0)
  @volatile var throttleIds: Set[Long] = Set.empty
  val throttledOnce: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val left = new AtomicLong(0L)

  def reset(n: Int, throttle: Set[Long]): Unit = {
    ackUs = new Array[Long](n)
    acks = new AtomicIntegerArray(n)
    throttleIds = throttle
    throttledOnce.clear()
    left.set(0L)
  }

  def ack(id: Long): Unit = {
    val i = id.toInt
    if (acks.incrementAndGet(i) == 1) ackUs(i) = Trace.nowUs()
  }

  /** Leading decimal field of a record line: every line starts `id,`. */
  def idOf(bytes: Array[Byte]): Long = {
    var i = 0; var v = 0L
    while (i < bytes.length && bytes(i) != ',') { v = v * 10 + (bytes(i) - '0'); i += 1 }
    v
  }
  def idOf(line: String): Long = idOf(line.getBytes(StandardCharsets.US_ASCII))
}

/** One span id + start per running task, created by whichever of the
  * reader or the sink touches the task first. */
object TaskSpans {
  private val open = new ConcurrentHashMap[Long, (Long, Long)]()
  def get(): (Long, Long) = {
    val tc = TaskContext.get()
    if (tc == null) (0L, Trace.nowUs())
    else open.computeIfAbsent(tc.taskAttemptId(), _ => (Trace.newId(), Trace.nowUs()))
  }
  def close(): Unit = Option(TaskContext.get()).foreach(tc => open.remove(tc.taskAttemptId()))
  /** Trace id of the trigger a task runs in, from the properties the
    * micro-batch engine sets on its jobs. */
  def trace(): String = Option(TaskContext.get()).fold("-")(tc =>
    traceOf(tc.getLocalProperty("sql.streaming.queryId"),
      tc.getLocalProperty("streaming.sql.batchId")))
  def traceOf(queryId: String, batchId: String): String =
    s"${Option(queryId).getOrElse("-").take(8)}/${Option(batchId).getOrElse("-")}"
  val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
}

/** Read-side wrapper on the injectable seam: times describeShards and the
  * listing part of read as spans, and the whole read (listing plus the
  * record fetches pulled through the iterator) as counters. */
final class TimingShardReader(inner: ShardReader) extends ShardReader {
  private def driverTrace(): String = {
    val sc = SparkSession.active.sparkContext
    TaskSpans.traceOf(sc.getLocalProperty("sql.streaming.queryId"),
      sc.getLocalProperty("streaming.sql.batchId"))
  }

  override def describeShards(): Seq[Transport.ShardInfo] = {
    val t0 = Trace.nowUs()
    val r = inner.describeShards()
    val t1 = Trace.nowUs()
    val tr = driverTrace()
    Trace.record("describe", "transport", tr, Trace.phaseId(tr, "latestOffset"), t0, t1)
    Trace.add("transport.describe_calls"); Trace.add("transport.describe_us", t1 - t0)
    r
  }
  override def maxSequence(shard: String): Long = inner.maxSequence(shard)
  override def sequenceAtTimestamp(shard: String, tsUs: Long): Long =
    inner.sequenceAtTimestamp(shard, tsUs)
  override def prune(shard: String, upTo: Long): Unit = inner.prune(shard, upTo)

  override def read(shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec] = {
    val (task, _) = TaskSpans.get()
    val t0n = System.nanoTime()
    val t0 = Trace.nowUs()
    val it = inner.read(shard, afterSeq, toSeq)
    Trace.record("read", "transport", TaskSpans.trace(), task, t0, Trace.nowUs())
    Trace.add("transport.read_calls")
    var ns = System.nanoTime() - t0n
    var n = 0L
    new Iterator[Transport.Rec] {
      private var done = false
      override def hasNext: Boolean = {
        val a = System.nanoTime(); val h = it.hasNext; ns += System.nanoTime() - a
        if (!h && !done) {
          done = true
          Trace.add("transport.read_us", ns / 1000); Trace.add("transport.read_records", n)
        }
        h
      }
      override def next(): Transport.Rec = {
        val a = System.nanoTime(); val r = it.next(); ns += System.nanoTime() - a
        n += 1; r
      }
    }
  }
}

/** Write-side wrapper: times each put into the storage writer and counts
  * throws (the calls BatchingSink's Retry sees fail). */
final class TimingRecordWriter(inner: RecordWriter) extends RecordWriter {
  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] = {
    val t0 = Trace.nowUs()
    try inner.putRecords(records)
    catch { case e: Throwable => Trace.add("retry.put_exceptions"); throw e }
    finally {
      val t1 = Trace.nowUs()
      Trace.record("put", "transport", TaskSpans.trace(), TaskSpans.current.get(), t0, t1)
      Trace.add("transport.put_calls"); Trace.add("transport.put_us", t1 - t0)
      Trace.add("transport.put_records", records.length.toLong)
    }
  }
}

/** Bench-side writer: answers each record of the seeded throttle set
  * ThrottledCode on its first put and forwards everything else. It is
  * what BatchingSink calls, so its calls are the sink's flushes. */
final class ThrottleOnceWriter(inner: RecordWriter) extends RecordWriter {
  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] = {
    val traced = Trace.enabled
    val flush = if (traced) Trace.newId() else 0L
    val t0 = Trace.nowUs()
    val res = new Array[BatchingSink.PutResult](records.length)
    val fwd = ArrayBuffer.empty[Int]
    var i = 0
    while (i < records.length) {
      val id = Ledger.idOf(records(i)._2)
      if (Ledger.throttleIds.contains(id) && Ledger.throttledOnce.add(id))
        res(i) = BatchingSink.PutResult(Some(BatchingSink.ThrottledCode))
      else fwd += i
      i += 1
    }
    val parent = TaskSpans.current.get()
    TaskSpans.current.set(flush)
    try {
      val out = if (fwd.isEmpty) Nil else inner.putRecords(fwd.toSeq.map(records))
      fwd.lazyZip(out).foreach((j, r) => res(j) = r)
    } finally TaskSpans.current.set(parent)
    Trace.record("flush", "sink", TaskSpans.trace(), parent, t0, Trace.nowUs(), flush)
    Trace.add("sink.flushes"); Trace.add("sink.record_puts", records.length.toLong)
    Trace.add("sink.requeued", (records.length - fwd.length).toLong)
    res.toSeq
  }
}

/** Acknowledges every record without storing it. */
final class AckingWriter extends RecordWriter {
  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] =
    records.map(_ => BatchingSink.PutResult(None))
}

/** Collects StreamingQueryProgress; always on (it is the channel a user
  * monitors a stream through), cheap next to a trigger. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq.sortBy(_.batchId)
}

object TransportBench {
  val Shards = 4
  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  def payload(rnd: java.util.Random, minLen: Int, maxLen: Int): String = {
    val n = minLen + rnd.nextInt(maxLen - minLen + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alnum.charAt(rnd.nextInt(Alnum.length))); i += 1 }
    sb.toString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** Source options: the plain file reader as a user configures it, or
    * the timing wrapper through the transport registry when tracing. */
  def source(spark: SparkSession, root: Path, name: String): org.apache.spark.sql.streaming.DataStreamReader = {
    val r = spark.readStream.format(ShardedLog.Format)
    if (Trace.requested) {
      TransportRegistry.register(name, new TimingShardReader(new FileShardReader(root.toString)))
      r.option("transport", name)
    } else r.option("path", root.toString)
  }

  /** Per-partition sink: BatchingSink (default Config) over `base`, with
    * the seeded throttle wrapper; acks each Right, counts each Left. */
  def runPartition(base: RecordWriter, it: Iterator[(String, String)]): Unit = {
    val traced = Trace.requested
    val (task, start) = TaskSpans.get()
    TaskSpans.current.set(task)
    val writer = new ThrottleOnceWriter(if (traced) new TimingRecordWriter(base) else base)
    val sink =
      if (!traced) BatchingSink.over[(String, String)](writer)
      else BatchingSink.over[(String, String)](writer, sleeper = (ms: Long) => {
        val t0 = Trace.nowUs()
        Thread.sleep(ms)
        val t1 = Trace.nowUs()
        Trace.record("backoff", "sink", TaskSpans.trace(), task, t0, t1)
        Trace.add("sink.backoff_us", t1 - t0)
      })
    try sink.run(it).foreach {
      case Right((_, line)) => Ledger.ack(Ledger.idOf(line)); Trace.add("sink.records_acked")
      case Left(_) => Ledger.left.incrementAndGet(); Trace.add("sink.left")
    } finally {
      val tr = TaskSpans.trace()
      Trace.record("partition", "operator", tr, Trace.phaseId(tr, "addBatch"),
        start, Trace.nowUs(), task)
      TaskSpans.current.set(0L)
      TaskSpans.close()
    }
  }

  def sinkBatch(mkBase: () => RecordWriter): (DataFrame, Long) => Unit =
    (df: DataFrame, _: Long) => {
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      df.select(col("key"), col("line")).as(enc).foreachPartition(
        (it: Iterator[(String, String)]) => runPartition(mkBase(), it))
    }

  /** Engine/source/state metrics from progress, and the engine phase
    * spans synthesized from each trigger's durationMs (laid out in the
    * engine's execution order from the trigger's start). */
  def progressMetrics(ps: Seq[StreamingQueryProgress], recordsPerFile: Double,
                      lo: Long, hi: Long): Map[String, Double] = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val inWin = ps.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      t >= lo && t < hi && p.numInputRows > 0
    }
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    inWin.foreach { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val tr = TaskSpans.traceOf(p.id.toString, p.batchId.toString)
      val trig = Trace.phaseId(tr, "trigger")
      Trace.record("trigger", "engine", tr, 0L, t,
        t + (d(p, "triggerExecution") * 1000).toLong, trig)
      var at = t
      order.foreach { k => if (p.durationMs.containsKey(k)) {
        val e = at + (d(p, k) * 1000).toLong
        Trace.record(k, if (k == "latestOffset") "source" else "engine",
          tr, trig, at, e, Trace.phaseId(tr, k))
        at = e
      } }
    }
    def lagFiles(p: StreamingQueryProgress): Double = p.sources.map { s =>
      val latest = offsets(s.latestOffset); val end = offsets(s.endOffset)
      latest.map { case (k, v) => math.max(0L, v - end.getOrElse(k, 0L)) }.sum.toDouble
    }.sum
    val st = inWin.flatMap(_.stateOperators)
    def sum(f: StreamingQueryProgress => Double) = inWin.map(f).sum
    Map(
      "engine.triggers" -> inWin.size.toDouble,
      "engine.trigger_ms_p50" -> Stats.median(inWin.map(d(_, "triggerExecution"))),
      "engine.query_planning_ms" -> sum(d(_, "queryPlanning")),
      "engine.add_batch_ms" -> sum(d(_, "addBatch")),
      "engine.wal_commit_ms" -> sum(d(_, "walCommit")),
      "engine.commit_offsets_ms" -> sum(d(_, "commitOffsets")),
      "source.latest_offset_ms" -> sum(d(_, "latestOffset")),
      "source.lag_records_max" -> (if (inWin.isEmpty) 0.0 else inWin.map(lagFiles).max * recordsPerFile),
      "source.rows_per_trigger" -> (if (inWin.isEmpty) 0.0 else sum(_.numInputRows.toDouble) / inWin.size),
      "state.rows_total" -> (if (st.isEmpty) 0.0 else st.last.numRowsTotal.toDouble),
      "state.memory_bytes" -> (if (st.isEmpty) 0.0 else st.map(_.memoryUsedBytes).max.toDouble),
      "state.commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
      "state.update_ms" -> st.map(_.allUpdatesTimeMs.toDouble).sum,
      "state.duplicates_dropped" -> st.map(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)).sum,
      "busy_s" -> sum(d(_, "triggerExecution")) / 1000.0)
  }

  private val OffsetEntry = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r
  def offsets(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else OffsetEntry.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap

  def sinkMetrics(): Map[String, Double] = {
    val puts = Trace.count("sink.record_puts").toDouble
    Map(
      "transport.describe_calls" -> Trace.count("transport.describe_calls").toDouble,
      "transport.describe_ms" -> Trace.count("transport.describe_us") / 1000.0,
      "transport.read_calls" -> Trace.count("transport.read_calls").toDouble,
      "transport.read_ms" -> Trace.count("transport.read_us") / 1000.0,
      "transport.read_records" -> Trace.count("transport.read_records").toDouble,
      "transport.put_calls" -> Trace.count("transport.put_calls").toDouble,
      "transport.put_ms" -> Trace.count("transport.put_us") / 1000.0,
      "transport.put_records" -> Trace.count("transport.put_records").toDouble,
      "sink.flushes" -> Trace.count("sink.flushes").toDouble,
      "sink.records_acked" -> Trace.count("sink.records_acked").toDouble,
      "sink.requeued" -> Trace.count("sink.requeued").toDouble,
      "sink.left" -> Trace.count("sink.left").toDouble,
      "sink.backoff_ms" -> Trace.count("sink.backoff_us") / 1000.0,
      "sink.useful_put_ratio" -> (if (puts > 0) Trace.count("sink.records_acked") / puts else 0.0),
      "retry.put_exceptions" -> Trace.count("retry.put_exceptions").toDouble)
  }
}
