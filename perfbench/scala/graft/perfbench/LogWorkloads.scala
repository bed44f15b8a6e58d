package graft.perfbench

import graft.streaming._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What a workload hands back to Main. Times are Trace.nowUs epochs.
  * `setupRepsUs` are the repeated part of set-up (the input build); the
  * one actually on the run's timeline is `setupRepsUs.last`. */
final case class Outcome(
    attempted: Long, failed: Long, metrics: Map[String, Double],
    firstTimedUs: Long, setupRepsUs: Seq[Long], windows: Seq[(Long, Long)],
    notes: Seq[String] = Nil)

object Heap {
  /** Heap in use after a forced full collection, in MB. The pause lets
    * Spark's ContextCleaner release what the first collection queued
    * (broadcasts, shuffles of dropped plans) before the second. */
  def liveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(300); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Closed-loop bulk drain: seeded multi-shard file log → sharded-log
  * source (AvailableNow, large maxFilesPerTrigger) → stateless
  * parse/project → per-partition BatchingSink over FileRecordWriter
  * into a second log, with a seeded few records throttled on first put.
  * Drains repeat (fresh checkpoint and output log each) until the timed
  * drain time reaches the run's seconds. */
object LogPipeline {
  val FilesPerShard = 1000
  val RecordsPerFile = 40
  val MaxFilesPerTrigger = 250
  val KeySpace = 1000
  import TransportBench._

  def lineHash(s: String): Long = scala.util.hashing.MurmurHash3.stringHash(s).toLong

  def run(spark: SparkSession, seed: Long, seconds: Double, work: Path): Outcome = {
    val n = Shards * FilesPerShard * RecordsPerFile
    val rnd = new java.util.Random(seed)
    val keys = Array.fill(n)(rnd.nextInt(KeySpace))
    val payloads = Array.fill(n)(payload(rnd, 16, 160))
    def id(s: Int, f: Int, r: Int): Int = (s * FilesPerShard + f) * RecordsPerFile + r
    // one throttled record per shard (seeded), all in the first file of
    // the last trigger, so every seed puts exactly one throttle backoff
    // at the same point of the drain on every partition
    val throttleFile = FilesPerShard - MaxFilesPerTrigger
    val throttle = (0 until Shards).map(s =>
      id(s, throttleFile, rnd.nextInt(RecordsPerFile)).toLong).toSet
    val expected = Array.tabulate(n)(i =>
      lineHash(s"$i,k${keys(i)},${payloads(i).length},${payloads(i).toUpperCase}"))
    val keyCounts = new Array[Int](KeySpace)
    keys.foreach(k => keyCounts(k) += 1)

    def write(root: Path, files: Int): Unit =
      for (s <- 0 until Shards; f <- 0 until files)
        ShardedLog.append(root, s"shard-$s", f + 1L,
          (0 until RecordsPerFile).map { r =>
            val i = id(s, f, r); s"$i,0,k${keys(i)},${payloads(i)}" })
    // set-up: build the input log three times, keep the last
    val reps = (0 until 3).map { k =>
      val root = work.resolve(s"in$k")
      val t0 = Trace.nowUs()
      write(root, FilesPerShard)
      (root, Trace.nowUs() - t0)
    }
    reps.init.foreach(r => deleteTree(r._1))
    val input = reps.last._1

    /** One drain of `in` into a fresh output log and checkpoint. */
    def drain(in: Path, tag: String): (Long, Long, Path) = {
      val out = work.resolve(s"out-$tag")
      val ck = work.resolve(s"ck-$tag")
      val outStr = out.toString
      val t0 = Trace.nowUs()
      val p = split(col("value"), ",", 4)
      source(spark, in, s"perfbench-pipeline-$tag")
        .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString).load()
        .select(concat_ws(",", p(0), p(2), length(p(3)), upper(p(3))).as("line"),
          p(2).as("key"))
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck.toString)
        .foreachBatch(sinkBatch(() => new FileRecordWriter(outStr)))
        .start().awaitTermination()
      val t1 = Trace.nowUs()
      deleteTree(ck)
      (t0, t1, out)
    }
    // warm-up: one untimed drain of the same log, so the timed drains do
    // not pay class loading, JIT and code generation
    Ledger.reset(n, Set.empty)
    deleteTree(drain(input, "warm")._3)

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    Trace.start()
    val drains = ArrayBuffer.empty[(Double, Double, Double, Double)] // wall s, rec/s, p50, p99
    val windows = ArrayBuffer.empty[(Long, Long)]
    var failed = 0L
    var timedUs = 0L
    var d = 0
    while (d < 2 || timedUs < seconds * 1e6) {
      Ledger.reset(n, throttle)
      val (t0, t1, out) = drain(input, d.toString)
      windows += ((t0, t1))
      timedUs += t1 - t0
      // ---- check, outside the timed region ----
      val seen = new Array[Int](n)
      val keyOut = new Array[Int](KeySpace)
      var wrong = 0L
      Files.list(out).iterator().asScala.filter(Files.isDirectory(_)).foreach { sh =>
        Files.list(sh).iterator().asScala
          .filter(f => !f.getFileName.toString.startsWith(".")).foreach { f =>
            ShardedLog.readRecPayloads(f).foreach { b =>
              val line = new String(b, StandardCharsets.UTF_8)
              val i = Ledger.idOf(b).toInt
              if (i < 0 || i >= n || lineHash(line) != expected(i)) wrong += 1
              else {
                seen(i) += 1
                keyOut(keys(i)) += 1
              }
            }
          }
      }
      val bad = (0 until n).count(i => seen(i) != 1 || Ledger.acks.get(i) != 1).toLong
      val keyBad = (0 until KeySpace).count(k => keyOut(k) != keyCounts(k)).toLong
      failed += bad + wrong + Ledger.left.get() + keyBad
      val lat = Ledger.ackUs.map(a => if (a == 0L) 1e12 else (a - t0) / 1000.0)
      drains += (((t1 - t0) / 1e6, (n - bad) / ((t1 - t0) / 1e6),
        Stats.pct(lat, 50), Stats.pct(lat, 99)))
      deleteTree(out)
      d += 1
    }
    val heapMb = Heap.liveMb()
    spark.streams.removeListener(progress)
    val m = Map(
      "records_per_s" -> Stats.median(drains.map(_._2).toSeq),
      "latency_ms_p50" -> Stats.median(drains.map(_._3).toSeq),
      "latency_ms_p99" -> Stats.median(drains.map(_._4).toSeq),
      "batch_s" -> Stats.median(drains.map(_._1).toSeq),
      "live_heap_mb" -> heapMb) ++
      (progressMetrics(progress.all, RecordsPerFile, windows.head._1, windows.last._2) - "busy_s") ++
      sinkMetrics() + ("drains" -> d.toDouble)
    Outcome(n.toLong * d, failed, m, windows.head._1, reps.map(_._2), windows.toSeq,
      Seq("drain_s=" + drains.map(x => f"${x._1}%.3f").mkString(",")))
  }
}

/** Open loop: one generator thread appends a file per shard every tick
  * at a fixed offered rate, stamping each record with its due time and
  * redelivering a seeded share; the query (default trigger) dedups
  * within the watermark and acks through BatchingSink. Latency is ack
  * minus due. The first WarmS seconds of records are warm-up. The
  * delivered rate is the timed records over first due to last ack. */
object LogTail {
  val HistoryFiles = 1000
  val TickMs = 20
  val RecordsPerTick = 8
  val RedeliverShare = 0.05
  val WarmS = 2.0
  val SubWindowS = 2.0
  val Horizon = "10 seconds"
  import TransportBench._

  def run(spark: SparkSession, seed: Long, seconds: Double, work: Path): Outcome = {
    val ticks = ((WarmS + seconds) * 1000 / TickMs).toInt
    val perTick = Shards * RecordsPerTick
    val n = ticks * perTick
    val rnd = new java.util.Random(seed)
    val keys = Array.fill(n)(rnd.nextInt(1000))
    val payloads = Array.fill(n)(payload(rnd, 16, 160))
    // redelivery schedule: (tick, shard) → ids, 5..50 ticks after first
    val redeliver = Array.fill(ticks, Shards)(ArrayBuffer.empty[Int])
    for (i <- 0 until n if rnd.nextDouble() < RedeliverShare) {
      val t = i / perTick + 5 + rnd.nextInt(46)
      if (t < ticks) redeliver(t)((i % perTick) / RecordsPerTick) += i
    }
    val dups = redeliver.map(_.map(_.size).sum).sum

    val reps = (0 until 3).map { k =>
      val root = work.resolve(s"in$k")
      val t0 = Trace.nowUs()
      for (s <- 0 until Shards; f <- 0 until HistoryFiles)
        ShardedLog.append(root, s"shard-$s", f + 1L,
          (0 until RecordsPerTick).map(r => s"0,0,kh,${payloads(r)}"))
      (root, Trace.nowUs() - t0)
    }
    reps.init.foreach(r => deleteTree(r._1))
    val input = reps.last._1

    Ledger.reset(n, Set.empty)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    Thread.sleep(5)
    val startMs = System.currentTimeMillis()
    Thread.sleep(5)
    val ck = work.resolve("ck")
    val p = split(col("value"), ",", 4)
    val parsed = source(spark, input, "perfbench-tail")
      .option("startingPosition", "at_timestamp")
      .option("timestampMs", startMs.toString).load()
      .select(p(0).cast("long").as("id"), timestamp_micros(p(1).cast("long")).as("ts"),
        p(2).as("key"), col("value").as("line"))
    val q = StreamOps.dedupWithinWatermark(parsed, "ts", Horizon, Seq("id"))
      .writeStream.option("checkpointLocation", ck.toString)
      .foreachBatch(sinkBatch(() => new AckingWriter)).start()

    val t0 = Trace.nowUs() + 200000L
    def due(tick: Int): Long = t0 + tick.toLong * TickMs * 1000L
    val lines = new Array[String](n)
    val warmTicks = (WarmS * 1000 / TickMs).toInt
    var lateMaxUs = 0L
    val gen = new Thread(() => {
      val seq = Array.fill(Shards)(HistoryFiles.toLong)
      for (k <- 0 until ticks) {
        if (k == warmTicks) Trace.start()
        val dueUs = due(k)
        var w = dueUs - Trace.nowUs()
        while (w > 0) { LockSupport.parkNanos(w * 1000L); w = dueUs - Trace.nowUs() }
        for (s <- 0 until Shards) {
          val fresh = (0 until RecordsPerTick).map { r =>
            val i = k * perTick + s * RecordsPerTick + r
            lines(i) = s"$i,$dueUs,k${keys(i)},${payloads(i)}"
            lines(i)
          }
          seq(s) += 1
          ShardedLog.append(input, s"shard-$s", seq(s), fresh ++ redeliver(k)(s).map(lines(_)))
        }
        lateMaxUs = math.max(lateMaxUs, Trace.nowUs() - dueUs)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val deadline = Trace.nowUs() + 30000000L
    def allAcked = (0 until n).forall(i => Ledger.acks.get(i) > 0)
    while (!allAcked && Trace.nowUs() < deadline) Thread.sleep(5)
    // give an in-flight redelivery batch the chance to (wrongly) ack twice
    Thread.sleep(300)
    q.stop()
    val tEnd = Trace.nowUs()
    val lo = due(warmTicks)
    val hi = due(ticks)
    val heapMb = Heap.liveMb()
    spark.streams.removeListener(progress)

    val failed = (0 until n).count(i => Ledger.acks.get(i) != 1).toLong + Ledger.left.get()
    // latency percentiles per sub-window of SubWindowS, reported as the
    // median over sub-windows: one slow trigger moves one sub-window, not
    // the run's figure
    val timed = (0 until n).filter(i => due(i / perTick) >= lo)
    def latMs(i: Int): Double = {
      val a = Ledger.ackUs(i)
      if (a == 0L) 1e12 else (a - due(i / perTick)) / 1000.0
    }
    val subs = timed.groupBy(i => ((due(i / perTick) - lo) / (SubWindowS * 1e6)).toInt)
      .values.map(_.map(latMs).toArray).toSeq
    val lastAck = timed.map(Ledger.ackUs(_)).max
    val pm = progressMetrics(progress.all, RecordsPerTick, lo, hi)
    val m = Map(
      "records_per_s" -> timed.count(i => Ledger.acks.get(i) > 0) / ((lastAck - lo) / 1e6),
      "latency_ms_p50" -> Stats.median(subs.map(Stats.pct(_, 50))),
      "latency_ms_p99" -> Stats.median(subs.map(Stats.pct(_, 99))),
      "batch_s" -> pm("busy_s"),
      "live_heap_mb" -> heapMb,
      "generator.records" -> (n + dups).toDouble,
      "generator.late_ms_max" -> lateMaxUs / 1000.0) ++ (pm - "busy_s") ++ sinkMetrics()
    Outcome(n.toLong, failed, m, lo, reps.map(_._2), Seq((lo, math.min(hi, tEnd))))
  }
}
