package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, launched by perfbench/run.py:
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --t0-ms <launch epoch ms> --work <dir> --data <dir> --out <json>
  *
  * Runs one workload in a fresh `local[cores]` session and writes the
  * figures, the check counts and (traced) the span summary to `--out`;
  * traced runs also write every span as JSON lines next to it. */
object Main {
  val Layers = Seq("transport", "source", "engine", "operator", "sink", "driver",
    "builders", "catalyst", "exec")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    Trace.requested = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val data = Paths.get(a("data")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors.toString

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // as the bench session of graft.Bench: static plans, no re-planning
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val o = workload match {
      case "log_pipeline" => LogPipeline.run(spark, seed, seconds, work)
      case "log_tail" => LogTail.run(spark, seed, seconds, work)
      case "batch_heavy" => BatchBench.run(spark, BatchBench.Heavy,
        data.resolve("sf0.01").toString, data.resolve("sf0.001").toString, seconds, work)
      case "batch_light" => BatchBench.run(spark, BatchBench.light,
        data.resolve("sf0.01").toString, data.resolve("sf0.001").toString, seconds, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // set-up as if the input were built once, at the median of its builds
    val t0Us = a("t0-ms").toLong * 1000L
    val reps = o.setupRepsUs.sorted
    val setupUs = (o.firstTimedUs - t0Us) - o.setupRepsUs.sum + reps(reps.length / 2)

    val traced = if (!Trace.requested) Map.empty[String, Double] else {
      val self = Trace.selfTimes()
      val top = Trace.all.filter(_.parent == 0L).map(x => (x.startUs, x.endUs))
      val covered = o.windows.map { case (s, e) => Trace.unionUs(top, s, e) }.sum
      val wall = o.windows.map { case (s, e) => e - s }.sum
      val totalSelf = Layers.map(self.getOrElse(_, 0L)).sum.max(1L)
      val spans = Trace.all.size
      Trace.writeJsonl(Paths.get(a("out")).resolveSibling("spans.jsonl"))
      Layers.flatMap { l =>
        val us = self.getOrElse(l, 0L)
        Seq(s"self.${l}_ms" -> us / 1e3, s"self.${l}_share" -> us.toDouble / totalSelf)
      }.toMap ++ Map(
        "trace.uncovered_share" -> (1.0 - covered.toDouble / wall.max(1L)),
        "trace.spans" -> spans.toDouble,
        "trace.overhead_est_ms" -> spans * Trace.perSpanCostUs() / 1e3)
    }
    val metrics = o.metrics ++ traced + ("setup_s" -> setupUs / 1e6)
    val json = Json.obj(Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "notes" -> o.notes.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }
}
