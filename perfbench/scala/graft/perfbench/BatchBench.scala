package graft.perfbench

import graft.SparkEntry
import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Job/stage spans and task I/O counters, keyed to the entry through the
  * job's local properties (listener events arrive asynchronously). */
final class ExecListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, (Long, String, Long, Long)]() // id, trace, parent, start
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobIntervals = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val entry = props.flatMap(p => Option(p.getProperty("perfbench.entry"))).orNull
    if (entry != null) {
      val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).fold(0L)(_.toLong)
      jobSpan.put(e.jobId, (Trace.newId(), entry, parent, e.time * 1000L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      Trace.add("exec.jobs")
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (id, entry, parent, start) =>
      Trace.record("job", "exec", entry, parent, start, e.time * 1000L, id)
      jobIntervals.add((entry, start, e.time * 1000L))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(j => Option(jobSpan.get(j))).foreach {
      case (jid, entry, _, _) =>
        Trace.add("exec.tasks", si.numTasks.toLong)
        for (s <- si.submissionTime; c <- si.completionTime)
          Trace.record("stage", "exec", entry, jid, s * 1000L, c * 1000L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      Trace.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
}

/** Catalyst phase times from each query's QueryPlanningTracker; phases
  * are attributed to entries afterwards by time. */
final class PlanListener extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, ps) =>
      if (name != "parsing") phases.add((name, ps.startTimeMs * 1000L, ps.endTimeMs * 1000L))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The batch query engine through the registry: warm up at the small
  * scale, then run every entry of the suite once per pass, in a fixed
  * order, timing build plus full materialization (`noop` write). */
object BatchBench {
  val Heavy: Seq[String] = Seq(
    "q26_sketches", "q32_copurchase", "q33_item_pagerank", "q34_triangles",
    "q35_part_components", "q36_onion_layers", "e26_peak_concurrency",
    "e30_cohort_ltv", "d6_dedup_minhash", "d11_ann_ivf", "d13_dedup_clusters",
    "d18_jaccard_join", "d34_containment_join", "d44_semdedup_ann",
    "d45_bpe_train", "d50_substr_remove", "d66_ccnet_buckets",
    "d72_bigram_surprisal", "d81_hybrid_rrf", "d85_phash_clusters")

  /** Every other q- and e-family entry, in registry order. */
  def light: Seq[String] = SparkEntry.registry.map(_.name)
    .filter(n => (n.head == 'q' || n.head == 'e') && !Heavy.contains(n))

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, names: Seq[String], dataDir: String, warmDir: String,
          seconds: Double, work: Path): Outcome = {
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    val failed = scala.collection.mutable.Set.empty[String]
    def attempt(name: String)(f: => Unit): Unit =
      try f catch { case e: Exception =>
        failed += name
        System.err.println(s"perfbench: $name failed: $e")
      } finally spark.catalog.clearCache()

    // set-up: resolve every table three times, each in a fresh session
    val tables = graft.Tables.all
    val reps = (0 until 3).map { _ =>
      val s = spark.newSession()
      val t0 = Trace.nowUs()
      tables.foreach(t => graft.Tables.load(s, dataDir, t).schema)
      Trace.nowUs() - t0
    }
    // warm-up at the small scale, entries run concurrently (untimed, so
    // only its total matters: set-up); its results are what the runner
    // compares with the DuckDB oracles (same plans, small enough input
    // for every oracle to finish in seconds). Session caches are cleared
    // once at the end: a clear from one worker would drop another's.
    val dump = work.resolve("results")
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sc.defaultParallelism)
    names.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          val dir = dump.resolve(n).toString
          fns(n)(spark, warmDir).write.mode("overwrite").parquet(dir)
          rows.put(n, java.lang.Long.valueOf(spark.read.parquet(dir).count()))
        } catch { case e: Exception =>
          failed.synchronized(failed += n)
          System.err.println(s"perfbench: $n failed in warm-up: $e")
        }
      })
    }.foreach(_.get())
    pool.shutdown()
    spark.catalog.clearCache()

    val exec = new ExecListener
    val plans = new PlanListener
    Trace.start()
    if (Trace.enabled) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(plans)
    }
    val times = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val builds = ArrayBuffer.empty[Double]
    // name, entry span, build span, start, build end, end
    val entrySpans = ArrayBuffer.empty[(String, Long, Long, Long, Long, Long)]
    val gc0 = gcMs
    val (cg0, cgMs0) = codegen
    def pass(): Double = {
      var total = 0.0
      names.foreach { n =>
        val id = Trace.newId()
        val bid = Trace.newId()
        // jobs a builder runs eagerly belong to the build span
        sc.setLocalProperty("perfbench.entry", n)
        sc.setLocalProperty("perfbench.span", bid.toString)
        attempt(n) {
          val t0 = Trace.nowUs()
          val df = fns(n)(spark, dataDir)
          val tb = Trace.nowUs()
          sc.setLocalProperty("perfbench.span", id.toString)
          materialize(df)
          val t1 = Trace.nowUs()
          Trace.record("build", "builders", n, id, t0, tb, bid)
          Trace.record("entry", "driver", n, 0L, t0, t1, id)
          entrySpans += ((n, id, bid, t0, tb, t1))
          times(n) += (t1 - t0) / 1e3
          builds += (tb - t0) / 1e3
          total += (t1 - t0) / 1e6
        }
        sc.setLocalProperty("perfbench.entry", null)
        sc.setLocalProperty("perfbench.span", null)
      }
      total
    }
    val first = Trace.nowUs()
    val p1 = pass()
    val passes = math.max(1, math.round(seconds / math.max(p1, 1e-3)).toInt)
    (1 until passes).foreach(_ => pass())
    val last = Trace.nowUs()
    val gc1 = gcMs
    val (cg1, cgMs1) = codegen
    val heapMb = Heap.liveMb()
    if (Trace.enabled) {
      org.apache.spark.perfbenchaccess.Bus.drain(sc)
      sc.removeSparkListener(exec)
      spark.listenerManager.unregister(plans)
    }

    val good = names.filterNot(failed)
    val med = good.map(n => n -> Stats.median(times(n).toSeq)).toMap
    val batchS = med.values.sum / 1e3
    val perPass = (0 until passes).map(i => good.map(n => times(n).lift(i).getOrElse(0.0)).toArray)
    // Catalyst phases and job intervals, attributed to their entry
    val phaseSums = scala.collection.mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
    plans.phases.asScala.foreach { case (ph, s, e) =>
      entrySpans.find { case (_, _, _, a, _, b) => s >= a - 1000 && s <= b }.foreach {
        case (n, id, bid, _, tb, _) =>
        Trace.record(ph, "catalyst", n, if (s < tb) bid else id, s, e)
        if (phaseSums.contains(ph)) phaseSums(ph) += e - s
      }
    }
    val jobUs = entrySpans.map { case (n, _, _, a, _, b) =>
      Trace.unionUs(exec.jobIntervals.asScala.filter(_._1 == n).map(j => (j._2, j._3)).toSeq, a, b)
    }.sum
    val entryUs = entrySpans.map { case (_, _, _, a, _, b) => b - a }.sum
    val m = Map(
      "records_per_s" -> good.size / batchS,
      "latency_ms_p50" -> Stats.median(perPass.map(Stats.pct(_, 50))),
      "latency_ms_p99" -> Stats.median(perPass.map(Stats.pct(_, 99))),
      "batch_s" -> batchS,
      "live_heap_mb" -> heapMb,
      "build_ms" -> builds.sum / passes,
      "plan.analysis_ms" -> phaseSums("analysis") / 1e3 / passes,
      "plan.optimization_ms" -> phaseSums("optimization") / 1e3 / passes,
      "plan.planning_ms" -> phaseSums("planning") / 1e3 / passes,
      "codegen.compiles" -> (cg1 - cg0).toDouble / passes,
      "codegen.ms" -> (cgMs1 - cgMs0) / passes,
      "exec.jobs" -> Trace.count("exec.jobs").toDouble / passes,
      "exec.tasks" -> Trace.count("exec.tasks").toDouble / passes,
      "exec.job_s" -> jobUs / 1e6 / passes,
      "exec.driver_gap_s" -> (entryUs - jobUs) / 1e6 / passes,
      "exec.shuffle_write_mb" -> Trace.count("exec.shuffle_write_bytes") / 1048576.0 / passes,
      "exec.shuffle_read_mb" -> Trace.count("exec.shuffle_read_bytes") / 1048576.0 / passes,
      "exec.spill_mb" -> Trace.count("exec.spill_bytes") / 1048576.0 / passes,
      "exec.gc_ms" -> (gc1 - gc0).toDouble / passes,
      "passes" -> passes.toDouble) ++
      Heavy.filter(med.contains).map(n => s"entry.${n}_s" -> med(n) / 1e3)
    // rows-only entries must produce rows; oracle entries are compared
    // by the runner, which reads this manifest
    val manifest = names.map { n =>
      n -> Json.obj(Seq(
        "dir" -> Json.str(dump.resolve(n).toString),
        "rows" -> Option(rows.get(n)).fold("null")(_.toString),
        "sql" -> SparkEntry.oracleSql.get(n).fold("null")(Json.str)))
    }
    java.nio.file.Files.writeString(work.resolve("oracle.json"), Json.obj(manifest))
    val empty = names.count(n =>
      !SparkEntry.oracleSql.contains(n) && Option(rows.get(n)).exists(_ == 0L))
    Outcome(names.size.toLong, (failed.size + empty).toLong, m, first, reps, Seq((first, last)),
      Seq(s"entries=${names.size}", s"passes=$passes"))
  }
}
