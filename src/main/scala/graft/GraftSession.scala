package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe — every graft main and the spec suite build
  * through it, so Verify checks the plans Bench measures. The whole
  * conf table:
  *
  *  - `local[cores]`, cores = `SPARK_GRAFT_CPUS` (default 4);
  *  - `spark.sql.shuffle.partitions` = cores;
  *  - session time zone UTC: Tables' TIMESTAMP_NTZ → Timestamp cast is
  *    session-time-zone-dependent, so an unpinned session on a non-UTC
  *    host would read shifted instants;
  *  - AQE off: at this scale AQE buys nothing the static planner does
  *    not already do (bytes-based coalescing measured net-negative in
  *    r8) while costing per-stage re-plan and re-codegen — the sf0.001
  *    warm-up compiles the static plan's generated classes, and AQE's
  *    runtime re-plans would compile fresh ones per entry. Full
  *    185-entry draws, same day: 175.5 s AQE-off vs 188.2 s AQE-on.
  *    The library itself never reads or sets the flag; a 100 TB
  *    deployment keeps AQE's skew/coalesce machinery;
  *  - Spark UI off.
  *
  * Bounded streaming drains run on a clone of this session with their
  * own partition count (queries.Streaming), so nothing here changes
  * once built. `extra` adds confs a caller needs beyond the table (a
  * scratch warehouse dir). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or 4 when unset or not a positive int. */
  private def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(4)

  def build(appName: String, cores: Int = envCores,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
