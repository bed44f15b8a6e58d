package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.atomic.LongAdder
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** In-memory span recorder and named counters, shared by every thread of
  * the benchmark JVM (Spark runs `local[n]`, so executor tasks see the
  * same statics as the driver).
  *
  * A span is (name, layer, trace id, id, parent id, start, end) with
  * microsecond epoch times from one nanoTime-anchored clock. Spans are
  * kept in memory and written once, at the end of the run. Counters are
  * always on; spans are recorded only in a traced run. Both start from
  * empty when the workload calls [[start]] at the top of its timed
  * phase, so set-up and warm-up leave nothing behind. */
object Trace {
  /** Whether this run is traced (`--trace 1`). */
  @volatile var requested: Boolean = false
  /** Whether spans are being recorded now. */
  @volatile var enabled: Boolean = false

  def start(): Unit = { spans.clear(); counters.clear(); enabled = requested }

  final case class Span(name: String, layer: String, trace: String,
                        id: Long, parent: Long, startUs: Long, endUs: Long) {
    def durUs: Long = endUs - startUs
  }

  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  /** Epoch microseconds, monotone within the JVM. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  def newId(): Long = ids.incrementAndGet()

  def record(name: String, layer: String, trace: String, parent: Long,
             startUs: Long, endUs: Long, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else newId()
      spans.add(Span(name, layer, trace, sid, parent, startUs, endUs))
      sid
    }

  /** Stable id for a span synthesized after the fact (the micro-batch
    * engine phases, known only from progress events), so spans recorded
    * earlier inside the trigger can already name it as parent. A
    * trigger's trace id is `<query id prefix>/<batch id>`. */
  def phaseId(trace: String, phase: String): Long = {
    val k = s"$trace/$phase"
    val h = (scala.util.hashing.MurmurHash3.stringHash(k).toLong << 32) |
      (k.reverse.hashCode.toLong & 0xffffffffL)
    -(h & Long.MaxValue) - 1
  }

  // ---- counters ----
  private val counters = TrieMap.empty[String, LongAdder]
  def add(name: String, v: Long = 1L): Unit =
    counters.getOrElseUpdate(name, new LongAdder).add(v)
  def count(name: String): Long = counters.get(name).fold(0L)(_.sum())

  def all: Seq[Span] = spans.asScala.toSeq

  // ---- analysis ----

  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def unionUs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the union of its
    * children inside it (children on parallel tasks overlap, so the
    * union, not the sum, is subtracted). */
  def selfTimes(): Map[String, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        math.max(0L, s.durUs - unionUs(cs, s.startUs, s.endUs))
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"trace":${Json.str(s.trace)},"id":${s.id},"parent":${s.parent},"start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }

  /** Cost of recording one span, measured on a private queue: spans ×
    * this estimates the tracing overhead from inside a traced run. */
  def perSpanCostUs(): Double = {
    val q = new ConcurrentLinkedQueue[Span]()
    val n = 200000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val a = nowUs()
      q.add(Span("x", "y", "z", ids.get + i, 0L, a, nowUs()))
      i += 1
    }
    (System.nanoTime() - t0) / 1e3 / n
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile of an unsorted array (p in 0..100). */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
