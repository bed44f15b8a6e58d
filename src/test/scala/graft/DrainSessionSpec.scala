package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** A bounded streaming drain runs on a clone of the caller's session, so
  * the conf that concurrent batch entries plan against never moves:
  * another thread polling the caller's session throughout a drain sees
  * the same shuffle-partition count and state-store provider it saw
  * before the drain started. */
class DrainSessionSpec extends SparkSpec {

  test("a drain leaves the caller's shuffle partitions and state-store provider unchanged throughout") {
    val partsKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def snapshot(): (String, Option[String]) =
      (spark.conf.get(partsKey), spark.conf.getOption(providerKey))
    // a drain partition count unlike the session's own, so a drain that
    // wrote it to the shared session would show up in the poll
    spark.conf.set("graft.stream.parts", "7")
    try {
      val before = snapshot()
      assert(before._1 !== "7")
      val seen = new ConcurrentLinkedQueue[(String, Option[String])]()
      val polling = new AtomicBoolean(true)
      val poller = new Thread(() => while (polling.get) { seen.add(snapshot()); Thread.sleep(1) })
      poller.start()
      val rows = try SparkEntry.queries("s9_stream_content_dedup")(spark, Sf0001).collect()
        finally { polling.set(false); poller.join() }
      assert(rows.nonEmpty)
      assert(seen.size > 1, "the poller must have sampled during the drain")
      val changed = seen.asScala.filter(_ != before).toSet
      assert(changed.isEmpty, s"caller's session conf moved during a drain: $changed")
      assert(snapshot() === before)
    } finally spark.conf.unset("graft.stream.parts")
  }
}
