package graft

/** Scratch main: print every table's schema + a row, so we catch
  * reader incompatibilities (e.g. parquet ns timestamps) early. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-smoke")
    val dir = "/root/testdata/sf0.001"
    Tables.all.foreach { n =>
      try {
        val df = Tables.load(spark, dir, n)
        println(s"=== $n: ${df.count()} rows")
        df.printSchema()
        df.show(2, 60)
      } catch { case e: Throwable => println(s"=== $n FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
