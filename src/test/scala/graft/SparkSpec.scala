package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs, built by the one GraftSession
  * recipe. One session per suite keeps codegen caches warm; 4 cores
  * (so 4 shuffle partitions) keep tiny-data tests fast whatever
  * SPARK_GRAFT_CPUS the run sets. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.build(getClass.getSimpleName, cores = 4,
    extra = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString))

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    graft.functions.GraftFunctions.register(spark)
    super.beforeAll()
  }
}
