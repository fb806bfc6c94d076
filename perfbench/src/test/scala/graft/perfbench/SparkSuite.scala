package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A suite sharing one small local Spark session. */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The benchmark's tables; tests run with the benchmark directory as cwd. */
  val dataDir = "data"

  override def afterAll(): Unit = BenchSpark.stop(spark)
}
