package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def makeDf(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def longCol(n: String): StructField = StructField(n, LongType)
  def strCol(n: String): StructField = StructField(n, StringType)
  def dblCol(n: String): StructField = StructField(n, DoubleType)

  /** An isolated session that evaluates expressions under one codegen
    * factory mode ("CODEGEN_ONLY" or "NO_CODEGEN") with no fallback. Local
    * relations are kept from being folded at optimization time
    * (ConvertToLocalRelation projects them interpreted whatever the mode),
    * and whole-stage codegen is on only for CODEGEN_ONLY, so CODEGEN_ONLY
    * runs generated code in a whole-stage-codegen stage and NO_CODEGEN runs
    * `eval` in an interpreted projection.
    */
  def codegenSession(mode: String): SparkSession = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    sess.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
    sess.conf.set("spark.sql.codegen.fallback", "false")
    sess.conf.set("spark.sql.codegen.factoryMode", mode)
    sess
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
