package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` launches from this thread. Suites share the
    * SparkContext and run concurrently, so jobs are counted by a job group
    * set on this thread only.
    */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-probe-${java.util.UUID.randomUUID()}"
    val marker = s"$group-drained"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs probe")
      try body finally sc.clearJobGroup()
      // the listener bus delivers events in posting order: once the marker
      // job's start is seen, every job `body` launched has been counted
      sc.setJobGroup(marker, "jobs probe marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
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
