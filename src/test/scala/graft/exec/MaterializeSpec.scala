package graft.exec

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{PlanCapture, SparkSpec}

/** The one pin: one job, counts that match `count()`, the input's
  * partitioning kept as Spark's own localCheckpoint keeps it, a plan that
  * scans the pinned rows, the stock `"localCheckpoint"` action, and the
  * caller's label on its jobs.
  */
class MaterializeSpec extends SparkSpec with PlanCapture {

  private val schema = StructType(Seq(longCol("k"), StructField("f", BooleanType)))

  // 200 rows over 20 keys; every seventh flag is NULL, which counts as false
  private def rows(n: Int) = (0 until n).map(i =>
    Row((i % 20).toLong, if (i % 7 == 0) null else java.lang.Boolean.valueOf(i % 3 == 0)))

  private def shufflesOfAggregate(pinned: DataFrame): Int = structuralShuffles(
    pinned.groupBy("k").agg(count(lit(1))).queryExecution.executedPlan)

  private def assertCounts(df: DataFrame): Unit = {
    val p = Materialize(df, "MaterializeSpec counts", Some("f"))
    assert(p.rows === df.count())
    assert(p.flagged === df.filter(col("f")).count())
    assert(p.isEmpty === (p.rows == 0L))
    // partition i of the pinned frame holds partitionRows(i) rows
    val perPartition = p.df.groupBy(spark_partition_id()).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(p.partitionRows.zipWithIndex.collect {
      case (n, i) if n > 0L => i -> n
    }.toMap === perPartition)
  }

  test("one Spark job pins the frame and counts it") {
    val df = spark.range(0, 1000, 1, 4).withColumn("f", col("id") % 3 === 0L)
    var p: Materialize.Pinned = null
    assert(jobsLaunchedBy { p = Materialize(df, "MaterializeSpec one job", Some("f")) } === 1)
    assert(p.partitionRows === IndexedSeq(250L, 250L, 250L, 250L))
    assert(p.flagged === 334L)
    // the pinned rows are re-read, not recomputed
    assert(jobsLaunchedBy { assert(p.df.collect().length === 1000) } === 1)
  }

  test("counts equal count() and filter(flag).count() on multi-partition " +
      "and empty inputs") {
    assertCounts(makeDf(schema, rows(200)).repartition(5))
    assertCounts(makeDf(schema, rows(200)).repartition(3, col("k")))
    assertCounts(makeDf(schema, Nil))
    assertCounts(spark.range(0, 0, 1, 3).select(col("id").as("k"),
      (col("id") > 0L).as("f")))
  }

  test("the flag must name a boolean column") {
    val df = makeDf(schema, rows(10))
    intercept[IllegalArgumentException](Materialize(df, "bad flag", Some("k")))
    intercept[IllegalArgumentException](Materialize(df, "bad flag", Some("nope")))
  }

  test("the pin keeps the input's output partitioning: an aggregate on " +
      "the repartition key adds no exchange") {
    // a non-adaptive plan reports hashpartitioning(k, 4), and the pin keeps
    // it; the control aggregate over an unpartitioned pin does shuffle
    val plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    val base = plain.createDataFrame(java.util.Arrays.asList(rows(200): _*), schema)
    assert(shufflesOfAggregate(
      Materialize(base.repartition(4, col("k")), "keyed").df) === 0)
    assert(shufflesOfAggregate(Materialize(base, "unkeyed").df) === 1)
  }

  test("under adaptive execution the pin reports what Spark's own " +
      "localCheckpoint reports") {
    // an adaptive plan's root reports UnknownPartitioning in Spark 4.1, so
    // neither pin can promise co-partitioning there; the two must agree
    val base = makeDf(schema, rows(200)).repartition(4, col("k"))
    def partitioning(df: DataFrame) =
      df.queryExecution.optimizedPlan.asInstanceOf[LogicalRDD].outputPartitioning
    val ours = Materialize(base, "adaptive").df
    val stock = base.localCheckpoint(true)
    assert(partitioning(ours) === partitioning(stock))
    assert(shufflesOfAggregate(ours) === shufflesOfAggregate(stock))
  }

  test("the returned plan is a scan of the pinned RDD") {
    val p = Materialize(makeDf(schema, rows(50)).repartition(2), "scan")
    val scans = p.df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }
    assert(scans.size === 1)
    assert(p.df.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert(scans.head.rdd.isCheckpointed)
  }

  test("listeners see one localCheckpoint action") {
    val got = checkpointPlans(
      Materialize(planDf(schema, rows(60)).repartition(3, col("k")), "capture").df)
    assert(got.map(_.action) === Seq("localCheckpoint"))
    assert(got.head.shuffles === 1)
  }

  test("the label is every pin job's description, and the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    val group = s"materialize-label-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach(p => seen.add(
          (p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "the caller's description")
      try {
        // a repartition makes the pin launch a shuffle job before the pin job
        Materialize(makeDf(schema, rows(80)).repartition(2, col("k")),
          "MaterializeSpec round 3")
        assert(sc.getLocalProperty("spark.job.description") ===
          "the caller's description")
        sc.parallelize(Seq(1), 1).count() // drains the listener bus below
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_ == (group -> "the caller's description")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val descs = seen.asScala.filter(_._1 == group).map(_._2).toSeq
      assert(descs.last === "the caller's description")
      assert(descs.init.nonEmpty)
      assert(descs.init.forall(_ == "MaterializeSpec round 3"), descs)
    } finally sc.removeSparkListener(listener)
  }
}
