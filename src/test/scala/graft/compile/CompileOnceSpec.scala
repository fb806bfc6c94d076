package graft.compile

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PureDPBudget, Rat}
import graft.ir.{Query, QueryBuilder}
import graft.session.Session

/** Every release shape compiles its transform chain exactly once. A
  * `join_public` measures the public table's key fan-out with an eager
  * stats job while the chain compiles, so a second compilation shows up as
  * extra Spark jobs. Average is the one-compilation reference; variance and
  * stdev, which release one more part, must launch no more jobs than it.
  */
class CompileOnceSpec extends SparkSpec {

  /** Spark jobs `body` launches from this thread. Suites share the
    * SparkContext and run concurrently, so jobs are counted by a job group
    * set on this thread only.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"compile-once-${java.util.UUID.randomUUID()}"
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
      sc.setJobGroup(group, "compile-once probe")
      try body finally sc.clearJobGroup()
      // the listener bus delivers events in posting order: once the marker
      // job's start is seen, every job `body` launched has been counted
      sc.setJobGroup(marker, "compile-once marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("variance and stdev over a join_public chain launch the same jobs " +
      "as average: the fan-out stats run once, not once per compilation") {
    val iso = spark.newSession()
    val priv = iso.createDataFrame(java.util.Arrays.asList(
        (1 to 40).map(i => Row(s"k${i % 4}", i.toLong % 7)): _*),
      StructType(Seq(strCol("k"), longCol("x"))))
    val pub = iso.createDataFrame(java.util.Arrays.asList(
        Seq(Row("k0", 1L), Row("k1", 2L), Row("k1", 3L), Row("k2", 4L)): _*),
      StructType(Seq(strCol("k"), longCol("w"))))
    val inf = PureDPBudget(Rat.Inf)
    val s = Session.fromDataFrame(iso, inf, "t", priv, AddOneRow())
    val chain = QueryBuilder("t").joinPublic(pub)
    // an infinite budget keeps the release lazy: evaluate's only jobs are
    // the ones compiling the chain launches
    def jobs(q: Query): Int = jobsLaunchedBy(s.evaluate(q, inf))
    val average = jobs(chain.average("x", 0, 10))
    assert(average > 0, "the join_public chain launched no stats jobs")
    assert(jobs(chain.variance("x", 0, 10)) === average)
    assert(jobs(chain.stdev("x", 0, 10)) === average)
  }
}
