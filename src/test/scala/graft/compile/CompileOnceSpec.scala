package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PrivacyBudget, PureDPBudget, Rat}
import graft.ir.{Query, QueryBuilder}
import graft.session.Session

/** Every release shape compiles its transform chain exactly once. A
  * `join_public` measures the public table's key fan-out with an eager
  * stats job while the chain compiles, so a second compilation shows up as
  * extra Spark jobs. Average is the one-compilation reference; variance and
  * stdev, which release one more part, must launch no more jobs than it.
  */
class CompileOnceSpec extends SparkSpec {

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

  test("noiseInfo spends nothing; it runs only the public-table stats the " +
      "calibration needs") {
    val iso = spark.newSession()
    val priv = iso.createDataFrame(java.util.Arrays.asList(
        (1 to 40).map(i => Row(s"k${i % 4}", i.toLong % 7)): _*),
      StructType(Seq(strCol("k"), longCol("x"))))
    val pub = iso.createDataFrame(java.util.Arrays.asList(
        Seq(Row("k0", 1L), Row("k1", 2L), Row("k1", 3L), Row("k2", 4L)): _*),
      StructType(Seq(strCol("k"), longCol("w"))))
    val total = PureDPBudget(Rat(2))
    val s = Session.fromDataFrame(iso, total, "t", priv, AddOneRow())
    def jobs(q: Query): Int =
      jobsLaunchedBy(s.noiseInfo(q, PureDPBudget(Rat(1))))
    // the fan-out of the public join scales the noise, so calibrating a
    // join_public query runs the stats job; a plain query runs none
    assert(jobs(QueryBuilder("t").count()) === 0)
    assert(jobs(QueryBuilder("t").joinPublic(pub).count()) === 3)
    assert(s.remainingPrivacyBudget === (total: PrivacyBudget))
  }
}
