package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PrivacyBudget, PureDPBudget, Rat}
import graft.ir.{GroupedQueryBuilder, Query, QueryBuilder}
import graft.keyset.KeySet
import graft.session.Session

/** The DP planner decorates the user's frame with working columns (`__bin`,
  * `__c`, `__bins`, `__k`, `__sd`, `__sq`, `__n`, `__v`, `__vs`,
  * `__r_<key>`). A group-by key or measure that uses one of those names
  * would be overwritten or made ambiguous, so the query is refused while it
  * compiles: an IllegalArgumentException naming the column, before any
  * Spark job and before any budget is spent.
  */
class WorkingColumnsSpec extends SparkSpec {

  private val total = PureDPBudget(Rat(4))

  private def refused(keys: String*)(q: GroupedQueryBuilder => Query): Unit = {
    val schema = StructType(keys.map(strCol) :+ longCol("x"))
    val df = makeDf(schema,
      (1 to 20).map(i => Row.fromSeq(keys.map(_ => s"k${i % 2}") :+ i.toLong)))
    val s = Session.fromDataFrame(spark, total, "t", df, AddOneRow())
    val ks = KeySet.fromTuples(
      Seq(keys.map(_ => "k0"), keys.map(_ => "k1")), StructType(keys.map(strCol)))
    var err: IllegalArgumentException = null
    val jobs = jobsLaunchedBy {
      err = intercept[IllegalArgumentException](
        s.evaluate(q(QueryBuilder("t").groupby(ks)), PureDPBudget(Rat(1))))
    }
    assert(err.getMessage.contains(s"'${keys.last}'"), err.getMessage)
    assert(jobs === 0)
    assert(s.remainingPrivacyBudget === (total: PrivacyBudget))
  }

  test("a binned quantile keyed by __bin is refused, naming the column") {
    refused("__bin")(_.quantile("x", 0.5, 0, 20))
  }

  test("a get_bounds keyed by __bin is refused, naming the column") {
    refused("__bin")(_.getBounds("x"))
  }

  test("an average keyed by __n is refused, naming the column") {
    refused("__n")(_.average("x", 0, 20))
  }

  test("a key named __r_<other key> is refused by the keyset join") {
    refused("k", "__r_k")(_.count())
  }
}
