package graft.session

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting._
import graft.budget._
import graft.ir._

/** The budget charge is atomic: of N concurrent `evaluate`s on a session
  * that can afford exactly k of them, exactly k succeed, the rest fail
  * with the insufficient-budget error, and the remaining budget is the
  * initial budget minus k charges, exactly.
  */
class ConcurrentSpendSpec extends SparkSpec {

  test("N concurrent evaluates at a finite epsilon: exactly k succeed") {
    val n = 8
    val k = 3
    val eps = Rat(2, 5)
    val initial = Rat(7, 5) // affords 3 charges of 2/5, leaving 1/5
    val df = makeDf(StructType(Seq(longCol("v"))), (1 to 20).map(i => Row(i.toLong)))
    val s = Session.fromDataFrame(spark, PureDPBudget(initial), "t", df, AddOneRow())
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = (1 to n).map(_ => Future {
        start.await()
        Try(s.evaluate(QueryBuilder("t").count(), PureDPBudget(eps)))
      })
      start.countDown()
      val results = Await.result(Future.sequence(runs), 5.minutes)
      val (ok, failed) = results.partition(_.isSuccess)
      assert(ok.size === k)
      failed.foreach(f => assert(
        f.failed.get.getMessage.startsWith("insufficient privacy budget"),
        f.failed.get))
      assert(s.remainingPrivacyBudget === PureDPBudget(initial - eps * Rat(k)))
      assert(s.remainingPrivacyBudget === PureDPBudget(Rat(1, 5)))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
