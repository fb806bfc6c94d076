package graft.exec

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget._
import graft.ir.{MechanismHint, QueryBuilder}
import graft.session.Session
import graft.streaming.Streaming
import NoiseMechanism._

/** Calibration is exact and rounds toward more noise: every mechanism's
  * parameter, compared in `Rat` against the exact value the budget pays for,
  * is a scale (b, sigma^2) no smaller, an epsilon no larger, and a
  * partition-selection threshold no lower. A parameter no sampler can honour
  * is refused before the budget is charged.
  */
class CalibrationSpec extends SparkSpec {

  private val budgets = Seq(PureDPBudget(Rat(1, 7)),
    ApproxDPBudget(Rat(1, 7), Rat(1, 1000000)), RhoZCDPBudget(Rat(1, 3)))

  /** (L1, squared L2) pairs: whole, awkward rational, the rounded-up r*sqrt(g)
    * of a zCDP partition (r = 2, g = 3) with its exact square, and the
    * half-span 0.35 of the clamp [0, 0.7], whose double square rounds down.
    */
  private val sensitivities = Seq(
    (Rat(1), Rat(1)), (Rat(3), Rat(9)), (Rat(7, 2), Rat(49, 4)),
    (Rat(2) * Rat.sqrtUpper(Rat(3)), Rat(12)), (Rat(0.35), Rat(0.35) * Rat(0.35)))

  private def param(m: NoiseMechanism): Rat = m match {
    case Geometric(b)         => b
    case Laplace(b)           => b
    case Gaussian(s2)         => s2
    case DiscreteGaussian(s2) => s2
    case Exponential(e)       => e
  }

  test("additive noise: budget kind x hint x integer x parts x sensitivity, " +
      "every scale >= the exact value, exact where it is rational") {
    var cases = 0
    for (budget <- budgets; hint <- Seq(MechanismHint.Default,
           MechanismHint.Laplace, MechanismHint.Gaussian);
         integer <- Seq(true, false); parts <- 1 to 3; (l1, sq) <- sensitivities) {
      val zcdp = budget.isInstanceOf[RhoZCDPBudget]
      // the planner's hint rule: Gaussian needs zCDP, and every non-Laplace
      // hint under zCDP is Gaussian-family
      if (zcdp || hint != MechanismHint.Gaussian) {
        val m = additive(budget.split(parts), l1, integer,
          if (zcdp && hint != MechanismHint.Laplace) Some(sq) else None)
        val what = s"$budget $hint integer=$integer parts=$parts l1=$l1: $m"
        val p = param(m)
        val up = Rat(m.scale)
        assert(up >= p && Rat(Math.nextDown(m.scale)) < p, what)
        (budget, m) match {
          case (PureDPBudget(eps), _) => assert(p === l1 * Rat(parts) / eps, what)
          case (ApproxDPBudget(eps, _), _) => assert(p === l1 * Rat(parts) / eps, what)
          case (RhoZCDPBudget(rho), _: Gaussian | _: DiscreteGaussian) =>
            assert(p === sq * Rat(parts) / (Rat(2) * rho), what)
          case (RhoZCDPBudget(rho), _) =>
            // b = l1 * sqrt(parts / (2 rho)), irrational: compare squares
            val exactSq = l1 * l1 * Rat(parts) / (Rat(2) * rho)
            assert(p * p >= exactSq, what)
            assert(p * p <= exactSq * (Rat(1) + Rat(BigInt(1), BigInt(1) << 38)), what)
        }
        m match {
          case _: Geometric | _: DiscreteGaussian => assert(integer, what)
          case _ => assert(!integer, what)
        }
        cases += 1
      }
    }
    // PureDP and ApproxDP take no Gaussian hint
    assert(cases === 2 * 2 * 2 * 3 * 5 + 3 * 2 * 3 * 5)
  }

  test("exponential mechanism: epsilon <= the exact value, equal at " +
      "perfect squares, and its double rounds down") {
    for (budget <- budgets; (l1, _) <- sensitivities) {
      val m = exponential(budget, l1)
      val what = s"$budget l1=$l1: $m"
      budget match {
        case RhoZCDPBudget(rho) =>
          assert(m.epsilon * m.epsilon <= Rat(8) * rho / (l1 * l1), what)
        case PureDPBudget(eps) => assert(m.epsilon === eps / l1, what)
        case ApproxDPBudget(eps, _) => assert(m.epsilon === eps / l1, what)
      }
      assert(Rat(m.scale) <= m.epsilon && Rat(Math.nextUp(m.scale)) > m.epsilon, what)
    }
    // l1^2 / 8 rho = 1/4 and 9 are perfect squares: sqrt(8 rho) / l1 exactly
    assert(exponential(RhoZCDPBudget(Rat(1, 2)), Rat(1)).epsilon === Rat(2))
    assert(exponential(RhoZCDPBudget(Rat(1, 8)), Rat(3)).epsilon === Rat(1, 3))
  }

  /** exp(y) >= x, shown by a partial sum of exp's series (a lower bound of
    * exp(y) for y >= 0) reaching x.
    */
  private def expAtLeast(y: Rat, x: Rat): Boolean = {
    require(y >= Rat.zero)
    var (sum, term, k) = (Rat.one, Rat.one, 1)
    while (sum < x && k <= 1000) { term = term * y / Rat(k); sum = sum + term; k += 1 }
    sum >= x
  }

  test("partition selection: ceil(tau) >= sens + b * ln(maxGroups / 2 delta)") {
    for ((sens, _) <- sensitivities; eps <- Seq(Rat(1, 7), Rat(1), Rat(10));
         delta <- Seq(Rat(1, 3), Rat(1, 1000000), Rat(BigInt(1), BigInt(10).pow(30)))) {
      val (g, tau) = partitionSelection(sens, eps, delta)
      val what = s"sens=$sens eps=$eps delta=$delta: tau=$tau"
      assert(g.b === Rat(2) * sens / eps, what)
      // ln(x) <= (ceil(tau) - sens) / b  <=>  exp((ceil(tau) - sens) / b) >= x
      val x = Rat(sens.ceil.max(1), 1) / (Rat(2) * delta)
      assert(expAtLeast((Rat(tau) - sens) / g.b, x), what)
      assert(tau >= 1L, what)
    }
    assert(partitionSelection(Rat(3), Rat.Inf, Rat(1, 1000000)) === (Geometric(Rat.zero), 1L))
  }

  private def mechanisms(df: DataFrame): Seq[NoiseMechanism] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case a: AddNoise => a.mechanism
    }))

  test("TreeAggregation, SparseVector and Streaming scales >= their exact values") {
    val (eps, sens) = (1.0 / 7, 0.1)
    val (e, s) = (Rat(eps), Rat(sens))
    val series = makeDf(StructType(Seq(longCol("t"), longCol("c"))), Seq(Row(0L, 1L)))
    // maxT = 5 builds a tree of height 4
    val Seq(tree) = mechanisms(TreeAggregation.noisyPrefixSums(
      series, "t", "c", maxT = 5, epsilon = eps, sensitivity = sens))
    assert(tree === Geometric(s * Rat(4) / e))
    assert(Rat(tree.scale) >= s * Rat(4) / e)

    val (rhoScale, nuScale) = SparseVector.scales(eps, sens, 3)
    assert(Rat(rhoScale) >= Rat(6) * s / e && Rat(nuScale) >= Rat(12) * s / e)
    assert(Rat(Math.nextDown(rhoScale)) < Rat(6) * s / e)

    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val Seq(stream) = mechanisms(Streaming.noisyWindowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype", "10 minutes", "5 minutes",
      epsilon = eps, sensitivity = sens))
    assert(stream === Geometric(s / e))
    assert(Rat(stream.scale) >= s / e)
  }

  test("the moments' sensitivity is the exact half-span, not its rounded " +
      "double square") {
    val s = Session.fromDataFrame(spark, PureDPBudget(Rat(1)), "t",
      makeDf(StructType(Seq(dblCol("d"))), Seq(Row(0.5))), AddOneRow())
    val half = Rat(0.7) / Rat(2)
    assert(Rat(0.35 * 0.35) < half * half) // the double product rounds down
    val info = s.noiseInfo(QueryBuilder("t").variance("d", 0.0, 0.7), PureDPBudget(Rat(1)))
    // sum, sum of squares and count each take a third of epsilon = 1
    assert(info.map(_.mechanism) ===
      Seq(Laplace(half * Rat(3)), Laplace(half * half * Rat(3)), Geometric(Rat(3))))
  }

  private def countSession(budget: PrivacyBudget): Session =
    Session.fromDataFrame(spark, budget, "t",
      makeDf(StructType(Seq(longCol("v"), dblCol("d"))),
        (1L to 7L).map(i => Row(i, i.toDouble))), AddOneRow())

  /** `query` at `spend` is refused by both evaluate and noiseInfo, and the
    * session's remaining budget is untouched.
    */
  private def refused(session: Session, query: graft.ir.Query, spend: PrivacyBudget): Unit = {
    val before = session.remainingPrivacyBudget
    for (call <- Seq[() => Any](() => session.evaluate(query, spend),
                                () => session.noiseInfo(query, spend))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("too large to sample"), e.getMessage)
    }
    assert(session.remainingPrivacyBudget === before)
  }

  test("an integer mechanism whose draws could reach the Long range is " +
      "refused before the charge") {
    // sigma^2 = 1 / (2 * 10^-40) = 5 * 10^39: its draws saturate, and a
    // release would read Long.MinValue + the count
    val z = countSession(RhoZCDPBudget(Rat(1)))
    refused(z, QueryBuilder("t").count(),
      RhoZCDPBudget(Rat(BigInt(1), BigInt(10).pow(40))))
    // b = 2^64, and 2^52 + 1
    val p = countSession(PureDPBudget(Rat(1)))
    refused(p, QueryBuilder("t").count(), PureDPBudget(Rat(BigInt(1), BigInt(1) << 64)))
    refused(p, QueryBuilder("t").count(),
      PureDPBudget(Rat(BigInt(1), (BigInt(1) << 52) + 1)))
    // b = 2^52 itself is allowed
    assert(p.noiseInfo(QueryBuilder("t").count(),
      PureDPBudget(Rat(BigInt(1), BigInt(1) << 52))).head.mechanism ===
      Geometric(Rat(BigInt(1) << 52, BigInt(1))))
  }

  test("a scale beyond the double range is refused before the charge") {
    val p = countSession(PureDPBudget(Rat(1)))
    val tiny = PureDPBudget(Rat(BigInt(1), BigInt(10).pow(400)))
    refused(p, QueryBuilder("t").count(), tiny)
    refused(p, QueryBuilder("t").sum("d", 0.0, 4.0), tiny)
  }
}
