package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget._
import graft.exec.NoiseMechanism._
import graft.ir._
import graft.session.Session

/** The DEFAULT -> concrete mechanism selection matrix (reference
  * _rewrite_rules.py:91-199): counts and integer sums discretize, decimal
  * sums stay continuous; PureDP/ApproxDP -> geometric/Laplace, zCDP ->
  * discrete Gaussian/Gaussian; explicit Laplace under zCDP converts via
  * eps = sqrt(2 rho); Gaussian under PureDP is an error.
  */
class MechanismSelectionSpec extends SparkSpec {

  private def df = makeDf(
    StructType(Seq(longCol("i"), dblCol("d"))), Seq(Row(1L, 1.0)))

  private def sess(b: PrivacyBudget) =
    Session.fromDataFrame(spark, b, "t", df, AddOneRow())

  private def mech(b: PrivacyBudget, q: Query) =
    sess(b match {
      case _: PureDPBudget   => PureDPBudget(Rat.Inf)
      case _: ApproxDPBudget => ApproxDPBudget(Rat.Inf, Rat.zero)
      case _: RhoZCDPBudget  => RhoZCDPBudget(Rat.Inf)
    }).noiseInfo(q, b).head.mechanism

  private val eps = PureDPBudget(0.5)
  private val approx = ApproxDPBudget(Rat(1, 2), Rat(1, 1000))
  private val rho = RhoZCDPBudget(0.5)

  test("counts: geometric under PureDP/ApproxDP, discrete Gaussian under zCDP") {
    assert(mech(eps, QueryBuilder("t").count()) === Geometric(Rat(2)))
    assert(mech(approx, QueryBuilder("t").count()) === Geometric(Rat(2)))
    assert(mech(rho, QueryBuilder("t").count()) === DiscreteGaussian(Rat(1)))
  }

  test("integer sums discretize; decimal sums stay continuous") {
    // sum bounds [0,4]: sensitivity 4 -> scale 4/0.5 = 8
    assert(mech(eps, QueryBuilder("t").sum("i", 0, 4)) === Geometric(Rat(8)))
    assert(mech(eps, QueryBuilder("t").sum("d", 0, 4)) === Laplace(Rat(8)))
    // zCDP: sigma^2 = 16/(2*0.5) = 16
    assert(mech(rho, QueryBuilder("t").sum("i", 0, 4)) === DiscreteGaussian(Rat(16)))
    assert(mech(rho, QueryBuilder("t").sum("d", 0, 4)) === Gaussian(Rat(16)))
  }

  test("explicit hints: Laplace under zCDP converts, Gaussian needs zCDP") {
    // eps = sqrt(2*0.5) = 1 -> scale 4/1 = 4
    assert(mech(rho, QueryBuilder("t").sum("i", 0, 4,
      mechanism = MechanismHint.Laplace)) === Geometric(Rat(4)))
    assert(mech(rho, QueryBuilder("t").sum("d", 0, 4,
      mechanism = MechanismHint.Laplace)) === Laplace(Rat(4)))
    intercept[IllegalArgumentException] {
      mech(eps, QueryBuilder("t").sum("i", 0, 4, mechanism = MechanismHint.Gaussian))
    }
  }

  test("multi-part budgets split: average halves, variance thirds") {
    val avg = sess(PureDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").average("d", 0, 4), eps)
    // sum part: sens (hi-lo)/2 = 2 at eps/2 -> 2/(0.25) = 8; count: 1/0.25 = 4
    assert(avg.map(_.mechanism) === Seq(Laplace(Rat(8)), Geometric(Rat(4))))
    val varInfo = sess(PureDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").variance("d", 0, 4), PureDPBudget(Rat(3, 2)))
    // thirds of eps=3/2 -> 1/2 each; sd sens 2 -> 4; sq sens 4 -> 8; n -> 2
    assert(varInfo.map(_.mechanism) === Seq(Laplace(Rat(4)), Laplace(Rat(8)), Geometric(Rat(2))))
    // stdev releases the same three parts as variance
    val sdInfo = sess(PureDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").stdev("d", 0, 4), PureDPBudget(Rat(3, 2)))
    assert(sdInfo.map(_.column) ===
      Seq("d_stdev(sum)", "d_stdev(sumsq)", "d_stdev(count)"))
    assert(sdInfo.map(_.mechanism) === Seq(Laplace(Rat(4)), Laplace(Rat(8)), Geometric(Rat(2))))
    // integer measure, odd span [0, 5]: the midpoint floors to 2, so the
    // deviation sensitivity is the wider side max(5-2, 2-0) = 3, and the
    // parts stay discrete
    val intAvg = sess(PureDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").average("i", 0, 5), eps)
    // halves of eps=1/2 -> 1/4 each; sd sens 3 -> 12; n -> 4
    assert(intAvg.map(_.mechanism) === Seq(Geometric(Rat(12)), Geometric(Rat(4))))
    val intVar = sess(PureDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").variance("i", 0, 5), PureDPBudget(Rat(3, 2)))
    // thirds -> 1/2 each; sd sens 3 -> 6; sq sens 9 -> 18; n -> 2
    assert(intVar.map(_.mechanism) === Seq(Geometric(Rat(6)), Geometric(Rat(18)), Geometric(Rat(2))))
    // zCDP thirds of rho=1/2 -> 1/6 each; sigma^2 = Delta^2 / (2 * 1/6):
    // sd 2^2 * 3 = 12; sq 4^2 * 3 = 48; n 1 * 3 = 3
    val zVar = sess(RhoZCDPBudget(Rat.Inf))
      .noiseInfo(QueryBuilder("t").variance("d", 0, 4), rho)
    assert(zVar.map(_.mechanism) ===
      Seq(Gaussian(Rat(12)), Gaussian(Rat(48)), DiscreteGaussian(Rat(3))))
  }

  test("exponential mechanism epsilon: direct under PureDP, sqrt(8 rho) under zCDP") {
    val q = QueryBuilder("t").median("d", 0, 4)
    assert(mech(eps, q) === Exponential(Rat(1, 2)))
    assert(mech(rho, q) === Exponential(Rat(2))) // sqrt(8*0.5)
  }

  test("grouped constrained count-distinct: MaxGroupsPerID bounds sensitivity") {
    import graft.accounting.AddRowsWithID
    import graft.constraints.MaxGroupsPerID
    import graft.keyset.KeySet
    val idDf = makeDf(
      StructType(Seq(longCol("uid"), strCol("grp"))), Seq(Row(1L, "a")))
    def idSess(b: PrivacyBudget) = Session.fromDataFrame(spark, b,
      "t", idDf, AddRowsWithID("uid"))
    val keys = KeySet.fromColumn("grp", Seq("a", "b"))
    val q = QueryBuilder("t").enforce(MaxGroupsPerID("grp", 2))
      .groupby(keys).countDistinct(Seq("uid"))
    // one ID touches at most 2 groups: sens 2 at eps 0.5 -> scale 4;
    // no per-group ROW bound needed even though this is a grouped agg
    assert(idSess(PureDPBudget(Rat.Inf)).noiseInfo(q, eps).head.mechanism
      === Geometric(Rat(4)))
    // zCDP: L2 across the <=2 touched groups -> Delta_2 = sqrt(2), carried
    // as the exact square 2 (no ceil) -> sigma^2 = Delta_2^2/(2 rho) = 2,
    // matching the reference's symbolic calibration
    assert(idSess(RhoZCDPBudget(Rat.Inf)).noiseInfo(q, rho).head.mechanism
      === DiscreteGaussian(Rat(2)))
  }
}
