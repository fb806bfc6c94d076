package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.{AddMaxRows, AddOneRow, AddRowsWithID}
import graft.budget._
import graft.constraints.{MaxGroupsPerID, MaxRowsPerGroupPerID}
import graft.exec.NoiseMechanism._
import graft.ir._
import graft.keyset.KeySet
import graft.session.Session

/** Calibration regressions from the round-2 advisory review:
  *  - the zCDP sqrt-of-groups constraint credit is an L2 credit and must not
  *    apply when a Laplace hint forces an L1 mechanism under zCDP;
  *  - DP partition selection must calibrate its threshold to d_in, not 1;
  *  - evaluate() must release exactly one noise draw per budget charge.
  */
class PrivacyCalibrationSpec extends SparkSpec {

  private val rho = RhoZCDPBudget(0.5) // Laplace-hint eps = sqrt(2*0.5) = 1

  private def idDf = makeDf(
    StructType(Seq(longCol("uid"), strCol("grp"))), Seq(Row(1L, "a")))

  private def idSess = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf),
    "t", idDf, AddRowsWithID("uid"))

  test("Laplace hint under zCDP uses L1 group sensitivity, not sqrt credit") {
    val keys = KeySet.fromColumn("grp", Seq("a", "b"))
    val q = QueryBuilder("t").enforce(MaxGroupsPerID("grp", 4))
      .groupby(keys).countDistinct(Seq("uid"), mechanism = MechanismHint.Laplace)
    // L1 across <=4 touched groups: sens 4 at eps = sqrt(2 rho) = 1 -> scale 4.
    // The (wrong) L2 credit would give ceil(sqrt(4)) = 2 -> scale 2.
    assert(idSess.noiseInfo(q, rho).head.mechanism === Geometric(Rat(4)))
    // Default hint resolves to discrete Gaussian, which IS L2: sens 2,
    // sigma^2 = 4/(2*0.5) = 4.
    val qg = QueryBuilder("t").enforce(MaxGroupsPerID("grp", 4))
      .groupby(keys).countDistinct(Seq("uid"))
    assert(idSess.noiseInfo(qg, rho).head.mechanism === DiscreteGaussian(Rat(4)))
  }

  test("Laplace hint under zCDP: constraint-pair credit is also gated") {
    val keys = KeySet.fromColumn("grp", Seq("a", "b"))
    def q(h: MechanismHint) = QueryBuilder("t")
      .enforce(MaxGroupsPerID("grp", 4)).enforce(MaxRowsPerGroupPerID("grp", 1))
      .groupby(keys).count(mechanism = h)
    // Gaussian family: L2 credit 1*sqrt(4) = 2 -> sigma^2 = 4/(2*0.5) = 4
    assert(idSess.noiseInfo(q(MechanismHint.Default), rho).head.mechanism
      === DiscreteGaussian(Rat(4)))
    // Laplace hint: L1 bound 1*4 = 4 at eps = 1 -> scale 4 (sqrt credit would
    // wrongly give 2)
    assert(idSess.noiseInfo(q(MechanismHint.Laplace), rho).head.mechanism
      === Geometric(Rat(4)))
  }

  test("squared L2 credits scale QUADRATICALLY through row-stability factors") {
    import graft.accounting.AddMaxRowsInMaxGroups
    import graft.types.ColumnDescriptor
    // base: AddMaxRowsInMaxGroups(g=2, r=1) -> Delta_2^2 = 2; an augmenting
    // flatMap(maxRows = 2) doubles the L2 bound, so the square quadruples:
    // Delta_2^2 = 8 -> sigma^2 = 8/(2*0.5) = 8. A linear (buggy) credit
    // scale would give 4.
    val df = makeDf(StructType(Seq(strCol("grp"), longCol("v"))), Seq(Row("a", 1L)))
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df,
      AddMaxRowsInMaxGroups("grp", maxGroups = 2, maxRowsPerGroup = 1))
    val keys = KeySet.fromColumn("grp", Seq("a", "b"))
    val q = QueryBuilder("t")
      .flatMap(r => Seq(r, r), Seq("x" -> ColumnDescriptor(graft.types.ColumnType.Integer)),
        maxRows = 2, augment = true)
      .groupby(keys).count()
    assert(s.noiseInfo(q, rho).head.mechanism === DiscreteGaussian(Rat(8)))
    // and the L1 path sees distance 2*2 = 4: Laplace hint at eps=1 -> scale 4
    val qL = QueryBuilder("t")
      .flatMap(r => Seq(r, r), Seq("x" -> ColumnDescriptor(graft.types.ColumnType.Integer)),
        maxRows = 2, augment = true)
      .groupby(keys).count(mechanism = MechanismHint.Laplace)
    assert(s.noiseInfo(qL, rho).head.mechanism === Geometric(Rat(4)))
  }

  test("views over credited tables keep the L2 credit " +
      "(createView reconstructs AddMaxRowsInMaxGroups)") {
    import graft.accounting.AddMaxRowsInMaxGroups
    import graft.types.ColumnDescriptor
    val df = makeDf(StructType(Seq(strCol("grp"), longCol("v"))), Seq(Row("a", 1L)))
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df,
      AddMaxRowsInMaxGroups("grp", maxGroups = 2, maxRowsPerGroup = 1))
    s.createView(QueryBuilder("t")
      .flatMap(r => Seq(r, r), Seq("x" -> ColumnDescriptor(graft.types.ColumnType.Integer)),
        maxRows = 2, augment = true),
      "doubled", cache = false)
    val keys = KeySet.fromColumn("grp", Seq("a", "b"))
    // same variance as the inline chain: Delta_2^2 = (1*2)^2 * 2 = 8
    assert(s.noiseInfo(QueryBuilder("doubled").groupby(keys).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(8)))
    // ungrouped still uses the L1 distance 4 -> sigma^2 = 16
    assert(s.noiseInfo(QueryBuilder("doubled").count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(16)))
  }

  test("AddMaxRowsInMaxGroups: L2 credit needs Gaussian family AND matching group-by") {
    import graft.accounting.AddMaxRowsInMaxGroups
    // protected change: up to 1 row in each of up to 4 groups of g ->
    // L1 = 4, L2-across-g-groups = sqrt(4) = 2
    val df = makeDf(StructType(Seq(strCol("g"), longCol("v"))), Seq(Row("a", 1L)))
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df,
      AddMaxRowsInMaxGroups("g", 4, 1))
    val gKeys = KeySet.fromColumn("g", Seq("a", "b"))
    // grouped by g, default hint -> discrete Gaussian with the L2 credit:
    // sens 2, sigma^2 = 4/(2*0.5) = 4
    assert(s.noiseInfo(QueryBuilder("t").groupby(gKeys).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(4)))
    // UNGROUPED count: the 4 changed rows all hit one value -> L1 = 4,
    // sigma^2 = 16/(2*0.5) = 16 (the credit would wrongly give 4)
    assert(s.noiseInfo(QueryBuilder("t").count(), rho).head.mechanism
      === DiscreteGaussian(Rat(16)))
    // grouped by a DIFFERENT column: same, no credit
    val vKeys = KeySet.fromColumn("v", Seq(1, 2))
    assert(s.noiseInfo(QueryBuilder("t").groupby(vKeys).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(16)))
    // Laplace hint under zCDP -> L1 mechanism even when grouped by g:
    // eps = sqrt(2*0.5) = 1 -> scale 4 (the sqrt credit would give 2)
    assert(s.noiseInfo(QueryBuilder("t").groupby(gKeys)
      .count(mechanism = MechanismHint.Laplace), rho).head.mechanism
      === Geometric(Rat(4)))
    // exponential mechanism (quantile) composes in L1 too: eps/sens =
    // sqrt(8*0.5)/4 = 0.5
    assert(s.noiseInfo(QueryBuilder("t").groupby(gKeys).median("v", 0, 10), rho)
      .head.mechanism === Exponential(Rat(1, 2)))
    // the credit follows renames and dies with projection of g
    assert(s.noiseInfo(QueryBuilder("t").rename(Map("g" -> "h"))
      .groupby(KeySet.fromColumn("h", Seq("a", "b"))).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(4)))
    assert(s.noiseInfo(QueryBuilder("t").select("v")
      .groupby(vKeys).count(), rho).head.mechanism === DiscreteGaussian(Rat(16)))
  }

  test("L2 credit dies when the grouping column's values are rewritten") {
    import graft.accounting.AddMaxRowsInMaxGroups
    import graft.ir.BinningSpec
    val df = makeDf(
      StructType(Seq(StructField("g", StringType, nullable = true), longCol("v"))),
      Seq(Row("a", 1L)))
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df,
      AddMaxRowsInMaxGroups("g", 4, 1))
    val gKeys = KeySet.fromColumn("g", Seq("a", "b"))
    // baseline: credit applies (sens 2 -> sigma^2 4 at rho 0.5)
    assert(s.noiseInfo(QueryBuilder("t").groupby(gKeys).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(4)))
    // replacing nulls in g can merge protected groups -> L1 (sens 4 -> 16)
    assert(s.noiseInfo(QueryBuilder("t").replaceNullAndNan(Map("g" -> "z"))
      .groupby(gKeys).count(), rho).head.mechanism === DiscreteGaussian(Rat(16)))
    // the no-argument form rewrites every non-id column, g included
    assert(s.noiseInfo(QueryBuilder("t").replaceNullAndNan()
      .groupby(gKeys).count(), rho).head.mechanism === DiscreteGaussian(Rat(16)))
    // in-place rebinning coarsens the groups -> credit dies
    assert(s.noiseInfo(QueryBuilder("t")
      .binColumn("g", BinningSpec(Seq("a", "zz")), name = Some("g"))
      .groupby(KeySet.fromColumn("g", Seq("['a', 'zz']"))).count(), rho)
      .head.mechanism === DiscreteGaussian(Rat(16)))
    // binning to a NEW column leaves the credit intact for group-bys on g
    assert(s.noiseInfo(QueryBuilder("t")
      .binColumn("v", BinningSpec(Seq(0.0, 10.0)))
      .groupby(gKeys).count(), rho).head.mechanism === DiscreteGaussian(Rat(4)))
  }

  test("delta-only budgets cannot drive noise addition") {
    val rows = Seq(Row(1L))
    val s = Session.fromDataFrame(spark, ApproxDPBudget(Rat(1), Rat(1, 10)),
      "t", makeDf(StructType(Seq(longCol("v"))), rows), graft.accounting.AddOneRow())
    val ex = intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), ApproxDPBudget(Rat.zero, Rat(1, 100)))
    }
    assert(ex.getMessage.contains("non-zero epsilon"))
  }

  test("partition-selection threshold is d_in-aware") {
    val delta = Rat(1, 1000000)
    val (g1, tau1) = graft.exec.NoiseMechanism.partitionSelection(Rat(1), Rat(1), delta)
    // classic sens-1 formula: b = 2/eps, tau = 1 + b*ln(1/(2 delta)),
    // released at the least count >= tau
    assert(g1.b === Rat(2))
    assert(tau1 === math.ceil(1.0 + 2.0 * math.log(1.0 / 2e-6)).toLong)
    val (g3, tau3) = graft.exec.NoiseMechanism.partitionSelection(Rat(3), Rat(1), delta)
    assert(g3.b === Rat(6))
    // sens + b*ln(maxGroups/(2 delta)): clears one unit's per-group
    // contribution and splits delta across the 3 groups it could create
    assert(tau3 === math.ceil(3.0 + 6.0 * math.log(3.0 / 2e-6)).toLong)
    assert(tau3 > tau1)
  }

  test("finite-budget releases are sampled exactly once per evaluate") {
    val rows = (1L to 50L).map(i => Row(i, if (i % 2 == 0) "e" else "o"))
    val s = Session.fromDataFrame(spark, PureDPBudget(Rat(100)),
      "t", makeDf(StructType(Seq(longCol("v"), strCol("p"))), rows), AddOneRow())
    val out = s.evaluate(
      QueryBuilder("t").groupby(KeySet.fromColumn("p", Seq("e", "o"))).count(),
      PureDPBudget(Rat(1)))
    val first = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val second = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first === second) // re-running the action must not redraw noise
  }

  test("detect keyset is materialized: group domain is stable across actions") {
    val rows = (1L to 400L).map(i => Row(i, s"g${i % 4}"))
    val s = Session.fromDataFrame(spark, ApproxDPBudget(Rat(100), Rat(1, 1000)),
      "t", makeDf(StructType(Seq(longCol("v"), strCol("p"))), rows), AddOneRow())
    val out = s.evaluate(
      QueryBuilder("t").groupby(KeySet.detect("p")).count(),
      ApproxDPBudget(Rat(2), Rat(1, 10000)))
    val a = out.collect().map(_.getString(0)).sorted.toSeq
    val b = out.collect().map(_.getString(0)).sorted.toSeq
    assert(a === b) // selection must not re-run with fresh noise
  }
}
