package graft.session

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddRowsWithID
import graft.budget.{PureDPBudget, Rat}
import graft.constraints.{MaxGroupsPerID, MaxRowsPerGroupPerID, MaxRowsPerID}
import graft.ir.QueryBuilder

/** partition_and_create on IDs tables, mirroring
  * test/system/session/ids/test_partition.py: a MaxGroupsPerID constraint on
  * the partition column keeps children as IDs tables; a bare MaxRowsPerID
  * converts them to plain rows tables; anything else is rejected.
  */
class IdsPartitionSpec extends SparkSpec {
  private val Inf = PureDPBudget(Rat.Inf)

  // the reference's id_a1 fixture (ids/conftest.py)
  private def df = makeDf(
    StructType(Seq(longCol("id"), strCol("group"), strCol("group2"),
      longCol("n"), dblCol("float_n"))),
    Seq(Row(1L, "A", "X", 4L, 4.0), Row(1L, "A", "Y", 5L, 5.0),
      Row(1L, "A", "X", 6L, 6.0), Row(2L, "A", "Y", 7L, 7.0),
      Row(3L, "A", "X", 8L, 8.0), Row(3L, "B", "Y", 9L, 9.0)))

  private def sess() =
    Session.fromDataFrame(spark, Inf, "id_a1", df, AddRowsWithID("id"))

  test("MaxRowsPerID partition turns children into rows tables " +
      "(test_partition_and_create_with_MaxRowsPerID)") {
    val s = sess()
    s.createView(QueryBuilder("id_a1").enforce(MaxRowsPerID(2)),
      "truncated_ids1", cache = true)
    val kids = s.partitionAndCreate("truncated_ids1", Inf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    assert(kids.keySet === Set("part0", "part1"))
    assert(kids("part0").privateSources === Seq("part0"))
    assert(kids("part0").getIdColumn("part0") === None)
    assert(kids("part1").getIdColumn("part1") === None)
    // the child is a plain rows table now: IDs-only constraints are illegal
    intercept[IllegalArgumentException] {
      kids("part0").evaluate(
        QueryBuilder("part0").enforce(MaxRowsPerID(2)).count(), Inf)
    }
    // and its rows distance is k * maxIDs = 2 under BOTH budget kinds
    // (reference table_stability rows: (INF_BUDGET, 2), (INF_BUDGET_ZCDP, 2))
    assert(kids("part0").noiseInfo(QueryBuilder("part0").count(),
      PureDPBudget(1)).head.mechanism
      === graft.exec.NoiseMechanism.Geometric(Rat(2)))
    // with maxIDs > 1 describe must surface the child's full k * maxIDs
    // rows distance, not the bare AddMaxRows cap
    val s3 = Session.fromDataFrame(spark, Inf, "id_a1", df,
      AddRowsWithID("id", maxIDs = 3))
    s3.createView(QueryBuilder("id_a1").enforce(MaxRowsPerID(2)), "v3",
      cache = false)
    val k3 = s3.partitionAndCreate("v3", Inf, "group", Seq("pa" -> "A"))
    assert(k3("pa").describe().contains("effective rows distance: 6"))
    assert(k3("pa").noiseInfo(QueryBuilder("pa").count(),
      PureDPBudget(1)).head.mechanism
      === graft.exec.NoiseMechanism.Geometric(Rat(6)))
  }

  test("MaxGroupsPerID on the partition column keeps children as IDs tables " +
      "(test_partition_and_create_with_MaxGroupsPerID)") {
    val s = sess()
    s.createView(QueryBuilder("id_a1").enforce(MaxRowsPerID(5))
      .enforce(MaxGroupsPerID("group", 2)), "truncated_ids3", cache = true)
    val kids = s.partitionAndCreate("truncated_ids3", Inf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    assert(kids("part0").getIdColumn("part0") === Some("id"))
    assert(kids("part1").getIdColumn("part1") === Some("id"))
    // children still need (and accept) their own truncation constraints:
    // part0 holds ids {1: 3 rows, 2: 1, 3: 1}; MaxRowsPerID(2) -> 4 rows
    val c0 = kids("part0").evaluate(
      QueryBuilder("part0").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(c0 === 4L)
    val c1 = kids("part1").evaluate(
      QueryBuilder("part1").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(c1 === 1L)
  }

  test("children calibrate noise to the scaled IDs distance: g*maxIDs under " +
      "PureDP, sqrt(g)*maxIDs under zCDP (test_partition.py table_stability)") {
    // PureDP: one ID reaches up to g = 2 children, each holding the full
    // budget, so a child count with MaxRowsPerID(1) has sensitivity
    // g * maxIDs * 1 = 2 -> geometric scale 2 at eps = 1
    val s = sess()
    s.createView(QueryBuilder("id_a1").enforce(MaxGroupsPerID("group", 2)),
      "v", cache = false)
    val kids = s.partitionAndCreate("v", Inf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    val q = QueryBuilder("part0").enforce(MaxRowsPerID(1)).count()
    assert(kids("part0").noiseInfo(q, PureDPBudget(1)).head.mechanism
      === graft.exec.NoiseMechanism.Geometric(Rat(2)))
    // describe surfaces the distance actually driving calibration
    assert(kids("part0").describe().contains("effective id distance: 2"))

    // zCDP: the child stability is sqrt(2); the discrete Gaussian consumes
    // the exact square -> sigma^2 = 2 * 1^2 / (2 * 0.5) = 2
    val zInf = graft.budget.RhoZCDPBudget(Rat.Inf)
    val sz = Session.fromDataFrame(spark, zInf, "id_a1", df, AddRowsWithID("id"))
    sz.createView(QueryBuilder("id_a1").enforce(MaxGroupsPerID("group", 2)),
      "v", cache = false)
    val kz = sz.partitionAndCreate("v", zInf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    kz("part0").noiseInfo(QueryBuilder("part0").enforce(MaxRowsPerID(1)).count(),
      graft.budget.RhoZCDPBudget(Rat(1, 2))).head.mechanism match {
      case graft.exec.NoiseMechanism.DiscreteGaussian(s2) => assert(s2 === Rat(2))
      case other => fail(s"expected DiscreteGaussian, got $other")
    }
    // the zCDP child still answers exactly at infinite budget: part0 holds
    // ids {1: 3 rows, 2: 1, 3: 1} and MaxRowsPerID(2) truncates to 4
    assert(kz("part0").evaluate(
      QueryBuilder("part0").enforce(MaxRowsPerID(2)).count(), zInf)
      .collect().head.getLong(0) === 4L)
    // an L1 mechanism under zCDP takes the rounded-UP sqrt(2) L1 bound:
    // scale = sqrt(2) * 1 / sqrt(2 * rho) = 2 at rho = 1/4 (up to 2^-40)
    kz("part0").noiseInfo(
      QueryBuilder("part0").enforce(MaxRowsPerID(1))
        .count(mechanism = graft.ir.MechanismHint.Laplace),
      graft.budget.RhoZCDPBudget(Rat(1, 4))).head.mechanism match {
      case graft.exec.NoiseMechanism.Geometric(b) =>
        assert(b >= Rat(2) && b < Rat(2) + Rat(1, 1000000000))
      case other => fail(s"expected Geometric, got $other")
    }
  }

  test("nested IDs partitions compound the distance scaling " +
      "(reference test_partitions_composed, IDs form)") {
    // first split on `group` under MaxGroupsPerID(2), then the child splits
    // on `group2` under MaxGroupsPerID(2): one ID reaches up to 2 x 2
    // grandchildren, so the grandchild distance is 4 under PureDP and
    // sqrt(4) = 2 (exact square 4) under zCDP
    val s = sess()
    s.createView(QueryBuilder("id_a1").enforce(MaxGroupsPerID("group", 2)),
      "v1", cache = false)
    val kids = s.partitionAndCreate("v1", Inf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    kids("part0").createView(
      QueryBuilder("part0").enforce(MaxGroupsPerID("group2", 2)),
      "v2", cache = false)
    val grand = kids("part0").partitionAndCreate("v2", Inf, "group2",
      Seq("gx" -> "X", "gy" -> "Y"))
    assert(grand("gx").noiseInfo(
      QueryBuilder("gx").enforce(MaxRowsPerID(1)).count(),
      PureDPBudget(1)).head.mechanism
      === graft.exec.NoiseMechanism.Geometric(Rat(4)))

    val zInf = graft.budget.RhoZCDPBudget(Rat.Inf)
    val sz = Session.fromDataFrame(spark, zInf, "id_a1", df, AddRowsWithID("id"))
    sz.createView(QueryBuilder("id_a1").enforce(MaxGroupsPerID("group", 2)),
      "v1", cache = false)
    val kz = sz.partitionAndCreate("v1", zInf, "group",
      Seq("part0" -> "A", "part1" -> "B"))
    kz("part0").createView(
      QueryBuilder("part0").enforce(MaxGroupsPerID("group2", 2)),
      "v2", cache = false)
    val gz = kz("part0").partitionAndCreate("v2", zInf, "group2",
      Seq("gx" -> "X", "gy" -> "Y"))
    // exact square 2 * 2 = 4 -> sigma^2 = 4 / (2 * 0.5) = 4
    gz("gx").noiseInfo(
      QueryBuilder("gx").enforce(MaxRowsPerID(1)).count(),
      graft.budget.RhoZCDPBudget(Rat(1, 2))).head.mechanism match {
      case graft.exec.NoiseMechanism.DiscreteGaussian(s2) => assert(s2 === Rat(4))
      case other => fail(s"expected DiscreteGaussian, got $other")
    }
  }

  test("partition without a usable constraint is rejected " +
      "(test_invalid_constraint_partition_and_create)") {
    val s = sess()
    s.createView(QueryBuilder("id_a1"), "truncated_ids", cache = false)
    val e = intercept[IllegalArgumentException] {
      s.partitionAndCreate("truncated_ids", Inf, "group",
        Seq("part0" -> "A", "part1" -> "B"))
    }
    assert(e.getMessage.contains("MaxGroupsPerID or MaxRowsPerID"))
    // MaxRowsPerGroupPerID alone does not bound the partition stability
    val s2 = sess()
    s2.createView(QueryBuilder("id_a1").enforce(MaxRowsPerGroupPerID("group", 5)),
      "truncated_ids2", cache = false)
    intercept[IllegalArgumentException] {
      s2.partitionAndCreate("truncated_ids2", Inf, "group",
        Seq("part0" -> "A", "part1" -> "B"))
    }
    // MaxGroupsPerID on a DIFFERENT column does not help either
    val s3 = sess()
    s3.createView(QueryBuilder("id_a1").enforce(MaxGroupsPerID("group2", 2)),
      "truncated_ids4", cache = false)
    intercept[IllegalArgumentException] {
      s3.partitionAndCreate("truncated_ids4", Inf, "group",
        Seq("part0" -> "A", "part1" -> "B"))
    }
  }
}
