package graft.session

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting._
import graft.budget._
import graft.constraints._
import graft.exec.NoiseMechanism
import graft.ir._
import graft.keyset.KeySet
import graft.types.{ColumnDescriptor, ColumnType}

/** System suite for the privacy-IDs world: end-to-end queries over an
  * AddRowsWithID table with exact infinite-budget expectations, mirroring
  * the reference's ids-session system tests (test/system/session/ids).
  * Constraint bounds are chosen either loose (no truncation — results are
  * exactly the plain-Spark answer) or tight (truncation caps are the
  * arithmetic being asserted), so every expected value is derivable by
  * hand from the fixture.
  */
class IdsSystemSpec extends SparkSpec {

  private val Inf = PureDPBudget(Rat.Inf)

  // purchases: 4 users, 2 stores; u1 has 3 rows over 2 stores, u2 2 rows
  // over 2 stores, u3 1 row, u4 4 rows all in one store
  private def df = makeDf(
    StructType(Seq(longCol("uid"), strCol("store"), longCol("spend"))),
    Seq(
      Row(1L, "north", 10L), Row(1L, "north", 20L), Row(1L, "south", 30L),
      Row(2L, "north", 40L), Row(2L, "south", 50L),
      Row(3L, "south", 60L),
      Row(4L, "north", 5L), Row(4L, "north", 15L), Row(4L, "north", 25L),
      Row(4L, "north", 35L)))

  private def ids() = Session.fromDataFrame(spark, Inf, "t", df, AddRowsWithID("uid"))

  private val stores = KeySet.fromColumn("store", Seq("north", "south", "west"))

  private def loose(qb: QueryBuilder): QueryBuilder =
    qb.enforce(MaxGroupsPerID("store", 2)).enforce(MaxRowsPerGroupPerID("store", 4))

  test("grouped count: loose constraints reproduce plain Spark, absent key zero-fills") {
    val out = ids().evaluate(
      loose(QueryBuilder("t")).groupby(stores).count(), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("north" -> 7L, "south" -> 3L, "west" -> 0L))
  }

  test("grouped sum and average: loose constraints, wide clamp, exact values") {
    val s = ids()
    val sums = s.evaluate(
      loose(QueryBuilder("t")).groupby(stores).sum("spend", 0, 100), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === Map("north" -> 150L, "south" -> 140L, "west" -> 0L))
    val avgs = s.evaluate(
      loose(QueryBuilder("t")).groupby(stores).average("spend", 0, 100), Inf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avgs("north") === 150.0 / 7.0)
    assert(avgs("south") === 140.0 / 3.0)
  }

  test("grouped variance matches the three-part lowering arithmetic") {
    val out = ids().evaluate(
      loose(QueryBuilder("t")).groupby(stores).variance("spend", 0, 100), Inf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // south: values 30, 50, 60 -> sample variance (7000 - 140^2/3) / 2
    assert(math.abs(out("south") - (7000.0 - 140.0 * 140.0 / 3.0) / 2.0) < 1e-9)
    // north: 10,20,40,5,15,25,35 -> sumsq 4200, sum 150, n 7
    assert(math.abs(out("north") - (4200.0 - 150.0 * 150.0 / 7.0) / 6.0) < 1e-9)
  }

  test("tight L1 bound: MaxRowsPerID(2) caps every user at two rows") {
    val n = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 2L + 2L + 1L + 2L)
  }

  test("filter composes with enforcement before aggregation") {
    // spend >= 30 leaves u1:1, u2:2, u3:1, u4:1 rows; cap 2 changes nothing
    val n = ids().evaluate(
      QueryBuilder("t").filter("spend >= 30").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 5L)
    // the same cap applied before the filter can only shrink the count:
    // u2's two kept rows may or may not survive the filter
    val n2 = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(2)).filter("spend >= 30").count(), Inf)
      .collect().head.getLong(0)
    assert(n2 <= 5L)
  }

  test("flatMapByID reduces each user to one row; downstream sum is per-user totals") {
    val out = ids().evaluate(
      QueryBuilder("t")
        .flatMapByID(
          rows => Seq(Map("tot" -> rows.map(_("spend").asInstanceOf[Long]).sum)),
          Seq("tot" -> ColumnDescriptor(ColumnType.Integer)))
        .enforce(MaxRowsPerID(1))
        .sum("tot", 0, 200), Inf)
      .collect().head.getLong(0)
    assert(out === 60L + 90L + 60L + 80L)
  }

  test("count_distinct over the id column counts users, not rows") {
    val n = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(4))
        .countDistinct(Seq("uid")), Inf)
      .collect().head.getLong(0)
    assert(n === 4L)
  }

  test("private self-space join carries both sides' columns; grouped count is exact") {
    val profile = makeDf(
      StructType(Seq(longCol("uid"), strCol("tier"))),
      Seq(Row(1L, "gold"), Row(2L, "silver"), Row(3L, "gold"), Row(4L, "silver")))
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withIdSpace("u")
      .withPrivateDataFrame("purchases", df, AddRowsWithID("uid", "u"))
      .withPrivateDataFrame("profile", profile, AddRowsWithID("uid", "u"))
      .build(spark)
    val tiers = KeySet.fromColumn("tier", Seq("gold", "silver"))
    val out = s.evaluate(
      QueryBuilder("purchases")
        .joinPrivate(QueryBuilder("profile"), Seq("uid"))
        .enforce(MaxRowsPerID(4))
        .groupby(tiers).count(), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // gold users: u1 (3 rows) + u3 (1 row); silver: u2 (2) + u4 (4)
    assert(out === Map("gold" -> 4L, "silver" -> 6L))
  }

  test("renaming the id column keeps protection and enforcement working") {
    val n = ids().evaluate(
      QueryBuilder("t").rename(Map("uid" -> "user"))
        .enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 7L)
    // the renamed id column is still protected from projection
    intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").rename(Map("uid" -> "user"))
          .select("store").enforce(MaxRowsPerID(1)).count(), Inf)
    }
  }

  test("get_groups on an IDs table needs a groups bound and finds observed keys") {
    // partition selection is an ApproxDP-only operation (needs a delta)
    val adp = ApproxDPBudget(Rat.Inf, Rat.zero)
    val s = Session.fromDataFrame(spark, adp, "t", df, AddRowsWithID("uid"))
    val out = s.evaluate(
      QueryBuilder("t").enforce(MaxGroupsPerID("store", 2))
        .enforce(MaxRowsPerGroupPerID("store", 4))
        .getGroups("store"), adp)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("north", "south"))
    intercept[IllegalArgumentException] {
      ids().evaluate(QueryBuilder("t").enforce(MaxGroupsPerID("store", 2))
        .getGroups("store"), Inf)
    }
  }

  test("noiseInfo: IDs sensitivity is the enforced row cap") {
    val s = ids()
    val q = QueryBuilder("t").enforce(MaxRowsPerID(3)).count()
    // d_in = 1 user, 3 rows per user, eps 1 -> geometric scale 3
    assert(s.noiseInfo(q, PureDPBudget(1)).head.mechanism
      === NoiseMechanism.Geometric(Rat(3)))
    val q2 = QueryBuilder("t").enforce(MaxRowsPerID(1)).count()
    assert(s.noiseInfo(q2, PureDPBudget(Rat(1, 2))).head.mechanism
      === NoiseMechanism.Geometric(Rat(2)))
  }

  test("quantile on an IDs table is deterministic at infinite budget") {
    def run() = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(4))
        .median("spend", 0, 100), Inf)
      .collect().head.getDouble(0)
    val a = run()
    val b = run()
    assert(a === b)
    assert(a >= 0.0 && a <= 100.0)
  }

  test("grouped stdev is the square root of the grouped variance") {
    val s = ids()
    val v = s.evaluate(
      loose(QueryBuilder("t")).groupby(stores).variance("spend", 0, 100), Inf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sd = s.evaluate(
      loose(QueryBuilder("t")).groupby(stores).stdev("spend", 0, 100), Inf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (k <- Seq("north", "south"))
      assert(math.abs(sd(k) - math.sqrt(v(k))) < 1e-9)
  }

  test("filter and map can read the id column (test_filter_on_id_col / " +
      "test_map_on_id_col)") {
    // filter on the id column composes with enforcement
    def count(cond: String): Long = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(100)).filter(cond).count(), Inf)
      .collect().head.getLong(0)
    assert(count("uid = 1") === 3L)
    assert(count("uid > 2") === 5L)
    assert(count("uid = 99") === 0L)
    // map derives a new column FROM the id column (reference expected sums
    // over ids {1,1,1,2,2,3,4,4,4,4}): sum(id) per row, sum(id*2), and
    // conditional projections
    def mapSum(f: Long => Long): Double = ids().evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(100))
        .map(r => Map("new" -> f(r("uid").asInstanceOf[Long])),
          Seq("new" -> graft.types.ColumnDescriptor(graft.types.ColumnType.Integer)),
          augment = true)
        .sum("new", 0, 1000, "s"), Inf)
      .collect().head.getLong(0).toDouble
    assert(mapSum(identity) === 26.0) // 1*3 + 2*2 + 3 + 4*4
    assert(mapSum(_ * 2) === 52.0)
    assert(mapSum(id => if (id == 9L) id else 0L) === 0.0)
    assert(mapSum(id => if (id == 1L) id else 0L) === 3.0)
  }

  test("clamping applies before summation on IDs tables too") {
    // clamp [0, 30]: north 10+20+30+5+15+25+30 = 135? no — clamp caps each
    // row at 30: north rows 10,20,40->30,5,15,25,35->30 = 135; south
    // 30,50->30,60->30 = 90
    val sums = ids().evaluate(
      loose(QueryBuilder("t")).groupby(stores).sum("spend", 0, 30), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === Map("north" -> 135L, "south" -> 90L, "west" -> 0L))
  }
}
