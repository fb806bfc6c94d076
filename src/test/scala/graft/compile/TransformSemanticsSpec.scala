package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PureDPBudget, Rat}
import graft.constraints.TruncationStrategy
import graft.ir._
import graft.keyset.KeySet
import graft.session.Session

/** Runtime semantics of transformations that only had schema-level tests:
  * join column ordering/suffixing, rename swaps, grouping-column
  * discipline, truncation caps.
  */
class TransformSemanticsSpec extends SparkSpec {
  private val Inf = PureDPBudget(Rat.Inf)

  test("join output: join cols, left-only, right-only, suffixed overlap") {
    val left = makeDf(StructType(Seq(longCol("k"), strCol("a"), strCol("both"))),
      Seq(Row(1L, "l1", "L")))
    val right = makeDf(StructType(Seq(longCol("k"), strCol("b"), strCol("both"))),
      Seq(Row(1L, "r1", "R")))
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withPrivateDataFrame("l", left, AddOneRow())
      .withPublicDataFrame("r", right)
      .build(spark)
    s.createView(QueryBuilder("l").joinPublic("r", Seq("k")), "j", cache = false)
    assert(s.getSchema("j").columnNames ===
      Seq("k", "a", "b", "both_left", "both_right"))
    val n = s.evaluate(
      QueryBuilder("j").filter("both_left = 'L' AND both_right = 'R' AND a = 'l1'")
        .count(), Inf).collect().head.getLong(0)
    assert(n === 1L)
  }

  test("select fused into map narrows output without changing semantics") {
    val df = makeDf(StructType(Seq(longCol("k"), strCol("s"), dblCol("v"))),
      Seq(Row(1L, "a", 2.0), Row(2L, "b", 3.0)))
    val sess = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    // map reads v, emits doubled; select keeps only the new column + s —
    // the fused path must encode just (s, doubled) per row
    sess.createView(QueryBuilder("t")
      .map(r => Map("doubled" -> (r("v").asInstanceOf[Double] * 2.0)),
        Seq("doubled" -> graft.types.ColumnDescriptor(graft.types.ColumnType.Decimal)),
        augment = true)
      .select("s", "doubled"), "m", cache = false)
    assert(sess.getSchema("m").columnNames === Seq("s", "doubled"))
    val out = sess.evaluate(
      QueryBuilder("m").groupby(KeySet.fromColumn("s", Seq("a", "b", "c")))
        .sum("doubled", 0.0, 10.0), Inf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("a" -> 4.0, "b" -> 6.0, "c" -> 0.0))
  }

  test("flat_map caps each input row's output at max_rows, keeping the first") {
    import graft.types.{ColumnDescriptor, ColumnType}
    val df = makeDf(StructType(Seq(longCol("n"))), Seq(Row(5L), Row(2L)))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    // each row n emits n copies (0..n-1); cap 3 keeps the first three
    val out = s.evaluate(
      QueryBuilder("t")
        .flatMap(r => (0L until r("n").asInstanceOf[Long]).map(i => Map("i" -> i)),
          Seq("i" -> ColumnDescriptor(ColumnType.Integer)), maxRows = 3)
        .groupby(graft.keyset.KeySet.fromColumn("i", Seq(0L, 1L, 2L, 3L, 4L)))
        .count(), Inf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=5 contributes i=0,1,2 (capped); n=2 contributes i=0,1
    assert(out === Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("flat_map budget stability scales with max_rows") {
    import graft.types.{ColumnDescriptor, ColumnType}
    val df = makeDf(StructType(Seq(longCol("n"))), Seq(Row(1L)))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    def scaleFor(maxRows: Int) = s.noiseInfo(
      QueryBuilder("t")
        .flatMap(r => Seq(Map("i" -> 0L)),
          Seq("i" -> ColumnDescriptor(ColumnType.Integer)), maxRows = maxRows)
        .count(),
      graft.budget.PureDPBudget(1)).head.mechanism
    // one input row can become maxRows output rows: sens 2 -> scale 2, 5 -> 5
    assert(scaleFor(2) === graft.exec.NoiseMechanism.Geometric(Rat(2)))
    assert(scaleFor(5) === graft.exec.NoiseMechanism.Geometric(Rat(5)))
  }

  test("map replace narrows to the declared columns; augment keeps inputs") {
    import graft.types.{ColumnDescriptor, ColumnType}
    val df = makeDf(StructType(Seq(longCol("k"), strCol("s"))), Seq(Row(7L, "x")))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    s.createView(QueryBuilder("t")
      .map(r => Map("twice" -> r("k").asInstanceOf[Long] * 2),
        Seq("twice" -> ColumnDescriptor(ColumnType.Integer)), augment = false),
      "replaced")
    assert(s.getSchema("replaced").columnNames === Seq("twice"))
    s.createView(QueryBuilder("t")
      .map(r => Map("twice" -> r("k").asInstanceOf[Long] * 2),
        Seq("twice" -> ColumnDescriptor(ColumnType.Integer)), augment = true),
      "augmented")
    assert(s.getSchema("augmented").columnNames === Seq("k", "s", "twice"))
    val v = s.evaluate(QueryBuilder("augmented").sum("twice", 0, 100), Inf)
      .collect().head.getLong(0)
    assert(v === 14L)
  }

  test("rename supports column swaps atomically") {
    val df = makeDf(StructType(Seq(strCol("a"), strCol("b"))), Seq(Row("va", "vb")))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    val n = s.evaluate(
      QueryBuilder("t").rename(Map("a" -> "b", "b" -> "a"))
        .filter("a = 'vb' AND b = 'va'").count(), Inf)
      .collect().head.getLong(0)
    assert(n === 1L)
  }

  test("grouping column must be included in the group-by keys") {
    val df = makeDf(StructType(Seq(strCol("x"))), Seq(Row("v")))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    val qb = QueryBuilder("t").flatMap(
      r => Seq(Map("g" -> "p"), Map("g" -> "q")),
      Seq("g" -> graft.types.ColumnDescriptor(graft.types.ColumnType.Varchar)),
      maxRows = 2, augment = true, grouping = true)
    // grouping on g works; grouping on nothing (ungrouped count) must fail
    val ok = s.evaluate(qb.groupby(KeySet.fromColumn("g", Seq("p", "q"))).count(), Inf)
    assert(ok.collect().map(_.getLong(1)).sum === 2L)
    intercept[IllegalArgumentException] { s.evaluate(qb.count(), Inf) }
  }

  test("replace/drop null may not target a grouping column; the all-columns " +
      "default skips it (reference visit_replace_null_and_nan " +
      "with_grouping_column)") {
    import graft.types.{ColumnDescriptor, ColumnType}
    val df = makeDf(StructType(Seq(strCol("x"), longCol("v"))),
      Seq(Row("a", 1L), Row(null, 2L)))
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    def grouped = QueryBuilder("t").flatMap(
      r => Seq(Map("g" -> (if (r("v").asInstanceOf[Long] < 2) "lo" else "hi"))),
      Seq("g" -> ColumnDescriptor(ColumnType.Varchar, allowNull = true)),
      maxRows = 1, augment = true, grouping = true)
    val keys = KeySet.fromColumn("g", Seq("lo", "hi"))
    // explicit grouping-column target: the reference's exact error
    val e1 = intercept[IllegalArgumentException] {
      s.evaluate(grouped.replaceNullAndNan(Map("g" -> "fixed"))
        .groupby(keys).count(), Inf)
    }
    assert(e1.getMessage.contains(
      "Cannot replace null values in column g, because it is being used " +
        "as a grouping column"))
    val e2 = intercept[IllegalArgumentException] {
      s.evaluate(grouped.dropNullAndNan("g").groupby(keys).count(), Inf)
    }
    assert(e2.getMessage.contains(
      "Cannot drop null values in column g, because it is being used " +
        "as a grouping column"))
    // the all-columns default passes and leaves the grouping column alone:
    // the null x-row survives (its x replaced) and still counts under its
    // group, so per-group totals are unchanged
    val out = s.evaluate(grouped.replaceNullAndNan()
      .groupby(keys).count(), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("lo" -> 1L, "hi" -> 1L))
    val dropped = s.evaluate(grouped.dropNullAndNan()
      .groupby(keys).count(), Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dropped === Map("lo" -> 1L, "hi" -> 0L)) // null-x row dropped
  }

  test("DropExcess truncation caps rows per join key, order-independently") {
    val left = makeDf(StructType(Seq(longCol("k"), strCol("v"))),
      (1 to 10).map(i => Row(1L, s"v$i")) :+ Row(2L, "w"))
    val right = makeDf(StructType(Seq(longCol("k"), strCol("u"))),
      Seq(Row(1L, "u1"), Row(2L, "u2")))
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withPrivateDataFrame("l", left, AddOneRow())
      .withPrivateDataFrame("r", right, AddOneRow())
      .build(spark)
    def joined(maxRows: Int) = s.evaluate(
      QueryBuilder("l").joinPrivate(QueryBuilder("r"),
        TruncationStrategy.DropExcess(maxRows), TruncationStrategy.DropExcess(1),
        Some(Seq("k"))).count(), Inf).collect().head.getLong(0)
    assert(joined(3) === 4L) // key 1 capped at 3 + key 2's single row
    assert(joined(3) === 4L) // deterministic across evaluations
    assert(joined(100) === 11L)
  }

  test("flat_map_by_id output feeds constraints and aggregation") {
    val df = makeDf(StructType(Seq(longCol("uid"), strCol("v"))),
      Seq(Row(1L, "a"), Row(1L, "b"), Row(2L, "c")))
    val s = Session.fromDataFrame(spark, Inf, "t", df,
      graft.accounting.AddRowsWithID("uid"))
    val out = s.evaluate(
      QueryBuilder("t")
        .flatMapByID(rows => Seq(Map("n" -> rows.size)),
          Seq("n" -> graft.types.ColumnDescriptor(graft.types.ColumnType.Integer)))
        .enforce(graft.constraints.MaxRowsPerID(1))
        .sum("n", 0, 100), Inf).collect().head.getLong(0)
    assert(out === 3L) // 2 + 1 rows across the two ids
  }
}
