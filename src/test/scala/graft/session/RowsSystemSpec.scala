package graft.session

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PureDPBudget, Rat, RhoZCDPBudget}
import graft.ir._
import graft.keyset.KeySet
import graft.types.{ColumnDescriptor, ColumnType}

/** Rows-world system tests on the reference's canonical 4-row fixture,
  * mirroring test/system/session/rows/conftest.py's EVALUATE_TESTS table and
  * test_add_max_rows.py: every case is the reference's query with the
  * reference's expected output at infinite budget (where the two engines'
  * semantics deliberately diverge, the divergence is noted inline).
  *
  * Fixture: A in {"0","1"}, B in {0,1}, X = 0..3 —
  *   ("0",0,0), ("0",0,1), ("0",1,2), ("1",0,3).
  */
class RowsSystemSpec extends SparkSpec {
  private val Inf = PureDPBudget(Rat.Inf)
  private val InfZ = RhoZCDPBudget(Rat.Inf)

  private val D1 = Date.valueOf("2022-01-01")
  private val D2 = Date.valueOf("2022-01-02")

  private def sdf = makeDf(
    StructType(Seq(strCol("A"), longCol("B"), longCol("X"))),
    Seq(Row("0", 0L, 0L), Row("0", 0L, 1L), Row("0", 1L, 2L), Row("1", 0L, 3L)))

  private def joinDf = makeDf(
    StructType(Seq(strCol("A"), longCol("A+B"))),
    Seq(Row("0", 0L), Row("0", 1L), Row("1", 1L), Row("1", 2L)))

  private def joinDtypesDf = makeDf(
    StructType(Seq(longCol("X"), StructField("DATE", DateType))),
    Seq(Row(0L, D1), Row(1L, D1), Row(2L, D1), Row(3L, D2)))

  private def sess(budget: graft.budget.PrivacyBudget = Inf) = {
    val s = Session.fromDataFrame(spark, budget, "private", sdf, AddOneRow())
    s.addPublicDataFrame("public", joinDf)
    s.addPublicDataFrame("join_dtypes", joinDtypesDf)
    s
  }

  private def rows(q: Query, s: Session = sess(), b: graft.budget.PrivacyBudget = Inf) =
    s.evaluate(q, b).collect()

  private def scalarLong(q: Query, s: Session = sess()): Long =
    rows(q, s).head.getLong(0)

  // ---------------------------------------------------- totals (empty keyset)

  test("total count and count_distinct, explicit empty keyset included") {
    assert(scalarLong(QueryBuilder("private").count("total")) === 4L)
    assert(scalarLong(QueryBuilder("private").countDistinct(name = "total")) === 4L)
    // groupby(KeySet.from_dict({})) is the same query in the reference
    val viaEmpty = rows(QueryBuilder("private").groupby(KeySet.fromDict(Nil)).count())
    assert(viaEmpty.map(_.getLong(0)).toSeq === Seq(4L))
    // Laplace-hint totals are identical at infinite budget
    assert(scalarLong(QueryBuilder("private")
      .count("total", mechanism = MechanismHint.Laplace)) === 4L)
    // Gaussian totals need a zCDP session
    val z = Session.fromDataFrame(spark, InfZ, "private", sdf, AddOneRow())
    assert(z.evaluate(QueryBuilder("private")
        .count("total", mechanism = MechanismHint.Gaussian), InfZ)
      .collect().head.getLong(0) === 4L)
  }

  // ------------------------------------------------------------ marginals

  private def marginal(q: Query): Map[(String, Long), Long] =
    rows(q).map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("full two-column marginal zero-fills the absent cell") {
    val keys = KeySet.fromDict(Seq("A" -> Seq("0", "1"), "B" -> Seq(0L, 1L)))
    val expected = Map(("0", 0L) -> 2L, ("0", 1L) -> 1L, ("1", 0L) -> 1L, ("1", 1L) -> 0L)
    assert(marginal(QueryBuilder("private").groupby(keys).count()) === expected)
    assert(marginal(QueryBuilder("private").groupby(keys).countDistinct()) === expected)
  }

  test("incomplete marginal from a dataframe keyset drops unlisted cells") {
    val keys = KeySet.fromDataFrame(makeDf(
      StructType(Seq(strCol("A"), longCol("B"))),
      Seq(Row("0", 0L), Row("0", 1L), Row("1", 1L))))
    val expected = Map(("0", 0L) -> 2L, ("0", 1L) -> 1L, ("1", 1L) -> 0L)
    assert(marginal(QueryBuilder("private").groupby(keys).count()) === expected)
    assert(marginal(QueryBuilder("private").groupby(keys).countDistinct()) === expected)
  }

  test("one-column marginal with an extra never-observed key") {
    val keys = KeySet.fromColumn("A", Seq("0", "1", "2"))
    val expected = Map("0" -> 3L, "1" -> 1L, "2" -> 0L)
    def asMap(q: Query) = rows(q).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(asMap(QueryBuilder("private").groupby(keys).count()) === expected)
    assert(asMap(QueryBuilder("private").groupby(keys).countDistinct()) === expected)
  }

  test("duplicate rows in a dataframe keyset deduplicate") {
    val keys = KeySet.fromDataFrame(makeDf(StructType(Seq(strCol("A"))),
      Seq(Row("0"), Row("0"), Row("1"), Row("1"), Row("2"), Row("2"))))
    val out = rows(QueryBuilder("private").groupby(keys).count())
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("0" -> 3L, "1" -> 1L, "2" -> 0L))
    assert(out.length === 3) // the keyset itself deduplicated
  }

  // ------------------------------------------------------------ aggregates

  test("grouped bounded sum clamps to [0,1]") {
    val keys = KeySet.fromColumn("A", Seq("0", "1"))
    val out = rows(QueryBuilder("private").groupby(keys).sum("X", 0, 1, "sum"))
      .map(r => r.getString(0) -> r.getAs[Number](1).doubleValue).toMap
    assert(out === Map("0" -> 2.0, "1" -> 1.0))
  }

  test("grouped stdev matches the reference's released value per group") {
    // the reference's zCDP case expects B_stdev = [0.5, NaN]; our noisy-
    // count guard releases 0.0 for a degenerate single-row group instead of
    // NaN (deliberate: greatest(n-1, 1) keeps finite-budget noisy counts
    // from exploding the ratio) — the multi-row group matches exactly
    val keys = KeySet.fromColumn("A", Seq("0", "1"))
    val out = rows(QueryBuilder("private").groupby(keys).stdev("B", 0, 1, "B_stdev"))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("0") === 0.5)
    assert(out("1") === 0.0)
  }

  // ------------------------------------------------------------- flat maps

  test("augmenting constant flat map doubles every row before a sum") {
    val q = QueryBuilder("private")
      .flatMap(_ => Seq(Map.empty[String, Any], Map.empty[String, Any]),
        Seq.empty, maxRows = 2, augment = true)
      .replaceNullAndNan()
      .sum("X", 0, 3)
    assert(rows(q).head.getAs[Number](0).doubleValue === 12.0)
  }

  test("chained flat maps: per-row repetition drives the sum") {
    val q = QueryBuilder("private")
      .flatMap(r => Seq(Map("Repeat" -> (if (r("A") == "0") 1L else 2L))),
        Seq("Repeat" -> ColumnDescriptor(ColumnType.Integer)),
        maxRows = 1, augment = true)
      .flatMap(r => (1L to r("Repeat").asInstanceOf[Long])
          .map(_ => Map("i" -> r("X"))),
        Seq("i" -> ColumnDescriptor(ColumnType.Integer)),
        maxRows = 2, augment = false)
      .replaceNullAndNan()
      .sum("i", 0, 3)
    // A="0" rows emit X once (0+1+2), the A="1" row emits X=3 twice
    assert(rows(q).head.getAs[Number](0).doubleValue === 9.0)
  }

  test("grouping flat map: new column becomes a mandatory group key") {
    val q = QueryBuilder("private")
      .flatMap(r => Seq(Map("Repeat" -> (if (r("A") == "0") 1L else 2L))),
        Seq("Repeat" -> ColumnDescriptor(ColumnType.Integer)),
        maxRows = 1, augment = true, grouping = true)
      .flatMap(r => (1L to r("Repeat").asInstanceOf[Long])
          .map(_ => Map("i" -> r("X"))),
        Seq("i" -> ColumnDescriptor(ColumnType.Integer)),
        maxRows = 2, augment = true)
      .replaceNullAndNan()
      .groupby(KeySet.fromColumn("Repeat", Seq(1L, 2L)))
      .sum("i", 0, 3)
    val out = rows(q).map(r => r.getLong(0) -> r.getAs[Number](1).doubleValue).toMap
    assert(out === Map(1L -> 3.0, 2L -> 6.0))
  }

  // --------------------------------------------------------------- binning

  test("bin_column and the histogram sugar agree with the reference bins") {
    val spec = BinningSpec(Seq(0L, 2L, 4L), Some(Seq("0,1", "2,3")), right = false)
    val keys = KeySet.fromColumn("X_binned", Seq("0,1", "2,3"))
    val viaBin = rows(QueryBuilder("private").binColumn("X", spec)
      .groupby(keys).count())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBin === Map("0,1" -> 2L, "2,3" -> 2L))
    val viaHist = rows(QueryBuilder("private").histogram("X", spec))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaHist === viaBin)
  }

  test("values outside every bin (and mapped nulls) land in the null bin") {
    val q = QueryBuilder("private")
      .map(r => Map("X" -> (if (r("X") == 3L) null else r("X"))),
        Seq("X" -> ColumnDescriptor(ColumnType.Integer, allowNull = true)))
      .binColumn("X", BinningSpec(Seq(10L, 12L, 14L),
        Some(Seq("10,12", "12,14")), right = false))
      .groupby(KeySet.fromColumn("X_binned", Seq("10,12", "12,14", null)))
      .count()
    val out = rows(q).map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out === Map(Some("10,12") -> 0L, Some("12,14") -> 0L, None -> 4L))
  }

  // ---------------------------------------------------- transforms + counts

  test("filter, select: reference row counts and distinct counts") {
    assert(scalarLong(QueryBuilder("private").filter("A == '0'").count()) === 3L)
    assert(scalarLong(QueryBuilder("private").filter("A == '0'").countDistinct()) === 3L)
    assert(scalarLong(QueryBuilder("private").select("A").count()) === 4L)
    // select collapses to the 2 distinct A values
    assert(scalarLong(QueryBuilder("private").select("A").countDistinct()) === 2L)
  }

  test("augmenting map feeds a two-column marginal") {
    val q = QueryBuilder("private")
      .map(r => Map("C" -> (r("B").toString * 2)),
        Seq("C" -> ColumnDescriptor(ColumnType.Varchar)), augment = true)
      .replaceNullAndNan()
      .groupby(KeySet.fromDict(Seq("A" -> Seq("0", "1"), "C" -> Seq("00", "11"))))
      .count()
    val out = rows(q).map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("0", "00") -> 2L, ("0", "11") -> 1L,
      ("1", "00") -> 1L, ("1", "11") -> 0L))
  }

  // ------------------------------------------------------------ public joins

  test("natural public join: inner and left agree when every row matches") {
    val keys = KeySet.fromColumn("A+B", Seq(0L, 1L, 2L))
    def asMap(q: Query) = rows(q).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(0L -> 3L, 1L -> 4L, 2L -> 1L)
    assert(asMap(QueryBuilder("private").joinPublic("public")
      .groupby(keys).count()) === expected)
    assert(asMap(QueryBuilder("private").joinPublic("public", Seq("A"), how = "left")
      .groupby(keys).count()) === expected)
    assert(asMap(QueryBuilder("private").joinPublic("public")
      .groupby(keys).countDistinct()) === expected)
  }

  test("date-typed join and group-by keys") {
    val keys = KeySet.fromColumn("DATE", Seq(D1, D2))
    val out = rows(QueryBuilder("private").joinPublic("join_dtypes")
      .groupby(keys).count())
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(out === Map("2022-01-01" -> 3L, "2022-01-02" -> 1L))
    assert(scalarLong(QueryBuilder("private").joinPublic("join_dtypes")
      .countDistinct(Seq("DATE"), name = "n")) === 2L)
  }

  test("count_distinct after map and after join_public " +
      "(GroupByCountDistinct Map/JoinPublic rows)") {
    import graft.types.{ColumnDescriptor, ColumnType}
    // map collapses X to X mod 2 -> distinct (A, B, parity) triples: the
    // two ("0",0,·) rows map to parities {0,1}, so all 4 rows stay distinct;
    // dropping A via select then leaves {(0,0),(0,1),(1,0)} -> 3
    val mapped = QueryBuilder("private").map(
      r => Map("A" -> r("A"), "B" -> r("B"),
        "P" -> (r("X").asInstanceOf[Long] % 2)),
      Seq("A" -> ColumnDescriptor(ColumnType.Varchar),
        "B" -> ColumnDescriptor(ColumnType.Integer),
        "P" -> ColumnDescriptor(ColumnType.Integer)),
      augment = false)
    assert(scalarLong(mapped.cloneBuilder().countDistinct(name = "n")) === 4L)
    assert(scalarLong(mapped.cloneBuilder().select("B", "P")
      .countDistinct(name = "n")) === 3L)
    // join_public fans "0"-rows out to 2 copies; count_distinct grouped on
    // the join column sees distinct (B, X, A+B) combos per A
    val keys = KeySet.fromColumn("A", Seq("0", "1"))
    val out = rows(QueryBuilder("private").joinPublic("public")
      .groupby(keys).countDistinct(Seq("A+B"), name = "n"))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("0" -> 2L, "1" -> 2L))
  }

  test("repeated public self-joins disambiguate overlap as _left/_right") {
    // the reference's public_join_disambiguation case: three joins of the
    // same public table; the second join suffixes the colliding A+B, the
    // third finds no collision (A+B_left/right already disambiguated)
    val q = QueryBuilder("private")
      .joinPublic("public")
      .joinPublic("public", Seq("A"))
      .joinPublic("public", Seq("A"))
      .groupby(KeySet.fromDict(Seq(
        "A+B" -> Seq(0L, 1L, 2L),
        "A+B_left" -> Seq(0L, 1L, 2L),
        "A+B_right" -> Seq(0L, 1L, 2L))))
      .count()
    val out = rows(q).map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // the reference's expected 27-cell cube (conftest.py:591-620); cells are
    // (A+B, A+B_left, A+B_right) -> count
    val nonZero = Map(
      (0L, 0L, 0L) -> 3L, (0L, 0L, 1L) -> 3L, (0L, 1L, 0L) -> 3L, (0L, 1L, 1L) -> 3L,
      (1L, 0L, 0L) -> 3L, (1L, 0L, 1L) -> 3L, (1L, 1L, 0L) -> 3L, (1L, 1L, 1L) -> 4L,
      (1L, 1L, 2L) -> 1L, (1L, 2L, 1L) -> 1L, (1L, 2L, 2L) -> 1L,
      (2L, 1L, 1L) -> 1L, (2L, 1L, 2L) -> 1L, (2L, 2L, 1L) -> 1L, (2L, 2L, 2L) -> 1L)
    assert(out.size === 27)
    assert(out.filter(_._2 > 0L) === nonZero)
    // NOTE: the reference labels the disambiguated columns by join order
    // differently (its expected table reads (A+B, left, right)); our cube is
    // checked against plain-Spark recomputation below, cell by cell
    val pub = joinDf
    val expected = sdf.join(pub, "A")
      .join(pub.withColumnRenamed("A+B", "__r1"), "A")
      .join(pub.withColumnRenamed("A+B", "__r2"), "A")
      .groupBy("A+B", "__r1", "__r2").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(out.filter(_._2 > 0L).map { case ((a, l, rr), c) => ((a, l, rr), c) } ===
      expected)
  }

  // ---------------------------------------------------------------- suppress

  test("suppress(1) drops the zero-count cell and keeps counts >= 1") {
    val q = QueryBuilder("private")
      .groupby(KeySet.fromDict(Seq("A" -> Seq("0", "1"), "B" -> Seq(0L, 1L))))
      .count()
      .suppress(1.0)
    val out = rows(q).map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(("0", 0L) -> 2L, ("0", 1L) -> 1L, ("1", 0L) -> 1L))
  }

  // ----------------------------------------------- interactivity / accounting

  test("budget draws down across evaluates and hits exactly zero") {
    val s = Session.fromDataFrame(spark, PureDPBudget(Rat(10, 1)), "private",
      sdf, AddOneRow())
    s.evaluate(QueryBuilder("private").count("total"), PureDPBudget(Rat(5, 1)))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat(5, 1)))
    s.evaluate(QueryBuilder("private").count("total"), PureDPBudget(Rat(5, 1)))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat.zero))
    intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("private").count("total"), PureDPBudget(Rat(1, 1)))
    }
  }

  test("zCDP budget draws down identically for every mechanism hint") {
    for (hint <- Seq(MechanismHint.Default, MechanismHint.Laplace, MechanismHint.Gaussian)) {
      val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat(10, 1)), "private",
        sdf, AddOneRow())
      s.evaluate(QueryBuilder("private").count("total", mechanism = hint),
        RhoZCDPBudget(Rat(5, 1)))
      assert(s.remainingPrivacyBudget === RhoZCDPBudget(Rat(5, 1)))
      s.evaluate(QueryBuilder("private").count("total", mechanism = hint),
        RhoZCDPBudget(Rat(5, 1)))
      assert(s.remainingPrivacyBudget === RhoZCDPBudget(Rat.zero))
    }
  }

  // ----------------------------------------------------- view + private join

  test("private join against a flat-map view (reference private-join case)") {
    val s = sess()
    s.createView(QueryBuilder("private").flatMap(
        r => Seq(Map("C" -> (if (r("A") == "0") 1L else 2L))),
        Seq("C" -> ColumnDescriptor(ColumnType.Integer)),
        maxRows = 1, augment = true),
      "private_2", cache = false)
    val q = QueryBuilder("private")
      .joinPrivate(QueryBuilder("private_2"),
        graft.constraints.TruncationStrategy.DropExcess(3),
        graft.constraints.TruncationStrategy.DropExcess(3))
      .replaceNullAndNan()
      .groupby(KeySet.fromColumn("A", Seq("0", "1")))
      .count()
    val out = rows(q, s).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("0" -> 3L, "1" -> 1L))
  }

  test("get_groups after an augmenting flat map keeps only common groups " +
      "(test_get_groups_with_flat_map)") {
    // 10k rows of (0,0), 10k of (0,1), one of (1,3): the flat map appends
    // C in {"0","1"} to every row, and partition selection at eps=1 must
    // surface the four heavy (A,B,C) cells while the singleton (1,3,*)
    // stays below the threshold
    val big = makeDf(StructType(Seq(longCol("A"), longCol("B"))),
      (1 to 10000).map(_ => Row(0L, 0L)) ++
        (1 to 10000).map(_ => Row(0L, 1L)) :+ Row(1L, 3L))
    val s = Session.fromDataFrame(spark,
      graft.budget.ApproxDPBudget(Rat(1), Rat(1, 100000)), "private", big, AddOneRow())
    val q = QueryBuilder("private")
      .flatMap(_ => Seq(Map("C" -> "0"), Map("C" -> "1")),
        Seq("C" -> ColumnDescriptor(ColumnType.Varchar)),
        maxRows = 2, augment = true)
      .getGroups("A", "B", "C")
    val got = s.evaluate(q, s.remainingPrivacyBudget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((0L, 0L, "0"), (0L, 0L, "1"), (0L, 1L, "0"), (0L, 1L, "1")))
  }

  test("partition on a grouping flat-map column, and on other columns " +
      "(test_partition_on_flatmap/nongrouping_column)") {
    for (budget <- Seq[graft.budget.PrivacyBudget](PureDPBudget(20.0),
        graft.budget.ApproxDPBudget(Rat(20), Rat(1, 2)), RhoZCDPBudget(20.0))) {
      val s = Session.fromDataFrame(spark, budget, "private", sdf, AddOneRow())
      s.createView(QueryBuilder("private").flatMap(
          _ => Seq(Map("new" -> 1L), Map("new" -> 2L)),
          Seq("new" -> ColumnDescriptor(ColumnType.Integer)),
          maxRows = 2, augment = true, grouping = true),
        "duplicated", cache = false)
      // partition on the grouping column: children are plain rows tables
      val part = s.partitionAndCreate("duplicated", budget.split(2), "new",
        Seq("new1" -> 1L, "new2" -> 2L))
      part("new1").evaluate(QueryBuilder("new1").count(), budget.split(4))
      part("new2").evaluate(QueryBuilder("new2").count(), budget.split(4))
      // partition on a NON-grouping column: children keep the grouping
      // obligation, so their group-bys must include "new"
      val s2 = Session.fromDataFrame(spark, budget, "private", sdf, AddOneRow())
      s2.createView(QueryBuilder("private").flatMap(
          _ => Seq(Map("new" -> 1L), Map("new" -> 2L)),
          Seq("new" -> ColumnDescriptor(ColumnType.Integer)),
          maxRows = 2, augment = true, grouping = true),
        "duplicated", cache = false)
      val byA = s2.partitionAndCreate("duplicated", budget.split(2), "A",
        Seq("zero" -> "0", "one" -> "1"))
      val keys = KeySet.fromColumn("new", Seq(1L, 2L))
      byA("zero").evaluate(QueryBuilder("zero").groupby(keys).count(), budget.split(4))
      byA("one").evaluate(QueryBuilder("one").groupby(keys).count(), budget.split(4))
    }
  }

  test("composed rows partitions: each level splits its own budget " +
      "(reference test_partitions_composed)") {
    val s = Session.fromDataFrame(spark, PureDPBudget(2.0), "t",
      makeDf(StructType(Seq(strCol("a"), strCol("b"), longCol("n"))),
        Seq(Row("x", "p", 1L), Row("x", "q", 2L),
          Row("y", "p", 3L), Row("y", "q", 4L))),
      AddOneRow())
    val kids = s.partitionAndCreate("t", PureDPBudget(2.0), "a",
      Seq("tx" -> "x", "ty" -> "y"))
    val grand = kids("tx").partitionAndCreate("tx", PureDPBudget(2.0), "b",
      Seq("txp" -> "p", "txq" -> "q"))
    // grandchildren are disjoint slices: rows stability is still 1, so at
    // eps = 1 the scale is 1 and the infinite-parallel tree answers exactly
    // under its infinite leaf budgets... here finite: noiseInfo pins scale 1
    assert(grand("txp").noiseInfo(QueryBuilder("txp").count(),
      PureDPBudget(1.0)).head.mechanism
      === graft.exec.NoiseMechanism.Geometric(Rat(1)))
    // and each grandchild's budget is the full partition budget
    assert(grand("txp").remainingPrivacyBudget === PureDPBudget(2.0))
    grand("txp").evaluate(QueryBuilder("txp").count(), PureDPBudget(2.0))
    assert(grand("txp").remainingPrivacyBudget === PureDPBudget(0.0))
    // a sibling grandchild still holds its own full budget afterwards
    assert(grand("txq").remainingPrivacyBudget === PureDPBudget(2.0))
    grand("txq").evaluate(QueryBuilder("txq").count(), PureDPBudget(1.0))
  }

  test("zCDP grouping column with non-integer stability evaluates " +
      "(test_grouping_noninteger_stability)") {
    // AddMaxRowsInMaxGroups(group, 2, 1) under zCDP gives the grouped count
    // a sqrt(2) L2 stability — a non-integer distance the accountant must
    // carry exactly
    val grouped = makeDf(StructType(Seq(longCol("id"), longCol("group"))),
      Seq(Row(7L, 0L), Row(7L, 1L), Row(8L, 0L), Row(9L, 1L)))
    val s = Session.fromDataFrame(spark, InfZ, "id", grouped,
      graft.accounting.AddMaxRowsInMaxGroups("group", maxGroups = 2, maxRowsPerGroup = 1))
    val q = QueryBuilder("id").groupby(KeySet.fromColumn("group", Seq(0L, 1L))).count()
    val out = s.evaluate(q, RhoZCDPBudget(1.0)).collect()
    assert(out.length === 2)
  }
}
