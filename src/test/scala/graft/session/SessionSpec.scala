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

/** End-to-end Session behavior with deterministic infinite-budget results
  * (the reference's golden-table pattern,
  * test/system/session/rows/conftest.py:62+).
  */
class SessionSpec extends SparkSpec {

  private val Inf = PureDPBudget(Rat.Inf)

  private def df = makeDf(
    StructType(Seq(strCol("flag"), longCol("qty"), longCol("uid"))),
    Seq(Row("A", 1L, 1L), Row("A", 2L, 1L), Row("B", 3L, 1L),
      Row("A", 4L, 2L), Row("B", 5L, 2L), Row("B", 100L, 3L)))

  private def rowSession(b: PrivacyBudget = Inf) =
    Session.fromDataFrame(spark, b, "t", df, AddOneRow())

  test("private join across different id spaces is rejected") {
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withIdSpace("space1").withIdSpace("space2")
      .withPrivateDataFrame("a", df, AddRowsWithID("uid", "space1"))
      .withPrivateDataFrame("b", df.select("uid", "qty"), AddRowsWithID("uid", "space2"))
      .build(spark)
    val ex = intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("a")
        .enforce(MaxRowsPerID(10))
        .joinPrivate(QueryBuilder("b").enforce(MaxRowsPerID(10)), Seq("uid"))
        .count(), Inf)
    }
    assert(ex.getMessage.contains("id space"))
  }

  test("id space is a joint protected unit: shared d_in, declaration required") {
    // reference AddRemoveKeys (session.py:113-143): all tables of one id
    // space are one neighboring unit, so the space-wide max_keys applies to
    // every member — a query on the maxIDs=1 table is charged for the
    // d_in=2 its space-mate declared
    val s = new Session.Builder().withPrivacyBudget(PureDPBudget(Rat.Inf))
      .withIdSpace("space1")
      .withPrivateDataFrame("a", df, AddRowsWithID("uid", "space1"))
      .withPrivateDataFrame("b", df.select("uid", "qty"),
        AddRowsWithID("uid", "space1", maxIDs = 2))
      .build(spark)
    val q = QueryBuilder("a").enforce(MaxRowsPerID(1)).count()
    // joint d_in = 2, MaxRowsPerID(1) => sens 2; eps 0.5 -> scale 4
    assert(s.noiseInfo(q, PureDPBudget(0.5)).head.mechanism
      === NoiseMechanism.Geometric(Rat(4)))

    // multiple private tables: an undeclared id space is a builder error
    val ex = intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(Inf)
        .withPrivateDataFrame("a", df, AddRowsWithID("uid", "spaceX"))
        .withPrivateDataFrame("b", df.select("uid", "qty"), AddRowsWithID("uid", "spaceX"))
        .build(spark)
    }
    assert(ex.getMessage.contains("identifier space"))

    // a sole private table's id space is registered implicitly
    // (reference _base_builder.py:144-156)
    val solo = new Session.Builder().withPrivacyBudget(Inf)
      .withPrivateDataFrame("a", df, AddRowsWithID("uid", "spaceY"))
      .build(spark)
    assert(solo.getIdSpace("a") === Some("spaceY"))
  }

  test("mixed session: rows and IDs tables coexist under one accountant") {
    // reference test/system/session/mixed: one session may hold tables with
    // different protected changes; each query uses its table's own metric,
    // and all spends drain the same budget
    val s = new Session.Builder().withPrivacyBudget(PureDPBudget(2.0))
      .withIdSpace("u")
      .withPrivateDataFrame("rows", df, AddOneRow())
      .withPrivateDataFrame("ids", df, AddRowsWithID("uid", "u"))
      .build(spark)
    s.evaluate(QueryBuilder("rows").count(), PureDPBudget(1.0))
    s.evaluate(QueryBuilder("ids").enforce(MaxRowsPerID(3)).count(), PureDPBudget(1.0))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat.zero))
    // a rows/IDs private join stays rejected
    val s2 = new Session.Builder().withPrivacyBudget(Inf)
      .withIdSpace("u")
      .withPrivateDataFrame("rows", df, AddOneRow())
      .withPrivateDataFrame("ids", df, AddRowsWithID("uid", "u"))
      .build(spark)
    val ex = intercept[IllegalArgumentException] {
      s2.evaluate(QueryBuilder("rows")
        .joinPrivate(QueryBuilder("ids").enforce(MaxRowsPerID(1)), Seq("uid"))
        .count(), Inf)
    }
    assert(ex.getMessage.contains("mix"))
  }

  test("views over IDs tables keep the id metric, constraints, and protection") {
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withIdSpace("u")
      .withPrivateDataFrame("ids", df, AddRowsWithID("uid", "u"))
      .build(spark)
    s.createView(QueryBuilder("ids").filter("qty <= 5"), "small")
    // the view is still an IDs table: aggregation requires a constraint...
    intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("small").count(), Inf)
    }
    // ...and enforcement works downstream of the view: qty<=5 keeps 5 rows
    // (uids 1,2 have 2+3... uid1 rows qty 1,2,3; uid2 qty 4,5; uid3 none),
    // MaxRowsPerID(2) then caps uid1 at 2
    val n = s.evaluate(
      QueryBuilder("small").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 4L)
    // a view of the view composes
    s.createView(QueryBuilder("small").filter("qty >= 2"), "tiny")
    val n2 = s.evaluate(
      QueryBuilder("tiny").enforce(MaxRowsPerID(1)).count(), Inf)
      .collect().head.getLong(0)
    assert(n2 === 2L) // uids 1 and 2 each keep one row; uid 3 has none
  }

  test("partition children expose only their child table") {
    val s = rowSession()
    val kids = s.partitionAndCreate("t", Inf, "flag",
      Seq("ta" -> "A", "tb" -> "B"))
    assert(kids("ta").privateSources === Seq("ta"))
    assert(kids("tb").privateSources === Seq("tb"))
    intercept[Exception] {
      kids("ta").evaluate(QueryBuilder("t").count(), Inf)
    }
  }

  test("describe reports tables, schemas, markers, and the live budget") {
    val s = new Session.Builder().withPrivacyBudget(PureDPBudget(2.0))
      .withIdSpace("u")
      .withPrivateDataFrame("ids", df, AddRowsWithID("uid", "u"))
      .withPublicDataFrame("pub", df.select("flag"))
      .build(spark)
    val d1 = s.describe()
    assert(d1.contains("ids") && d1.contains("pub"))
    assert(d1.contains("uid") && d1.contains("[id"))
    assert(d1.contains("id space: u"))
    s.evaluate(QueryBuilder("ids").enforce(MaxRowsPerID(1)).count(),
      PureDPBudget(1.0))
    val d2 = s.describe()
    assert(d2 !== d1) // the remaining budget moved
    assert(d2.contains("1"))
    s.createView(QueryBuilder("ids").filter("qty > 1"), "v")
    assert(s.describe().contains("v"))
  }

  test("describe(query) reports the output schema without spending budget") {
    val df = makeDf(StructType(Seq(strCol("A"), longCol("B"))),
      Seq(Row("x", 1L), Row("y", 2L)))
    val s = Session.fromDataFrame(spark, PureDPBudget(Rat(1, 1)), "t", df, AddOneRow())
    val out = s.describe(QueryBuilder("t")
      .groupby(KeySet.fromColumn("A", Seq("x", "y"))).count("Count"))
    // one line per column: the group key (nullable) and the count
    assert(out.contains("A") && out.contains("VARCHAR"))
    assert(out.contains("Count") && out.contains("INTEGER"))
    // builders describe too, and nothing was charged
    assert(s.describe(QueryBuilder("t").filter("B > 1")).contains("B"))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat(1, 1)))
  }

  test("budget kind mismatch is a type error, not an overspend") {
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df, AddOneRow())
    val ex = intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.5))
    }
    assert(ex.getMessage.contains("kind mismatch"))
  }

  test("schema accessors and stop() retire semantics") {
    val s = Session.fromDataFrame(spark, Inf, "t", df,
      AddRowsWithID("uid", "space1"))
    assert(s.getColumnTypes("t") === Map(
      "flag" -> graft.types.ColumnType.Varchar,
      "qty" -> graft.types.ColumnType.Integer,
      "uid" -> graft.types.ColumnType.Integer))
    assert(s.getIdColumn("t") === Some("uid"))
    assert(s.getIdSpace("t") === Some("space1"))
    assert(s.getGroupingColumn("t") === None)
    s.addPublicDataFrame("pub", df.select("flag"))
    assert(s.publicSourceDataframes.keySet === Set("pub"))
    s.stop()
    intercept[IllegalStateException] {
      s.evaluate(QueryBuilder("t").count(), Inf)
    }
  }

  test("keyset group-by: one row per key, absent keys 0, extra data dropped") {
    val keys = KeySet.fromColumn("flag", Seq("A", "C"))
    val out = rowSession().evaluate(
      QueryBuilder("t").groupby(keys).count(), Inf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("A" -> 3L, "C" -> 0L)) // B dropped, C zero-filled
  }

  test("clamped sum, average, variance at infinite budget") {
    val s = rowSession()
    val sum = s.evaluate(QueryBuilder("t").sum("qty", 0, 10), Inf)
      .collect().head.getLong(0)
    assert(sum === 1 + 2 + 3 + 4 + 5 + 10) // 100 clamps to 10
    val avg = s.evaluate(QueryBuilder("t").average("qty", 0, 10), Inf)
      .collect().head.getDouble(0)
    assert(math.abs(avg - 25.0 / 6.0) < 1e-12)
  }

  test("budget accounting: spend, reject overspend, infinite survives") {
    val s = rowSession(PureDPBudget(1.0))
    s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.7))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat(1) - Rat(0.7)))
    intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.7))
    }
  }

  test("ApproxDP accounting: noise queries charge delta 0, detect charges all") {
    // reference _base_measurement_visitor.py:591-668: noise-addition queries
    // under ApproxDP spend (eps, 0); the auto-partition-selection path is
    // what actually consumes delta
    val s = rowSession(ApproxDPBudget(Rat(2), Rat(1, 100)))
    s.evaluate(QueryBuilder("t").count(), ApproxDPBudget(Rat(1), Rat(1, 200)))
    assert(s.remainingPrivacyBudget === ApproxDPBudget(Rat(1), Rat(1, 100)))
    s.evaluate(QueryBuilder("t")
      .groupby(graft.keyset.KeySet.detect("flag")).count(),
      ApproxDPBudget(Rat(1), Rat(1, 100)))
    assert(s.remainingPrivacyBudget === ApproxDPBudget(Rat.zero, Rat.zero))
  }

  test("zCDP accounting: rho subtracts exactly") {
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat(3, 4)), "t", df, AddOneRow())
    s.evaluate(QueryBuilder("t").count(), RhoZCDPBudget(Rat(1, 4)))
    assert(s.remainingPrivacyBudget === RhoZCDPBudget(Rat(1, 2)))
    intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), RhoZCDPBudget(Rat(3, 4)))
    }
  }

  test("views of views compose; cached views unpersist on delete") {
    val s = rowSession()
    s.createView(QueryBuilder("t").filter("qty <= 5"), "small", cache = true)
    s.createView(QueryBuilder("small").filter("flag = 'A'"), "smallA", cache = false)
    val n = s.evaluate(QueryBuilder("smallA").count(), Inf).collect().head.getLong(0)
    assert(n === 3L) // qty in {1,2,4} for flag A
    // a view name cannot shadow an existing table
    intercept[IllegalArgumentException] {
      s.createView(QueryBuilder("t").select("qty"), "t")
    }
    s.deleteView("smallA")
    s.deleteView("small")
    assert(s.privateSources === Seq("t"))
  }

  test("ApproxDP session can partition with a PureDP budget") {
    // reference test_partition_and_create_approxDP_session_pureDP_partition:
    // PureDP is the delta = 0 corner of ApproxDP, so the charge coerces
    val s = rowSession(ApproxDPBudget(Rat(2), Rat(1, 100)))
    val kids = s.partitionAndCreate("t", PureDPBudget(1.0), "flag",
      Seq("ta" -> "A", "tb" -> "B"))
    assert(s.remainingPrivacyBudget === ApproxDPBudget(Rat(1), Rat(1, 100)))
    val n = kids("ta").evaluate(QueryBuilder("ta").count(), PureDPBudget(1.0))
      .collect().head.getLong(0)
    assert(math.abs(n - 3L) <= 30L)
  }

  test("partition_and_create: null is a legal split value") {
    val d2 = makeDf(
      StructType(Seq(StructField("flag", StringType, nullable = true), longCol("qty"))),
      Seq(Row("A", 1L), Row(null, 2L), Row(null, 3L)))
    val s = Session.fromDataFrame(spark, Inf, "t", d2, AddOneRow())
    val kids = s.partitionAndCreate("t", Inf, "flag",
      Seq("ta" -> "A", "tnull" -> null))
    val nNull = kids("tnull").evaluate(QueryBuilder("tnull").count(), Inf)
      .collect().head.getLong(0)
    assert(nNull === 2L)
  }

  test("partition_and_create rejects overlapping splits") {
    // duplicate values would give two full-budget children over the SAME
    // rows — that is sequential, not parallel, composition
    intercept[IllegalArgumentException] {
      rowSession().partitionAndCreate("t", Inf, "flag",
        Seq("ta" -> "A", "tb" -> "A"))
    }
    intercept[IllegalArgumentException] {
      rowSession().partitionAndCreate("t", Inf, "flag",
        Seq("ta" -> "A", "ta" -> "B"))
    }
  }

  test("partition_and_create on an IDs table needs an enforced constraint") {
    val mk = () => Session.fromDataFrame(spark, Inf, "t", df, AddRowsWithID("uid"))
    // bare IDs table: rejected (reference session.py:1390-1418)
    intercept[IllegalArgumentException] {
      mk().partitionAndCreate("t", Inf, "flag", Seq("ta" -> "A"))
    }
    // with a view that enforces a constraint first, the partition works;
    // a bare MaxRowsPerID turns the children into plain rows tables
    // (reference test_partition.py test_partition_and_create_with_
    // MaxRowsPerID), so the child count needs no further enforcement
    val s = mk()
    s.createView(QueryBuilder("t").enforce(MaxRowsPerID(2)), "tc")
    val kids = s.partitionAndCreate("tc", Inf, "flag", Seq("ta" -> "A", "tb" -> "B"))
    assert(kids("ta").getIdColumn("ta") === None)
    val na = kids("ta").evaluate(QueryBuilder("ta").count(), Inf)
      .collect().head.getLong(0)
    assert(na >= 2L) // flag A rows survive per-ID truncation to <= 2 each
  }

  test("finite-budget count is noisy but near truth; noiseInfo reports scale 2 at eps=0.5") {
    val s = rowSession(PureDPBudget(Rat.Inf))
    val info = s.noiseInfo(QueryBuilder("t").count(), PureDPBudget(0.5))
    assert(info === Seq(graft.exec.NoiseInfo("count", NoiseMechanism.Geometric(Rat(2)))))
    val noisy = (1 to 50).map(_ =>
      s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.5)).collect().head.getLong(0))
    assert(noisy.exists(_ != 6L), "noise should perturb some draws")
    assert(math.abs(noisy.map(_.toDouble).sum / 50 - 6.0) < 2.0)
  }

  test("zCDP budget selects gaussian mechanisms") {
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df, AddOneRow())
    val info = s.noiseInfo(QueryBuilder("t").count(), RhoZCDPBudget(0.5))
    info.head.mechanism match {
      case NoiseMechanism.DiscreteGaussian(s2) => assert(s2 === Rat(1)) // 1/(2*0.5)
      case other => fail(s"expected DiscreteGaussian, got $other")
    }
    intercept[IllegalArgumentException] {
      rowSession().evaluate(
        QueryBuilder("t").count(mechanism = MechanismHint.Gaussian), Inf)
    }
  }

  test("IDs table: aggregation requires constraint; enforce truncates per ID") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddRowsWithID("uid"))
    val e = intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), Inf)
    }
    assert(e.getMessage.contains("constraint"))
    val n = s.evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(1)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 3L) // one row per distinct uid
    val n2 = s.evaluate(
      QueryBuilder("t").enforce(MaxRowsPerID(2)).count(), Inf)
      .collect().head.getLong(0)
    assert(n2 === 5L) // uids 1,2 capped at 2, uid 3 has 1
  }

  test("MaxGroupsPerID + MaxRowsPerGroupPerID bound and truncate") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddRowsWithID("uid"))
    val n = s.evaluate(
      QueryBuilder("t")
        .enforce(MaxGroupsPerID("flag", 1))
        .enforce(MaxRowsPerGroupPerID("flag", 1)).count(), Inf)
      .collect().head.getLong(0)
    assert(n === 3L) // each uid contributes exactly one (group, row)
  }

  test("views compose with queries and propagate stability") {
    val s = rowSession()
    s.createView(QueryBuilder("t").filter("qty <= 5"), "small", cache = false)
    val n = s.evaluate(QueryBuilder("small").count(), Inf).collect().head.getLong(0)
    assert(n === 5L)
    assert(s.privateSources.contains("small"))
    s.deleteView("small")
    assert(!s.privateSources.contains("small"))
  }

  test("partition_and_create: disjoint children, parent charged once") {
    val s = rowSession(PureDPBudget(1.0))
    val kids = s.partitionAndCreate("t", PureDPBudget(0.5), "flag",
      Seq("ta" -> "A", "tb" -> "B"))
    assert(s.remainingPrivacyBudget === PureDPBudget(0.5))
    // children run at finite budget (0.5 each) -> counts are noisy around 3
    val na = kids("ta").evaluate(QueryBuilder("ta").count(), PureDPBudget(0.5))
      .collect().head.getLong(0)
    val nb = kids("tb").evaluate(QueryBuilder("tb").count(), PureDPBudget(0.5))
      .collect().head.getLong(0)
    assert(math.abs(na - 3L) <= 30L && math.abs(nb - 3L) <= 30L, s"na=$na nb=$nb")
    // tb is the active child now and its budget is exhausted
    intercept[IllegalArgumentException] {
      kids("tb").evaluate(QueryBuilder("tb").count(), PureDPBudget(0.1))
    }
  }

  test("public join stability multiplies d_in by measured fan-out") {
    val pub = makeDf(StructType(Seq(strCol("flag"), strCol("tag"))),
      Seq(Row("A", "x"), Row("A", "y"), Row("B", "z")))
    val s = new Session.Builder().withPrivacyBudget(Inf)
      .withPrivateDataFrame("t", df, AddOneRow())
      .withPublicDataFrame("pub", pub)
      .build(spark)
    // fan-out of pub on flag is 2 -> count sensitivity 2 -> scale 2/0.5 = 4
    val info = s.noiseInfo(
      QueryBuilder("t").joinPublic("pub", Seq("flag")).count(), PureDPBudget(0.5))
    assert(info.head.mechanism === NoiseMechanism.Geometric(Rat(4)))
  }

  test("suppress drops below-threshold groups") {
    val out = rowSession().evaluate(
      QueryBuilder("t").groupby(KeySet.fromColumn("flag", Seq("A", "B", "C")))
        .count().suppress(2), Inf)
      .collect().map(r => r.getString(0)).toSet
    assert(out === Set("A", "B")) // C has 0 < 2
  }

  test("count_distinct ignores duplicates") {
    val s = rowSession()
    val n = s.evaluate(
      QueryBuilder("t").select("flag").countDistinct(), Inf)
      .collect().head.getLong(0)
    assert(n === 2L)
  }

  test("get_groups returns observed combinations at infinite budget") {
    val s = Session.fromDataFrame(spark, ApproxDPBudget(Rat.Inf, Rat.zero), "t",
      df, AddOneRow())
    val out = s.evaluate(QueryBuilder("t").getGroups("flag"),
      ApproxDPBudget(Rat.Inf, Rat.zero)).collect().map(_.getString(0)).toSet
    assert(out === Set("A", "B"))
    intercept[IllegalArgumentException] {
      rowSession().evaluate(QueryBuilder("t").getGroups("flag"), Inf)
    }
  }

  test("auto partition selection discovers keys then aggregates") {
    val inf = ApproxDPBudget(Rat.Inf, Rat.zero)
    val s = Session.fromDataFrame(spark, inf, "t", df, AddOneRow())
    val out = s.evaluate(
      QueryBuilder("t").groupby(KeySet.detect("flag")).count(), inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("A" -> 3L, "B" -> 3L))
    // requires ApproxDP; plan-only keysets cannot materialize directly
    intercept[IllegalArgumentException] {
      rowSession().evaluate(
        QueryBuilder("t").groupby(KeySet.detect("flag")).count(), Inf)
    }
    intercept[IllegalStateException] { KeySet.detect("flag").dataframe(spark) }
    // bare-column groupby sugar is the same query (reference
    // query_builder.py:1863 accepts KeySet | List[str] | str)
    val sugared = s.evaluate(QueryBuilder("t").groupby("flag").count(), inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sugared === Map("A" -> 3L, "B" -> 3L))
  }

  test("detect composes with the keyset algebra like a KeySetPlan " +
      "(reference _keyset.py:622-837)") {
    val inf = ApproxDPBudget(Rat.Inf, Rat.zero)
    // detect("flag") crossed with a literal domain: the detected {A, B}
    // cross {1, 2} gives four groups; counts follow the flag totals
    val s = Session.fromDataFrame(spark, inf, "t", df, AddOneRow())
    val keys = KeySet.detect("flag") * KeySet.fromColumn("bucket", Seq(1L, 2L))
    val q = QueryBuilder("t")
      .map(r => Map("bucket" -> (if (r("qty").asInstanceOf[Long] <= 2L) 1L else 2L)),
        Seq("bucket" -> graft.types.ColumnDescriptor(graft.types.ColumnType.Integer)),
        augment = true)
      .groupby(keys).count()
    val out = s.evaluate(q, inf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(("A", 1L) -> 2L, ("A", 2L) -> 1L,
      ("B", 1L) -> 0L, ("B", 2L) -> 3L))
    // detect then filter: the released domain is post-processed
    val s2 = Session.fromDataFrame(spark, inf, "t", df, AddOneRow())
    val filtered = s2.evaluate(
      QueryBuilder("t").groupby(KeySet.detect("flag").filter("flag = 'A'")).count(),
      inf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(filtered === Map("A" -> 3L))
    // detect then subtract a literal keyset
    val s3 = Session.fromDataFrame(spark, inf, "t", df, AddOneRow())
    val subtracted = s3.evaluate(
      QueryBuilder("t").groupby(
        KeySet.detect("flag").subtract(KeySet.fromColumn("flag", Seq("B")))).count(),
      inf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(subtracted === Map("A" -> 3L))
    // at most one detect leaf per keyset plan
    intercept[IllegalArgumentException] {
      Session.fromDataFrame(spark, inf, "t", df, AddOneRow()).evaluate(
        QueryBuilder("t").groupby(KeySet.detect("flag") * KeySet.detect("qty"))
          .count(), inf)
    }
  }

  test("null is a valid group-by key on both sides") {
    val dfn = makeDf(StructType(Seq(strCol("flag"), longCol("qty"))),
      Seq(Row("A", 1L), Row(null, 2L), Row(null, 3L), Row("B", 4L)))
    val s = Session.fromDataFrame(spark, Inf, "t", dfn, AddOneRow())
    val keys = graft.keyset.KeySet.fromTuples(Seq(Seq("A"), Seq(null)),
      StructType(Seq(StructField("flag", StringType, nullable = true))))
    val out = s.evaluate(QueryBuilder("t").groupby(keys).count(), Inf)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out === Map(Some("A") -> 1L, None -> 2L)) // B not in keyset -> dropped
  }

  test("AddMaxRowsInMaxGroups lowers to groups*rows distance (sqrt when grouped)") {
    val s = Session.fromDataFrame(spark, Inf, "t", df,
      AddMaxRowsInMaxGroups("flag", maxGroups = 2, maxRowsPerGroup = 3))
    // PureDP: d_in = 6 -> count scale 6/eps = 12 at eps 0.5
    val info = s.noiseInfo(QueryBuilder("t").count(), PureDPBudget(0.5))
    assert(info.head.mechanism === NoiseMechanism.Geometric(Rat(12)))
    val sz = Session.fromDataFrame(spark, RhoZCDPBudget(Rat.Inf), "t", df,
      AddMaxRowsInMaxGroups("flag", maxGroups = 2, maxRowsPerGroup = 3))
    // zCDP UNGROUPED count: all 6 changed rows can hit the single released
    // value, so the sqrt credit must NOT apply — sigma^2 = 36/(2*0.5) = 36
    val infoZ = sz.noiseInfo(QueryBuilder("t").count(), RhoZCDPBudget(0.5))
    assert(infoZ.head.mechanism === NoiseMechanism.DiscreteGaussian(Rat(36)))
    // zCDP grouped BY the protected change's column: per-group structure
    // aligns, Delta_2 = 3*sqrt(2) carried as the exact square 18 (no ceil)
    // -> sigma^2 = 18/(2*0.5) = 18, the reference's symbolic calibration
    val keys = KeySet.fromColumn("flag", Seq("A", "B"))
    val infoG = sz.noiseInfo(QueryBuilder("t").groupby(keys).count(),
      RhoZCDPBudget(0.5))
    assert(infoG.head.mechanism === NoiseMechanism.DiscreteGaussian(Rat(18)))
  }

  test("accountant tree: later sibling retires earlier; parent retires children") {
    val s = rowSession()
    val kids = s.partitionAndCreate("t", Inf, "flag", Seq("ta" -> "A", "tb" -> "B"))
    kids("tb").evaluate(QueryBuilder("tb").count(), Inf) // skips ta -> ta retired
    intercept[IllegalStateException] {
      kids("ta").evaluate(QueryBuilder("ta").count(), Inf)
    }
    s.evaluate(QueryBuilder("t").count(), Inf) // parent resumes -> tb retired
    intercept[IllegalStateException] {
      kids("tb").evaluate(QueryBuilder("tb").count(), Inf)
    }
  }

  test("retired session refuses work after invalid partition column") {
    val s = rowSession()
    intercept[IllegalArgumentException] {
      s.partitionAndCreate("t", Inf, "nope", Seq("x" -> "A"))
    }
  }
}
