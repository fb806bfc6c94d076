package graft.session

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting._
import graft.budget._
import graft.constraints._
import graft.ir._
import graft.keyset.KeySet

/** Table-driven error-path suites mirroring the reference's invalid-input
  * matrices (test/unit/test_session.py — budget-kind and lifecycle tables;
  * test/system/session/test_invalid_constraints.py — constraint tables).
  * Each table row registers its own test case. The contract everywhere: a
  * descriptive IllegalArgument/IllegalState error at analysis time — never a
  * Spark stack trace from deep in execution, and never a silent wrong
  * release.
  */
class SessionErrorTablesSpec extends SparkSpec {

  private def df = makeDf(
    StructType(Seq(strCol("flag"), longCol("qty"), longCol("uid"))),
    Seq(Row("A", 1L, 1L), Row("B", 2L, 2L), Row("B", 3L, 3L)))

  private val InfP = PureDPBudget(Rat.Inf)

  private def rows(b: PrivacyBudget = InfP) =
    Session.fromDataFrame(spark, b, "t", df, AddOneRow())
  private def ids(b: PrivacyBudget = InfP) =
    Session.fromDataFrame(spark, b, "t", df, AddRowsWithID("uid"))

  // every noise-addition aggregation the builder offers, by name
  private val aggs: Seq[(String, QueryBuilder => Query)] = Seq(
    ("count", qb => qb.count()),
    ("count_distinct", qb => qb.countDistinct(Seq("flag"))),
    ("sum", qb => qb.sum("qty", 0, 10)),
    ("average", qb => qb.average("qty", 0, 10)),
    ("variance", qb => qb.variance("qty", 0, 10)),
    ("stdev", qb => qb.stdev("qty", 0, 10)),
    ("quantile", qb => qb.quantile("qty", 0.5, 0, 10)))

  // ---------------------------------------------------------------------
  // Budget-kind mismatch matrix (test_evaluate_puredp_session_approxdp_query,
  // test_evaluate_zcdp_session_puredp_query, ..._puredp_session_zcdp_query):
  // every aggregation type x every disallowed (session kind, request kind)
  // pair. The one allowed cross-kind pair — a PureDP request against an
  // ApproxDP session (delta = 0 embedding) — is pinned as a SUCCESS row.
  // ---------------------------------------------------------------------

  private val kindMismatches: Seq[(String, PrivacyBudget, PrivacyBudget)] = Seq(
    ("an ApproxDP request on a PureDP session",
      PureDPBudget(1.0), ApproxDPBudget(0.5, 1e-6)),
    ("a zCDP request on a PureDP session",
      PureDPBudget(1.0), RhoZCDPBudget(0.5)),
    ("a PureDP request on a zCDP session",
      RhoZCDPBudget(1.0), PureDPBudget(0.5)),
    ("an ApproxDP request on a zCDP session",
      RhoZCDPBudget(1.0), ApproxDPBudget(0.5, 1e-6)),
    ("a zCDP request on an ApproxDP session",
      ApproxDPBudget(1.0, 1e-6), RhoZCDPBudget(0.5)))

  for (((kindName, sessionBudget, requestBudget), _) <- kindMismatches.zipWithIndex;
       (aggName, mkQuery) <- aggs)
    test(s"budget-kind table: $aggName rejects $kindName") {
      val e = intercept[IllegalArgumentException] {
        rows(sessionBudget).evaluate(mkQuery(QueryBuilder("t")), requestBudget)
      }
      assert(e.getMessage.contains("budget kind mismatch"))
    }

  for ((aggName, mkQuery) <- aggs)
    test(s"budget-kind table: $aggName accepts a PureDP request on an " +
        "ApproxDP session (delta = 0 embedding)") {
      val s = rows(ApproxDPBudget(Rat.Inf, Rat.one))
      assert(s.evaluate(mkQuery(QueryBuilder("t")), PureDPBudget(1.0))
        .collect().nonEmpty)
    }

  // ---------------------------------------------------------------------
  // Zero, insufficient, and nearly-sufficient budgets
  // (test_evaluate_with_zero_budget; _get_adjusted_budget's 1e-9 tolerance)
  // ---------------------------------------------------------------------

  private val zeroRows: Seq[(String, PrivacyBudget, PrivacyBudget)] = Seq(
    ("PureDP", PureDPBudget(1.0), PureDPBudget(0.0)),
    ("ApproxDP", ApproxDPBudget(1.0, 1e-6), ApproxDPBudget(0.0, 0.0)),
    ("zCDP", RhoZCDPBudget(1.0), RhoZCDPBudget(0.0)))

  for ((kind, sessionBudget, zero) <- zeroRows)
    test(s"budget table: a zero $kind budget cannot evaluate") {
      val e = intercept[IllegalArgumentException] {
        rows(sessionBudget).evaluate(QueryBuilder("t").count(), zero)
      }
      assert(e.getMessage.contains(
        "You need a non-zero privacy budget to evaluate a query."))
    }

  private val overspendRows: Seq[(String, PrivacyBudget, PrivacyBudget)] = Seq(
    ("PureDP", PureDPBudget(1.0), PureDPBudget(2.0)),
    ("ApproxDP", ApproxDPBudget(1.0, 1e-6), ApproxDPBudget(2.0, 1e-6)),
    ("zCDP", RhoZCDPBudget(1.0), RhoZCDPBudget(2.0)))

  for ((kind, sessionBudget, request) <- overspendRows) {
    test(s"budget table: a $kind request past the remaining budget is rejected") {
      val e = intercept[IllegalArgumentException] {
        rows(sessionBudget).evaluate(QueryBuilder("t").count(), request)
      }
      assert(e.getMessage.contains("insufficient privacy budget"))
    }
    test(s"budget table: $kind sequential spends stop exactly at exhaustion") {
      val s = rows(sessionBudget)
      s.evaluate(QueryBuilder("t").count(), sessionBudget * 0.75)
      val e = intercept[IllegalArgumentException] {
        s.evaluate(QueryBuilder("t").count(), sessionBudget * 0.75)
      }
      assert(e.getMessage.contains("insufficient privacy budget"))
      // the remainder is still spendable
      s.evaluate(QueryBuilder("t").count(), sessionBudget * 0.25)
    }
  }

  test("budget table: a request one part in 10^12 over is rounded down, " +
      "one part in 10^2 over is rejected") {
    val s = rows(PureDPBudget(Rat.one))
    s.evaluate(QueryBuilder("t").count(),
      PureDPBudget(Rat(BigInt("1000000000001"), BigInt("1000000000000"))))
    assert(s.remainingPrivacyBudget === PureDPBudget(Rat.zero))
    val s2 = rows(PureDPBudget(Rat.one))
    val e = intercept[IllegalArgumentException] {
      s2.evaluate(QueryBuilder("t").count(), PureDPBudget(Rat(101, 100)))
    }
    assert(e.getMessage.contains("insufficient privacy budget"))
  }

  test("budget table: a delta-only ApproxDP budget cannot drive noise addition") {
    val s = rows(ApproxDPBudget(1.0, 1e-6))
    val e = intercept[IllegalArgumentException] {
      s.evaluate(QueryBuilder("t").count(), ApproxDPBudget(0.0, 1e-6))
    }
    assert(e.getMessage.contains("non-zero epsilon/rho"))
  }

  // ---------------------------------------------------------------------
  // Session lifecycle / accountant-tree state machine (test_stop; the
  // reference's ACTIVE/RETIRED/WAITING states, session.py:637-657)
  // ---------------------------------------------------------------------

  test("lifecycle table: evaluate after stop is rejected") {
    val s = rows(); s.stop()
    intercept[IllegalStateException] { s.evaluate(QueryBuilder("t").count(), InfP) }
  }

  test("lifecycle table: create_view after stop is rejected") {
    val s = rows(); s.stop()
    intercept[IllegalStateException] {
      s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    }
  }

  test("lifecycle table: delete_view after stop is rejected") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    s.stop()
    intercept[IllegalStateException] { s.deleteView("v") }
  }

  test("lifecycle table: partition_and_create after stop is rejected") {
    val s = rows(); s.stop()
    intercept[IllegalStateException] {
      s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    }
  }

  test("lifecycle table: touching the parent retires every child") {
    val s = rows()
    val kids = s.partitionAndCreate("t", InfP, "flag",
      Seq("ta" -> "A", "tb" -> "B"))
    s.evaluate(QueryBuilder("t").count(), InfP)
    for (k <- Seq("ta", "tb")) {
      val e = intercept[IllegalStateException] {
        kids(k).evaluate(QueryBuilder(k).count(), InfP)
      }
      assert(e.getMessage.contains("retired"))
    }
  }

  test("lifecycle table: using a later child retires earlier siblings only") {
    val s = rows()
    val kids = s.partitionAndCreate("t", InfP, "flag",
      Seq("ta" -> "A", "tb" -> "B"))
    kids("tb").evaluate(QueryBuilder("tb").count(), InfP)
    intercept[IllegalStateException] {
      kids("ta").evaluate(QueryBuilder("ta").count(), InfP)
    }
    // the later sibling keeps working
    kids("tb").evaluate(QueryBuilder("tb").count(), InfP)
  }

  test("lifecycle table: a second partition_and_create retires the first batch") {
    val s = rows()
    val first = s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    val second = s.partitionAndCreate("t", InfP, "flag", Seq("tb" -> "B"))
    intercept[IllegalStateException] {
      first("ta").evaluate(QueryBuilder("ta").count(), InfP)
    }
    second("tb").evaluate(QueryBuilder("tb").count(), InfP)
  }

  test("lifecycle table: a retired child cannot create views either") {
    val s = rows()
    val kids = s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    s.evaluate(QueryBuilder("t").count(), InfP)
    intercept[IllegalStateException] {
      kids("ta").createView(QueryBuilder("ta").filter("qty > 0"), "v")
    }
  }

  // ---------------------------------------------------------------------
  // Builder misconfiguration (test_invalid_build, test_duplicate_source_id,
  // test_build_invalid_identifier, test_invalid_to_add_budget_twice)
  // ---------------------------------------------------------------------

  test("builder table: building without a budget fails") {
    intercept[IllegalStateException] {
      new Session.Builder().withPrivateDataFrame("a", df, AddOneRow()).build(spark)
    }
  }

  test("builder table: building without any private table fails") {
    intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(InfP).build(spark)
    }
  }

  private val dupDecls: Seq[(String, Session.Builder => Unit)] = Seq(
    ("two private tables", b => {
      b.withPrivateDataFrame("a", df, AddOneRow())
      b.withPrivateDataFrame("a", df, AddOneRow()) }),
    ("two public tables", b => {
      b.withPublicDataFrame("a", df)
      b.withPublicDataFrame("a", df) }),
    ("a private then a public table", b => {
      b.withPrivateDataFrame("a", df, AddOneRow())
      b.withPublicDataFrame("a", df) }),
    ("a public then a private table", b => {
      b.withPublicDataFrame("a", df)
      b.withPrivateDataFrame("a", df, AddOneRow()) }))

  for ((what, declare) <- dupDecls)
    test(s"builder table: declaring $what under one name fails") {
      val b = new Session.Builder().withPrivacyBudget(InfP)
      val e = intercept[IllegalArgumentException] { declare(b) }
      assert(e.getMessage.contains("already declared"))
    }

  for (bad <- Seq("", "my table", "1digit", "has-dash", "a.b")) {
    test(s"builder table: private table name '$bad' is not an identifier") {
      intercept[IllegalArgumentException] {
        new Session.Builder().withPrivateDataFrame(bad, df, AddOneRow())
      }
    }
    test(s"builder table: public table name '$bad' is not an identifier") {
      intercept[IllegalArgumentException] {
        new Session.Builder().withPublicDataFrame(bad, df)
      }
    }
  }

  test("builder table: AddRowsWithID over a missing id column names it") {
    val e = intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(InfP)
        .withPrivateDataFrame("a", df, AddRowsWithID("ghost"))
        .withIdSpace("default_id_space")
        .build(spark)
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("builder table: a second IDs table needs its id space declared") {
    // with >= 2 private tables the sole-table implicit registration does not
    // apply (reference _base_builder.py:144-156)
    val e = intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(InfP)
        .withPrivateDataFrame("a", df, AddRowsWithID("uid", "space_a"))
        .withPrivateDataFrame("b", df, AddRowsWithID("uid", "space_b"))
        .withIdSpace("space_a")
        .build(spark)
    }
    assert(e.getMessage.contains("space_b"))
  }

  test("builder table: a public table cannot shadow a private table later") {
    val s = rows()
    val e = intercept[IllegalArgumentException] { s.addPublicDataFrame("t", df) }
    assert(e.getMessage.contains("already exists"))
  }

  // ---------------------------------------------------------------------
  // Constraint tables (test_invalid_constraints.py)
  // ---------------------------------------------------------------------

  private val allConstraints: Seq[(String, Constraint)] = Seq(
    ("MaxRowsPerID", MaxRowsPerID(5)),
    ("MaxGroupsPerID", MaxGroupsPerID("flag", 5)),
    ("MaxRowsPerGroupPerID", MaxRowsPerGroupPerID("flag", 5)))

  for ((cname, c) <- allConstraints;
       (bname, budget) <- Seq(
         ("PureDP", InfP), ("zCDP", RhoZCDPBudget(Rat.Inf)))) {
    test(s"constraint table: $cname on a non-IDs table is rejected ($bname)") {
      val e = intercept[IllegalArgumentException] {
        rows(budget).evaluate(QueryBuilder("t").enforce(c).count(), budget)
      }
      assert(e.getMessage.contains("enforce requires an IDs table"))
    }
  }

  private val badGrouping: Seq[(String, Constraint, String)] = Seq(
    ("MaxGroupsPerID on the id column", MaxGroupsPerID("uid", 1),
      "cannot be the ID column"),
    ("MaxRowsPerGroupPerID on the id column", MaxRowsPerGroupPerID("uid", 1),
      "cannot be the ID column"),
    ("MaxGroupsPerID on a missing column", MaxGroupsPerID("none", 1),
      "not in schema"),
    ("MaxRowsPerGroupPerID on a missing column", MaxRowsPerGroupPerID("none", 1),
      "not in schema"))

  for ((cname, c, needle) <- badGrouping)
    test(s"constraint table: $cname is rejected") {
      val e = intercept[IllegalArgumentException] {
        ids().evaluate(QueryBuilder("t").enforce(c).count(), InfP)
      }
      assert(e.getMessage.contains(needle))
    }

  for ((aggName, mkQuery) <- aggs if aggName != "count_distinct")
    test(s"constraint table: $aggName on an IDs table without a " +
        "truncation constraint is rejected") {
      val e = intercept[IllegalArgumentException] {
        ids().evaluate(mkQuery(QueryBuilder("t")), InfP)
      }
      assert(e.getMessage.contains("constraint"))
    }

  test("constraint table: count_distinct over a NON-id column still needs " +
      "a constraint (the id-count optimization does not apply)") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(QueryBuilder("t").countDistinct(Seq("flag")), InfP)
    }
    assert(e.getMessage.contains("constraint"))
  }

  test("constraint table: MaxGroupsPerID alone does not bound a count " +
      "(needs MaxRowsPerGroupPerID too)") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").enforce(MaxGroupsPerID("flag", 2)).count(), InfP)
    }
    assert(e.getMessage.contains("constraint"))
  }

  test("constraint table: MaxRowsPerGroupPerID alone does not bound a count " +
      "(needs MaxGroupsPerID too)") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").enforce(MaxRowsPerGroupPerID("flag", 2)).count(), InfP)
    }
    assert(e.getMessage.contains("constraint"))
  }

  test("constraint table: flat_map_by_id kills established constraints") {
    import graft.types.{ColumnDescriptor, ColumnType}
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").enforce(MaxRowsPerID(2))
          .flatMapByID(rs => rs.map(r => Map("qty" -> r("qty"))),
            Seq("qty" -> ColumnDescriptor(ColumnType.Integer)))
          .count(), InfP)
    }
    assert(e.getMessage.contains("constraint"))
  }

  test("constraint table: a grouped aggregation on IDs without constraints " +
      "is rejected too") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(QueryBuilder("t")
        .groupby(KeySet.fromColumn("flag", Seq("A", "B"))).count(), InfP)
    }
    assert(e.getMessage.contains("constraint"))
  }

  // ---------------------------------------------------------------------
  // get_groups / detect budget requirements
  // (test_get_groups_with_various_protected_change, GetGroups kind checks)
  // ---------------------------------------------------------------------

  test("get_groups table: a PureDP budget is rejected by name") {
    val e = intercept[IllegalArgumentException] {
      rows(PureDPBudget(1.0)).evaluate(QueryBuilder("t").getGroups("flag"),
        PureDPBudget(0.5))
    }
    assert(e.getMessage.contains("requires an ApproxDP budget"))
  }

  test("get_groups table: a zCDP budget is rejected by name") {
    val e = intercept[IllegalArgumentException] {
      rows(RhoZCDPBudget(1.0)).evaluate(QueryBuilder("t").getGroups("flag"),
        RhoZCDPBudget(0.5))
    }
    assert(e.getMessage.contains("requires an ApproxDP budget"))
  }

  test("get_groups table: delta = 0 cannot run partition selection") {
    val e = intercept[IllegalArgumentException] {
      rows(ApproxDPBudget(1.0, 1e-6)).evaluate(
        QueryBuilder("t").getGroups("flag"), ApproxDPBudget(0.5, 0.0))
    }
    assert(e.getMessage.contains("delta > 0"))
  }

  test("get_groups table: epsilon = 0 cannot run partition selection") {
    val e = intercept[IllegalArgumentException] {
      rows(ApproxDPBudget(1.0, 1e-6)).evaluate(
        QueryBuilder("t").getGroups("flag"), ApproxDPBudget(0.0, 1e-7))
    }
    assert(e.getMessage.contains("epsilon > 0"))
  }

  test("detect table: groupby(detect) demands an ApproxDP budget by name") {
    val e = intercept[IllegalArgumentException] {
      rows(PureDPBudget(1.0)).evaluate(
        QueryBuilder("t").groupby(KeySet.detect("flag")).count(),
        PureDPBudget(0.5))
    }
    assert(e.getMessage.contains("requires an ApproxDP budget"))
  }

  test("detect table: two detect leaves in one keyset are rejected") {
    val e = intercept[IllegalArgumentException] {
      rows(ApproxDPBudget(Rat.Inf, Rat.one)).evaluate(
        QueryBuilder("t")
          .groupby(KeySet.detect("flag") * KeySet.detect("qty")).count(),
        ApproxDPBudget(1.0, 1e-6))
    }
    assert(e.getMessage.contains("at most one detect"))
  }

  // ---------------------------------------------------------------------
  // Join error tables
  // ---------------------------------------------------------------------

  for (how <- Seq("outer", "right", "full", "cross"))
    test(s"join table: join_public with how='$how' is rejected eagerly") {
      val e = intercept[IllegalArgumentException] {
        QueryBuilder("t").joinPublic("pub", Seq("flag"), how = how)
      }
      assert(e.getMessage.contains("inner|left"))
    }

  test("join table: join_public against an unknown public table names it") {
    val e = intercept[IllegalArgumentException] {
      rows().evaluate(QueryBuilder("t").joinPublic("ghost", Seq("flag")).count(), InfP)
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("join table: join_private cannot mix IDs and rows tables") {
    val s = new Session.Builder().withPrivacyBudget(InfP)
      .withPrivateDataFrame("with_ids", df, AddRowsWithID("uid"))
      .withPrivateDataFrame("plain", df, AddOneRow())
      .withIdSpace("default_id_space")
      .build(spark)
    val e = intercept[IllegalArgumentException] {
      s.evaluate(
        QueryBuilder("with_ids").enforce(MaxRowsPerID(1))
          .joinPrivate(QueryBuilder("plain"), Seq("uid", "flag"))
          .enforce(MaxRowsPerID(1)).count(), InfP)
    }
    assert(e.getMessage.contains("cannot mix"))
  }

  test("join table: join_private of different id spaces is rejected") {
    val s = new Session.Builder().withPrivacyBudget(InfP)
      .withPrivateDataFrame("a", df, AddRowsWithID("uid", "space_a"))
      .withPrivateDataFrame("b", df, AddRowsWithID("uid", "space_b"))
      .withIdSpace("space_a").withIdSpace("space_b")
      .build(spark)
    val e = intercept[IllegalArgumentException] {
      s.evaluate(
        QueryBuilder("a").joinPrivate(QueryBuilder("b"), Seq("uid", "flag"))
          .enforce(MaxRowsPerID(1)).count(), InfP)
    }
    assert(e.getMessage.contains("id spaces differ"))
  }

  test("join table: an IDs private join must include the id column") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").joinPrivate(QueryBuilder("t"), Seq("flag"))
          .enforce(MaxRowsPerID(1)).count(), InfP)
    }
    assert(e.getMessage.contains("id column"))
  }

  // ---------------------------------------------------------------------
  // Group-by / keyset type tables (test_invalid_grouping_column,
  // _validate_groupby's type matrix)
  // ---------------------------------------------------------------------

  private val keysetTypeRows: Seq[(String, KeySet, String)] = Seq(
    ("long keys against a string column",
      KeySet.fromColumn("flag", Seq(1L, 2L)), "flag"),
    ("string keys against a long column",
      KeySet.fromColumn("qty", Seq("a", "b")), "qty"))

  for ((what, ks, needle) <- keysetTypeRows)
    test(s"groupby table: $what is rejected") {
      val e = intercept[IllegalArgumentException] {
        rows().evaluate(QueryBuilder("t").groupby(ks).count(), InfP)
      }
      assert(e.getMessage.contains(needle))
    }

  test("groupby table: floating-point keyset values are rejected eagerly") {
    val e = intercept[IllegalArgumentException] {
      KeySet.fromColumn("qty", Seq(1.5, 2.5))
    }
    assert(e.getMessage.contains("floating-point"))
  }

  test("groupby table: grouping by an unknown column names it") {
    val e = intercept[IllegalArgumentException] {
      rows().evaluate(QueryBuilder("t")
        .groupby(KeySet.fromColumn("ghost", Seq("A"))).sum("qty", 0, 10), InfP)
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("groupby table: the measure may not be the id column") {
    val e = intercept[IllegalArgumentException] {
      ids().evaluate(
        QueryBuilder("t").enforce(MaxRowsPerID(1)).sum("uid", 0, 10), InfP)
    }
    assert(e.getMessage.contains("id column"))
  }

  // ---------------------------------------------------------------------
  // partition_and_create misuse
  // ---------------------------------------------------------------------

  test("partition table: duplicate split names are rejected") {
    val e = intercept[IllegalArgumentException] {
      rows().partitionAndCreate("t", InfP, "flag",
        Seq("ta" -> "A", "ta" -> "B"))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("partition table: duplicate split values are rejected") {
    val e = intercept[IllegalArgumentException] {
      rows().partitionAndCreate("t", InfP, "flag",
        Seq("ta" -> "A", "tb" -> "A"))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("partition table: the partition budget must match the session kind") {
    val e = intercept[IllegalArgumentException] {
      rows(PureDPBudget(1.0)).partitionAndCreate("t", RhoZCDPBudget(0.5),
        "flag", Seq("ta" -> "A"))
    }
    assert(e.getMessage.contains("budget kind mismatch"))
  }

  test("partition table: an unknown source table is named") {
    val e = intercept[IllegalArgumentException] {
      rows().partitionAndCreate("ghost", InfP, "flag", Seq("ta" -> "A"))
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("partition table: a partition column outside the schema is named") {
    val e = intercept[IllegalArgumentException] {
      rows().partitionAndCreate("t", InfP, "ghost", Seq("ta" -> "A"))
    }
    assert(e.getMessage.contains("ghost"))
  }

  // reference test_invalid_splits_name: split names are identifiers
  for (bad <- Seq("", " ", "space present", "2startsWithNumber", "has-dash"))
    test(s"partition table: split name '$bad' is not an identifier") {
      intercept[IllegalArgumentException] {
        rows().partitionAndCreate("t", InfP, "flag", Seq(bad -> "A"))
      }
    }

  // reference test_splits_value_type: a mistyped split value must error, not
  // silently hand back an empty child holding real budget
  private val badSplitValues: Seq[(String, String, Any)] = Seq(
    ("an integer value against the string column", "flag", 0),
    ("a string value against the long column", "qty", "A"),
    ("a floating value against the long column", "qty", 1.5),
    ("a date value against the string column", "flag",
      java.sql.Date.valueOf("2024-01-01")))

  for ((what, column, value) <- badSplitValues)
    test(s"partition table: $what is rejected, naming the column") {
      val e = intercept[IllegalArgumentException] {
        rows().partitionAndCreate("t", InfP, column, Seq("ta" -> value))
      }
      assert(e.getMessage.contains(column))
    }

  test("partition table: a null split value is legal and matches null-safely") {
    val kids = rows().partitionAndCreate("t", InfP, "flag", Seq("tnull" -> null))
    // <=> semantics: the null child exists and holds zero of these rows
    assert(kids("tnull").evaluate(QueryBuilder("tnull").count(), InfP)
      .collect().head.getLong(0) === 0L)
  }

  test("partition table: an IDs table without a usable constraint names the fix") {
    val e = intercept[IllegalArgumentException] {
      ids().partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    }
    assert(e.getMessage.contains("MaxGroupsPerID or MaxRowsPerID"))
  }

  test("partition table: noiseInfo on a retired child is rejected too") {
    val s = rows()
    val kids = s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    s.evaluate(QueryBuilder("t").count(), InfP) // retires the child
    intercept[IllegalStateException] {
      kids("ta").noiseInfo(QueryBuilder("ta").count(), InfP)
    }
  }

  // ---------------------------------------------------------------------
  // View lifecycle tables (reference session.py create_view/delete_view
  // contracts; test_invalid_queries_create; delete-while-children-open)
  // ---------------------------------------------------------------------

  test("view table: a duplicate view name is rejected") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    val e = intercept[IllegalArgumentException] {
      s.createView(QueryBuilder("t").filter("qty > 1"), "v")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("view table: a view may not shadow a base private table") {
    val e = intercept[IllegalArgumentException] {
      rows().createView(QueryBuilder("t").filter("qty > 0"), "t")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("view table: a view may not shadow a public table") {
    val s = rows()
    s.addPublicDataFrame("pub", df)
    val e = intercept[IllegalArgumentException] {
      s.createView(QueryBuilder("t").filter("qty > 0"), "pub")
    }
    assert(e.getMessage.contains("already exists"))
  }

  for (bad <- Seq("", "my view", "1digit", "has-dash", "a.b"))
    test(s"view table: view name '$bad' is not an identifier") {
      intercept[IllegalArgumentException] {
        rows().createView(QueryBuilder("t").filter("qty > 0"), bad)
      }
    }

  test("view table: a view over an unknown source names it") {
    val e = intercept[Exception] {
      rows().createView(QueryBuilder("ghost").filter("qty > 0"), "v")
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("view table: delete_view refuses a base private table by name") {
    val e = intercept[IllegalArgumentException] { rows().deleteView("t") }
    assert(e.getMessage.contains("not a view"))
  }

  test("view table: delete_view of an unknown name lists the views") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v1")
    val e = intercept[IllegalArgumentException] { s.deleteView("ghost") }
    assert(e.getMessage.contains("not a view"))
    assert(e.getMessage.contains("v1"))
  }

  test("view table: delete_view twice fails the second time") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    s.deleteView("v")
    intercept[IllegalArgumentException] { s.deleteView("v") }
  }

  test("view table: evaluating a deleted view fails, naming it") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    s.deleteView("v")
    val e = intercept[Exception] { s.evaluate(QueryBuilder("v").count(), InfP) }
    assert(e.getMessage.contains("v"))
  }

  test("view table: a deleted view's name is immediately reusable") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    s.deleteView("v")
    s.createView(QueryBuilder("t").filter("qty > 1"), "v")
    assert(s.evaluate(QueryBuilder("v").count(), InfP).collect().nonEmpty)
  }

  test("view table: deleting a view on the parent retires open children " +
      "(delete-while-children-open)") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    val kids = s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    s.deleteView("v") // ANY parent interaction ends the children's turn
    val e = intercept[IllegalStateException] {
      kids("ta").evaluate(QueryBuilder("ta").count(), InfP)
    }
    assert(e.getMessage.contains("retired"))
  }

  test("view table: children partitioned from a view survive its deletion") {
    val s = rows()
    s.createView(QueryBuilder("t").filter("qty > 0"), "v")
    val kids = s.partitionAndCreate("v", InfP, "flag", Seq("ta" -> "A"))
    // the child captured its frame at creation; deleting the parent's view
    // later must not corrupt it — but the delete itself retires the child
    // (previous row), so the pin here is on a FRESH child batch
    val kids2 = s.partitionAndCreate("t", InfP, "flag", Seq("tb" -> "B"))
    assert(kids2("tb").evaluate(QueryBuilder("tb").count(), InfP)
      .collect().nonEmpty)
    intercept[IllegalStateException] {
      kids("ta").evaluate(QueryBuilder("ta").count(), InfP)
    }
  }

  test("view table: noiseInfo after stop is rejected (no free interactions)") {
    val s = rows(); s.stop()
    intercept[IllegalStateException] { s.noiseInfo(QueryBuilder("t").count(), InfP) }
  }

  // ---------------------------------------------------------------------
  // Metadata getter tables (test_invalid_data_properties: unknown names
  // get a not-found listing sources; public names get the targeted
  // "is a public table" message — never a bare KeyError)
  // ---------------------------------------------------------------------

  private val getters: Seq[(String, (Session, String) => Any)] = Seq(
    ("get_schema", (s, n) => s.getSchema(n)),
    ("get_column_types", (s, n) => s.getColumnTypes(n)),
    ("get_grouping_column", (s, n) => s.getGroupingColumn(n)),
    ("get_id_column", (s, n) => s.getIdColumn(n)),
    ("get_id_space", (s, n) => s.getIdSpace(n)),
    ("get_constraints", (s, n) => s.getConstraints(n)))

  for ((gname, get) <- getters) {
    test(s"getter table: $gname on an unknown table lists the private sources") {
      val e = intercept[IllegalArgumentException] { get(rows(), "ghost") }
      assert(e.getMessage.contains("ghost"))
      assert(e.getMessage.contains("t")) // the listing includes real sources
    }
    test(s"getter table: $gname on a public table says so by name") {
      val s = rows()
      s.addPublicDataFrame("pub", df)
      val e = intercept[IllegalArgumentException] { get(s, "pub") }
      assert(e.getMessage.contains("is a public table"))
    }
  }

  test("getter table: get_constraints on an unknown table is an error") {
    val e = intercept[IllegalArgumentException] { rows().getConstraints("ghost") }
    assert(e.getMessage.contains("ghost"))
  }

  // ---------------------------------------------------------------------
  // Builder misconfiguration, remaining half (test_invalid_to_add_budget_
  // twice; test_invalid_column_name; test_session_raises_error_on_
  // unsupported_spark_column_types; protected-change parameter domains)
  // ---------------------------------------------------------------------

  private val budgetPairs: Seq[(String, PrivacyBudget, PrivacyBudget)] = Seq(
    ("PureDP then PureDP", PureDPBudget(1.0), PureDPBudget(2.0)),
    ("PureDP then zCDP", PureDPBudget(1.0), RhoZCDPBudget(1.0)),
    ("ApproxDP then PureDP", ApproxDPBudget(1.0, 1e-6), PureDPBudget(1.0)),
    ("zCDP then the same zCDP", RhoZCDPBudget(1.0), RhoZCDPBudget(1.0)))

  for ((what, first, second) <- budgetPairs)
    test(s"builder table: setting the budget twice ($what) fails") {
      val b = new Session.Builder().withPrivacyBudget(first)
      val e = intercept[IllegalArgumentException] { b.withPrivacyBudget(second) }
      assert(e.getMessage.contains("already has a privacy budget"))
    }

  test("builder table: an empty-string column name is rejected (private)") {
    val bad = df.withColumnRenamed("qty", "")
    val e = intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(InfP)
        .withPrivateDataFrame("a", bad, AddOneRow()).build(spark)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("builder table: an empty-string column name is rejected (public)") {
    val bad = df.withColumnRenamed("qty", "")
    val e = intercept[IllegalArgumentException] { rows().addPublicDataFrame("pub", bad) }
    assert(e.getMessage.contains("empty"))
  }

  test("builder table: an unsupported column type is rejected, naming the column") {
    import org.apache.spark.sql.functions.{array, col}
    val bad = df.select(col("flag"), array(col("qty")).as("arr"))
    val e = intercept[IllegalArgumentException] {
      new Session.Builder().withPrivacyBudget(InfP)
        .withPrivateDataFrame("a", bad, AddOneRow()).build(spark)
    }
    assert(e.getMessage.contains("arr"))
    assert(e.getMessage.contains("unsupported"))
  }

  test("builder table: an unsupported public column type is rejected too") {
    import org.apache.spark.sql.functions.{array, col}
    val bad = df.select(col("flag"), array(col("qty")).as("arr"))
    val e = intercept[IllegalArgumentException] { rows().addPublicDataFrame("pub", bad) }
    assert(e.getMessage.contains("arr"))
  }

  private val badProtectedChanges: Seq[(String, () => Any)] = Seq(
    ("AddMaxRows(0)", () => AddMaxRows(0)),
    ("AddMaxRows(-3)", () => AddMaxRows(-3)),
    ("AddMaxRowsInMaxGroups with zero groups",
      () => AddMaxRowsInMaxGroups("flag", 0, 1)),
    ("AddMaxRowsInMaxGroups with zero rows per group",
      () => AddMaxRowsInMaxGroups("flag", 1, 0)),
    ("AddRowsWithID with zero ids", () => AddRowsWithID("uid", maxIDs = 0)))

  for ((what, mk) <- badProtectedChanges)
    test(s"builder table: $what is outside the parameter domain") {
      intercept[IllegalArgumentException] { mk() }
    }

  test("builder table: public tables are also rejected under duplicate " +
      "names at runtime (addPublicDataFrame after build)") {
    val s = rows()
    s.addPublicDataFrame("pub", df)
    val e = intercept[IllegalArgumentException] { s.addPublicDataFrame("pub", df) }
    assert(e.getMessage.contains("already exists"))
  }

  // ---------------------------------------------------------------------
  // Lifecycle pins: which interactions stay legal after retirement, and
  // which cost nothing (the reference's inspection-vs-interaction split)
  // ---------------------------------------------------------------------

  test("lifecycle pin: stop is idempotent") {
    val s = rows()
    s.stop()
    s.stop() // second stop is a no-op, not an error
    intercept[IllegalStateException] { s.evaluate(QueryBuilder("t").count(), InfP) }
  }

  test("lifecycle pin: budget and source inspections stay readable after stop") {
    val s = rows(PureDPBudget(1.0))
    s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.25))
    s.stop()
    // inspections are free: they reveal nothing beyond past releases
    assert(s.remainingPrivacyBudget === PureDPBudget(0.75))
    assert(s.privateSources === Seq("t"))
    assert(s.getSchema("t").contains("qty"))
  }

  test("lifecycle pin: noiseInfo describes without spending") {
    val s = rows(PureDPBudget(1.0))
    val info = s.noiseInfo(QueryBuilder("t").count(), PureDPBudget(0.5))
    assert(info.nonEmpty)
    assert(s.remainingPrivacyBudget === PureDPBudget(1.0)) // untouched
  }

  test("lifecycle table: a stopped child cannot partition further") {
    val s = rows()
    val kids = s.partitionAndCreate("t", InfP, "flag", Seq("ta" -> "A"))
    kids("ta").stop()
    intercept[IllegalStateException] {
      kids("ta").partitionAndCreate("ta", InfP, "qty", Seq("q1" -> 1L))
    }
  }

  test("lifecycle table: children enforce budget-kind matching like parents") {
    val s = rows(PureDPBudget(Rat.Inf))
    val kids = s.partitionAndCreate("t", PureDPBudget(Rat.Inf), "flag",
      Seq("ta" -> "A"))
    val e = intercept[IllegalArgumentException] {
      kids("ta").evaluate(QueryBuilder("ta").count(), RhoZCDPBudget(0.5))
    }
    assert(e.getMessage.contains("budget kind mismatch"))
  }
}
