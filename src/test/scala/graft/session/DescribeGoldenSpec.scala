package graft.session

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting._
import graft.budget._
import graft.constraints._
import graft.ir._

/** Golden full-text pins for `describe()` — the user-facing bookkeeping
  * surface (remaining budget, protected changes, effective distances,
  * constraints, schema markers). Content-level assertions live in
  * SessionSpec; this spec locks the exact rendering so an accidental
  * format change (which breaks users' scripts and docs) fails a test
  * rather than shipping silently. AddOneRow renders as AddMaxRows(1) —
  * it IS that protected change (the reference treats it as the max=1
  * special case too).
  */
class DescribeGoldenSpec extends SparkSpec {

  private def df = makeDf(
    StructType(Seq(strCol("flag"), longCol("qty"), longCol("uid"))),
    Seq(Row("A", 1L, 1L), Row("B", 2L, 2L), Row("B", 3L, 3L)))

  test("golden: a plain rows session") {
    val s = Session.fromDataFrame(spark, PureDPBudget(2.0), "t", df, AddOneRow())
    assert(s.describe() ===
      """Remaining privacy budget: PureDPBudget(epsilon=2)
        |Private tables:
        |  t (protected: AddMaxRows(1))
        |    flag: VARCHAR [nullable]
        |    qty: INTEGER [nullable]
        |    uid: INTEGER [nullable]
        |""".stripMargin)
  }

  test("golden: an IDs session with a constrained view and a public table") {
    val s = new Session.Builder().withPrivacyBudget(RhoZCDPBudget(1.0))
      .withIdSpace("u")
      .withPrivateDataFrame("ids", df, AddRowsWithID("uid", "u"))
      .withPublicDataFrame("pub", df.select("flag"))
      .build(spark)
    s.createView(QueryBuilder("ids").enforce(MaxRowsPerID(2)), "trunc")
    assert(s.describe() ===
      """Remaining privacy budget: RhoZCDPBudget(rho=1)
        |Private tables:
        |  ids (protected: AddRowsWithID(uid,u,1))
        |    flag: VARCHAR [nullable]
        |    qty: INTEGER [nullable]
        |    uid: INTEGER [id, nullable]
        |    (id space: u)
        |  trunc (protected: AddRowsWithID(uid,u,1); constraints: MaxRowsPerID(2))
        |    flag: VARCHAR [nullable]
        |    qty: INTEGER [nullable]
        |    uid: INTEGER [id, nullable]
        |    (id space: u)
        |Public tables:
        |  pub: flag
        |""".stripMargin)
  }

  test("golden: describe(query) factors a structured keyset — cross " +
      "factors and subtracted values print; flat keysets stay untouched") {
    import graft.keyset.KeySet
    val s = Session.fromDataFrame(spark, PureDPBudget(2.0), "t", df, AddOneRow())
    val flags = KeySet.fromColumn("flag", Seq("A", "B"))
    val qtys = KeySet.fromColumn("qty", Seq(1L, 2L, 3L))
    val holes = KeySet.fromTuples(
      Seq(Seq[Any]("A", 1L)),
      StructType(Seq(strCol("flag"), longCol("qty"))))
    val q = QueryBuilder("t")
      .groupby((flags * qtys).subtract(holes)).count()
    assert(s.describe(q) ===
      """Column Name              Column Type  Nullable
        |flag                     VARCHAR      true
        |qty                      INTEGER      true
        |count                    INTEGER      false
        |
        |Group keys (factored): KeySet(flag) x KeySet(qty); subtracted: KeySet(flag, qty)""".stripMargin)
    // a single-factor keyset keeps the long-pinned flat rendering
    assert(s.describe(QueryBuilder("t").groupby(flags).count()) ===
      """Column Name              Column Type  Nullable
        |flag                     VARCHAR      true
        |count                    INTEGER      false""".stripMargin)
  }

  test("golden: a partitioned child shows its effective IDs distance") {
    val s = Session.fromDataFrame(spark, PureDPBudget(2.0), "ids", df,
      AddRowsWithID("uid"))
    s.createView(
      QueryBuilder("ids").enforce(MaxGroupsPerID("flag", 2)), "grouped")
    val kids = s.partitionAndCreate("grouped", PureDPBudget(1.0), "flag",
      Seq("part_a" -> "A"))
    assert(kids("part_a").describe() ===
      """Remaining privacy budget: PureDPBudget(epsilon=1)
        |Private tables:
        |  part_a (protected: AddRowsWithID(uid,default_id_space,1); effective id distance: 2)
        |    flag: VARCHAR [nullable]
        |    qty: INTEGER [nullable]
        |    uid: INTEGER [id, nullable]
        |    (id space: default_id_space)
        |""".stripMargin)
  }

  test("golden: a zCDP partitioned child also shows its exact squared distance") {
    // under zCDP the child's distance is sqrt(g), rounded up to a rational;
    // the Gaussian calibrations read its exact square g
    val s = Session.fromDataFrame(spark, RhoZCDPBudget(2.0), "ids", df,
      AddRowsWithID("uid"))
    s.createView(
      QueryBuilder("ids").enforce(MaxGroupsPerID("flag", 2)), "grouped")
    val kids = s.partitionAndCreate("grouped", RhoZCDPBudget(1.0), "flag",
      Seq("part_a" -> "A"))
    assert(kids("part_a").describe() ===
      """Remaining privacy budget: RhoZCDPBudget(rho=1)
        |Private tables:
        |  part_a (protected: AddRowsWithID(uid,default_id_space,1); effective id distance: 388736063997/274877906944 (squared: 2))
        |    flag: VARCHAR [nullable]
        |    qty: INTEGER [nullable]
        |    uid: INTEGER [id, nullable]
        |    (id space: default_id_space)
        |""".stripMargin)
  }
}
