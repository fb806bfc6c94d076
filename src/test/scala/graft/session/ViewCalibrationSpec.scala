package graft.session

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.{AddMaxRowsInMaxGroups, AddOneRow, AddRowsWithID}
import graft.budget.{PrivacyBudget, PureDPBudget, Rat, RhoZCDPBudget}
import graft.constraints.{MaxGroupsPerID, MaxRowsPerID}
import graft.exec.NoiseMechanism
import graft.exec.NoiseMechanism._
import graft.ir.{MechanismHint, Query, QueryBuilder}
import graft.keyset.KeySet
import graft.types.{ColumnDescriptor, ColumnType}

/** A view stores its chain's metric as it is, so a query over the view must
  * calibrate exactly like the same chain written inline in the query. Each
  * row builds a session, names the table a view is created over and the
  * chain the view holds, and compares `noiseInfo` over the view with
  * `noiseInfo` over the inline chain, one sink (query shape) at a time. The
  * partition-child rows use the child itself as the chain, so they compare
  * the view with the child.
  */
class ViewCalibrationSpec extends SparkSpec {
  private val eps1 = PureDPBudget(1.0)
  private val rho = RhoZCDPBudget(0.5)
  private val pureInf = PureDPBudget(Rat.Inf)
  private val zInf = RhoZCDPBudget(Rat.Inf)

  private def rowsDf = makeDf(
    StructType(Seq(strCol("grp"), longCol("v"))),
    Seq(Row("a", 1L), Row("b", 2L)))

  // ids/conftest.py id_a1
  private def idsDf = makeDf(
    StructType(Seq(longCol("id"), strCol("group"), longCol("n"))),
    Seq(Row(1L, "A", 4L), Row(1L, "A", 5L), Row(2L, "A", 7L), Row(3L, "B", 9L)))

  private def doubled(src: String) = QueryBuilder(src).flatMap(r => Seq(r, r),
    Seq("x" -> ColumnDescriptor(ColumnType.Integer)), maxRows = 2, augment = true)

  private def idsSession(budget: PrivacyBudget, maxIDs: Int = 1) =
    Session.fromDataFrame(spark, budget, "ids", idsDf, AddRowsWithID("id", maxIDs = maxIDs))

  /** The child `part0` of `ids` partitioned on `group` after `constrain`. */
  private def child(budget: PrivacyBudget, maxIDs: Int, constrain: QueryBuilder): Session = {
    val s = idsSession(budget, maxIDs)
    s.createView(constrain, "constrained")
    s.partitionAndCreate("constrained", budget, "group", Seq("part0" -> "A"))("part0")
  }

  private val grpKeys = KeySet.fromColumn("grp", Seq("a", "b"))
  private val countOne: QueryBuilder => Query = _.enforce(MaxRowsPerID(1)).count()

  /** A query shape over a table, with the head mechanism it must get. */
  private type Sink = (QueryBuilder => Query, NoiseMechanism)

  /** (row, session, chain the view holds, budget, sinks). */
  private val rows: Seq[(String, () => Session, QueryBuilder, PrivacyBudget, Seq[Sink])] = Seq(
    ("flatMap x2 over AddOneRow",
      () => Session.fromDataFrame(spark, pureInf, "t", rowsDf, AddOneRow()),
      doubled("t"), eps1,
      Seq[Sink](
        (_.count(), Geometric(Rat(2))),
        (_.groupby(grpKeys).count(), Geometric(Rat(2))))),
    ("credited flatMap under zCDP",
      () => Session.fromDataFrame(spark, zInf, "t", rowsDf,
        AddMaxRowsInMaxGroups("grp", maxGroups = 2, maxRowsPerGroup = 1)),
      doubled("t"), rho,
      Seq[Sink](
        // grouped by the credit column: Delta_2^2 = (1*2)^2 * 2 = 8
        (_.groupby(grpKeys).count(), DiscreteGaussian(Rat(8))),
        // ungrouped: the L1 distance 4 -> sigma^2 = 16
        (_.count(), DiscreteGaussian(Rat(16))))),
    ("IDs with MaxRowsPerID",
      () => idsSession(pureInf, maxIDs = 3),
      QueryBuilder("ids").enforce(MaxRowsPerID(2)), eps1,
      Seq[Sink](
        (_.count(), Geometric(Rat(6))))),
    ("MaxGroupsPerID child, PureDP",
      () => child(pureInf, 1, QueryBuilder("ids").enforce(MaxGroupsPerID("group", 2))),
      QueryBuilder("part0"), eps1,
      Seq[Sink]((countOne, Geometric(Rat(2))))),
    ("MaxGroupsPerID child, zCDP",
      () => child(zInf, 1, QueryBuilder("ids").enforce(MaxGroupsPerID("group", 2))),
      QueryBuilder("part0"), rho,
      Seq[Sink](
        // the exact square g * maxIDs^2 = 2 -> sigma^2 = 2
        (countOne, DiscreteGaussian(Rat(2))),
        // an L1 mechanism reads the rounded-up sqrt(2): eps = 1
        (_.enforce(MaxRowsPerID(1)).count(mechanism = MechanismHint.Laplace),
          Geometric(Rat.sqrtUpper(Rat(2)))))),
    ("MaxRowsPerID child",
      () => child(pureInf, 3, QueryBuilder("ids").enforce(MaxRowsPerID(2))),
      QueryBuilder("part0"), eps1,
      Seq[Sink]((_.count(), Geometric(Rat(6))))))

  for ((row, session, chain, budget, sinks) <- rows)
    test(s"view calibrates like its chain: $row") {
      val s = session()
      s.createView(chain, "view")
      for (((sink, expected), i) <- sinks.zipWithIndex) {
        val overView = s.noiseInfo(sink(QueryBuilder("view")), budget)
        val inline = s.noiseInfo(sink(chain), budget)
        assert(overView === inline, s"sink $i")
        assert(overView.head.mechanism === expected, s"sink $i")
      }
    }
}
