package graft.compile

import org.apache.spark.sql.DataFrame

import graft.accounting._
import graft.budget._
import graft.constraints.Constraint
import graft.ir.CatalogSchemas
import graft.types.TableSchema

/** How far apart neighboring inputs of a table can be, in the table's own
  * metric (reference: core metrics produced by
  * _neighboring_relation_visitor.py:90-177).
  */
sealed trait Metric extends Serializable {
  def distance: Rat
}
/** Symmetric difference on rows: neighboring tables differ by `distance`
  * rows (the L1 bound). `l2Credit`, when present, is the SQUARE of a
  * tighter bound on the L2 norm of the change vector ACROSS GROUPS OF THE
  * NAMED COLUMN (AddMaxRowsInMaxGroups: (perGroup * sqrt(groups))^2 =
  * perGroup^2 * groups — the square is an exact rational even though the
  * bound itself is irrational, and a Gaussian calibration only ever
  * consumes the square). Valid ONLY when the mechanism is calibrated to L2
  * sensitivity (Gaussian family under zCDP) AND the aggregation groups by
  * that column, so the per-group structure of the change aligns with the
  * released vector. An ungrouped count, or a group-by on any other column,
  * can concentrate all `distance` changed rows into one released value;
  * every such consumer must use `distance`.
  */
final case class RowsMetric(
    distance: Rat, l2Credit: Option[(String, Rat)] = None) extends Metric
/** AddRemoveKeys: neighboring tables differ by all rows of `distance` IDs.
  * `sqDistance`, when present, is the EXACT square of the true distance —
  * needed when the distance itself is irrational (a zCDP partition on a
  * MaxGroupsPerID column scales it by sqrt(g)): `distance` is then a safe
  * rational OVER-estimate for L1 consumers (Laplace / exponential), while
  * Gaussian-family calibrations consume the exact square.
  */
final case class IDsMetric(
    idColumn: String, idSpace: String, distance: Rat,
    sqDistance: Option[Rat] = None) extends Metric {
  /** Exact squared distance for Gaussian-family calibration. */
  def sq: Rat = sqDistance.getOrElse(distance * distance)
}

object Metric {
  /** ProtectedChange -> metric + d_in (reference
    * _neighboring_relation_visitor.py:118-140). AddMaxRowsInMaxGroups
    * carries BOTH the L1 distance groups*perGroup and the SQUARED L2
    * credit perGroup^2*groups (exact; the irrational bound itself never
    * materializes); the sensitivity calculation picks the L2 bound only
    * when the selected mechanism is Gaussian-family — a zCDP *budget*
    * alone is not enough, since a Laplace hint under zCDP lowers to a
    * pure-DP mechanism that needs the L1 bound. Lowered once per base
    * table, when the session is built.
    */
  def fromProtectedChange(pc: ProtectedChange): Metric =
    pc match {
      case AddMaxRows(n) => RowsMetric(Rat(n))
      case AddMaxRowsInMaxGroups(gcol, groups, perGroup) =>
        RowsMetric(Rat(groups.toLong * perGroup),
          Some(gcol -> Rat(perGroup.toLong * perGroup * groups)))
      case AddRowsWithID(idCol, idSpace, maxIDs) =>
        IDsMetric(idCol, idSpace, Rat(maxIDs))
    }
}

/** A private table as the compiler sees it: data + schema + the metric
  * neighboring inputs differ in + constraints established so far
  * (reference: Catalog + accountant state, _catalog.py:17-129).
  *
  * `metric` is the one distance the compiler reads. A base table's comes
  * from its declared protected change when the session is built; a view
  * stores its chain's output metric; a partition child stores its parent's,
  * scaled (reference: core AddRemoveKeys output metrics of the partition
  * transformation; test/system/session/ids/test_partition.py asserts
  * table_stability 2 and sqrt(2) for g = 2). `protectedChange` is only the
  * declaration `describe()` prints next to it.
  */
final case class PrivateTable(
    df: DataFrame,
    schema: TableSchema,
    protectedChange: ProtectedChange,
    metric: Metric,
    constraints: Seq[Constraint] = Nil)

final case class Catalog(
    privateTables: Map[String, PrivateTable],
    publicTables: Map[String, DataFrame]) {

  lazy val schemas: CatalogSchemas = CatalogSchemas(
    privateTables.map { case (n, t) => n -> t.schema },
    publicTables.map { case (n, df) => n -> TableSchema.fromSpark(df.schema) })
}
