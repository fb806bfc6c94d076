package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Uniform reserved-column guard for operators that decorate a USER frame
  * with internal working columns (`__x`) or declared output columns and
  * later drop or return them: `withColumn` silently REPLACES an existing
  * column, so an unguarded collision either destroys the user's column
  * (decorate-then-drop) or returns working values under the user's name
  * (decorate-then-keep) — both silent wrong results. Operators whose
  * internals live only on self-contained projections (`df.select(... .as
  * ("__x"))` pipelines that never rejoin the user frame) need no guard;
  * everything that decorates in place calls this first. The audit table
  * lives in ReservedColumnsSpec, one row per operator.
  */
private[graft] object Reserved {
  def free(df: DataFrame, op: String, names: String*): Unit =
    free(df.columns.toSeq, op, names: _*)

  /** The same guard over the columns an operator actually reads, not a
    * whole frame: the DP planner's group-by keys and measure, pinned by
    * WorkingColumnsSpec.
    */
  def free(columns: Seq[String], op: String, names: String*): Unit =
    names.foreach(n =>
      require(!columns.contains(n),
        s"$op: input uses reserved column name '$n'; rename it first"))
}
