package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Inputs

/** Scalable global ordering primitives. A bare
  * `row_number().over(Window.orderBy(...))` funnels the whole dataset
  * through ONE task — the classic scaling cliff of global ranks, NTILE
  * buckets, and "top fraction" cuts. The two-phase shape here is the
  * standard fix: range-partition on the sort key, rank locally per
  * partition, and add each partition's broadcast cumulative offset; the
  * result is the identical rank with no single-task stage and no
  * data-sized driver state (one count per range partition crosses the
  * driver).
  *
  * Determinism: the caller's sort columns must form a TOTAL order
  * (include a unique tiebreaker) — enforced nowhere (Spark cannot check
  * it statically) but required for rank stability, exactly as with the
  * single-window form. Range boundaries come from sampling, so the
  * partitioned input is pinned once, and the offsets are the per-partition
  * row counts of that same pin job; ranks themselves are
  * boundary-independent.
  */
object Ranks {

  /** Global 0-based row number under `order`, as an extra column. */
  def globalRowNumber(
      df: DataFrame, order: Seq[Column], out: String = "row_number"): DataFrame =
    rowNumbered(df, order, out)._1

  /** [[globalRowNumber]] and the total row count, both from one pin. */
  private def rowNumbered(
      df: DataFrame, order: Seq[Column], out: String): (DataFrame, Long) = {
    require(order.nonEmpty, "globalRowNumber needs at least one sort column")
    Inputs.free(df, "globalRowNumber", "__rk_pid", "__rk_off")
    val spark = df.sparkSession
    // partition i of the pin holds exactly the rows with __rk_pid = i
    val parted = Materialize(df.repartitionByRange(order: _*)
      .withColumn("__rk_pid", spark_partition_id()), "Ranks.globalRowNumber")
    val offsets = parted.partitionRows.scanLeft(0L)(_ + _).init
    val offsetsDf = spark.createDataFrame(offsets.zipWithIndex.map(_.swap))
      .toDF("__rk_pid", "__rk_off")
    val localW = Window.partitionBy("__rk_pid").orderBy(order: _*)
    (parted.df.join(broadcast(offsetsDf), Seq("__rk_pid"))
      .withColumn(out,
        row_number().over(localW).cast("long") - 1L + col("__rk_off"))
      .drop("__rk_pid", "__rk_off"), parted.rows)
  }

  /** Global NTILE(n) under `order` (1-based buckets, SQL semantics: sizes
    * differ by at most one, larger buckets first), computed from the
    * two-phase global row number — same O(rows/partition) bound, same
    * buckets as `ntile(n).over(Window.orderBy(...))` without the
    * single-task window.
    */
  def globalNtile(
      df: DataFrame, order: Seq[Column], n: Int,
      out: String = "ntile"): DataFrame = {
    require(n >= 1, s"ntile needs n >= 1, got $n")
    Inputs.free(df, "globalNtile", "__rk_rn")
    val (ranked, total) = rowNumbered(df, order, "__rk_rn")
    val q = total / n
    val r = total % n
    // first r buckets take q+1 rows; SQL NTILE's exact piecewise map,
    // evaluated in integer arithmetic
    val rn = col("__rk_rn")
    val bucket =
      if (q == 0L) rn + 1L // fewer rows than buckets: row i -> bucket i+1
      else when(rn < lit(r * (q + 1L)), expr(s"__rk_rn div ${q + 1L}L") + 1L)
        .otherwise(lit(r) + expr(s"(__rk_rn - ${r * (q + 1L)}L) div ${q}L") + 1L)
    ranked.withColumn(out, bucket.cast("long")).drop("__rk_rn")
  }
}
