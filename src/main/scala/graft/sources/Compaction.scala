package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Inputs

/** Compaction planning for small-file sprawl — the layout-maintenance
  * chore every long-lived 100 TB table accumulates (streaming sinks and
  * fine-grained partitions leave thousands of files far below the
  * row-group sweet spot; reading them costs a task per file).
  *
  * The planner assigns each file to a compaction group by SERPENTINE
  * STRIPING over the size-sorted listing: files order by (bytes desc,
  * path), the group count is ceil(total / targetBytes), and rank r maps
  * boustrophedon-style (down, back up, repeat) so each group receives one
  * file per pass from alternating ends of the size distribution — the
  * classic balanced-striping approximation to LPT scheduling, fully
  * order-free and expressible in plain SQL (the oracle reproduces every
  * assignment exactly), unlike first-fit-decreasing whose sequential
  * state cannot be checked by an independent engine.
  *
  * Plan shape: the global rank over the LISTING (files, not data) is
  * two-phase — range-partition on the sort key, materialize once
  * (localCheckpoint, so the sampled range boundaries cannot drift between
  * the count job and the rank job), rank locally per partition, and add
  * the broadcast per-partition offsets. No single-task sort: each range
  * partition ranks independently, so the planner holds up at any listing
  * size (a 100 TB table is a few million listing rows; a billion-file
  * lake still fans out). The only driver-resident state is one count per
  * range partition. No data movement happens here. The executor that
  * performs the rewrite consumes (group, path) and streams each group's
  * files through a single writer task.
  */
object Compaction {

  def planCompaction(
      files: DataFrame, pathCol: String, bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0L, s"targetBytes must be positive, got $targetBytes")
    Inputs.present(files, "listing", pathCol, bytesCol)
    val cleaned = files
      .where(col(pathCol).isNotNull && col(bytesCol).isNotNull &&
        col(bytesCol).cast("long") >= 0L)
      .select(col(pathCol).as("path"), col(bytesCol).cast("long").as("bytes"))
    // ceil(total/target) groups, at least 1 when any file exists; the
    // one-row total broadcasts
    val totals = cleaned.agg(
      greatest(ceil(sum(col("bytes")).cast("double") / targetBytes), lit(1L))
        .cast("long").as("__ng"))
    // Two-phase global rank over (bytes desc, path) — path makes the
    // order total, so ranks are unambiguous; see graft.exec.Ranks for the
    // no-single-task-sort shape.
    val ranked = graft.exec.Ranks
      .globalRowNumber(cleaned, Seq(col("bytes").desc, col("path")), "__r")
      .crossJoin(broadcast(totals))
    // serpentine: pass p = r div ng; offset o = r % ng; even passes walk
    // groups forward, odd passes backward. `div` is true integral
    // division — no IEEE-rounding dependence to match the oracle's `//`.
    ranked.select(col("path"), col("bytes"),
      when(expr("__r div __ng") % 2 === 0, col("__r") % col("__ng"))
        .otherwise(col("__ng") - lit(1) - col("__r") % col("__ng"))
        .cast("long").as("group"))
  }

  /** The per-group totals a compaction run is sized by: file count and
    * byte sum per planned group.
    */
  def compactionSummary(plan: DataFrame): DataFrame = {
    Inputs.present(plan, "plan", "group", "bytes")
    plan.groupBy("group")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"))
  }
}
