package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Private continual counting by the binary-tree mechanism (Chan/Shi/Song
  * 2011, "Private and Continual Release of Statistics"; Dwork et al. 2010):
  * release the running total of a time-indexed count series so that EVERY
  * prefix is private, with per-release error O(log^1.5 T / eps) instead of
  * the O(T / eps) a naive per-release re-noising of sums would pay, or the
  * linear-in-releases budget a per-window composition ledger charges.
  *
  * Mechanics: time index t joins a complete binary tree; every dyadic node
  * [j*2^l, (j+1)*2^l) holds its interval's count plus ONE geometric noise
  * draw of scale sensitivity*height/eps (each input row touches `height`
  * nodes, so the tree composes to eps total). A prefix [0, t] decomposes
  * into at most `height` disjoint dyadic nodes — the release sums only
  * those, so each carries at most `height` noise terms.
  *
  * Everything is relational and scale-safe: rows explode to their
  * ancestor nodes (a `height`-way map-side explode), node sums aggregate
  * keyed on (level, node) with map-side combine, each prefix explodes to
  * its <= height decomposition nodes and joins the node table keyed the
  * same way. No window over the full series, no driver state; the series
  * length bounds `height` at ~40 for any conceivable T.
  *
  * At eps = infinity the noise is zero and the release equals the exact
  * prefix sums (the CORRECTNESS oracle anchor); the finite-eps contract —
  * each release touches at most `height` draws — is TreeAggregationSpec's.
  */
object TreeAggregation {

  /** Noisy prefix sums of `countCol` ordered by the dense time index
    * `tCol` (0-based long; gaps are fine — missing indexes contribute 0,
    * and rows sharing an index sum into it). Output: one row per DISTINCT
    * input index with (tCol, prefix_sum). `maxT` is the series-length
    * bound that sizes the tree; `epsilon` the total budget for the WHOLE
    * series, `sensitivity` the per-index bound.
    */
  def noisyPrefixSums(
      df: DataFrame, tCol: String, countCol: String,
      maxT: Long, epsilon: Double, sensitivity: Double = 1.0): DataFrame = {
    require(maxT >= 1, "maxT must be positive")
    val height = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxT - 1)) + 1
    val mech = NoiseMechanism.pure(epsilon, sensitivity, height, integer = true)
    // the tree is sized by maxT: an index past it would decompose into
    // nodes that were never built (and never noised) — fail, don't drop
    val bounds = df.agg(min(col(tCol).cast("long")), max(col(tCol).cast("long"))).head()
    if (!bounds.isNullAt(1)) require(bounds.getLong(0) >= 0 && bounds.getLong(1) < maxT,
      s"time indexes must sit in [0, $maxT): found [${bounds.getLong(0)}, " +
        s"${bounds.getLong(1)}]")

    // every index contributes its count to `height` ancestor nodes:
    // node at level l covering t is j = t >> l
    val levels = sequence(lit(0), lit(height - 1))
    val contributions = df.select(
      col(tCol).cast("long").as("__t"), col(countCol).cast("long").as("__c"))
      .select(explode(levels).as("__l"), col("__t"), col("__c"))
      .select(col("__l"), expr("shiftright(__t, __l)").as("__j"),
        col("__c"))
    val sums = contributions.groupBy("__l", "__j")
      .agg(sum(col("__c")).as("__raw"))
    // EVERY node of the complete tree draws noise — an un-noised empty
    // node would reveal absence. Level l holds exactly
    // ceil(maxT / 2^l) nodes, so the ~2*maxT node set is generated
    // DIRECTLY as a union of per-level ranges — the explode+distinct
    // formulation this replaces shuffled maxT*height rows to produce it.
    val allNodes = (0 until height).map { l =>
      val w = 1L << l
      df.sparkSession.range((maxT + w - 1) / w)
        .select(lit(l).as("__l"), col("id").as("__j"))
    }.reduce(_ unionByName _)
    val nodes = allNodes.join(sums, Seq("__l", "__j"), "left")
      .withColumn("__s", Noise.addLongNoise(
        coalesce(col("__raw"), lit(0L)), mech))
      .select(col("__l"), col("__j"), col("__s"))

    // dyadic cover of [0, t]: with n = t+1, every SET bit l of n
    // contributes exactly the node (level l, index (n >> l) - 1) — the
    // bits above l fix the node's start, the node's width is 2^l.
    // DISTINCT first: duplicate input indexes aggregate correctly on the
    // contribution side, but would double-count every cover node here
    val decomposition = df.select(col(tCol).cast("long").as("__t")).distinct()
      .select(col("__t"), explode(levels).as("__l"))
      .withColumn("__n", col("__t") + 1)
      .filter(expr("shiftright(__n, __l)").bitwiseAND(lit(1L)) === 1L)
      .select(col("__t"), col("__l"),
        (expr("shiftright(__n, __l)") - 1).as("__j"))

    decomposition.join(nodes, Seq("__l", "__j"), "left")
      .groupBy(col("__t"))
      .agg(sum(coalesce(col("__s"), lit(0L))).as("prefix_sum"))
      .select(col("__t").as(tCol), col("prefix_sum"))
  }
}
