package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.pipeline.Inputs

/** Sparse Vector Technique — AboveThreshold / Sparse (Dwork & Roth 2014,
  * "The Algorithmic Foundations of Differential Privacy", Algorithms 1-2;
  * Lyu-Su-Li 2017, arXiv:1603.01699 for the budget split): scan an ORDERED
  * sequence of sensitivity-bounded queries and release, for a TOTAL spend
  * of `epsilon`, the identities of the first `maxPositives` queries whose
  * value clears a threshold. The defining property — and the reason SVT
  * exists as a primitive rather than "noise every count and compare" — is
  * that the budget pays only for the positives released, NOT for the
  * (possibly enormous) number of negatives scanned.
  *
  * Engine shape: the caller hands the per-query values as a DataFrame —
  * at 100 TB that is one grouped aggregate, the same single scan a plain
  * group-by count costs, with only (id, value) pairs crossing the shuffle.
  * The SVT scan itself runs over that per-query vector, whose size is the
  * caller's query list — a privacy parameter fixed before looking at the
  * data, never data-dependent — so materializing it driver-side is a
  * disclosed bounded collect of `maxQueries` tiny rows, enforced up front.
  *
  * Noise (Sparse with refresh, c = maxPositives, eps split half/half):
  * threshold draw rho ~ Lap(2c*sens/eps_1) refreshed after every positive,
  * answer draws nu_i ~ Lap(4c*sens/eps_2) — each AboveThreshold pass is
  * (eps/c)-DP and the c passes compose to eps. At eps = infinity every
  * draw is exactly zero and the release is the deterministic "first c ids
  * with value > threshold in id order" — the CORRECTNESS oracle anchor;
  * the finite-eps regime is SparseVectorSpec's contract.
  *
  * Beyond-reference: the reference has no SVT (its measurements all noise
  * and release every group); threshold-triggered release is what a
  * monitoring pipeline over unbounded query streams needs.
  */
object SparseVector {

  /** The threshold and answer Laplace scales. Sparse = c sequential
    * AboveThreshold passes at eps/c each; within a pass,
    * eps_1 = eps_2 = eps/(2c): rho ~ Lap(2c*sens/eps), nu ~ Lap(4c*sens/eps).
    */
  private[exec] def scales(epsilon: Double, sensitivity: Double, c: Int): (Double, Double) = {
    def scale(k: Int) = NoiseMechanism.pure(epsilon, sensitivity, k.toLong * c, integer = false)
    (scale(2).scale, scale(4).scale)
  }

  /** Scan `values` in ascending `idCol` order and release the ids of the
    * first `maxPositives` queries whose `valueCol` exceeds `threshold`,
    * with total privacy cost `epsilon` (each query `sensitivity`-bounded
    * under the caller's adjacency). Output: (idCol, rank) with rank the
    * 1-based release order — SVT releases identities only; values would
    * cost extra budget (NumericSparse).
    */
  def aboveThreshold(
      values: DataFrame, idCol: String, valueCol: String,
      threshold: Double, maxPositives: Int, epsilon: Double,
      sensitivity: Double = 1.0, maxQueries: Int = 65536): DataFrame = {
    require(maxPositives >= 1, s"maxPositives must be >= 1, got $maxPositives")
    val (rhoScale, nuScale) = scales(epsilon, sensitivity, maxPositives)
    Inputs.present(values, "values", idCol, valueCol)

    // the query list is a privacy parameter the caller fixed up front —
    // the collect is bounded by construction (limit maxQueries+1, so an
    // oversized list costs one extra row, not a driver OOM) and the bound
    // failure is loud, mirroring bruteForcePairs' guard
    val ordered = values.select(idCol, valueCol)
      .orderBy(idCol).limit(maxQueries + 1).collect()
    require(ordered.length <= maxQueries,
      s"more than $maxQueries queries; SVT scans a caller-fixed query " +
        "list — aggregate or split the query set, or raise maxQueries " +
        "explicitly if the list really is that large")
    val c = maxPositives

    val rng = Noise.rng()
    var rho = Noise.sampleLaplace(rhoScale, rng)
    val released = Seq.newBuilder[(Any, Long)]
    var nReleased = 0
    var i = 0
    while (i < ordered.length && nReleased < c) {
      val row = ordered(i)
      val v = row.get(1) match {
        case null => throw new IllegalArgumentException(
          s"null value in column '$valueCol' for query id '${row.get(0)}'; " +
            "SVT needs a concrete value per query — coalesce nulls (e.g. " +
            "to 0 for an absent count) before calling aboveThreshold")
        case d: java.lang.Double => d.doubleValue()
        case l: java.lang.Long => l.doubleValue()
        case x: java.lang.Number => x.doubleValue()
        case other => throw new IllegalArgumentException(
          s"value column '$valueCol' must be numeric, got $other")
      }
      if (v + Noise.sampleLaplace(nuScale, rng) > threshold + rho) {
        nReleased += 1
        released += ((row.get(0), nReleased.toLong))
        rho = Noise.sampleLaplace(rhoScale, rng) // refresh after each positive
      }
      i += 1
    }

    val spark = values.sparkSession
    val idField = values.schema(idCol)
    val outSchema = StructType(Seq(
      StructField(idCol, idField.dataType, idField.nullable),
      StructField("rank", LongType, nullable = false)))
    val rows = released.result().map { case (id, r) => Row(id, r) }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), outSchema)
  }
}
