package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Materialize
import graft.exec.Materialize.Pin

/** Corpus clustering for training-data curation: topic balance, diversity
  * sampling, per-cluster quality review all start from "give every
  * document a cluster id". Beyond-reference (the reference engine has no
  * clustering); Spark-first — each Lloyd iteration is one codegen'd
  * assignment projection plus one exploded keyed aggregate, with the
  * centroid table (k·dim longs, metadata-sized) the only driver-resident
  * state, the pageRank base-vector discipline.
  */
object Clustering {

  /** Lloyd's k-means in INTEGER MICRO-UNITS: vectors quantize to
    * round(x·`scale`) longs, distances are exact long arithmetic, and
    * centroid updates are truncating integer division (sum div count) —
    * every assignment and centroid is bit-identical under any
    * partitioning, executor count, or run (the pageRank/BM25
    * integer-portability discipline applied to clustering, and what makes
    * the released table oracle-checkable at all: float k-means differs in
    * the last ulp across reduction orders, flipping boundary
    * assignments).
    *
    * Deterministic seeding: the k vectors with the SMALLEST `idCol`
    * values are the initial centroids (ties impossible — ids must be
    * distinct for a release keyed on them to mean anything). Each of the
    * `iters` rounds assigns every vector to its nearest centroid
    * (squared euclidean; ties to the smallest cluster id) and recomputes
    * centroids as the per-dimension integer mean of their members; a
    * cluster losing every member keeps its previous centroid. The
    * release is the LAST round's assignment — (id, cluster,
    * dist_sq: squared micro-distance to the centroid that assignment
    * used): `iters = 1` releases the seed-centroid assignment.
    *
    * Plan shape per round: assignment is a pure projection (the k
    * centroids fold into the codegen'd argmin expression as literals —
    * no join, nothing shuffled); the update is ONE exchange keyed on
    * (cluster, dimension) carrying (sum, count) partials of the exploded
    * vectors, reduced map-side. Driver state is k·dim longs per round
    * (guarded), never row data. Overflow contract: per-dimension member
    * sums and squared distances must fit a long — scale·max|x| up to
    * ~3·10^9 per coordinate is safe for 2^31 members and 4096 dims;
    * the default micro scale leaves 6 orders of headroom for unit-norm
    * embeddings.
    *
    * NULL ids, NULL vectors, and vectors containing NULL elements are
    * refused loudly (a silently dropped vector would shift every
    * centroid); dimensions must agree across the table.
    */
  def kMeansMicro(
      df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      scale: Long = 1000000L): DataFrame =
    kMeansMicroImpl(df, idCol, vecCol, k, iters, scale,
      materializeAssignment = true)._1

  /** [[kMeansMicro]] plus the FINAL integer centroids (k·dim driver
    * longs) — the entry [[Ivf.trainDistributed]] rides for a full-corpus
    * coarse quantizer. `materializeAssignment = false` skips the release
    * checkpoint for centroid-only callers (the returned frame is then lazy
    * and recomputes the working vectors, whose cache is released when this
    * method returns).
    */
  private[pipeline] def kMeansMicroImpl(
      df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      scale: Long, materializeAssignment: Boolean)
      : (DataFrame, Array[Array[Long]]) = Materialize.scoped { reuse =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    Inputs.present(df, "input", idCol, vecCol)
    Inputs.free(df, "kMeansMicro", "cluster", "dist_sq", "__v")
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        require(Seq(org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType).contains(et),
          s"kMeansMicro needs numeric vectors, got array<${et.simpleString}>")
      case t => throw new IllegalArgumentException(
        s"kMeansMicro needs an array column, got ${t.simpleString}")
    }
    val micro = df.select(col(idCol).as("__id"),
      transform(col(vecCol),
        x => round(x.cast("double") * scale).cast("long")).as("__v"))
    // integrity probe (one bounded scan): no null ids/vectors/elements,
    // one dimensionality, at least k vectors, distinct ids
    val probe = micro.agg(
      count(lit(1)).as("n"),
      count(col("__id")).as("nid"),
      countDistinct(col("__id")).as("ndid"),
      count(col("__v")).as("nv"),
      sum(when(exists(col("__v"), _.isNull), 1L).otherwise(0L)).as("nullel"),
      min(size(col("__v"))).as("dmin"),
      max(size(col("__v"))).as("dmax")).head()
    val n = probe.getLong(0)
    require(n >= k, s"kMeansMicro: only $n vectors for k=$k")
    require(probe.getLong(1) == n && probe.getLong(2) == n,
      "kMeansMicro: ids must be non-null and distinct — the release is " +
        "keyed on them")
    require(probe.getLong(3) == n && probe.getLong(4) == 0L,
      "kMeansMicro: NULL vectors or NULL elements present — drop or " +
        "impute them explicitly first")
    val dim = probe.getInt(5)
    require(dim == probe.getInt(6),
      s"kMeansMicro: mixed dimensionality ${probe.getInt(5)}/" +
        s"${probe.getInt(6)}")
    require(k.toLong * dim <= 4L * 1000 * 1000,
      s"kMeansMicro: k*dim = ${k.toLong * dim} exceeds the driver-resident " +
        "centroid budget (4e6 longs) — reduce k or the dimensionality")
    val cached = reuse(micro)
    // deterministic seeds: the k smallest-id vectors (k·dim driver longs)
    var centroids: Array[Array[Long]] = cached.orderBy(col("__id")).limit(k)
      .select(col("__v")).collect()
      .map(_.getSeq[Long](0).toArray)
    def assigned(): DataFrame = {
      // argmin over k literal centroids — ONE codegen'd expression
      // (graft.exec.NearestCentroid: a tight primitive loop over a
      // long[][] reference object), ties to the smallest cluster id. The
      // previous composed form (array_min over k aggregate(zip_with(...))
      // structs) paid an interpreted CodegenFallback lambda per centroid
      // per row and broke whole-stage codegen past k in the hundreds —
      // KMeansCodegenSpec pins that the max-k plan stays codegen'd now.
      val best = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.exec.NearestCentroid(
          org.apache.spark.sql.graftbridge.ColumnBridge
            .resolvedExpression(col("__v")),
          centroids))
      cached.withColumn("__best", best)
        .select(col("__id"), col("__v"),
          col("__best.c").as("cluster"), col("__best.d").as("dist_sq"))
    }
    var lastAssign: DataFrame = null
    var converged = false
    for (_ <- 1 to iters if !converged) {
      lastAssign = assigned()
      // one (cluster, dim)-keyed exchange of (sum, count) partials
      val means = lastAssign
        .select(col("cluster"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy(col("cluster"), col("__p"))
        .agg(call_function("div", sum(col("__x")), count(lit(1))).as("__m"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("__p"), col("__m"))))
          .as("__ms"))
        .select(col("cluster"),
          transform(col("__ms"), s => s.getField("__m")).as("__c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      // an emptied cluster keeps its previous centroid
      val next = centroids.zipWithIndex.map { case (c, i) =>
        means.getOrElse(i, c)
      }
      // fixed point: unchanged centroids make every later round identical
      // (integer arithmetic — no epsilon needed), so exit early; a free
      // driver-side array compare, no extra job, same released result
      converged = next.zip(centroids)
        .forall { case (a, b) => java.util.Arrays.equals(a, b) }
      centroids = next
    }
    val outRaw = lastAssign.select(col("__id").as(idCol), col("cluster"),
      col("dist_sq"))
    val out = if (materializeAssignment) outRaw.pin("Clustering.kMeans assignment") else outRaw
    (out, centroids)
  }
}
