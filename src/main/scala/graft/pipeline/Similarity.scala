package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two plans:
  *  - brute force: corpus x (broadcast) queries, exact cosine, per-query
  *    top-k — the baseline, linear scans are fine when queries are few;
  *  - LSH-bucketed: hyperplane-signature buckets shrink the candidate set,
  *    the scale path when both sides are large.
  * The vector math runs in tight JVM kernels: Spark's higher-order
  * functions (`aggregate`/`zip_with`/`transform`) are interpreted — no
  * whole-stage codegen — and measured ~50x slower per pair than a fused
  * loop. Each kernel folds left-to-right exactly like `aggregate`, so the
  * produced doubles are bit-identical to the declarative form.
  */
object Similarity {

  /** Exact cosine similarity of two array<double> columns: one fused
    * dot-and-norms pass per pair (sequential fold, matching `aggregate`'s
    * evaluation order bit-for-bit). r15: computed by the codegen'd
    * [[graft.exec.CosineSim]] expression — bit-identical to the closure
    * kernel below (CosineSimSpec pins the equivalence) without the two
    * per-call Array[Double] deserializations, which were pure allocation
    * churn on the million-pair verify paths (guide §4). A null ELEMENT
    * in either vector makes the score NULL, like a null vector.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.exec.CosineSim(
        // the cast mirrors the old ScalaUDF's implicit input coercion
        // (array<float> callers of the SQL-registered cosine_similarity);
        // it is a no-op for the pipeline callers, which already cast
        org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
          a.cast("array<double>")),
        org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
          b.cast("array<double>"))))

  // NULL on null inputs, MISMATCHED dimensions, and ZERO-norm vectors.
  // Dimension truncation used to return a plausible-but-wrong score on a
  // model-migration dim mix-up; a zero vector used to score 0/0 = NaN,
  // which Spark's descending sort ranks ABOVE every real cosine — one
  // junk corpus vector took rank 1 in EVERY query's top-k. NULL sorts
  // last under desc, so degenerate rows lose instead of winning.
  // (Kept as CosineSimSpec's ground truth; no longer on any query path.)
  private[graft] val cosineClosureSpec = udf((a: Array[Double], b: Array[Double]) => {
    if (a == null || b == null || a.length != b.length) null
    else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i)
        na += a(i) * a(i)
        nb += b(i) * b(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  })

  /** L2-normalize an array<double> column (the companion [[meanPool]]
    * output usually needs before cosine work: a mean of unit vectors is
    * not unit). One fused pass; null vectors stay null and zero vectors
    * (no direction) return null rather than dividing by zero.
    */
  def normalizeL2(vec: Column): Column = normalizeKernel(vec.cast("array<double>"))

  private val normalizeKernel = udf((a: Array[Double]) => {
    if (a == null) null
    else {
      var n2 = 0.0
      var i = 0
      while (i < a.length) { n2 += a(i) * a(i); i += 1 }
      if (n2 == 0.0) null
      else {
        // divide by the norm (one exactly-rounded op) rather than multiply
        // by its reciprocal (two roundings: 3/5 -> 0.6 exactly, 3 * (1/5)
        // does not)
        val norm = math.sqrt(n2)
        val out = new Array[Double](a.length)
        i = 0
        while (i < a.length) { out(i) = a(i) / norm; i += 1 }
        out
      }
    }
  })

  /** Symmetric per-vector int8 scalar quantization: each element maps to
    * floor(x * 127 / max|x| + 0.5) in [-127, 127], the storage layout that
    * cuts an embedding corpus 4x against float32 with bounded relative
    * error. A pure codegen'd projection — zero shuffle at any scale.
    *
    * Engine-portable by construction: multiply, divide, and floor are
    * exactly-rounded IEEE-754 ops (unlike ln/exp), so the same formula
    * yields bit-identical integers in any engine — the DuckDB oracle
    * mirrors `floor(x * 127.0 / m + 0.5)` verbatim. Zero vectors
    * quantize to zeros. Runs as a fused JVM kernel (file header: Spark's
    * higher-order functions are interpreted).
    */
  def quantizeInt8(vec: Column): Column = quantizeKernel(vec.cast("array<double>"))

  private val quantizeKernel = udf((a: Array[Double]) => {
    if (a == null) null
    else {
      var m = 0.0
      var i = 0
      while (i < a.length) {
        val ab = math.abs(a(i)); if (ab > m) m = ab; i += 1
      }
      val out = new Array[Long](a.length)
      if (m != 0.0) {
        i = 0
        while (i < a.length) {
          out(i) = math.floor(a(i) * 127.0 / m + 0.5).toLong; i += 1
        }
      }
      out
    }
  })

  /** Dequantize [[quantizeInt8]] output back to doubles given the original
    * max|x| (store it alongside): x ~ q * m / 127.
    */
  def dequantizeInt8(qvec: Column, maxAbs: Column): Column =
    transform(qvec, q => q.cast("double") * maxAbs / lit(127.0))

  /** Mean-pool vectors per group — the chunk-to-document pooling step
    * that turns per-chunk embeddings into one document vector (and
    * per-cluster centroids, per-source prototypes...). Returns one row per
    * group: (group, n_vecs, embedding), pooling positionwise over the
    * group's non-null vectors; ragged inputs average each position over
    * the vectors long enough to have it.
    *
    * `quantizeUnit` > 0 snaps elements to that grid FIRST (floor(v/u +
    * 0.5), sign-safe and engine-portable) so per-position sums run over
    * exact integers — addition-order-free, bit-reproducible on any
    * engine/partitioning, the discipline the micro-nat LM costs use. At 0
    * the pool is plain double averaging (fast path; last-ulp
    * order-sensitivity documented rather than paid for).
    *
    * Scale shape: posexplode is map-side; ONE (group, position)-keyed
    * aggregation partially combines; re-assembly collects `dim` structs
    * per group (state bounded by the embedding dimension, not group
    * size).
    */
  def meanPool(
      df: DataFrame, groupCol: String, vecCol: String,
      quantizeUnit: Double = 0.0): DataFrame = {
    require(quantizeUnit >= 0.0 && !quantizeUnit.isNaN,
      s"quantizeUnit must be >= 0, got $quantizeUnit")
    val expl = df
      .where(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__v")))
      // Null ELEMENTS inside a vector are skipped in both modes: avg()
      // ignores nulls natively, and dropping them here keeps the quantized
      // path's denominator (count) consistent with its numerator (sum),
      // which also skips nulls.
      .where(col("__v").isNotNull)
    val mean =
      if (quantizeUnit > 0.0) {
        val q = floor(col("__v") / quantizeUnit + lit(0.5)).cast("long")
        expl.groupBy("__g", "__p")
          .agg(count(lit(1)).as("__n"), sum(q).as("__s"))
          .select(col("__g"), col("__p"),
            (col("__s").cast("double") / col("__n")) * lit(quantizeUnit))
      } else expl.groupBy("__g", "__p").agg(avg(col("__v")))
    val m = mean.toDF("__g", "__p", "__m")
    val nVecs = df.where(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .groupBy(col(groupCol).as("__g")).agg(count(lit(1)).as("n_vecs"))
    val assembled = m.groupBy("__g")
      .agg(transform(array_sort(collect_list(struct(col("__p"), col("__m")))),
        s => s.getField("__m")).as("embedding"))
    // LEFT from the count side: a group whose vectors are all EMPTY arrays
    // explodes to nothing, and an inner join would drop it — breaking the
    // documented one-row-per-group contract; it releases a NULL embedding
    nVecs.join(assembled, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_vecs"), col("embedding"))
  }

  /** Exact top-k neighbors for each query row: broadcast the (small) query
    * side across the corpus scan, score, keep k per query by window rank.
    * Scales to any corpus size; queries must fit in a broadcast.
    * Degenerate rows score NULL cosine (zero norm, dim mismatch, null
    * vector) and are excluded — they must not hold a rank.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = Dedup.spread(corpus).select(col(corpusId).as("corpus_id"),
      col(corpusVec).cast("array<double>").as("__cv"))
    val q = queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
      .where(col("cosine").isNotNull) // degenerate vectors hold no rank
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** Exact above-threshold cosine pairs by brute force: the quadratic
    * baseline that anchors the LSH dedup's oracle story (ids only — the
    * membership test is far from the threshold on real data, while raw
    * cosine doubles are not engine-portable). Plan: vectors are normalized
    * once in a distributed pass, one side is broadcast (exactly as a
    * broadcast join would ship it), and each task streams its partition
    * against the resident matrix in a fused dot-product loop — O(n^2 d)
    * arithmetic with zero shuffle. The broadcast bounds the corpus this is
    * for (~1 GB of vectors); past that use [[Dedup.embeddingCosinePairs]],
    * the sub-quadratic scale path.
    */
  def bruteForcePairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      maxResidentRows: Long = 1L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ids are compared and binary-searched as longs; a non-integral column
    // would cast to null and silently corrupt every pair — reject it
    // (any integral width casts losslessly)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.schema(idCol).dataType
    require(idType == LongType || idType == IntegerType ||
        idType == ShortType || idType == ByteType,
      s"bruteForcePairs requires an integral id column; '$idCol' is " +
        s"${idType.simpleString}. Map ids to long first, or use " +
        "Dedup.embeddingCosinePairs, which keeps ids generic.")
    // this is the disclosed quadratic baseline: it collects the normalized
    // corpus to the driver, so enforce the bound instead of documenting it
    val cnt = df.count()
    require(cnt <= maxResidentRows,
      s"bruteForcePairs collects all $cnt vectors to the driver (bound " +
        s"$maxResidentRows rows); use Dedup.embeddingCosinePairs — the " +
        "sub-quadratic LSH path — for corpora past the bound")
    // NULL ids/vectors drop (siblings' convention: lshTopK and
    // Ivf.assignCells skip them) — unfiltered, a null vector NPE'd in the
    // executor after the count scan already ran, and a null id failed the
    // tuple encoder. Duplicate ids must refuse: binarySearch on a
    // duplicated ids array picks an arbitrary twin, emitting self-pairs.
    val clean = df
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    val dup = clean.groupBy(col(idCol).cast("long")).count()
      .where(col("count") > 1L).limit(1).collect()
    require(dup.isEmpty,
      s"bruteForcePairs: duplicate id ${dup.headOption.map(_.get(0))
        .getOrElse("")} — the pair space is defined on DISTINCT ids")
    val normed = clean
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n = math.sqrt(s)
        val out = new Array[Double](v.length)
        i = 0
        while (i < v.length) { out(i) = v(i) / n; i += 1 }
        (id, out)
      }
    val resident = normed.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(resident)
    val pairs = Dedup.spread(normed.toDF("__id", "__v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val corpus = bc.value
        // hoisted once per task: building this O(n) array inside the row
        // loop would add O(n^2) allocation on top of the O(n^2 d) arithmetic
        val ids = corpus.map(_._1)
        it.flatMap { case (ida, va) =>
          // ids ascending: start past ida so each unordered pair scores once
          var lo = java.util.Arrays.binarySearch(ids, ida)
          if (lo < 0) lo = -lo - 1 else lo += 1
          Iterator.range(lo, corpus.length).flatMap { j =>
            val (idb, vb) = corpus(j)
            var dot = 0.0
            var i = 0
            while (i < va.length) { dot += va(i) * vb(i); i += 1 }
            if (dot >= threshold) Iterator.single((ida, idb)) else Iterator.empty
          }
        }
      }
    pairs.toDF("id_a", "id_b")
  }

  /** Semantic deduplication within pre-assigned clusters — the SemDeDup
    * recipe (Abbas et al. 2023): embeddings are first partitioned into
    * clusters (k-means cells from [[Ivf.train]], a label column, or any
    * other assignment), then ONLY within-cluster pairs are scored, and a
    * vector is dropped when an earlier vector (smaller id — deterministic
    * on any engine) in its cluster sits at cosine >= `threshold`. Output is
    * one row per input vector: (id, cluster, n_dups_earlier, kept) —
    * integers and booleans only; raw cosines stay internal (ids-only
    * contract, q73's rationale).
    *
    * Scale shape: the self-join keys on the cluster column, so the shuffle
    * is cluster-keyed and the pair work is sum of squared CLUSTER sizes —
    * the clustering granularity is the knob that keeps this near-linear
    * (SemDeDup's own contract: more cells, less pair work). A cluster-size
    * guard enforces that discipline instead of documenting it: clusters
    * past `maxClusterRows` fail fast and name the sub-quadratic LSH path.
    * The count that powers the guard is one keyed agg reduced to a single
    * max row — not a collect of the data.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, clusterCol: String, vecCol: String,
      threshold: Double, maxClusterRows: Long = 1L << 16): DataFrame = {
    val v = df.select(col(clusterCol).as("__cl"), col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    // rows with a null vector or null cluster cannot join a pair: they are
    // excluded from scoring (and from the guard — a large null group forms
    // no pairs) and reported kept in the output
    val scorable = v.filter(col("__v").isNotNull && col("__cl").isNotNull)
    val biggest = scorable.groupBy(col("__cl")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val biggestN = if (biggest.isNullAt(0)) 0L else biggest.getLong(0)
    require(biggestN <= maxClusterRows,
      s"semanticDedup scores all pairs within each cluster and the largest " +
        s"cluster has $biggestN rows (bound $maxClusterRows); re-cluster at " +
        "finer granularity (Ivf.train with larger nlist) or use " +
        "Dedup.embeddingCosinePairs, the LSH path that needs no clustering")
    val dupCounts = scorable.as("a")
      .join(scorable.as("b"), col("a.__cl") === col("b.__cl") &&
        col("a.__id") < col("b.__id"))
      .filter(cosine(col("a.__v"), col("b.__v")) >= threshold)
      .groupBy(col("b.__id").as("__id"))
      .agg(count(lit(1)).as("n_dups_earlier"))
    v.select(col("__id"), col("__cl")).join(dupCounts, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cl").as(clusterCol),
        coalesce(col("n_dups_earlier"), lit(0L)).as("n_dups_earlier"))
      .withColumn("kept", col("n_dups_earlier") === 0)
  }

  /** One-call SemDeDup for un-clustered corpora: train an IVF coarse
    * quantizer ([[Ivf.train]], seeded sample, `nlist` cells), assign every
    * vector to its nearest cell, and run [[semanticDedup]] within cells.
    * `nlist` is the scale knob — pair work is the sum of squared CELL
    * sizes, so more cells buy less quadratic work at the price of missing
    * duplicates that straddle a cell boundary (the SemDeDup trade; exact
    * duplicates always share a cell because identical vectors share a
    * nearest centroid).
    */
  def semanticDedupAuto(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 256, maxClusterRows: Long = 1L << 16): DataFrame = {
    val model = Ivf.train(df, vecCol, nlist)
    // LEFT join: assignCells emits nothing for null vectors, but the
    // output contract is one row per input — unassignable rows ride with
    // a null cell and semanticDedup reports them kept
    val assigned = df.join(
      Ivf.assignCells(df, idCol, vecCol, model)
        .select(col("corpus_id").as(idCol), col("__cell")),
      Seq(idCol), "left")
    semanticDedup(assigned, idCol, "__cell", vecCol, threshold, maxClusterRows)
      .withColumnRenamed("__cell", "cell")
  }

  /** Per-band hyperplane signatures: band t packs the sign bits of its own
    * `bandBits` planes (planes t*bandBits until (t+1)*bandBits of the shared
    * memoized plane matrix) into one long — the classic L-hash-table LSH
    * layout, not limited to 64 total planes like a single packed signature.
    * The one hyperplane kernel: [[Dedup.hyperplaneSignature]] is its
    * single-band case.
    */
  private[pipeline] def bandSignatures(
      v: Array[Double], numBands: Int, bandBits: Int): Array[Long] = {
    val signs = Dedup.planeSigns(numBands * bandBits, v.length)
    val out = new Array[Long](numBands)
    var t = 0
    while (t < numBands) {
      var sig = 0L
      var b = 0
      while (b < bandBits) {
        val row = signs(t * bandBits + b)
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += row(i) * v(i); i += 1 }
        if (dot > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }

  /** LSH-bucketed approximate top-k: corpus and queries are bucketed by
    * hyperplane-signature bands (L = planes/bandBits independent hash
    * tables of bandBits bits each); candidates are corpus rows sharing at
    * least one band bucket with the query; exact cosine re-ranks. Shuffle
    * is keyed on (band, bucket) — never a cross product.
    *
    * The QUERY side multi-probes (Lv et al. 2007): each band is probed at
    * its own bucket plus every single-bit flip, so a neighbor is a
    * candidate when any band's signatures are within Hamming distance 1 —
    * per-neighbor recall 1 - (1 - p^b - b*p^(b-1)*(1-p))^L for per-plane
    * agreement p, a large lift over exact-bucket matching with ZERO extra
    * corpus-side work (the corpus — the big side — is still bucketed once
    * per band; only the small query side fans out b+1 probes).
    *
    * The defaults (64 planes, 8 bits -> 8 tables of 256 buckets) hold
    * recall@3 >= 0.9 on clustered data — pinned against brute force in
    * AnnRecallSpec, the contract the q46 registry entry relies on. At
    * corpus scales where 256 buckets per band collide too much, raise
    * bandBits (16 -> 65k buckets) and planes together to keep L.
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, planes: Int = 64, bandBits: Int = 8): DataFrame = {
    require(bandBits >= 1 && bandBits <= 63, "bandBits must be in [1, 63]")
    require(planes % bandBits == 0, "planes must be a multiple of bandBits")
    val bandCount = planes / bandBits
    // both sides band inside an object boundary (mapPartitions), not as a
    // Column + posexplode: the Generate's inferred size()>0 filter gets
    // pushed down with the signature UDF re-inlined, computing every
    // signature twice per row — exactly the cost this operator exists to
    // bound on the 100 TB corpus side
    def banded(df: DataFrame, id: String, vec: String,
        idOut: String, vecOut: String, multiProbe: Boolean) = {
      val in = Dedup.spread(df).select(col(id).as(idOut),
        col(vec).cast("array<double>").as(vecOut))
      val inSchema = in.schema
      val outSchema = StructType(inSchema.fields ++ Seq(
        StructField("__band", IntegerType), StructField("__bk", LongType)))
      in.mapPartitions { it =>
        it.flatMap { r =>
          val vs = r.getAs[scala.collection.Seq[Double]](1)
          if (vs == null) Iterator.empty
          else {
            val sigs = bandSignatures(vs.toArray, bandCount, bandBits)
            val base = r.toSeq
            sigs.iterator.zipWithIndex.flatMap { case (sig, t) =>
              // Seq[Any]: Seq(t, sig) would numerically widen the Int band
              // index to Long and break the row encoder
              if (!multiProbe) Iterator.single(Row.fromSeq(base ++ Seq[Any](t, sig)))
              else (Iterator.single(sig) ++
                Iterator.tabulate(bandBits)(b => sig ^ (1L << b)))
                .map(bk => Row.fromSeq(base ++ Seq[Any](t, bk)))
            }
          }
        }
      }(Encoders.row(outSchema))
    }
    val cb = banded(corpus, corpusId, corpusVec, "corpus_id", "__cv", multiProbe = false)
    // multi-probe (query side only): each band probes its bucket plus every
    // single-bit flip — the corpus side stays one bucket per band
    val qb = banded(queries, queryId, queryVec, "query_id", "__qv", multiProbe = true)
    // score before the dedup: cosine is deterministic per (query, corpus)
    // pair, so distinct on the scored triple equals distinct on the id pair
    // — and the dedup shuffle then carries 3 scalar columns instead of both
    // full embedding vectors once per shared band
    val scored = cb.join(qb, Seq("__band", "__bk"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("__cv"), col("__qv")).as("cosine"))
      .where(col("cosine").isNotNull) // degenerate vectors hold no rank
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }
}
