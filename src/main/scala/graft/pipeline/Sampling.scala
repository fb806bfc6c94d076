package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Materialize.Pin

/** Deterministic, engine-portable sampling and split assignment for
  * training-data pipelines. Both operators key on an md5-derived 32-bit
  * hash of the id column, so:
  *  - results are reproducible run-to-run and cluster-size-independent
  *    (no RNG state, no partition sensitivity — Spark's `sample` is
  *    neither);
  *  - the same rows land in the same split in ANY engine that has md5 —
  *    the assignment reproduces bit-for-bit in SQL, so eval-set membership
  *    can be audited downstream;
  *  - at 100 TB both are pure map-side projections/filters with full
  *    pushdown below them, zero shuffle.
  */
object Sampling {

  /** Uniform 32-bit hash of a column: the first 8 hex chars of
    * md5(value as string). Engine-portable: DuckDB spells it
    * `('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8))::BIGINT`.
    * Computed by the codegen'd [[graft.exec.Md5Prefix]] kernel — r14:
    * bit-identical to the previous `conv(substring(md5(...), 1, 8), 16,
    * 10)` composition (Md5PrefixSpec pins the equivalence) without the
    * per-row hex-string materialize/substring/re-parse round trip.
    */
  def hash32(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.exec.Md5Prefix(
        org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
          encode(c.cast("string"), "UTF-8")),
        hexLen = 8))

  /** Keep ~`fraction` of rows, chosen deterministically by id hash. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1]: $fraction")
    df.filter(hash32(col(idCol)) < threshold(fraction))
  }

  /** The hash cutoff for a cumulative fraction: floor(f * 2^32), exact. */
  def threshold(fraction: Double): Long = (fraction * 4294967296.0).toLong

  /** Assign each row a split label ("train" -> 0.8, ...) by consecutive
    * hash ranges. Fractions must sum to at most 1; rows hashing past the
    * last cutoff get null (callers can add a catch-all split).
    */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
      labelCol: String = "split"): DataFrame = {
    require(!df.columns.contains(labelCol),
      s"input already has a column named '$labelCol' — the split label " +
        "would silently replace it; pass a different labelCol")
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 > 0.0), "split fractions must be positive")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split fractions sum to $total > 1")
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail.map(threshold)
    val h = hash32(col(idCol))
    val label = splits.zip(cuts).foldRight(lit(null).cast("string")) {
      case (((name, _), cut), acc) => when(h < lit(cut), lit(name)).otherwise(acc)
    }
    // the when-chain tests cumulative cutoffs ascending, so the FIRST
    // matching cutoff wins — foldRight builds exactly that order
    df.withColumn(labelCol, label)
  }

  /** Keep at most `quota` rows per value of `groupCol` — per-language /
    * per-domain caps when balancing a training mix. The survivors are the
    * group's `quota` smallest id-hashes (id tie-break), so membership is
    * deterministic across reruns, cluster sizes, and engines: the same
    * row_number reproduces in SQL. One shuffle on `groupCol` (window) is
    * the unavoidable cost of an EXACT quota; for approximate per-group
    * rates compose [[deterministicSample]] with a per-group fraction and
    * stay map-side. Skewed group sizes cost sort time, not memory:
    * row_number is a streaming window (WindowGroupLimit pre-filters
    * map-side on Spark 3.5+).
    */
  def stratifiedQuota(
      df: DataFrame, groupCol: String, idCol: String, quota: Int): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    Inputs.free(df, "stratifiedQuota", "__rk")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hash32(col(idCol)), col(idCol))
    // NULL ids drop (the deterministicSample convention): their ordering
    // keys are both NULL, so they'd sort nulls-FIRST — crowding out every
    // real row AND tie-breaking among themselves by physical row order,
    // i.e. non-deterministic membership in a determinism-contract sampler
    df.where(col(idCol).isNotNull)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= quota).drop("__rk")
  }

  /** Weighted sampling without replacement, `quota` rows per group —
    * Efraimidis-Spirakis (A-ES) reservoir order made deterministic: each
    * row draws the exponential key -ln(u) / w from its id-hash uniform
    * u = (hash32(id) + 1) / 2^32 and the group's `quota` SMALLEST keys
    * survive (equivalent to the classic top-k by u^(1/w); inclusion
    * probability scales with the row's weight). The importance-sampling
    * primitive for quality-weighted mixture building: double a document's
    * quality score and you double its selection pressure, while membership
    * stays reproducible run-to-run, cluster-size-independent, and
    * auditable in any engine with md5 and ln.
    *
    * Rows whose weight is null, NaN, zero, or negative are dropped (no
    * sampling mass), deterministically. Plan shape matches
    * [[stratifiedQuota]]: one groupCol-keyed window, WindowGroupLimit
    * pre-filtering map-side; the key is a pure projection.
    *
    * Portability note: the key involves ln() doubles, so cross-engine rank
    * agreement rides on libm agreement to the last ulp — two DIFFERENT
    * keys colliding within one ulp across engines is the q107-class risk
    * (~1e-16 per boundary pair); exact ties (equal hash AND weight) break
    * on the id in both engines.
    */
  def weightedQuota(
      df: DataFrame, groupCol: String, idCol: String, weightCol: String,
      quota: Int): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    Inputs.free(df, "weightedQuota", "__rk")
    val u = (hash32(col(idCol)) + lit(1L)).cast("double") / lit(4294967296.0)
    val key = -log(u) / col(weightCol).cast("double")
    val w = Window.partitionBy(col(groupCol)).orderBy(key, col(idCol))
    // NULL ids drop for the same reason as stratifiedQuota: a NULL draw
    // key sorts first and admits rows by physical order, not by the draw
    df.filter(col(idCol).isNotNull &&
        col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0 &&
        !isnan(col(weightCol).cast("double")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= quota).drop("__rk")
  }

  /** Deterministic mixture upsampling: emit each row `weight(group)` times,
    * the standard way to hit a target domain mix (e.g. books x3, web x1)
    * without materializing copies upstream. Fractional weights are honored
    * per-row by id-hash — weight 2.3 emits every row twice and a fixed,
    * reproducible 30% of rows (those with `hash32(id) < floor(0.3 * 2^32)`)
    * a third time, so the realized mix is exact in expectation and
    * membership of the extra copy is auditable in any engine. Weight 0
    * drops the group. Copies are numbered 1..n in `copyCol` so downstream
    * shuffling/packing can key on (id, copy).
    *
    * At 100 TB this is a pure map-side projection + explode — no shuffle,
    * no RNG state, invariant to partitioning and cluster size. Downstream
    * volume grows by the mix factor; nothing else does.
    */
  def mixtureUpsample(
      df: DataFrame, groupCol: String, idCol: String,
      weights: Seq[(String, Double)], defaultWeight: Double = 1.0,
      copyCol: String = "copy"): DataFrame = {
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate group in weights")
    (weights.map(_._2) :+ defaultWeight).foreach(w =>
      require(w >= 0.0 && !w.isNaN && !w.isInfinite,
        s"weights must be finite and non-negative: $w"))
    // fan-out bound (the negativePrep k-cap discipline): a fat-fingered
    // weight (3000000.0 for 3.0) would otherwise silently explode every
    // row into that many copies — PBs of output with no error anywhere
    (weights.map(_._2) :+ defaultWeight).foreach(w =>
      require(w <= 1000.0,
        s"upsample weight $w exceeds the 1000x fan-out bound — a mixture " +
          "ratio above 1000 is almost certainly a typo; pre-split the " +
          "input if it is real"))
    def copiesFor(w: Double): Column = {
      val whole = math.floor(w).toLong
      val frac = w - whole
      lit(whole) +
        when(hash32(col(idCol)) < lit(threshold(frac)), 1L).otherwise(0L)
    }
    val copies = weights.foldRight(copiesFor(defaultWeight)) {
      case ((g, w), acc) => when(col(groupCol) === g, copiesFor(w)).otherwise(acc)
    }
    // sequence(1, 0) would generate DESCENDING [1, 0] — guard the empty case
    df.withColumn(copyCol,
        explode(when(copies >= 1L, sequence(lit(1L), copies))
          .otherwise(array().cast("array<long>"))))
  }

  /** Deterministic negative sampling for training pairs: for every
    * distinct positive (user, item) draw up to `k` pseudo-random
    * NEGATIVE items from the observed item universe — the contrastive /
    * implicit-feedback training staple (BPR, word2vec negative
    * sampling), kept fully deterministic so the same epoch regenerates
    * the same pairs on any cluster, any partitioning, any engine: the
    * j-th candidate for a positive is `items[h32(user, item, j, salt)
    * mod n_items]` over the md5-backed [[hash32]] and the items ranked
    * by value.
    *
    * "Up to k": candidates that hit a TRUE positive of the same user
    * are anti-joined out, and hash collisions across j collapse — both
    * deliberate (re-drawing until k would make sample membership
    * depend on global iteration order). With n_items >> k the shortfall
    * is negligible; callers needing exactly-k re-call with a second
    * salt for the remainder.
    *
    * Scale shape: one distinct on (user, item); the item universe
    * ranks via the two-phase global row number (range exchange, never
    * a single-task sort); candidates are a bounded k-explode joined to
    * the rank table on the index (broadcast when the universe is
    * dashboard-sized — AQE decides) and one anti-join against the
    * positives. Nothing quadratic; the released pair count is <= k x
    * |positives| by construction.
    */
  /** Shared prep for the negative-sampling pair: the distinct canonical
    * positive set, the ranked item universe, and its size — the
    * determinism contract both operators stake (same casts, same
    * checkpoint policy, same rank order), kept in ONE place so the two
    * operators can never drift apart.
    */
  private def negativePrep(
      positives: DataFrame, userCol: String, itemCol: String, k: Int,
      salt: String, opName: String): (DataFrame, DataFrame, Long) = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(!salt.contains("\u0001"),
      "salt must not contain the \\u0001 separator")
    Inputs.present(positives, "input", userCol, itemCol)
    // the draw hash concatenates (user, item, t, salt) on the \u0001 — a value
    // CONTAINING the separator lets two different positives collide into
    // one hash input and share a candidate stream (perfectly correlated
    // "independent" draws). Same refusal as the salt's, applied per value.
    def sepChecked(c: Column, what: String): Column =
      when(c.contains(lit("\u0001")),
        raise_error(concat(lit(s"$opName: $what value contains the " +
          "\\u0001 hash separator; sanitize ids first: "), c)))
        .otherwise(c)
    val pos = positives
      .select(sepChecked(col(userCol).cast("string"), userCol).as("__u"),
        sepChecked(col(itemCol).cast("string"), itemCol).as("__i"))
      .where(col("__u").isNotNull && col("__i").isNotNull)
      .distinct()
      .pin("Sampling.negativePrep positives")
    val items = graft.exec.Ranks.globalRowNumber(
      pos.select(col("__i")).distinct(), Seq(col("__i")), "__idx")
      .pin("Sampling.negativePrep items")
    // one pass over the checkpointed rank table yields BOTH the exact row
    // count (the determinism contract needs it for the mod) and the mean
    // id width (the broadcast decision needs it) — same single job as the
    // old count()
    val itemStats = items
      .agg(count(lit(1)).as("__n"), avg(length(col("__i"))).as("__len"))
      .head()
    val nItems = itemStats.getLong(0)
    require(nItems >= 2L,
      s"$opName needs >= 2 distinct items, got $nItems")
    val avgIdLen = if (itemStats.isNullAt(1)) 0.0 else itemStats.getDouble(1)
    // The item-rank table is ALWAYS the smaller-or-equal side of the
    // candidate equi-join (items = distinct positives' items <= distinct
    // positives <= k-exploded candidates), and — unlike the planner — we
    // KNOW its exact row count here. Without the hint, the checkpointed
    // leaves carry no usable stats and AQE has been observed to broadcast
    // the CANDIDATE side instead (r14 measurement: the q215 broadcast
    // build evaluated the md5 draw stream for 1.19M candidates in a single
    // task, 2.1 s of a 6.9 s query). Hint the known-small side; past the
    // cutoff leave the strategy to the planner, which correctly
    // shuffle-joins two at-scale tables (guide §3.1/§8: use what you know
    // that the optimizer does not). The cutoff is BYTE-based (ADVICE r14:
    // a row cutoff alone lets arbitrarily wide item ids blow past the
    // driver/executor build memory): estimated framed bytes per row =
    // 2 bytes/char (UTF-16) + ~48 B object/offset/idx overhead, capped at
    // 256 MB — "a few hundred MB is usually fine" (guide §3.1).
    val estBroadcastBytes = nItems * (2.0 * avgIdLen + 48.0)
    val itemsHinted =
      if (estBroadcastBytes <= 256.0 * 1024 * 1024) broadcast(items)
      else items
    (pos, itemsHinted, nItems)
  }

  def negativeSamples(
      positives: DataFrame, userCol: String, itemCol: String, k: Int,
      salt: String = "neg"): DataFrame = {
    val (pos, items, nItems) =
      negativePrep(positives, userCol, itemCol, k, salt, "negativeSamples")
    val cand = pos
      .select(col("__u"), col("__i"),
        explode(array((0 until k).map(j => lit(j.toLong)): _*)).as("__j"))
      .select(col("__u"), col("__i"),
        pmod(hash32(concat_ws("\u0001", col("__u"), col("__i"),
          col("__j"), lit(salt))), lit(nItems)).as("__idx"))
    cand
      .join(items.select(col("__idx"), col("__i").as("__neg")), Seq("__idx"))
      .select(col("__u"), col("__neg")).distinct()
      .join(pos.select(col("__u"), col("__i").as("__neg")),
        Seq("__u", "__neg"), "left_anti")
      .select(col("__u").as(userCol), col("__neg").as("neg_item"))
  }

  /** EXACTLY-k negative sampling: for every distinct positive (user,
    * item), the first `k` DISTINCT non-positive items along that
    * positive's deterministic candidate stream — the
    * [[negativeSamples]] draw `items[h32(user, item, t, salt) mod
    * n_items]` scanned in draw order t = 0, 1, 2, …. Collisions and
    * positive hits don't shrink the sample (the scan just keeps
    * going), so every positive releases exactly `k` rows `(user, item,
    * neg_item)` — the per-positive contract BPR-style pairwise losses
    * actually need, vs [[negativeSamples]]'s cheaper up-to-k per-user
    * pool. Determinism is total: membership AND order depend only on
    * the positive set, `k`, and `salt` — any engine reproduces the
    * release bit for bit by ranking the same hash stream.
    *
    * The scan is BOUNDED at `2k + 8k` draws per positive (the
    * documented "second salt for the remainder" loop made the
    * operator): a first batch of `2k` draws serves every positive in
    * one pass — with n_items ≥ 2·(k + positives(user)) each draw
    * misses with probability < ½, so ≥ k successes in 2k draws is the
    * overwhelmingly common case — and only the stragglers scan the
    * 8k-draw remainder range. A positive still short after both
    * ranges (its user holds almost the whole item universe, or k
    * approaches n_items) raises LOUDLY, naming offending pairs,
    * rather than silently releasing fewer rows.
    *
    * Scale shape: the same distinct + two-phase global item rank as
    * [[negativeSamples]]; phase 1 is one bounded 2k-explode, an
    * equi-join on the 8-byte index, one anti-join against positives,
    * and a per-positive WindowGroupLimit rank; phase 2 repeats that on
    * the (usually empty) shortfall set only. Two bounded driver
    * actions (the shortfall probes); nothing quadratic; released rows
    * = k × |positives| exactly.
    */
  def negativeSamplesExact(
      positives: DataFrame, userCol: String, itemCol: String, k: Int,
      salt: String = "neg"): DataFrame = {
    val (pos, items, nItems) =
      negativePrep(positives, userCol, itemCol, k, salt,
        "negativeSamplesExact")
    val negs = items.select(col("__idx"), col("__i").as("__neg"))
    val posAsNeg = pos.select(col("__u"), col("__i").as("__neg"))
    // candidates over a draw range: dedup per (positive, neg) keeps the
    // EARLIEST draw, so ranking by __t below realizes "first k distinct
    // acceptable candidates in stream order" exactly
    def batch(src: DataFrame, ts: Range): DataFrame = src
      .select(col("__u"), col("__i"),
        explode(array(ts.map(t => lit(t.toLong)): _*)).as("__t"))
      .select(col("__u"), col("__i"), col("__t"),
        pmod(hash32(concat_ws("\u0001", col("__u"), col("__i"),
          col("__t"), lit(salt))), lit(nItems)).as("__idx"))
      .join(negs, Seq("__idx"))
      .join(posAsNeg, Seq("__u", "__neg"), "left_anti")
      .groupBy(col("__u"), col("__i"), col("__neg"))
      .agg(min(col("__t")).as("__t"))
    val w = Window.partitionBy(col("__u"), col("__i")).orderBy(col("__t"))
    val acc1 = batch(pos, 0 until 2 * k)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .pin("Sampling.negativeSamplesExact phase 1")
    val have = acc1.groupBy(col("__u"), col("__i"))
      .agg(count(lit(1)).as("__have"))
    val short = pos.join(have, Seq("__u", "__i"), "left")
      .select(col("__u"), col("__i"),
        (lit(k.toLong) - coalesce(col("__have"), lit(0L))).as("__need"))
      .where(col("__need") > 0L)
    val accepted =
      if (short.isEmpty) acc1
      else {
        // remainder range for the stragglers only; candidates equal to a
        // phase-1 acceptance drop (already released), so the combined set
        // is still the global first-k of the full [0, 10k) stream
        val acc2 = batch(short.select(col("__u"), col("__i")),
          2 * k until 10 * k)
          .join(acc1.select(col("__u"), col("__i"), col("__neg")),
            Seq("__u", "__i", "__neg"), "left_anti")
          .withColumn("__rk", row_number().over(w))
          .join(short, Seq("__u", "__i"))
          .where(col("__rk") <= col("__need"))
          .select(acc1.columns.map(col): _*)
        acc1.unionByName(acc2).pin("Sampling.negativeSamplesExact phase 2")
      }
    val stillShort = pos
      .join(accepted.groupBy(col("__u"), col("__i"))
        .agg(count(lit(1)).as("__n")), Seq("__u", "__i"), "left")
      .where(coalesce(col("__n"), lit(0L)) < k)
    val bad = stillShort.limit(5).collect()
    if (bad.nonEmpty) {
      val sample = bad.map(r => s"(${r.getString(0)}, ${r.getString(1)})")
        .mkString(", ")
      throw new IllegalStateException(
        s"negativeSamplesExact: positives with fewer than k=$k reachable " +
          s"negatives after ${10 * k} draws (user holds nearly the whole " +
          s"item universe, or k is close to n_items=$nItems): $sample — " +
          "lower k or widen the item universe")
    }
    accepted.select(col("__u").as(userCol), col("__i").as(itemCol),
      col("__neg").as("neg_item"))
  }
}
