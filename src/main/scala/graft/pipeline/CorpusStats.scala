package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Materialize
import graft.exec.Materialize.Pin

/** One-pass corpus profiling: the summary a pipeline owner wants BEFORE
  * launching a 100 TB job — row/null counts, value-length mass, and
  * distinct-cardinality estimates per column. Everything folds into a
  * single aggregation (one partial->final exchange over ~32 rows total);
  * the scan reads only the profiled columns.
  *
  * Exact stats (counts, null counts, length sums) are engine-portable and
  * oracle-checkable; the HyperLogLog++ distinct estimate is Spark-specific
  * and kept in a separate column so exact consumers can ignore it.
  */
object CorpusStats {

  /** Per-column profile: one output row per profiled column with exact
    * counts plus an approximate distinct cardinality (HLL++, `rsd`
    * relative error). Column values are measured as their string rendering
    * for length purposes (numeric columns profile their decimal width).
    */
  def profile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    cols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    val perCol = cols.map { c =>
      struct(
        lit(c).as("column"),
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        sum(when(col(c).isNull, 0L)
          .otherwise(length(col(c).cast("string")).cast("long"))).as("total_len"),
        approx_count_distinct(col(c), rsd).as("approx_distinct"))
    }
    df.agg(array(perCol: _*).as("__p"))
      .select(explode(col("__p")).as("__r"))
      .select(col("__r.column"), col("__r.n_rows"), col("__r.n_nulls"),
        col("__r.total_len"), col("__r.approx_distinct"))
  }

  /** Per-group distinct-cardinality sketches (Apache DataSketches HLL via
    * Spark's `hll_sketch_agg`): one row per group carrying the serialized
    * sketch AND its estimate. THE 100-TB count-distinct shape: the exact
    * `count(DISTINCT x)` needs every distinct value to survive a shuffle
    * (an Expand plan whose width scales with the cardinality), while the
    * sketch is a fixed 2^lgK-register state that partially aggregates
    * map-side and merges associatively — and the carried sketch column
    * means downstream rollups ([[rollupDistinctSketch]]) and cross-dataset
    * unions never touch the raw data again. Estimates are deterministic
    * (DataSketches HLL has no RNG: register state is a pure function of
    * the distinct-value hash set), so contracts over them are testable.
    * Default lgK = 14 gives ~0.6% relative standard error.
    */
  def distinctSketch(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 14): DataFrame = {
    require(groupCols.nonEmpty, "group by at least one column")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("sketch"))
      .withColumn("n_distinct_est", hll_sketch_estimate(col("sketch")))
  }

  /** Merge already-built HLL sketches up to a coarser grouping (Spark's
    * `hll_union_agg`) — the rollup that turns per-(day, source) sketches
    * into per-source cardinalities without re-reading the corpus. The
    * union's register state is an associative, order-free function of the
    * input sketches (register max), so rollups are deterministic under any
    * partitioning — but a rolled-up estimate is NOT bit-identical to a
    * direct single-pass sketch of the combined data: DataSketches scores
    * directly-built sketches with the HIP estimator and unioned states
    * with the standard estimator (measured: equal through set mode, ~0.5%
    * apart once dense at ~2k distinct). Both estimators carry the same
    * error bound, which is the contract q123 pins (rollup AND direct each
    * within 5% of exact, ~8 sigma of slack at lgK = 14).
    */
  def rollupDistinctSketch(
      df: DataFrame, groupCols: Seq[String],
      sketchCol: String = "sketch"): DataFrame = {
    require(groupCols.nonEmpty, "roll up to at least one column")
    require(df.columns.contains(sketchCol), s"no such column: $sketchCol")
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col(sketchCol)).as("sketch"))
      .withColumn("n_distinct_est", hll_sketch_estimate(col("sketch")))
  }

  /** Per-group numeric distribution profile: non-null count, min, max, and
    * EXACT linearly-interpolated percentiles (the `quantile_cont`
    * definition: index p*(n-1), interpolate between the flanking order
    * statistics) — the distribution report a pipeline owner reads before
    * picking clamp bounds, bin edges, or packing lengths. Percentile
    * columns are named p25 / p50 / p97_5 after their percentage.
    *
    * Scale shape: one partial->final keyed aggregation. Spark's exact
    * `percentile` holds a value -> count histogram per group, so state is
    * O(distinct values per group) — constant-ish for the integer-valued
    * measures this profiles (quantities, token counts, lengths), NOT
    * O(group rows). For continuous high-cardinality measures at 100 TB
    * prefer `approx_percentile` (bounded GK state) or the DP quantile's
    * fixed 2048-bin histogram; this operator is the exact anchor.
    * Everything released is order-independent: min/max exactly, and the
    * exact percentile is a deterministic function of the group's
    * multiset. For the bounded-state continuous-measure variant see
    * [[numericProfileSketched]].
    */
  def numericProfile(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(groupCols.nonEmpty, "group by at least one column")
    require(percentiles.nonEmpty, "profile at least one percentile")
    percentiles.foreach(p =>
      require(p >= 0.0 && p <= 1.0, s"percentile out of [0, 1]: $p"))
    val labels = Inputs.percentileLabels(percentiles)
    val v = col(valueCol).cast("double")
    val pctArr = percentile(v, lit(percentiles.toArray)).as("__ps")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(v).as("n_rows"), min(v).as("vmin"), max(v).as("vmax"),
        pctArr)
      .select(groupCols.map(col) ++
        Seq(col("n_rows"), col("vmin"), col("vmax")) ++
        labels.zipWithIndex.map { case (l, i) => col("__ps")(i).as(l) }: _*)
  }

  /** [[numericProfile]] for CONTINUOUS high-cardinality measures:
    * per-group count / min / max stay exact, but percentiles come from
    * the [[graft.exec.Kll]] compactor sketch — O(k·log n) state per group
    * regardless of how many distinct doubles the group holds, the one
    * profile that survives a 100 TB column of floats. Each percentile
    * releases alongside `err_units`, the sketch's accumulated worst-case
    * rank slack: err_units == 0 certifies the exact regime (group fit the
    * buffer — values identical to [[numericProfile]]'s discrete
    * quantiles); past it, |true_rank(p_i) − ceil(q_i·n)| <= err_units
    * unconditionally, under any partitioning and merge order.
    *
    * Quantile definition here is DISCRETE rank-ceil (smallest value with
    * cumulative weight >= ceil(q*n)) — a retained input value, never an
    * interpolation, which is what makes the certificate a statement
    * about ranks of real data.
    */
  def numericProfileSketched(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      k: Int = 400): DataFrame = {
    require(groupCols.nonEmpty, "group by at least one column")
    require(percentiles.nonEmpty, "profile at least one percentile")
    val labels = Inputs.percentileLabels(percentiles)
    val v = col(valueCol).cast("double")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(v).as("n_rows"), min(v).as("vmin"), max(v).as("vmax"),
        graft.exec.Kll.quantiles(v, k, percentiles).as("__kll"))
      .select(groupCols.map(col) ++
        Seq(col("n_rows"), col("vmin"), col("vmax"),
          col("__kll.err_units").as("err_units")) ++
        labels.zipWithIndex.map { case (l, i) =>
          col("__kll.values")(i).as(l) }: _*)
  }

  /** Equi-depth (equal-count) binning: tag every row with the bin index
    * `0..nBins-1` of `valueCol`'s position among the column's own
    * quantiles — the length-bucketed-batching primitive (bucket documents
    * by length so packed batches waste no padding; see
    * [[Packing]]), and the histogram whose bins adapt to the data
    * instead of a hand-picked grid.
    *
    * Bin edges are the [[graft.exec.Kll]] sketch's rank-ceil quantiles at
    * i/nBins — ONE bounded-state aggregate, its single released row read
    * driver-side (edges are metadata, not data) — and the tagging is a
    * codegen'd when-chain: bin = first i with value <= edge_i, else the
    * last bin. In the exact regime (n under the sketch buffer) the edges
    * ARE quantile_disc, so an independent engine reproduces every bin
    * assignment; past it the bins are approximate-equal-depth with the
    * sketch's rank certificate on each edge. NULL values get a NULL bin.
    */
  def equiDepthBins(
      df: DataFrame, valueCol: String, nBins: Int, k: Int = 1024,
      binCol: String = "bin"): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    Inputs.present(df, "input", valueCol)
    require(!df.columns.contains(binCol),
      s"input already has a '$binCol' column; pass binCol to rename")
    val v = col(valueCol).cast("double")
    if (nBins == 1) return df.withColumn(binCol,
      when(col(valueCol).isNotNull, lit(0)).otherwise(lit(null)).cast("int"))
    val ps = (1 until nBins).map(_.toDouble / nBins)
    // NaN stays out of BOTH the sketch and the tagging (Kll skips nulls
    // only, and NaN sorts above every real double — unfiltered it pushed
    // upper edges to NaN, collapsing the whole upper tail into one bin);
    // NaN rows tag NULL like nulls: no position in the order, no bin
    val measurable = v.isNotNull && !isnan(v)
    val row = df.where(measurable)
      .agg(graft.exec.Kll.quantiles(v, k, ps).as("s"))
      .select(col("s.values")).head()
    if (row.isNullAt(0)) // empty input: no edges derivable, nothing to tag
      return df.withColumn(binCol, lit(null).cast("int"))
    val edges = row.getSeq[Double](0)
    val chain = edges.zipWithIndex.foldRight(
      when(measurable, lit(nBins - 1))) {
      case ((e, i), rest) => when(v <= e, lit(i)).otherwise(rest)
    }
    df.withColumn(binCol,
      when(!measurable, lit(null)).otherwise(chain).cast("int"))
  }

  /** Distribution drift monitor: bin a REFERENCE corpus's `valueCol` into
    * equi-depth bins by its own quantiles (the [[equiDepthBins]] edges),
    * then count BOTH corpora per bin and release integer parts-per-million
    * shares — the input table for PSI / KL / chi-squared drift alarms
    * between a training snapshot and live data, in engine-portable
    * integers (the transcendental drift statistic itself is one map over
    * this table; releasing ppm instead keeps every value
    * oracle-checkable). One row per bin 0..nBins−1, zero-filled:
    * (bin, n_ref, n_cur, ref_ppm, cur_ppm), ppm = count·10^6 div total
    * (truncating — shares may sum to slightly under 10^6; exact in any
    * engine). NULL/NaN values are uncounted on either side. Under equi-
    * depth edges ref_ppm ≈ 10^6/nBins by construction — cur_ppm's
    * deviation from that IS the drift.
    *
    * Plan shape: one bounded KLL aggregate on the reference (edges are
    * driver metadata), one union + (bin)-keyed count with map-side
    * partials, a single-row totals broadcast, and an nBins-row zero-fill
    * join — nothing scales with row count but the two scans.
    */
  def distributionDrift(
      ref: DataFrame, cur: DataFrame, valueCol: String, nBins: Int,
      k: Int = 4096): DataFrame = {
    require(nBins >= 2 && nBins <= 100000,
      s"nBins must be in [2, 100000], got $nBins")
    Seq(ref -> "reference", cur -> "current").foreach { case (df, side) =>
      Inputs.present(df, s"$side side", valueCol)
    }
    val v = col(valueCol).cast("double")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    // the edge sketch must see the SAME population the bins count: Kll
    // skips nulls but not NaN, and NaN sorts above every real double —
    // unfiltered, a NaN-bearing reference pushed upper edges to NaN and
    // the whole upper tail fell through to the last bin
    val row = ref.where(v.isNotNull && !isnan(v))
      .agg(graft.exec.Kll.quantiles(v, k, ps).as("s"))
      .select(col("s.values")).head()
    require(!row.isNullAt(0),
      "distributionDrift: the reference side has no non-null values — " +
        "no edges derivable")
    val edges = row.getSeq[Double](0)
    def binned(df: DataFrame): DataFrame = {
      val chain = edges.zipWithIndex.foldRight(lit(nBins - 1): Column) {
        case ((e, i), rest) => when(v <= e, lit(i)).otherwise(rest)
      }
      df.where(v.isNotNull && !isnan(v)).select(chain.cast("int").as("bin"))
    }
    val spark = ref.sparkSession
    val counts = binned(ref).withColumn("__side", lit(0))
      .unionByName(binned(cur).withColumn("__side", lit(1)))
      .groupBy(col("bin"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("n_cur"))
    val allBins = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val totals = counts.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"))
    def ppm(n: Column, total: Column): Column =
      when(total === 0L, 0L)
        .otherwise(call_function("div", // decimal-widened: no long wrap
          n.cast("decimal(38,0)") * lit(1000000L),
          total.cast("decimal(38,0)")))
    allBins.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        ppm(col("n_ref"), col("__tr")).as("ref_ppm"),
        ppm(col("n_cur"), col("__tc")).as("cur_ppm"))
  }

  /** Per-group least-squares trend over INTEGER (x, y) points, released
    * as EXACT rationals: slope = slope_num / slope_den and intercept =
    * icept_num / slope_den with
    *   slope_num = n·Σxy − Σx·Σy
    *   slope_den = n·Σx² − (Σx)²
    *   icept_num = Σy·Σx² − Σx·Σxy
    * (the closed-form normal equations; e.g. Draper & Smith, Applied
    * Regression Analysis, §1.2). Every released value is an integer, so
    * the result is addition-order-free, partition-invariant, and
    * bit-identical on any engine — the [[graft.pipeline.Graph.pageRank]]
    * exactness discipline applied to regression. The caller divides when
    * a float is wanted; `slope_den` = 0 flags a degenerate group (all x
    * equal, n <= 1) instead of a silent NaN.
    *
    * Integral x and y are REQUIRED (doubles would reintroduce
    * order-sensitivity). Overflow contract, documented rather than
    * silently truncated: the released longs are exact while
    * n·max|x|²·max|y| stays below 2^63 — epoch-days against daily counts
    * are fine for centuries; nanosecond epochs are not (pre-scale them).
    *
    * Scale shape: ONE partial->final keyed aggregate (five sums ride a
    * single exchange of bounded-width rows); the quadratic forms combine
    * the sums afterwards in a codegen'd projection. Nothing joins.
    */
  def groupTrend(
      df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupTrend needs at least one group column")
    Inputs.present(df, "input", groupCols ++ Seq(xCol, yCol): _*)
    Inputs.integral(df, "groupTrend", "column for exactness", xCol, yCol)
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.where(x.isNotNull && y.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * x).as("__sxx"), sum(x * y).as("__sxy"))
      .select(groupCols.map(col) ++ Seq(
        col("n"),
        (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          .as("slope_num"),
        (col("n") * col("__sxx") - col("__sx") * col("__sx"))
          .as("slope_den"),
        (col("__sy") * col("__sxx") - col("__sx") * col("__sxy"))
          .as("icept_num")): _*)
  }

  /** Corpus mix report at EVERY rollup level of `groupCols` in one pass:
    * document and token totals per (lang, source), per lang, and grand
    * total — the mixture table a pretraining run is provisioned from.
    * Lowers to Spark's native ROLLUP (one Expand + one keyed aggregation:
    * each row fans out to its |groupCols|+1 grouping sets map-side and
    * every level partially aggregates before the single exchange — the
    * plan beats |levels| separate scans by reading the corpus once).
    * `grouping_id` disambiguates a rolled-up level's NULL from a NULL data
    * value, exactly as in SQL.
    */
  def corpusMix(
      df: DataFrame, groupCols: Seq[String], textCol: String): DataFrame = {
    require(groupCols.nonEmpty, "roll up over at least one column")
    df.select(groupCols.map(col) :+
        TextAnalysis.tokenCount(col(textCol)).as("__tc"): _*)
      .rollup(groupCols.map(col): _*)
      .agg(grouping_id().cast("int").as("grouping_level"),
        count(lit(1)).as("n_docs"), sum(col("__tc")).as("n_tokens"))
  }

  /** One row per non-empty lowercased whitespace token, keeping `extra`
    * columns — the tokenization convention every token oracle mirrors as
    * DuckDB's `string_split_regex(trim(lower(text)), '\s+')`; q78/q83/q87
    * all hash against it. It is [[TextAnalysis.wordRows]], the token
    * stream BM25 and BPE training read too, over the one word split.
    */
  private def tokens(df: DataFrame, textCol: String, extra: Column*): DataFrame =
    TextAnalysis.wordRows(df, textCol, "token", extra: _*)

  /** Exact corpus-wide top-`k` tokens by occurrence count, ties broken by
    * token string so the released set is deterministic on any engine. The
    * plan at scale: explode is a map-side projection, the count aggregates
    * partially before its one shuffle (65k-ish distinct tokens, tiny), and
    * Spark lowers orderBy+limit to TakeOrderedAndProject — per-partition
    * top-k heaps merged on the driver, never a global sort of the
    * vocabulary.
    */
  def topKTokens(df: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be positive")
    tokens(df, textCol)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Vocabulary coverage curve: the top-`topN` tokens by corpus frequency
    * (count desc, token tiebreak — the [[topKTokens]] rule), each with
    * its rank and the CUMULATIVE share of all token occurrences covered
    * through that rank, as truncating integer ppm. The vocab-sizing
    * question ("how many entries cover 95% of the corpus?") read
    * straight off the released table; the Zipf tail it exposes drives
    * BPE merge budgets and OOV policy.
    *
    * Scale shape: one token-keyed count aggregate with map-side partials
    * (the corpus-sized work), then ordering and the running sum over the
    * BOUNDED `topN`-row result only — the single-partition window is
    * capped by the knob (require'd <= 100k), never by data volume. The
    * grand total rides a single-row broadcast.
    */
  def coverageCurve(
      df: DataFrame, textCol: String, topN: Int,
      ppmScale: Long = 1000000L): DataFrame = {
    require(topN >= 1 && topN <= 100000,
      s"topN must be in [1, 1e5] (it bounds a single-partition sort), " +
        s"got $topN")
    Inputs.ppmScale(ppmScale)
    val counts = tokens(df, textCol)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__tot"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))))
      .withColumn("cum_n", sum(col("n")).over(w))
      .select(col("rank").cast("long").as("rank"), col("token"), col("n"),
        call_function("div", // decimal-widened: no long wrap at 100-TB counts
          col("cum_n").cast("decimal(38,0)") * lit(ppmScale),
          col("__tot").cast("decimal(38,0)")).as("cum_ppm"))
  }

  /** Snapshot diff between two corpus versions: one row per document id
    * present in either side, with its status — `added` (new only),
    * `removed` (old only), `changed` (both, canonical fingerprints
    * differ), `kept` (both, fingerprints equal). The corpus-versioning
    * primitive behind incremental reprocessing: downstream stages rerun on
    * `added` + `changed` only instead of the full 100 TB. Comparison uses
    * [[TextAnalysis.fingerprint]] (case-folded, whitespace-collapsed md5),
    * so formatting-only edits read as `kept`. Plan shape: both sides
    * reduce to (id, 16-byte fingerprint) projections BEFORE the one
    * full-outer join keyed on the id — document text never shuffles.
    */
  def corpusDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // presence is tracked by an explicit marker, NOT by fingerprint
    // nullness: fingerprint(NULL text) is NULL, which used to read as
    // "absent" — a doc present on both sides with a null text on either
    // was misclassified added/removed, and incremental reprocessing
    // driven by added+changed re-ran or missed it
    def fp(df: DataFrame, name: String, here: String) = df.select(
      col(idCol), TextAnalysis.fingerprint(col(textCol)).as(name),
      lit(true).as(here))
    fp(oldDf, "__old", "__inOld")
      .join(fp(newDf, "__new", "__inNew"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__inOld").isNull, lit("added"))
          .when(col("__inNew").isNull, lit("removed"))
          .when(col("__old") <=> col("__new"), lit("kept"))
          .otherwise(lit("changed")))
      .select(col(idCol), col("status"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top
    * `vocabSize` tokens — the rare-token quality signal (gibberish, OCR
    * noise, and wrong-language text score high) used alongside the
    * C4/Gopher gates. Occurrences count, not distinct tokens, and documents
    * with no tokens emit no row. Scale shape: the vocabulary reduces to
    * `vocabSize` rows (TakeOrderedAndProject, ties on the token string so
    * the set is deterministic) and broadcasts; each scan task probes its
    * token stream against the resident set; the only shuffle is the
    * id-keyed count agg, partially combined map-side. The rate is a ratio
    * of two small ints — engine-portable.
    */
  def oovRate(
      df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    val vocab = topKTokens(df, textCol, vocabSize)
      .select(col("token"), lit(1L).as("__inv"))
    tokens(df, textCol, col(idCol))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - coalesce(sum("__inv"), lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Token frequency spectrum (frequency of frequencies): how many
    * distinct tokens occur exactly k times — the Zipf profile that sizes
    * vocabularies, tunes min-count cutoffs, and flags synthetic repetition
    * (a natural corpus is near-linear in log-log; generated loops spike).
    * Two keyed aggregations, both map-side combinable; the second runs
    * over one row per distinct occurrence count (a few hundred at any
    * corpus size), and no ordering is imposed anywhere.
    */
  def tokenSpectrum(df: DataFrame, textCol: String): DataFrame =
    tokens(df, textCol)
      .groupBy("token").agg(count(lit(1)).as("occurrences"))
      .groupBy("occurrences").agg(count(lit(1)).as("n_tokens"))

  /** Per-group top-k token heavy hitters — per-language / per-source
    * vocabulary summaries for corpus mix reports. Unlike the global top-k
    * (TakeOrderedAndProject), a per-group limit needs a rank over each
    * group: count by (group, token) with map-side combine, then a
    * streaming row_number window per group keeps k rows. Ties at the
    * boundary break on the token string, so the released set is
    * deterministic on any engine. Two shuffles total, both keyed; state is
    * O(distinct tokens per group) in the agg and O(1) in the window.
    */
  def topKTokensByGroup(
      df: DataFrame, groupCol: String, textCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be positive")
    val counts = tokens(df, textCol, col(groupCol))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("n").desc, col("token"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-document top-k TF-IDF terms: the k tokens most characteristic of
    * each document, scored tf * ln(N / df) over the corpus's own document
    * frequencies — the classic relevance/quality signal for keyword
    * extraction and topic drift checks.
    *
    * Scale shape: (id, token) term frequencies aggregate with map-side
    * combine (one keyed shuffle); document frequencies reduce THOSE
    * already-distinct pairs by token (second keyed shuffle, vocabulary
    * sized); the scalar N arrives via a broadcast one-row cross join; the
    * per-document limit is a streaming row_number window, which Spark
    * runs as a partial WindowGroupLimit BEFORE the window exchange. No
    * global sort, no driver state.
    *
    * Output is (id, rank, token, tf, df) — integers and strings only.
    * The ln-based score stays internal: engine libm implementations may
    * differ in the last ulp, so released doubles would not be
    * bit-portable, but the RANKING they induce is stable (same rationale
    * as the kNN rank-only contract; ties break on the token string).
    */
  def topTfidfTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // the (id, token, tf) aggregate feeds BOTH the document-frequency
    // reduction and the score join; left lazy, the planner duplicated the
    // whole scan+tokenize+shuffle subtree (verified r15: two identical
    // concurrent map stages, no AQE stage reuse on this shape), i.e. the
    // 100-TB corpus would be read and split TWICE. Materialize the
    // aggregate once — the checkpoint holds the same bytes the exchange
    // already spilled to local disk (guide §2.4/§5)
    val tf = tokens(df, textCol, col(idCol))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .pin("CorpusStats.topTfidfTerms tf")
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count_distinct(col(idCol)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("token"))
    tf.join(docFreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("__score",
        col("tf") * log(col("__n").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"), col("token"),
        col("tf"), col("df"))
  }

  /** Per-document unigram language-model score — the perplexity proxy used
    * to rank documents by "typicality" under the corpus's own token
    * distribution (the classic data-selection signal: wrong-language,
    * OCR-noise, and template documents sit in the high-NLL tail; degenerate
    * repetition sits in the low tail). Each document scores the mean
    * negative log-likelihood of its tokens, -1/n * sum ln(c_t / T), where
    * c_t is the token's corpus count and T the corpus token total.
    *
    * Scale shape: one token-keyed count builds the unigram table
    * (vocabulary-sized, map-side combined); the scalar T arrives by a
    * broadcast one-row cross join; the token stream joins the vocabulary
    * (vocabulary side is the small one — broadcast- or shuffle-joined at
    * Catalyst's discretion) and the only remaining shuffle is the id-keyed
    * per-document aggregation, partially combined map-side.
    *
    * Portability: a raw sum of ln() doubles is order- and libm-dependent,
    * so each token's cost is quantized ONCE to integer micro-nats,
    * round(ln(T/c_t) * 1e6) — costs are >= 0 so half-up and half-away
    * rounding agree — and documents sum exact integers. Released columns
    * are two BIGINTs and their exact ratio: a libm last-ulp difference
    * would have to land within ~1e-16 of a 0.5-micro-nat boundary to flip
    * a released value. Documents with no tokens emit no row (q97's rule).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(df, textCol, col(idCol))
    val unigrams = t.groupBy("token").agg(count(lit(1)).as("__c"))
    val total = unigrams.agg(sum(col("__c")).as("__t"))
    val costs = unigrams.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("__t").cast("double") / col("__c").cast("double")) * 1e6, 0)
          .cast("long").as("__cost_e6"))
    t.join(costs, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__cost_e6")).as("nll_sum_e6"))
      .withColumn("mean_nll_e6",
        col("nll_sum_e6").cast("double") / col("n_tokens").cast("double"))
  }

  /** Bigram language-model scoring with add-k smoothing — the CCNet-style
    * perplexity-proxy one LM level above [[unigramLogProb]]: a document's
    * transitions score -ln P(w_i | w_{i-1}) with
    * P(v | u) = (c(u,v) + k) / (c(u) + k*V), where c(u,v) is the corpus
    * bigram count, c(u) the count of u as a predecessor (the row sum of
    * c(u,·)), and V the corpus vocabulary size. Repetitive/template text
    * scores low, wrong-language and OCR-noise text scores high — and unlike
    * the unigram score, scrambled word salad no longer looks "typical".
    * Documents with fewer than two tokens have no transitions and emit no
    * row (q97's rule, matching [[unigramLogProb]]).
    *
    * Scale shape: the transition stream is a pure per-row projection (a JVM
    * kernel pairs the consecutive tokens of the SAME canonical Spark
    * tokenization `tokens` uses — interpreted higher-order zips re-evaluate
    * their captured split per element, the q71 lesson); the bigram-type
    * count is (u,v)-keyed and map-side combined; context counts come from
    * the bigram table itself (vocabulary-sized row sum, no second pass over
    * the data); the scalar V arrives by a broadcast one-row cross join; the
    * transition stream joins the cost table on (u,v) and the only remaining
    * shuffle is the id-keyed per-document aggregation.
    *
    * Portability: per-transition costs quantize ONCE to integer micro-nats,
    * round(ln((c(u)+kV)/(c(u,v)+k)) * 1e6) — the ratio is >= 1 because
    * c(u) >= c(u,v) and V >= 1, so costs are >= 0 and half-up/half-away
    * rounding agree — and documents sum exact BIGINTs (q107's discipline).
    */
  def bigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = Materialize.scoped { reuse =>
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val base = Dedup.spread(df).select(col(idCol),
      when(length(trim(col(textCol))) > 0,
        TextAnalysis.wordsLower(col(textCol)))
        .otherwise(array().cast("array<string>")).as("__ts"))
    val biUdf = udf((ts: Seq[String]) =>
      if (ts == null || ts.length < 2) Array.empty[(String, String)]
      else Array.tabulate(ts.length - 1)(i => (ts(i), ts(i + 1))))
    // every exchange carries 8-byte hashes, never gram strings (the q71
    // discipline): __g identifies the (u, v) transition type, __hu its
    // context u. A 64-bit collision can only merge two transition types
    // (odds ~|types|^2 / 2^64), nudging two cost integers — never a
    // structural error
    val bi = base.select(col(idCol), explode(biUdf(col("__ts"))).as("__b"))
      .select(col(idCol),
        xxhash64(col("__b._1"), col("__b._2")).as("__g"),
        xxhash64(col("__b._1")).as("__hu"))
    // the bigram-type table feeds BOTH the cost model and the context row
    // sums: reuse it so the corpus-wide aggregation runs once, then pin
    // the finished (small, model-sized) cost table eagerly — the final
    // per-document join re-derives only the cheap transition stream, and
    // AQE picks that join's strategy from the checkpoint's REAL size
    // instead of a UDF-generate guess
    val cuv = reuse(bi.groupBy("__g", "__hu").agg(count(lit(1)).as("__cuv")))
    val cu = cuv.groupBy("__hu").agg(sum(col("__cuv")).as("__cu"))
    val vocab = base.select(explode(col("__ts")).as("__tok"))
      .agg(countDistinct(col("__tok")).as("__vsz"))
    val costs = cuv.join(cu, "__hu").crossJoin(broadcast(vocab))
      .select(col("__g"),
        round(log((col("__cu").cast("double") + lit(k) * col("__vsz").cast("double")) /
          (col("__cuv").cast("double") + lit(k))) * 1e6, 0)
          .cast("long").as("__cost_e6"))
      .pin("CorpusStats.bigramLogProb costs")
    bi.join(costs, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__cost_e6")).as("nll_sum_e6"))
      .withColumn("mean_nll_e6",
        col("nll_sum_e6").cast("double") / col("n_bigrams").cast("double"))
  }

  /** N-gram document frequency: the distinct word n-grams appearing in at
    * least `minDocs` distinct documents — the census that finds boilerplate
    * (headers, disclaimers, navigation) worth stripping before training.
    * Each document contributes each of its n-grams once (distinct within
    * doc), so a single spammy document cannot promote its own repetition
    * to "boilerplate". Shuffles are keyed on the gram; the ≥ minDocs
    * filter runs after a map-side-combinable count, so only true heavy
    * grams reach the driver-facing result.
    */
  def ngramDocFrequency(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      minDocs: Long): DataFrame = {
    require(n >= 1, "n must be positive")
    require(minDocs >= 1, "minDocs must be positive")
    // shingling runs in the shared tight JVM kernel (documents shorter than
    // n words contribute their whole text as the single gram): the
    // declarative transform/slice/array_join chain is a higher-order
    // function — interpreted, no codegen — and measured ~2x slower on the
    // bench; `spread` fans the per-row work out of a small scan's few splits
    val grams = Dedup.spread(df)
      .select(col(idCol),
        explode(Dedup.lowerShinglesCol(col(textCol), n)).as("gram"))
      // the kernel dedupes grams within a row; a document ingested twice
      // (same id, two rows) must still vote once, so dedupe (id, gram)
      // pairs — a partial/final hash aggregate, cheap because the kernel
      // already collapsed within-row repeats — before the gram count.
      // Plain count then IS the distinct-doc count, avoiding
      // countDistinct's Expand plan.
      .dropDuplicates(idCol, "gram")
    grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** FNV-1a 64-bit over UTF-16 code units — the internal line key for
    * [[stripBoilerplateLines]]. Never released, so it needs no SQL mirror;
    * it only has to be one fixed function of the line in both passes.
    */
  private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** CCNet/RefinedWeb-style line-level boilerplate removal: a line (split
    * on `\n`, space-trimmed) that appears in at least `minDocs` DISTINCT
    * documents is boilerplate — headers, cookie banners, navigation — and
    * is struck from every document. Blank lines are never counted and
    * never removed. Returns the input rows with `textCol` rewritten and an
    * added `n_removed` count per row.
    *
    * Scale shape: the census shuffles only 8-byte line hashes — one
    * (id, hash) dedupe so a re-ingested duplicate row still votes once,
    * then a map-side-combinable count. The qualifying set is collected
    * under an enforced bound (boilerplate is frequent-by-definition, so
    * the set is small; `maxBoilerplateLines` longs ~ 32 MB broadcast at
    * the default) and the rewrite is a pure map-side projection — corpus
    * text NEVER shuffles, exactly like benchmark decontamination.
    *
    * Collision caveat: two distinct lines colliding under the 64-bit hash
    * would be struck together (P ~ n^2 / 2^64 — at 10^9 distinct frequent
    * lines, ~3%; at the realistic 10^6, ~1e-7). The release itself is
    * hash-free.
    */
  def stripBoilerplateLines(
      df: DataFrame, idCol: String, textCol: String, minDocs: Long,
      maxBoilerplateLines: Int = 1 << 22): DataFrame = {
    require(minDocs >= 2,
      "minDocs must be at least 2: every non-blank line appears in its own document")
    Inputs.free(df, "stripBoilerplateLines", "__rw", "n_removed")
    val spark = df.sparkSession
    val lineHashes = udf((t: String) =>
      if (t == null) Array.empty[Long]
      else {
        val seen = new java.util.HashSet[Long]
        t.split("\n", -1).foreach { raw =>
          val l = TextAnalysis.spaceTrim(raw)
          if (l.nonEmpty) seen.add(fnv1a64(l))
        }
        val out = new Array[Long](seen.size)
        val it = seen.iterator()
        var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      })
    val census = Dedup.spread(df)
      .select(col(idCol).as("__id"), explode(lineHashes(col(textCol))).as("__h"))
      // the kernel dedupes within a row; this extends the one-vote rule to
      // duplicate rows of the same document (same pattern as
      // ngramDocFrequency)
      .dropDuplicates("__id", "__h")
      .groupBy("__h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minDocs)
    // bounded collect: one row past the bound proves overflow without
    // materializing an unbounded set on the driver
    val bad = census.select("__h").limit(maxBoilerplateLines + 1)
      .collect().map(_.getLong(0))
    require(bad.length <= maxBoilerplateLines,
      s"more than $maxBoilerplateLines boilerplate lines at minDocs=$minDocs; " +
        "raise minDocs or maxBoilerplateLines")
    val badSet = new java.util.HashSet[java.lang.Long](bad.length * 2)
    bad.foreach(badSet.add(_))
    val bc = spark.sparkContext.broadcast(badSet)
    val rewrite = udf((t: String) =>
      if (t == null) null
      else {
        val set = bc.value
        val lines = t.split("\n", -1)
        val kept = new scala.collection.mutable.ArrayBuffer[String](lines.length)
        var removed = 0L
        lines.foreach { raw =>
          val l = TextAnalysis.spaceTrim(raw)
          if (l.nonEmpty && set.contains(fnv1a64(l))) removed += 1
          else kept += raw
        }
        (kept.mkString("\n"), removed)
      })
    df.withColumn("__rw", rewrite(col(textCol)))
      .withColumn(textCol, col("__rw._1"))
      .withColumn("n_removed", col("__rw._2"))
      .drop("__rw")
  }

  /** Frequent co-occurring pairs (the first two A-priori levels): every
    * unordered item pair appearing together in at least `minSupport`
    * distinct baskets, with its support — co-purchase analysis, tag
    * affinity, "documents sharing rare token pairs". Support counts
    * BASKETS (a basket with the pair twice counts once); rows with a NULL
    * basket or item drop.
    *
    * A-priori pruning is the scale lever: a pair can reach `minSupport`
    * only if both items do, so the basket-keyed self-join runs on the
    * FREQUENT (basket, item) incidence only — the long tail of one-off
    * items (most of any real catalog) never enters the quadratic stage.
    * Plan: one (basket, item) distinct, one item-keyed support aggregate,
    * a semi-join to keep frequent incidence (runtime bloom/broadcast —
    * Catalyst's choice), one basket-keyed self-join emitting each
    * basket's frequent-pair wedges, one pair-keyed count. The per-basket
    * wedge count is quadratic in the basket's FREQUENT-item count, so
    * `maxBasketItems` refuses loudly (naming the knob and the basket)
    * when a degenerate basket would explode the join, rather than
    * silently stalling a 100-TB run.
    */
  def frequentPairs(
      df: DataFrame, basketCol: String, itemCol: String, minSupport: Long,
      maxBasketItems: Int = 10000): DataFrame = {
    Inputs.present(df, "input", basketCol, itemCol)
    // bi appears twice below (support agg + semi-join probe) but only
    // within single jobs — ReuseExchange dedups the distinct's shuffle
    // inside each plan, so only `kept` (read by the guard job AND the
    // pair job) is reused
    val bi = df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    frequentPairsOn(bi, minSupport, maxBasketItems)
  }

  /** [[frequentPairs]] body over an ALREADY-deduplicated (__b, __i)
    * incidence — the shared kernel [[pairAffinity]] reuses so its own
    * deduplicated (and cached) incidence is not re-distinct'd a
    * second time (one full shuffle saved).
    */
  private def frequentPairsOn(
      bi: DataFrame, minSupport: Long, maxBasketItems: Int): DataFrame =
    frequentPairsWith(bi, bi.groupBy("__i").agg(count(lit(1)).as("__s")),
      minSupport, maxBasketItems)

  /** [[frequentPairsOn]] against a CALLER-SUPPLIED per-item support
    * aggregate (must be exactly `bi.groupBy(__i).count`): pairAffinity
    * needs the same aggregate again for its lift/confidence joins, and
    * passing it in lets Catalyst's exchange reuse serve both consumers
    * from ONE shuffle instead of re-aggregating the incidence twice
    * (r14, guide §2.4 "two operations keyed the same way share one
    * exchange").
    */
  private def frequentPairsWith(
      bi: DataFrame, supports: DataFrame, minSupport: Long,
      maxBasketItems: Int): DataFrame = Materialize.scoped { reuse =>
    // parameter validation lives HERE so both entry points (frequentPairs
    // and pairAffinity) share it: minSupport = 0 through pairAffinity used
    // to disable the A-priori prune silently and release every
    // co-occurring pair — the quadratic tail the prune exists to kill
    require(minSupport >= 1L, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketItems >= 2, s"maxBasketItems must be >= 2, got $maxBasketItems")
    val freqItems = supports
      .where(col("__s") >= minSupport)
      .select(col("__i"))
    val kept = reuse(bi.join(freqItems, Seq("__i"), "left_semi"))
    val big = kept.groupBy("__b").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBasketItems).limit(1).collect()
    require(big.isEmpty, {
      val r = big.head
      s"frequentPairs: basket ${r.get(0)} holds ${r.getLong(1)} frequent " +
        s"items (> maxBasketItems=$maxBasketItems); its wedge fan-out " +
        "would be quadratic — raise maxBasketItems or pre-filter"
    })
    kept.as("a").join(kept.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .pin("CorpusStats.frequentPairs")
  }

  /** [[frequentPairs]] plus the association strength every basket
    * analysis actually ranks by: per surviving pair its two item
    * supports, the basket universe size, and the exact truncating lift
    * `lift_ppm = (support * n_baskets * ppmScale) div (support_a *
    * support_b)` — ppmScale (1e6) = independence, above it the pair
    * co-occurs MORE than its items' popularity predicts (the
    * recommendation signal), below it less (substitutes). Confidence in
    * both directions rides the same row: `conf_a_to_b_ppm = (support *
    * ppmScale) div support_a` and the mirror.
    *
    * All products run in decimal(38,0) before the truncating division,
    * so no count magnitude a long can hold overflows the arithmetic —
    * the released integers are defined by the formula alone and any
    * exact engine reproduces them bit for bit.
    *
    * Scale shape: [[frequentPairs]]'s plan (A-priori semi-join pruning,
    * loud `maxBasketItems` refusal) plus two keyed joins of the PAIR
    * table (bounded by surviving pairs, not data) against the item
    * support table, and one single-row basket-count broadcast. The item
    * support aggregate it joins is the SAME aggregate A-priori already
    * computed — re-derived here over the pruned incidence, still one
    * shuffle of (item) keys.
    */
  def pairAffinity(
      df: DataFrame, basketCol: String, itemCol: String, minSupport: Long,
      maxBasketItems: Int = 10000,
      ppmScale: Long = 1000000L): DataFrame = Materialize.scoped { reuse =>
    Inputs.ppmScale(ppmScale)
    Inputs.present(df, "input", basketCol, itemCol)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val bi = reuse(df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct())
    // ONE per-item support aggregate feeds both the A-priori prune inside
    // frequentPairsWith and the lift/confidence joins below. r14 passed the
    // same LAZY aggregate to both and leaned on Catalyst exchange reuse —
    // but the consumers run in DIFFERENT JOBS (the guard collect vs the
    // final checkpoint), and exchange reuse never spans jobs, so the
    // aggregate re-scanned the cached incidence once per job (r14
    // verdict item 5: no ReusedExchange in the plan dump). Materialize it
    // instead: one item-keyed shuffle total, every consumer scans the
    // checkpointed rows (guide §2.4 / §5 — it is REUSED and recomputing
    // costs a full pass over the incidence).
    val supports = bi.groupBy(col("__i")).agg(count(lit(1)).as("__s"))
      .pin("CorpusStats.pairAffinity supports")
    val pairs = frequentPairsWith(bi, supports, minSupport, maxBasketItems)
    val nBaskets = bi.agg(countDistinct(col("__b")).as("n_baskets"))
    pairs
      .join(supports.select(col("__i").as("item_a"),
        col("__s").as("support_a")), Seq("item_a"))
      .join(supports.select(col("__i").as("item_b"),
        col("__s").as("support_b")), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("support"),
        col("support_a"), col("support_b"), col("n_baskets"),
        idiv(dec(col("support")) * dec(col("n_baskets")) * lit(ppmScale),
          dec(col("support_a")) * dec(col("support_b"))).as("lift_ppm"),
        idiv(dec(col("support")) * lit(ppmScale), dec(col("support_a")))
          .as("conf_a_to_b_ppm"),
        idiv(dec(col("support")) * lit(ppmScale), dec(col("support_b")))
          .as("conf_b_to_a_ppm"))
      .pin("CorpusStats.pairAffinity")
  }

  /** Pairwise correlation building blocks for a set of integral columns:
    * per unordered pair (col_x < col_y) the joint non-null count and the
    * five exact sums of the Pearson normal equations — `sum_x, sum_y,
    * sum_xx, sum_yy, sum_xy` — as EXACT integers, the [[groupTrend]]
    * discipline widened to every pair. The caller (or dashboard) forms
    * r = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2)(n*syy - sy^2)) in floats
    * at display time; the RELEASE carries no float, so any engine
    * reproduces it bit for bit and downstream recomputation never
    * drifts.
    *
    * Per-pair semantics: a row contributes to pair (x, y) iff BOTH
    * values are non-null (pairwise deletion, the standard profiling
    * convention — listwise deletion would let one always-null column
    * empty every pair).
    *
    * Sums accumulate in decimal(38,0); a single long*long product fits
    * (≤ ~1.7e37), but the SUM itself can still exceed 38 digits at
    * extreme row counts × magnitudes. Every failure shape is LOUD:
    * under ANSI mode (the Spark 4 default) the decimal SUM raises
    * NUMERIC_VALUE_OUT_OF_RANGE itself; with ANSI off the SUM NULLs
    * out and a NULL sum alongside a positive count raises here (the
    * pre-r12 code coalesced it to a silent 0); and a finite sum past
    * Long.MaxValue raises before the long release (`raise_error`
    * names the pair). Only a genuinely empty pair (n = 0) releases
    * zeros.
    *
    * Scale shape: ONE full-scan aggregate computes all C*(C-1)/2 pairs'
    * sums as map-side-partial columns (C is require-bounded at 16, so
    * the aggregate row stays narrow); the pair rows then explode from
    * that SINGLE aggregated row. One exchange of one row — the scan
    * dominates, as it must.
    */
  def correlationSums(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationSums needs at least two columns")
    require(cols.size <= 16,
      s"correlationSums is bounded at 16 columns (${cols.size} given) — " +
        "120 pair columns is the sane aggregate width; split wider " +
        "profiles into batches")
    require(cols.distinct.size == cols.size, "duplicate column in cols")
    Inputs.present(df, "input", cols: _*)
    Inputs.integral(df, "correlationSums", "column for exactness", cols: _*)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case ((cx, cy), k) =>
      val both = col(cx).isNotNull && col(cy).isNotNull
      val x = when(both, col(cx).cast("long"))
      val y = when(both, col(cy).cast("long"))
      Seq(
        count(x).as(s"__n$k"),
        sum(dec(x)).as(s"__sx$k"), sum(dec(y)).as(s"__sy$k"),
        sum(dec(x) * dec(x)).as(s"__sxx$k"),
        sum(dec(y) * dec(y)).as(s"__syy$k"),
        sum(dec(x) * dec(y)).as(s"__sxy$k"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val maxLong = lit(Long.MaxValue).cast("decimal(38,0)")
    // Two distinct NULL sources must not conflate: SUM over zero rows is
    // NULL (release 0 — an empty pair), and a decimal(38,0) OVERFLOW is
    // also NULL under non-ANSI mode (raise — pre-r12 this coalesced to a
    // silent 0, defeating the loud-overflow contract below).
    def asLong(c: Column, n: Column, cx: String, cy: String,
        what: String): Column =
      when(c.isNull && n > 0L,
        raise_error(lit(s"correlationSums: $what overflowed " +
          s"decimal(38,0) for pair ($cx, $cy) — pre-scale the columns " +
          "down")).cast("long"))
        .when(abs(coalesce(c, lit(0)).cast("decimal(38,0)")) > maxLong,
          raise_error(lit(s"correlationSums: $what overflows a long for " +
            s"pair ($cx, $cy) — pre-scale the columns down")).cast("long"))
        .otherwise(coalesce(c, lit(0)).cast("long"))
    val rows = pairs.zipWithIndex.map { case ((cx, cy), k) =>
      val n = col(s"__n$k")
      struct(lit(cx).as("col_x"), lit(cy).as("col_y"),
        n.as("n"),
        asLong(col(s"__sx$k"), n, cx, cy, "sum_x").as("sum_x"),
        asLong(col(s"__sy$k"), n, cx, cy, "sum_y").as("sum_y"),
        asLong(col(s"__sxx$k"), n, cx, cy, "sum_xx").as("sum_xx"),
        asLong(col(s"__syy$k"), n, cx, cy, "sum_yy").as("sum_yy"),
        asLong(col(s"__sxy$k"), n, cx, cy, "sum_xy").as("sum_xy"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }
}
