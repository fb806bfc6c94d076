package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations: a rule set validated in as few
  * passes as the rules allow, released as one report row per rule —
  * (rule, n_rows, n_violations, pass). The contract-checking step every
  * ingest pipeline runs before promoting a batch (the dbt-test / Deequ
  * shape), kept deterministic so the report itself is oracle-checkable.
  *
  * Plan shape by rule class:
  *  - ROW-LOCAL rules (not-null, range, set, regex) all fold into ONE
  *    aggregate over ONE scan — a rule is a `sum(case when violated)`
  *    column, so 10 row-local rules cost the same scan as 1;
  *  - [[Expect.Unique]] rides the same pass as
  *    `n_rows - count(DISTINCT struct(cols))` (extra rows beyond the
  *    first per key are the violations);
  *  - [[Expect.ForeignKey]] is one left-anti join per rule against the
  *    referenced side (broadcast when the dim is small, shuffle
  *    otherwise — Catalyst's choice).
  *
  * Violation SEMANTICS are per ROW (a row with a null in a not-null
  * column is one violation), so counts add up across batches.
  */
object Quality {

  sealed trait Expect { def name: String }
  object Expect {
    /** Column must never be null. */
    final case class NotNull(column: String) extends Expect {
      def name = s"not_null($column)"
    }
    /** Numeric column within [lo, hi] (inclusive); nulls violate. */
    final case class InRange(column: String, lo: Double, hi: Double)
        extends Expect {
      require(lo <= hi, s"range [$lo, $hi] is empty")
      def name = s"in_range($column, $lo, $hi)"
    }
    /** String column within an allowed value set; nulls violate. */
    final case class InSet(column: String, values: Seq[String]) extends Expect {
      require(values.nonEmpty, "InSet needs at least one allowed value")
      def name = s"in_set($column)"
    }
    /** String column fully matches the (Java) regex; nulls violate. */
    final case class MatchesRegex(column: String, pattern: String)
        extends Expect {
      def name = s"matches_regex($column)"
    }
    /** Key columns identify rows uniquely; the extra rows beyond the
      * first per key are the violations.
      */
    final case class Unique(columns: Seq[String]) extends Expect {
      require(columns.nonEmpty, "Unique needs at least one column")
      def name = s"unique(${columns.mkString(", ")})"
    }
    /** Every non-null key must exist in `dim` — referential integrity.
      * Rows with any null key column are skipped (SQL FK semantics);
      * `dimName` labels the rule.
      */
    final case class ForeignKey(
        columns: Seq[String], dim: DataFrame, dimColumns: Seq[String],
        dimName: String) extends Expect {
      require(columns.nonEmpty && columns.size == dimColumns.size,
        s"ForeignKey needs matching key lists, got $columns vs $dimColumns")
      def name = s"foreign_key(${columns.mkString(", ")} -> $dimName)"
    }
  }

  private def validateRules(df: DataFrame, rules: Seq[Expect]): Unit = {
    require(rules.nonEmpty, "at least one expectation required")
    require(rules.map(_.name).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_.name).mkString("; ")}")
    rules.foreach { r =>
      val side = s"input of rule ${r.name}"
      r match {
        case fk: Expect.ForeignKey =>
          Inputs.present(fk.dim, s"dim '${fk.dimName}'", fk.dimColumns: _*)
          Inputs.present(df, side, fk.columns: _*)
        case u: Expect.Unique => Inputs.present(df, side, u.columns: _*)
        case Expect.NotNull(c) => Inputs.present(df, side, c)
        case Expect.InRange(c, _, _) => Inputs.present(df, side, c)
        case Expect.InSet(c, _) => Inputs.present(df, side, c)
        case Expect.MatchesRegex(c, _) => Inputs.present(df, side, c)
      }
    }
  }

  /** Per-row violation predicate for ROW-LOCAL rules; None for the
    * relational rules (Unique, ForeignKey), which need other rows.
    */
  private def violated(rule: Expect): Option[org.apache.spark.sql.Column] =
    rule match {
      case Expect.NotNull(c) => Some(col(c).isNull)
      case Expect.InRange(c, lo, hi) =>
        // try_cast, explicitly: a non-null value whose double parse FAILS
        // (e.g. "N/A") must VIOLATE the rule, deterministically — a plain
        // cast either THROWS mid-scan (ANSI, the Spark 4 default, killing
        // the whole validation job on the first bad cell) or yields NULL
        // (ANSI off), where the raw predicate went NULL and
        // sum(when(NULL,..)) silently counted the row as PASSING
        Some(col(c).isNull || expr(s"try_cast(`$c` as double)").isNull ||
          expr(s"try_cast(`$c` as double)") < lo ||
          expr(s"try_cast(`$c` as double)") > hi)
      case Expect.InSet(c, vs) => Some(col(c).isNull || !col(c).isin(vs: _*))
      case Expect.MatchesRegex(c, p) =>
        Some(col(c).isNull || !col(c).rlike("^(?:" + p + ")$"))
      case _ => None
    }

  /** Validate `df` against `rules`; one report row per rule, in rule
    * order: (rule, n_rows, n_violations, pass).
    */
  def report(df: DataFrame, rules: Seq[Expect]): DataFrame = {
    validateRules(df, rules)
    val spark = df.sparkSession
    import spark.implicits._

    // one scan: every row-local rule is a conditional sum; Unique rides
    // along as n_rows - distinct keys
    val singlePass = rules.flatMap {
      case u: Expect.Unique =>
        Seq((count(lit(1)) -
          countDistinct(struct(u.columns.map(col): _*))).as(u.name))
      case r => violated(r).map(v =>
        sum(when(v, 1L).otherwise(0L)).as(r.name))
    }
    val aggRow = df.agg(count(lit(1)).as("__n"), singlePass: _*).head()
    val nRows = aggRow.getLong(0)

    val fkCounts: Map[String, Long] = rules.collect {
      case fk: Expect.ForeignKey =>
        val keyed = df.select(fk.columns.map(col): _*)
          .where(fk.columns.map(col(_).isNotNull).reduce(_ && _))
        val dimKeys = fk.dim
          .select(fk.dimColumns.zip(fk.columns)
            .map { case (dc, c) => col(dc).as(c) }: _*)
        fk.name -> keyed.join(dimKeys, fk.columns, "left_anti").count()
    }.toMap

    val rows = rules.map { r =>
      val v = r match {
        case fk: Expect.ForeignKey => fkCounts(fk.name)
        case _ => if (aggRow.isNullAt(aggRow.fieldIndex(r.name))) 0L
          else aggRow.getLong(aggRow.fieldIndex(r.name))
      }
      (r.name, nRows, v, v == 0L)
    }
    rows.toDF("rule", "n_rows", "n_violations", "pass")
  }

  /** Row-level companion to [[report]]: the VIOLATING rows themselves,
    * each tagged with `violated_rules` — the names of every rule the row
    * breaks, in rule order — ready to route to a quarantine sink while
    * the clean rows promote. [[report]] says HOW MANY; this says WHICH.
    *
    * Semantics per rule class:
    *  - ROW-LOCAL rules tag exactly the rows [[report]] counts;
    *  - [[Expect.Unique]] tags EVERY member of a duplicated key group
    *    (the gate cannot know which copy is the keeper — that is a dedup
    *    policy decision, not a quality fact), so its tag count is
    *    n_violations + number of duplicated keys vs the report, which
    *    counts only the extras beyond the first;
    *  - [[Expect.ForeignKey]] tags rows whose fully-non-null key is
    *    absent from the dim (null-keyed rows are skipped, SQL FK
    *    semantics — matching the report).
    *
    * Plan shape: row-local rules are ONE codegen'd projection on the
    * main scan; Unique adds one key-keyed aggregate joined back
    * (duplicated keys only — a near-empty broadcast in healthy data);
    * each ForeignKey adds one left join against the distinct dim keys
    * (broadcast when small, Catalyst's choice). Rows violating nothing
    * are filtered before any sink write.
    */
  def quarantine(df: DataFrame, rules: Seq[Expect]): DataFrame = {
    validateRules(df, rules)
    val flags = rules.indices.map(i => s"__q$i")
    // relational rules join back on __qk_<col> aliases — a colliding input
    // column makes both join sides carry the name (ambiguous-reference
    // error deep in planning); refuse with the collision named instead
    val joinKeys = rules.flatMap {
      case u: Expect.Unique => u.columns
      case fk: Expect.ForeignKey => fk.columns
      case _ => Nil
    }.map(c => s"__qk_$c")
    Inputs.free(df, "quarantine", "violated_rules" +: (flags ++ joinKeys): _*)
    var cur = df
    rules.zipWithIndex.foreach { case (r, i) =>
      val f = flags(i)
      r match {
        case u: Expect.Unique =>
          // keys with count > 1 only — healthy data makes this side tiny
          val dup = df.groupBy(u.columns.map(col): _*)
            .agg(count(lit(1)).as("__qc")).where(col("__qc") > 1L)
            .select(u.columns.map(c => col(c).as(s"__qk_$c")) :+
              lit(true).as(f): _*)
          // null-safe equality: a duplicated NULL key is still a duplicate
          val cond = u.columns.map(c => col(c) <=> col(s"__qk_$c")).reduce(_ && _)
          cur = cur.join(dup, cond, "left")
            .drop(u.columns.map(c => s"__qk_$c"): _*)
            .withColumn(f, coalesce(col(f), lit(false)))
        case fk: Expect.ForeignKey =>
          val dimKeys = fk.dim
            .select(fk.dimColumns.zip(fk.columns)
              .map { case (dc, c) => col(dc).as(s"__qk_$c") }: _*)
            .distinct().withColumn(f, lit(true))
          val cond = fk.columns.map(c => col(c) === col(s"__qk_$c")).reduce(_ && _)
          cur = cur.join(dimKeys, cond, "left")
            .drop(fk.columns.map(c => s"__qk_$c"): _*)
            .withColumn(f,
              fk.columns.map(col(_).isNotNull).reduce(_ && _) && col(f).isNull)
        case _ =>
          cur = cur.withColumn(f, violated(r).get)
      }
    }
    val tags = array(rules.zipWithIndex.map { case (r, i) =>
      when(col(flags(i)), lit(r.name))
    }: _*)
    cur.withColumn("violated_rules", array_compact(tags))
      .where(size(col("violated_rules")) > 0)
      .drop(flags: _*)
  }

  /** `rows` with per-group statistics of one [[graft.exec.Kll]] quantile
    * sketch joined back: the sketch of `m` at `qs` (named `__kll`) is
    * aggregated per group of `groupCols` (globally when empty) and
    * projected to `stats`, the keys renamed `__g_*` so they survive the
    * join. Ungrouped, the one stats row is a broadcast cross join; grouped,
    * a null-safe left join on the keys, which are then dropped.
    */
  private def withKllStats(rows: DataFrame, groupCols: Seq[String], m: Column,
      k: Int, qs: Seq[Double], stats: Column*): DataFrame = {
    val sk = graft.exec.Kll.quantiles(m, k, qs).as("__kll")
    val table =
      (if (groupCols.isEmpty) rows.agg(sk)
       else rows.groupBy(groupCols.map(col): _*).agg(sk))
        .select(groupCols.map(c => col(c).as(s"__g_$c")) ++ stats: _*)
    if (groupCols.isEmpty) rows.crossJoin(broadcast(table))
    else rows.join(table,
      groupCols.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _), "left")
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** Robust (Tukey-fence) outlier tagging: per group, the IQR fences
    * [q1 − factor·(q3−q1), q3 + factor·(q3−q1)] from ONE bounded-state
    * [[graft.exec.Kll]] sketch aggregate, joined back so every row gains
    * `lo_fence` / `hi_fence` / `is_outlier` — the winsorize-or-quarantine
    * precursor for continuous measures, robust where mean±k·σ is wrecked
    * by the very outliers it hunts. Quantiles are the sketch's rank-ceil
    * order statistics (exact — DuckDB `quantile_disc` — whenever the
    * per-group count stays under the `k` buffer; the released `err_units`
    * carries the certificate otherwise, the q154/q155 two-regime
    * discipline).
    *
    * A NULL measure is unjudged: `is_outlier` is NULL, never a silent
    * false. Groups too small for both fences (no non-null values) release
    * NULL fences and NULL verdicts.
    *
    * Plan shape: one keyed sketch aggregate (fixed O(k·log n) state per
    * group crossing the exchange), then one equi-join of the row stream
    * against the group-count-sized fence table — broadcast at any
    * realistic group count (Catalyst's choice). Ungrouped, the fence side
    * is a single-row broadcast cross join, the sketch-total precedent.
    */
  def robustOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 4096, factor: Double = 1.5): DataFrame = {
    Inputs.present(df, "input", valueCol +: groupCols: _*)
    require(!groupCols.contains(valueCol),
      s"'$valueCol' cannot be both group and measure")
    require(factor >= 0.0, s"factor must be >= 0, got $factor")
    Inputs.free(df, "robustOutliers", Seq("lo_fence", "hi_fence",
      "is_outlier", "err_units") ++ groupCols.map(c => s"__g_$c"): _*)
    val v = col(valueCol).cast("double")
    withKllStats(df, groupCols, v, k, Seq(0.25, 0.75),
      (col("__kll.values")(0) -
        lit(factor) * (col("__kll.values")(1) - col("__kll.values")(0)))
        .as("lo_fence"),
      (col("__kll.values")(1) +
        lit(factor) * (col("__kll.values")(1) - col("__kll.values")(0)))
        .as("hi_fence"),
      col("__kll.err_units").as("err_units"))
      .withColumn("is_outlier",
        when(v.isNull || isnan(v), lit(null).cast("boolean"))
          .otherwise(v < col("lo_fence") || v > col("hi_fence")))
  }

  /** Robust z-scores: per group, z = (x − median) / (MAD · `scaleFactor`)
    * with MAD = median(|x − median|) — the location/scale pair that
    * survives the outliers mean±k·σ is wrecked by; `scaleFactor` defaults
    * to the classic 1.4826 (σ-consistency under normality). The
    * quantile-based sibling of [[robustOutliers]]: fences CLASSIFY,
    * robust z-scores RANK severity (winsorizing thresholds, anomaly
    * ordering, cross-group-comparable scores).
    *
    * Both medians are [[graft.exec.Kll]] rank-ceil order statistics —
    * exact (DuckDB `quantile_disc`) while the per-group count stays under
    * `k`, certified by `median_err_units` / `mad_err_units` past it (MAD
    * inherently needs the median first, so the two certificates are
    * released separately). A NULL or NaN measure gets a NULL score; a
    * zero MAD (over half the group at one value) also scores NULL —
    * truthfully unjudgeable, never ±Infinity.
    *
    * Plan shape: TWO keyed sketch aggregates by necessity (the deviation
    * pass cannot start before its group's median exists) + two joins of
    * the row stream against group-count-sized stats tables (broadcast at
    * any realistic group count). Ungrouped, both stats are single-row
    * broadcast cross joins.
    */
  def robustZScores(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 4096, scaleFactor: Double = 1.4826): DataFrame = {
    Inputs.present(df, "input", valueCol +: groupCols: _*)
    require(!groupCols.contains(valueCol),
      s"'$valueCol' cannot be both group and measure")
    require(scaleFactor > 0.0, s"scaleFactor must be > 0, got $scaleFactor")
    Inputs.free(df, "robustZScores", groupCols.map(c => s"__g_$c") ++
      Seq("median", "mad", "robust_z", "median_err_units", "mad_err_units",
        "__absdev"): _*)
    val v = col(valueCol).cast("double")
    def withMedian(rows: DataFrame, m: Column, outName: String,
        errName: String): DataFrame =
      withKllStats(rows, groupCols, m, k, Seq(0.5),
        col("__kll.values")(0).as(outName), col("__kll.err_units").as(errName))
    val deviations = withMedian(df, v, "median", "median_err_units")
      .withColumn("__absdev", abs(v - col("median")))
    val withMad = withMedian(deviations, col("__absdev"), "mad", "mad_err_units")
      .drop("__absdev")
    withMad.withColumn("robust_z",
      when(v.isNull || isnan(v) || col("mad") === 0.0,
        lit(null).cast("double"))
        .otherwise((v - col("median")) / (col("mad") * lit(scaleFactor))))
  }

  /** Winsorization: clip `valueCol` at its own per-group [pLo, pHi]
    * quantiles — the tail-taming transform applied BEFORE means,
    * variances, or regression targets so a single spike cannot own the
    * statistic ([[robustOutliers]] removes; this RETAINS at the fence).
    * Adds `lo_clip` / `hi_clip` (the rank-ceil KLL quantiles, exact
    * under `k`, certified by `err_units` past it) and `winsorized`
    * (NULL/NaN pass through unjudged — a clipped NaN would fabricate
    * data). Same one-sketch-aggregate + broadcast-join plan as
    * [[robustOutliers]].
    */
  def winsorize(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99, k: Int = 4096): DataFrame = {
    Inputs.present(df, "input", valueCol +: groupCols: _*)
    require(!groupCols.contains(valueCol),
      s"'$valueCol' cannot be both group and measure")
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    Inputs.free(df, "winsorize", Seq("lo_clip", "hi_clip", "winsorized",
      "err_units") ++ groupCols.map(c => s"__g_$c"): _*)
    val v = col(valueCol).cast("double")
    withKllStats(df, groupCols, v, k, Seq(pLo, pHi),
      col("__kll.values")(0).as("lo_clip"),
      col("__kll.values")(1).as("hi_clip"),
      col("__kll.err_units").as("err_units"))
      .withColumn("winsorized",
        when(v.isNull || isnan(v), lit(null).cast("double"))
          .otherwise(least(greatest(v, col("lo_clip")), col("hi_clip"))))
  }

  /** Functional-dependency violation report: for the asserted dependency
    * `detCols -> depCol`, every determinant value that maps to MORE than
    * one distinct dependent value, with how many distinct dependents and
    * how many rows it covers. The record-linkage / schema-audit primitive
    * behind "one customer id, three different names" findings — feed the
    * violating keys to [[graft.pipeline.Dedup.resolveEntities]] or a
    * [[expectations]] `unique` rule downstream.
    *
    * NULL determinants drop (no identity to violate); a NULL dependent
    * counts as a distinct value — "sometimes missing" IS a violation of
    * a functional dependency, and silently ignoring it would pass a
    * column that's null for half its keys.
    *
    * Scale shape: ONE determinant-keyed aggregate (count-distinct over
    * the dependent via a two-level exact aggregate with map-side
    * partials), then a row-local filter — output is bounded by the
    * number of VIOLATING keys, not by data volume. Nothing joins.
    */
  def fdViolations(
      df: DataFrame, detCols: Seq[String], depCol: String): DataFrame = {
    require(detCols.nonEmpty, "fdViolations needs at least one determinant")
    Inputs.present(df, "input", detCols :+ depCol: _*)
    require(!detCols.contains(depCol),
      s"'$depCol' cannot be both determinant and dependent")
    df.where(detCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(detCols.map(col): _*)
      .agg(
        countDistinct(struct(col(depCol))).as("n_dep_values"),
        count(lit(1)).as("n_rows"))
      .where(col("n_dep_values") > 1L)
  }

  /** Benford first-digit ppm table, truncated from log10(1 + 1/d): the
    * canonical expected distribution, hard-coded as integer literals so
    * the engine and any independent oracle agree bit for bit (computing
    * them from a runtime log10 would tie the release to one libm).
    */
  private[graft] val benfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Benford's-law first-digit audit: the observed leading-digit
    * distribution of a positive integral column against the canonical
    * `log10(1 + 1/d)` expectation, released as exact integers — per
    * digit 1..9 the count, its truncating observed ppm share, the
    * expected ppm (a fixed literal table, same in any engine), and the
    * signed gap. The fraud/fabrication screen for naturally-spanning
    * quantities (amounts, populations, file sizes); a synthetic or
    * capped column shows up as a gap profile, and the released table
    * feeds whatever distance (chi-square, MAD) the caller prefers.
    *
    * The leading digit is taken from the DECIMAL STRING of the value —
    * exact for integral inputs at any magnitude, no float log10 edge
    * cases at powers of ten. Non-positive values drop (zero has no
    * leading significant digit; negatives audit their magnitude stream
    * separately if wanted — silently folding them in would double-count
    * signed ledgers). All nine digits always release, zero-filled, so
    * the table shape is fixed.
    *
    * Scale shape: one codegen'd projection + one 9-group aggregate with
    * map-side partials; the zero-fill joins against a 9-row literal
    * table (broadcast); the grand total rides a window over 9 rows.
    * Nothing shuffles more than 9 groups.
    */
  def benfordAudit(
      df: DataFrame, valueCol: String,
      ppmScale: Long = 1000000L): DataFrame = {
    Inputs.present(df, "input", valueCol)
    Inputs.ppmScale(ppmScale)
    // pre-scale decimals to minor units: the leading digit is scale-
    // invariant, so any fixed power-of-ten scaling preserves the audit
    Inputs.integral(df, "benfordAudit", "value column", valueCol)
    val spark = df.sparkSession
    import spark.implicits._
    // the literal table is 1e6-scaled; requantize to the caller's scale so
    // observed_ppm and expected_ppm always share units (truncating div —
    // max product 301030 * 1e12 < 2^63, so plain long arithmetic is exact)
    val expected = benfordPpm.toDF("digit", "expected_ppm")
      .select(col("digit").cast("long").as("digit"),
        expr(s"(expected_ppm * ${ppmScale}L) div 1000000L")
          .as("expected_ppm"))
    val counts = df
      .where(col(valueCol).isNotNull && col(valueCol) > 0L)
      .groupBy(substring(col(valueCol).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    // the BUILD side of a left-outer broadcast join is the RIGHT side —
    // a hint on the preserved 9-row literal is dropped by Catalyst with a
    // warning, leaving the documented plan shape to auto-broadcast luck
    expected
      .join(broadcast(counts), Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("__tot", sum(col("n")).over(w))
      // observed share widens through decimal(38,0): n * ppmScale at the
      // 1e12 cap overflows a long past ~9.2M rows per digit, while the
      // quotient (<= ppmScale) always fits the released long
      .select(col("digit"), col("n"),
        when(col("__tot") > 0L,
          expr(s"(CAST(n AS DECIMAL(38,0)) * ${ppmScale}L) div " +
            "CAST(__tot AS DECIMAL(38,0))").cast("long"))
          .otherwise(lit(0L)).as("observed_ppm"),
        col("expected_ppm"))
      .withColumn("delta_ppm", col("observed_ppm") - col("expected_ppm"))
  }

  /** Per-column categorical profile: for each requested column one row
    * with its null count, distinct non-null cardinality, modal value and
    * share, and Gini impurity — the "what does this column look like"
    * table a schema review or feature audit starts from, released as
    * exact integers (ppm shares by truncating division, products in
    * decimal(38,0) so no count magnitude overflows a long).
    *
    * Semantics: values compare as their canonical STRING form (the
    * profile is about identity, not numerics); `n_nulls` counts SQL
    * nulls only; distinct/top/gini are over NON-null values (the null
    * share is its own released column). The modal value ties to the
    * LEAST string among equally-common values, so the row is bit-stable
    * under any partitioning.
    *
    * Impurity formula (chosen so every intermediate fits 128-bit exact
    * arithmetic at ANY count magnitude — the naive `(n^2 - sum c^2) *
    * scale` needs ~190 bits at long-sized counts):
    * `gini_ppm = scale - (sum_i ((c_i * scale div n) * c_i)) div n`, all
    * divisions truncating — per-value share quantized to 1/scale, then
    * the self-match probability accumulated exactly. 0 means one value
    * dominates entirely; uniform-over-k approaches scale*(k-1)/k. Any
    * independent engine reproduces it bit for bit from the same
    * recurrence (the released number is defined by the FORMULA, not by a
    * float limit). `top_share_ppm = (top_count * scale) div n`, widened
    * the same way.
    *
    * Scale shape: the columns MELT into (column, value) pairs in one
    * codegen'd projection (C columns cost one scan, not C), then ONE
    * (column, value)-keyed count with map-side partials, then a
    * |columns|-group aggregate over the already-tiny frequency table.
    * Nothing joins; nothing is quadratic. The decimal(38,0) widening
    * applies to the per-value COUNTS, not rows — free at the scan.
    */
  def categoricalProfile(
      df: DataFrame, cols: Seq[String],
      ppmScale: Long = 1000000L): DataFrame = {
    require(cols.nonEmpty, "categoricalProfile needs at least one column")
    Inputs.ppmScale(ppmScale)
    Inputs.present(df, "input", cols: _*)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*))
      .as("kv"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"))
    val freq = melted.groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("c"))
    val nn = col("value").isNotNull
    // total non-null count per column rides a column-keyed window over
    // the frequency table (|values| rows, not data rows) so the
    // per-value share term (c * scale div n) * c folds into the SAME
    // aggregate pass — no self-join of freq against its own totals
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("column")
    val withN = freq.withColumn("__n",
      sum(when(nn, col("c")).otherwise(0L)).over(wc))
    val selfTerm = when(nn && col("__n") > 0L,
      idiv(dec(col("c")) * lit(ppmScale), dec(col("__n"))) * dec(col("c")))
      .otherwise(dec(lit(0)))
    val profiled = withN.groupBy(col("column"))
      .agg(
        max(col("__n")).as("n_values"),
        sum(when(!nn, col("c")).otherwise(0L)).as("n_nulls"),
        sum(when(nn, 1L).otherwise(0L)).as("n_distinct"),
        min(when(nn, struct((-col("c")).as("nc"), col("value"))))
          .as("__top"),
        sum(selfTerm).as("__selfsum"))
      .select(col("column"), col("n_values"), col("n_nulls"),
        col("n_distinct"),
        col("__top.value").as("top_value"),
        (-col("__top.nc")).as("top_count"),
        when(col("n_values") > 0L,
          idiv(dec(-col("__top.nc")) * lit(ppmScale), dec(col("n_values")))
            .cast("long")).as("top_share_ppm"),
        when(col("n_values") > 0L,
          lit(ppmScale) -
            idiv(col("__selfsum"), dec(col("n_values"))).cast("long"))
          .as("gini_ppm"))
    // the contract is one row per REQUESTED column: an empty frame melts
    // to zero rows, which used to release an empty profile instead of a
    // zero-filled row per column (a schema-audit consumer then silently
    // saw no profile at all). The broadcast literal join is row-per-column.
    val requested = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(cols.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("column",
          org.apache.spark.sql.types.StringType, nullable = false))))
    requested.join(profiled, Seq("column"), "left")
      .na.fill(0L, Seq("n_values", "n_nulls", "n_distinct"))
  }

  /** Modal-value imputation: fill NULLs in `valueCol` with the GROUP's
    * most frequent non-null value (ties to the least value, the
    * [[categoricalProfile]] rule, so the fill is bit-stable under any
    * partitioning), plus a `was_imputed` flag so downstream analysis can
    * always separate observed from repaired. Groups with no observed
    * value at all keep their NULLs (`was_imputed` stays false — there
    * is nothing defensible to fill with); rows with a NULL group key
    * likewise pass through unfilled, flagged false.
    *
    * Scale shape: one (key, value)-keyed count with map-side partials
    * reduces the data to the frequency table, one key-keyed min-struct
    * aggregate picks the mode per group (|keys| rows), and the fill is
    * a LEFT join of the data against that mode table — broadcast-sized
    * whenever |keys| is dashboard-sized, key-partitioned otherwise (AQE
    * decides off real sizes). The data itself is scanned once and
    * shuffled at most once.
    */
  def imputeMode(
      df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "imputeMode needs at least one key column")
    require(!keyCols.contains(valueCol),
      s"'$valueCol' cannot be both key and value (the robustZScores " +
        "disjointness rule) — the mode table would group on a duplicate")
    Inputs.present(df, "input", keyCols :+ valueCol: _*)
    Inputs.free(df, "imputeMode", "was_imputed", "__mode")
    val freq = df
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(valueCol).isNotNull)
      .groupBy(keyCols.map(col) :+ col(valueCol): _*)
      .agg(count(lit(1)).as("__c"))
    val modes = freq
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct((-col("__c")).as("nc"), col(valueCol).as("v")))
        .as("__top"))
      .select(keyCols.map(col) :+ col("__top.v").as("__mode"): _*)
    val out = df.join(modes, keyCols, "left")
    val filled = coalesce(col(valueCol), col("__mode"))
    out
      .withColumn("was_imputed",
        col(valueCol).isNull && col("__mode").isNotNull)
      .withColumn(valueCol, filled)
      .drop("__mode")
  }

  /** Merkle-style table digest for cross-cluster reconciliation: rows
    * bucket by a hash of their KEY (so a row lands in the same bucket
    * in every snapshot regardless of payload edits), and each bucket
    * releases its row count plus two order-independent content digests
    * — an XOR fold and a modular sum of the per-row md5-derived
    * integers. Two 100-TB replicas compare by shipping `buckets` rows
    * each; only mismatched buckets need row-level inspection
    * ([[snapshotDiff]] scoped to the bucket), the anti-entropy pattern
    * behind Dynamo-style sync (DeCandia et al. 2007). XOR alone is
    * blind to duplicated rows (x XOR x = 0); the count and the modular
    * sum close that hole.
    *
    * Hashing is md5 over a canonical string — engine-portable by
    * construction (any SQL engine has md5; nothing ties the digest to
    * one JVM hash). NULLs encode as an explicit sentinel before
    * joining, so ("a", NULL) and (NULL, "a") digest differently; the
    * unit separators are control characters U+0001/U+0000 — inputs
    * containing them would need a different canonicalization. Cast
    * payload columns to strings DELIBERATELY before calling when
    * float formatting differs between the engines being reconciled.
    *
    * Scale shape: one codegen'd projection (md5 + substring + conv)
    * and ONE bucket-keyed aggregate with map-side partials; the output
    * is exactly `buckets` rows (observed buckets only — empty buckets
    * absent on both sides compare equal by absence).
    */
  def tableDigest(
      df: DataFrame, keyCols: Seq[String], payloadCols: Seq[String],
      buckets: Int = 4096): DataFrame = {
    require(keyCols.nonEmpty, "tableDigest needs at least one key column")
    require(buckets >= 1 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20], got $buckets")
    Inputs.present(df, "input", keyCols ++ payloadCols: _*)
    def canon(cs: Seq[String]): Column = concat_ws("\u0001",
      cs.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    // r14: the codegen'd Md5Prefix kernel — bit-identical to
    // conv(substring(md5(c), 1, 15), 16, 10) without the per-row
    // hex-string round trip (Md5PrefixSpec pins the equivalence)
    def h60(c: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.exec.Md5Prefix(
          org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
            encode(c, "UTF-8")),
          hexLen = 15))
    val mod = 2305843009213693951L // 2^61 - 1: sum stays engine-exact
    val rows = df.select(
      pmod(h60(canon(keyCols)), lit(buckets.toLong)).as("bucket"),
      h60(canon(keyCols ++ payloadCols)).as("__h"))
    rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_digest"),
        pmod(sum(col("__h").cast("decimal(38,0)")), lit(mod))
          .cast("long").as("sum_digest"))
  }
}
