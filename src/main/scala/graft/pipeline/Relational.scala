package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Materialize

/** Temporal and interval join operators Spark has no built-in for. Both are
  * lowered to shapes Catalyst already executes well — a single keyed
  * exchange + sort for the as-of join, an equi hash join for the range
  * join — instead of the BroadcastNestedLoopJoin / cartesian theta-join
  * Spark would plan for the naive `ON a.t >= b.t` / `ON v BETWEEN lo AND
  * hi` formulations (quadratic per key, the classic 100-TB killer).
  *
  * Beyond-reference operators: the reference engine has no temporal or
  * interval joins (SURVEY.md §2.8 — joins are equi-only); these cover the
  * event-log enrichment a training-data pipeline needs.
  */
object Relational {

  /** As-of join: attach to every left row the single most recent right row
    * sharing `keyCols` — strictly earlier by `timeCol` when `strict`,
    * no-later otherwise. Left rows with no matching right row keep null
    * right columns (left-join semantics). Right columns other than
    * key/time are carried; their names must not clash with left's.
    *
    * Plan: NO join at all. Both sides union into one stream tagged by
    * side; ONE exchange on the key; a running `last(payload, ignoreNulls)`
    * window ordered by (time, side, tie-hash) carries the latest right
    * payload forward; left rows then read the carried struct. Per-group
    * window state is a single payload struct regardless of group size, and
    * the whole operator costs one shuffle + one sort — the same bill as
    * sessionization. Tie discipline: at equal time, lefts sort before
    * rights under `strict` (so a same-instant right row is invisible) and
    * after them otherwise; right rows tied with each other order by a
    * payload hash, so the carried match is deterministic under any input
    * partitioning. Null keys follow SQL equi-join semantics: a right row
    * with any null key column can never match (it is dropped before the
    * union), so a left row with a null key keeps null right columns.
    */
  def asOfJoin(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      timeCol: String, strict: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "asOfJoin needs at least one key column")
    val sideCols = keyCols :+ timeCol
    Inputs.present(left, "left side", sideCols: _*)
    Inputs.present(right, "right side", sideCols: _*)
    val reserved = Seq("__t", "__side", "__payload", "__tie", "__left", "__match")
    Inputs.free(left, "asOfJoin", reserved: _*)
    Inputs.free(right, "asOfJoin", reserved: _*)
    val payloadCols = right.columns.filterNot(sideCols.contains).toSeq
    require(payloadCols.nonEmpty,
      "right side carries no payload columns beyond the key and time")
    val clash = payloadCols.filter(left.columns.contains)
    require(clash.isEmpty,
      s"right payload columns ${clash.mkString(", ")} clash with left; rename them first")

    // at equal time a strict match must not see the same-instant right row:
    // sort lefts before rights (and the reverse for non-strict)
    val (leftTag, rightTag) = if (strict) (0, 1) else (1, 0)
    val payloadType = right.select(struct(payloadCols.map(col): _*)).schema.head.dataType
    val leftRowType = left.select(struct(left.columns.map(col).toSeq: _*)).schema.head.dataType
    // SQL equi-join semantics: null keys never match, and a NULL right
    // time can satisfy no as-of comparison (`r.t <= l.t` is NULL) — yet
    // nulls-first ascending would sort such a row ahead of every real one
    // and CARRY its payload into early left rows. Drop both here.
    // (A NULL-time LEFT row needs no special case: it sorts before every
    // matchable right row, the carry is NULL, and it releases unmatched —
    // exactly the no-match semantics.)
    val matchableRight = right.where(
      (keyCols.map(col(_).isNotNull) :+ col(timeCol).isNotNull).reduce(_ && _))
    val taggedRight = matchableRight.select(
      keyCols.map(col) ++ Seq(
        col(timeCol).as("__t"), lit(rightTag).as("__side"),
        struct(payloadCols.map(col): _*).as("__payload"),
        xxhash64(payloadCols.map(col): _*).as("__tie"),
        lit(null).cast(leftRowType).as("__left")): _*)
    val taggedLeft = left.select(
      keyCols.map(col) ++ Seq(
        col(timeCol).as("__t"), lit(leftTag).as("__side"),
        lit(null).cast(payloadType).as("__payload"),
        lit(0L).as("__tie"),
        struct(left.columns.map(col).toSeq: _*).as("__left")): _*)

    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedLeft.unionByName(taggedRight)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__left").isNotNull)
      .select(left.columns.toSeq.map(c => col(s"__left.`$c`").as(c)) ++
        payloadCols.map(c => col(s"__match.`$c`").as(c)): _*)
  }

  /** Ordered-sequence funnel: for each prefix of `steps`, how many
    * entities completed the steps IN ORDER (each step strictly later by
    * `timeCol` than the previous one, earliest-completion semantics).
    * Releases one row per step: (step, step_name, n_entities), with
    * n_entities non-increasing down the funnel. Events with a NULL entity
    * id are dropped at every stage (no identity to follow through the
    * funnel) — the same null discipline as [[cohortRetention]] and
    * [[asOfJoin]].
    *
    * Plan: no sequence scan and no per-entity gather — stage i is the
    * minimal completion time of step i among events after the entity's
    * stage-(i-1) time: a filtered scan, an entity-keyed equi-join against
    * the (entities-sized) previous stage, and a min-aggregate, repeated
    * |steps| times. Every join is keyed on the entity id; each stage's
    * state is one timestamp per surviving entity; the counts are the row
    * counts each stage's pin job already took, so they cost no job of
    * their own. At 100 TB each stage reads only its step's
    * events (predicate pushed to the scan) and shuffles entity ids +
    * timestamps, never full events.
    */
  def funnel(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      steps: Seq[String], maxGap: Option[Long] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val stages = funnelStages(events, entityCol, typeCol, timeCol, steps, maxGap)
    stages.zip(steps).zipWithIndex.map { case ((stage, step), i) =>
      (i + 1, step, stage.rows)
    }.toDF("step", "step_name", "n_entities")
  }

  /** The staged reach tables behind [[funnel]]: stage i holds one row per
    * entity that completed steps 1..i, carrying its stage-i earliest
    * completion `__t` and the previous stage's `__pt` (null at stage 1).
    * Each stage pins eagerly (entity-sized) so the next stage's join and
    * downstream aggregates read materialized rows — a lazy chain would
    * recompute stages 1..i at every consumer, O(|steps|^2) scans — and
    * the pin's row count is the stage's entity count.
    */
  private def funnelStages(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      steps: Seq[String], maxGap: Option[Long]): Seq[Materialize.Pinned] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"duplicate step types: ${steps.mkString(", ")}")
    Inputs.present(events, "events side", entityCol, typeCol, timeCol)
    maxGap.foreach { g =>
      require(g > 0L, s"maxGap must be positive, got $g")
      Inputs.numeric(events, "maxGap", "time column", timeCol)
    }
    val tType = events.schema(timeCol).dataType
    // Null entity ids carry no identity and are DROPPED at every stage —
    // the same discipline as cohortRetention and asOfJoin. Without the
    // stage-1 filter, null-id events would pool into one phantom entity
    // that inflates step 1 and then silently vanishes at step 2 (an
    // equi-join never matches null).
    var reached = Materialize(events
      .filter(col(typeCol) === steps.head && col(entityCol).isNotNull)
      .groupBy(col(entityCol).as("__e")).agg(min(col(timeCol)).as("__t"))
      .withColumn("__pt", lit(null).cast(tType)),
      s"Relational.funnelStages step ${steps.head}")
    val stages = scala.collection.mutable.ListBuffer(reached)
    for (step <- steps.drop(1)) {
      // conversion window: the next step must land within maxGap of the
      // PREVIOUS stage's earliest completion (greedy first-window
      // semantics — deterministic, mirrored exactly by the oracle)
      val within = maxGap.map(g => col("__nt") <= col("__t") + lit(g))
        .getOrElse(lit(true))
      reached = Materialize(events
        .filter(col(typeCol) === step && col(entityCol).isNotNull)
        .select(col(entityCol).as("__e"), col(timeCol).as("__nt"))
        .join(reached.df.drop("__pt"), "__e")
        .where(col("__nt") > col("__t") && within)
        // one reached row per entity, so min(__t) IS the previous time
        .groupBy(col("__e"))
        .agg(min(col("__nt")).as("__t"), min(col("__t")).as("__pt")),
        s"Relational.funnelStages step $step")
      stages += reached
    }
    stages.toSeq
  }

  /** Time-to-convert statistics down the funnel: for every step past the
    * first, the surviving entities' gaps t_i - t_{i-1} between earliest
    * completions — count, min, max, and exact sum (the mean is
    * sum/n downstream). Same staged plan as [[funnel]] (the stage tables
    * already carry both times); the gap stats are one single-row aggregate
    * per step over its entity-sized pinned table, unioned lazily like
    * [[funnelLatency]]'s, so no job runs for them while the frame is
    * built. Numeric time columns only — gaps are differences.
    */
  def funnelGaps(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      steps: Seq[String], maxGap: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, "gap stats need at least two steps")
    Inputs.numeric(events, "funnelGaps", "time column", timeCol)
    val stages = funnelStages(events, entityCol, typeCol, timeCol, steps, maxGap)
    // gaps released as doubles: integral time units give integer-valued
    // gaps whose min/max/sum are exact in ANY addition order below 2^53;
    // fractional units make the sum order-sensitive at the last ulp —
    // prefer epoch integers
    stages.zip(steps).zipWithIndex.drop(1).map { case ((stage, step), i) =>
      val g = (col("__t") - col("__pt")).cast("double")
      stage.df.agg(lit(i + 1).as("step"), lit(step).as("step_name"),
        count(lit(1)).as("n_entities"), min(g).as("min_gap"),
        max(g).as("max_gap"), sum(g).as("sum_gap"))
    }.reduce(_.unionByName(_))
  }

  /** Cohort retention matrix: entities cohorted by their FIRST activity
    * period, with one row per (cohort, age) = (first period, periods since
    * first) carrying how many of the cohort's entities were active again
    * at that age — the standard retention triangle. `periodCol` is any
    * integer-valued period expression the caller derived (day number,
    * week number); age 0 rows equal the cohort sizes by construction.
    *
    * Plan: one distinct over (entity, period) — the only data-sized
    * shuffle, entity-keyed — then a min-aggregate for the cohort table
    * (entities-sized), an entity-keyed equi-join back, and a
    * (cohort, age)-keyed count whose result is at most
    * |periods|*(|periods|+1)/2 rows. Activity beyond the first per
    * (entity, period) is collapsed BEFORE the join, so heavy entities
    * cost one row per active period, not one per event.
    */
  def cohortRetention(
      events: DataFrame, entityCol: String, periodCol: String): DataFrame = {
    Inputs.present(events, "events side", entityCol, periodCol)
    val active = events
      .select(col(entityCol).as("__e"), col(periodCol).cast("long").as("__p"))
      .where(col("__e").isNotNull && col("__p").isNotNull)
      .distinct()
    val cohorts = active.groupBy("__e").agg(min(col("__p")).as("__c"))
    active.join(cohorts, "__e")
      .groupBy(col("__c").as("cohort"), (col("__p") - col("__c")).as("age"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Interval (range) join: pair each fact row with every dim interval
    * `[lo, hi)` containing `valueCol`, as an EQUI-join on grid cells.
    * Each dim interval explodes to the `ceil(width/cellWidth)` cells it
    * overlaps; each fact row maps to the one cell containing its value;
    * a hash join on the cell replaces the nested-loop theta-join, and the
    * exact bounds predicate filters post-join. Overlapping intervals
    * produce one output row per containing interval (general join
    * semantics, not binning). Output carries all fact columns then all
    * dim columns.
    *
    * Scale: shuffle is keyed on the cell, so co-located candidates are
    * only rows within `cellWidth` of each other — near-linear when
    * `cellWidth` is near the median interval width. A dim interval
    * spanning w cells emits w rows; size `cellWidth` accordingly (the
    * fact side never expands). A hot cell (value skew) behaves like any
    * skewed hash join and AQE's skew-join split applies.
    */
  def rangeJoin(
      fact: DataFrame, valueCol: String, dim: DataFrame,
      loCol: String, hiCol: String, cellWidth: Double): DataFrame = {
    require(cellWidth > 0.0, s"cellWidth must be positive, got $cellWidth")
    Inputs.present(fact, "fact side", valueCol)
    Inputs.present(dim, "dim side", loCol, hiCol)
    val clash = dim.columns.filter(fact.columns.contains)
    require(clash.isEmpty,
      s"dim columns ${clash.mkString(", ")} clash with fact; rename them first")
    Inputs.free(fact, "rangeJoin", "__cell")
    Inputs.free(dim, "rangeJoin", "__cell")

    val dimCells = dim
      .where(col(hiCol) > col(loCol)) // empty intervals match nothing
      // half-open [lo, hi): when hi lands EXACTLY on a cell boundary,
      // floor(hi/W) names a cell the interval cannot touch — ceil(hi/W)-1
      // is the true last cell (clamped to the first for sub-cell
      // intervals), halving dim fan-out on grid-aligned data
      .withColumn("__cell", explode(sequence(
        floor(col(loCol).cast("double") / cellWidth).cast("long"),
        greatest(
          floor(col(loCol).cast("double") / cellWidth).cast("long"),
          (ceil(col(hiCol).cast("double") / cellWidth) - 1).cast("long")))))
    val factCells = fact.withColumn("__cell",
      floor(col(valueCol).cast("double") / cellWidth).cast("long"))
    factCells.join(dimCells, "__cell")
      .where(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .select(fact.columns.toSeq.map(col) ++ dim.columns.toSeq.map(col): _*)
  }

  /** Snapshot diff: classify every key across two table versions as
    * added / removed / changed / unchanged — the change-data-capture
    * step behind incremental pipelines, SCD maintenance, and "what
    * moved between yesterday's crawl and today's". Keys must be unique
    * per snapshot (enforced loudly — a duplicated key would silently
    * fan the join out and double-classify).
    *
    * Comparison is null-safe per column (`IS DISTINCT FROM` semantics —
    * a null-to-value transition IS a change), over every shared
    * non-key column. Returns (keys..., change_type), `unchanged` rows
    * included only when `keepUnchanged` (the common consumer wants the
    * delta, and at 100 TB the delta is orders of magnitude smaller than
    * the snapshot).
    *
    * Plan shape: ONE key-keyed full outer join; the classification is a
    * codegen'd projection. The uniqueness guard is a count-distinct
    * aggregate per side, both sides sharing ONE validation job, paid
    * before the join so violations fail before any work fans out.
    */
  def snapshotDiff(
      before: DataFrame, after: DataFrame, keyCols: Seq[String],
      keepUnchanged: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    Inputs.present(before, "before side", keyCols: _*)
    Inputs.present(after, "after side", keyCols: _*)
    Inputs.free(before, "snapshotDiff", "change_type", "__in_b", "__in_a")
    Inputs.free(after, "snapshotDiff", "change_type", "__in_b", "__in_a")
    val compareCols =
      before.columns.filter(c => !keyCols.contains(c) && after.columns.contains(c))
    // ONE validation action for both sides: the per-side duplicate-key
    // summaries union into a single job, so each snapshot is scanned once
    // for validation instead of probed separately
    def dupViol(df: DataFrame, side: String) =
      df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
        .where(col("__c") > 1L)
        .select(lit(side).as("__side"),
          concat_ws(",", keyCols.map(c => col(c).cast("string")): _*)
            .as("__ex"))
        .limit(1)
    dupViol(before, "before").unionAll(dupViol(after, "after")).collect()
      .headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"snapshotDiff: ${r.getString(0)} side has duplicate keys (e.g. " +
            s"[${r.getString(1)}]) — keys must be unique per snapshot")
      }
    val b = before.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_b", lit(true))
    val a = after.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_a", lit(true))
    val joined = b.as("b").join(a.as("a"),
      keyCols.map(c => col(s"b.`$c`") <=> col(s"a.`$c`")).reduce(_ && _),
      "full_outer")
    val anyChanged = compareCols
      .map(c => !(col(s"b.`$c`") <=> col(s"a.`$c`")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val classified = joined.select(
      keyCols.map(c => coalesce(col(s"b.`$c`"), col(s"a.`$c`")).as(c)) :+
        when(col("b.__in_b").isNull, lit("added"))
          .when(col("a.__in_a").isNull, lit("removed"))
          .when(anyChanged, lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"): _*)
    if (keepUnchanged) classified
    else classified.where(col("change_type") =!= "unchanged")
  }

  /** Zero-fill a regular series: every multiple of `step` between the
    * data's min and max bucket appears exactly once, absent buckets
    * zero-filled on `zeroCols` — the time-series resampling step every
    * dashboard and rate model needs before windows or diffs (a gap read
    * as "no row" silently becomes "no data point" downstream; a gap read
    * as 0 is a statement). The keyset-zero-fill discipline, applied to a
    * numeric domain too large to enumerate by hand.
    *
    * Scale shape: bounds are a 2-long aggregate (the only driver-resident
    * state); the grid generates in parallel via `spark.range` (never a
    * one-task `sequence` explode); the join is a bucket-keyed left join.
    * Buckets must already be multiples of `step` — off-grid AND NULL
    * buckets fail loudly rather than silently landing between (or off)
    * grid points. Only grid-inserted rows are zero-filled: a present row
    * whose `zeroCols` value is genuinely NULL keeps its NULL — "bucket
    * missing" and "measurement missing" are different facts.
    */
  def zeroFillSeries(
      df: DataFrame, bucketCol: String, step: Long,
      zeroCols: Seq[String], maxBuckets: Long = 100000000L): DataFrame = {
    require(step > 0L, s"step must be positive, got $step")
    require(maxBuckets >= 1L, s"maxBuckets must be >= 1, got $maxBuckets")
    Inputs.present(df, "input", bucketCol +: zeroCols: _*)
    Inputs.free(df, "zeroFillSeries", "__present")
    val spark = df.sparkSession
    // a NULL bucket would sail past the pmod guard (null =!= 0 is null →
    // otherwise branch) and then be dropped silently by the grid left
    // join — check it explicitly, first
    val checked = df.withColumn(bucketCol,
      when(col(bucketCol).isNull,
        raise_error(lit("zeroFillSeries: NULL bucket — a null bucket has " +
          "no place on the grid; filter or impute it first")).cast("long"))
        .when(pmod(col(bucketCol).cast("long"), lit(step)) =!= 0L,
          raise_error(concat(lit(s"zeroFillSeries: bucket "),
            col(bucketCol).cast("string"),
            lit(s" is not a multiple of step $step"))))
        .otherwise(col(bucketCol).cast("long")))
    val bounds = checked.agg(
      min(col(bucketCol)).as("lo"), max(col(bucketCol)).as("hi")).head()
    if (bounds.isNullAt(0)) checked // empty input: nothing to fill
    else {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      // one outlier timestamp must not silently explode the grid into
      // trillions of rows — refuse loudly, naming the knob
      val nBuckets = (hi - lo) / step + 1L
      require(nBuckets <= maxBuckets,
        s"zeroFillSeries: range [$lo, $hi] at step $step needs $nBuckets " +
          s"buckets > maxBuckets=$maxBuckets — an outlier bucket is " +
          "usually the cause; filter the series or raise maxBuckets")
      val grid = spark.range(lo, hi + 1L, step).toDF(bucketCol)
      // join-side marker, not na.fill: fill ONLY grid-inserted rows, so a
      // present row's genuine NULL measurement survives as NULL
      val joined = grid.join(checked.withColumn("__present", lit(true)),
        Seq(bucketCol), "left")
      val outCols = joined.columns.filter(_ != "__present").map { c =>
        if (zeroCols.contains(c))
          when(col("__present").isNull,
            lit(0L).cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
        else col(c)
      }
      joined.select(outCols.toIndexedSeq: _*)
    }
  }

  /** Per-key rolling-window statistics: for every row, the count / min /
    * max of `valueCol` over the key's rows within `[t - rangePreceding,
    * t]` of `orderCol` — burst detection, rate limiting, trailing
    * activity. Count/min/max only: they are exact under any evaluation
    * order, while a rolling double SUM is addition-order-sensitive
    * between engines (use integer-valued measures and sum downstream if
    * needed).
    *
    * One key-partitioned RANGE-frame window — a single shuffle on the
    * key, streaming frame evaluation, state bounded by the frame's row
    * count.
    */
  def rollingStats(
      df: DataFrame, keyCol: String, orderCol: String, valueCol: String,
      rangePreceding: Long): DataFrame = {
    require(rangePreceding >= 0L,
      s"rangePreceding must be >= 0, got $rangePreceding")
    Inputs.present(df, "input", keyCol, orderCol, valueCol)
    Inputs.integral(df, "rollingStats", "order column", orderCol)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).cast("long"))
      .rangeBetween(-rangePreceding, 0L)
    // NULL order values drop (the sessionTable/funnel discipline): a RANGE
    // frame lumps ALL of a key's null-ordered rows into one shared frame
    // that aggregates only each other — a meaningless "null-time window"
    // that would flow silently into burst detection downstream
    df.where(col(orderCol).isNotNull)
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("min_window", min(col(valueCol)).over(w))
      .withColumn("max_window", max(col(valueCol)).over(w))
  }

  /** The gaps-and-islands session split shared by [[sessionPaths]],
    * [[transitionMatrix]], [[sessionConversion]], [[sessionTable]] and
    * [[sessionFunnel]]: within each entity, rows ordered by `order` (time
    * first) open a new session where the gap to the previous row's
    * `timeCol` exceeds `gapUnits`; `out` carries the 1-based per-entity
    * session index. `kept` is the operator's null-filtered frame. ONE
    * entity-keyed streaming window (lag + running sum, no per-entity
    * gather); refuses an entity or order column named like its working
    * column or `out`, which `withColumn` would silently replace.
    */
  private def splitSessions(
      op: String, kept: DataFrame, entityCol: String, timeCol: String,
      gapUnits: Long, order: Seq[String], out: String): DataFrame = {
    require(gapUnits > 0L, s"gapUnits must be positive, got $gapUnits")
    Inputs.free(entityCol +: order, op, "__new", out)
    val w = Window.partitionBy(entityCol).orderBy(order.map(col): _*)
    val prev = lag(col(timeCol), 1).over(w)
    kept
      .withColumn("__new",
        when(prev.isNull || col(timeCol) - prev > gapUnits, 1L).otherwise(0L))
      .withColumn(out, sum(col("__new")).over(w))
  }

  /** Top session paths: each entity's events split into sessions on gaps
    * > `gapUnits` of `timeCol` silence, every session rendered as its
    * ordered event-type path ("view>click>buy"), and the `k` most common
    * paths released with their session counts — the user-journey census
    * behind funnel design (funnels TEST a hypothesized path; this
    * DISCOVERS which paths exist).
    *
    * Determinism: events order by (timeCol, typeCol) within an entity —
    * callers with duplicate (time, type) events are safe because
    * duplicates are interchangeable in a path. Null entity ids and null
    * times are dropped ([[funnel]]'s discipline).
    *
    * Scale shape: sessionization is ONE entity-keyed streaming window
    * (lag + running sum — no per-entity gather); path assembly is a
    * grouped collect BOUNDED at `maxLen` structs per session — events
    * past `maxLen` never enter the aggregation state (the collect skips
    * them), the path gets a ">..." marker, and the exact event count is
    * still released. The final top-k is TakeOrderedAndProject, never a
    * global sort.
    */
  def sessionPaths(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      gapUnits: Long, k: Int, maxLen: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    Inputs.integral(events, "sessionPaths", "time column", timeCol)
    // NULL types drop with NULL entities/times (the transitionMatrix /
    // sessionConversion discipline): concat_ws silently SKIPS a null path
    // element, so a kept ('view', NULL, 'buy') session would render the
    // same "view>buy" string as a genuine 2-event journey — distinct
    // journeys colliding in the census
    val sess = splitSessions("sessionPaths", events
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull &&
        col(typeCol).isNotNull),
      entityCol, timeCol, gapUnits, Seq(timeCol, typeCol), "__sid")
    val wr = Window.partitionBy(col(entityCol), col("__sid"))
      .orderBy(col(timeCol), col(typeCol))
    val paths = sess.withColumn("__rn", row_number().over(wr))
      .groupBy(col(entityCol), col("__sid"))
      .agg(
        concat_ws(">", transform(
          array_sort(collect_list(when(col("__rn") <= maxLen,
            struct(col(timeCol).as("t"), col(typeCol).as("y"))))),
          s => s.getField("y"))).as("__path"),
        count(lit(1)).as("__n"))
    paths
      .select(when(col("__n") > maxLen, concat(col("__path"), lit(">...")))
        .otherwise(col("__path")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** First-order Markov transition matrix over session-ordered events:
    * for every ordered pair of consecutive event types WITHIN one
    * session (sessions split on `timeCol` gaps > `gapUnits`, the
    * [[sessionPaths]] gaps-and-islands rule), the transition count and
    * its integer parts-per-`ppmScale` share of all transitions leaving
    * `from_type`. The classic next-step model behind journey Sankeys,
    * "where do users go after X" dashboards, and session-level anomaly
    * scoring; [[sessionPaths]] renders whole paths, this releases the
    * edge probabilities.
    *
    * Shares are truncating integer division (the q182 ppm discipline):
    * `ppm = (n * ppmScale) div total_from` — every released value is
    * engine-exact, and rows sum to <= ppmScale per from_type with the
    * deficit being the dropped remainders. Rows with a NULL entity,
    * time, or type drop (a transition needs all three). Cross-session
    * and cross-entity pairs are NOT transitions — the lead window resets
    * at both boundaries by construction.
    *
    * Scale shape: ONE entity-keyed exchange serves both windows (the
    * session-id cumulative sum and the next-type lead sort identically);
    * the pair aggregate shuffles (from, to) rows — at most |types|^2
    * groups with map-side partials — and the per-from total is a window
    * over that already-tiny table. Nothing joins, nothing is quadratic
    * in events.
    */
  def transitionMatrix(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      gapUnits: Long, ppmScale: Long = 1000000L): DataFrame = {
    Inputs.ppmScale(ppmScale)
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    Inputs.integral(events, "transitionMatrix", "time column", timeCol)
    val sess = splitSessions("transitionMatrix", events
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull &&
        col(typeCol).isNotNull),
      entityCol, timeCol, gapUnits, Seq(timeCol, typeCol), "__sid")
    val ws = Window.partitionBy(col(entityCol), col("__sid"))
      .orderBy(col(timeCol), col(typeCol))
    val pairs = sess
      .withColumn("__next", lead(col(typeCol), 1).over(ws))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).cast("string").as("from_type"),
        col("__next").cast("string").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val wf = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("__tot", sum(col("n_transitions")).over(wf))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        // decimal(38,0) before the truncating division (the joinHotKeys
        // defense): n * ppmScale in LONG wraps silently past ~9.2e6
        // transitions at the permitted ppmScale=1e12; div returns LONG
        call_function("div",
          col("n_transitions").cast("decimal(38,0)") * lit(ppmScale),
          col("__tot").cast("decimal(38,0)")).as("ppm"))
  }

  /** Funnel step-latency distribution: for every adjacent step pair the
    * per-entity conversion gap's count/min/max PLUS its quantiles off a
    * bounded-state [[graft.exec.Kll]] aggregate — [[funnelGaps]] answers
    * "how long does conversion take in aggregate", this answers "what
    * does the latency DISTRIBUTION look like" (median vs p90 tail), the
    * number an SLA or campaign review actually wants.
    *
    * Quantiles carry the sketch's self-checking certificate: `err_units`
    * == 0 (entity count under the sketch buffer, the common case — one
    * row per CONVERTING entity, not per event) means every released
    * quantile is exactly the rank-ceil order statistic an independent
    * engine computes; past the buffer the rank slack is bounded and
    * disclosed, never silent. Gap semantics are [[funnelGaps]]'s
    * earliest-completion chain, same `maxGap` knob, same NULL-entity
    * drop.
    *
    * Scale shape: the stage chain is [[funnel]]'s (per step one
    * entity-keyed join + min-agg over that step's pushed-filter scan);
    * the latency aggregate adds ONE bounded-state partial->final
    * aggregate per step over (gap) rows already keyed — no extra data
    * shuffle, no per-entity gather.
    */
  def funnelLatency(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      steps: Seq[String], maxGap: Option[Long] = None,
      percentiles: Seq[Double] = Seq(0.5, 0.9), k: Int = 4096): DataFrame = {
    require(steps.size >= 2, "latency stats need at least two steps")
    require(percentiles.nonEmpty, "ask for at least one percentile")
    Inputs.numeric(events, "funnelLatency", "time column", timeCol)
    val labels = Inputs.percentileLabels(percentiles)
    val stages = funnelStages(events, entityCol, typeCol, timeCol, steps, maxGap)
    stages.zip(steps).zipWithIndex.drop(1).map { case ((stage, step), i) =>
      val g = (col("__t") - col("__pt")).cast("double")
      stage.df.select(g.as("__g"))
        .agg(count(lit(1)).as("n_entities"),
          min(col("__g")).as("min_gap"), max(col("__g")).as("max_gap"),
          graft.exec.Kll.quantiles(col("__g"), k, percentiles).as("__kll"))
        .select(Seq(lit(i + 1).as("step"), lit(step).as("step_name"),
          col("n_entities"), col("min_gap"), col("max_gap"),
          col("__kll.err_units").as("err_units")) ++
          labels.zipWithIndex.map { case (l, j) =>
            col("__kll.values")(j).as(l) }: _*)
    }.reduce(_.unionByName(_))
  }

  /** Entry-point conversion: sessions (the [[sessionPaths]] gap rule)
    * grouped by their FIRST event type, each releasing how many sessions
    * started there and how many of those reached `convType` — the
    * landing-page conversion table behind every acquisition dashboard,
    * and the aggregate view of what [[transitionMatrix]] models per step.
    * `ppm` is the truncating integer share (the q182 discipline), so
    * every released value is engine-exact.
    *
    * The entry event is the session's minimum (time, type) — the
    * [[transitionMatrix]] tie rule — and a session whose entry event IS
    * the conversion type counts as converted (it reached it at entry).
    * NULL entity/time/type rows drop.
    *
    * Scale shape: ONE entity-keyed exchange for the session split, one
    * (entity, session) aggregate riding the same partitioning, then a
    * |types|-row keyed count — no joins, nothing quadratic.
    */
  def sessionConversion(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      gapUnits: Long, convType: String, ppmScale: Long = 1000000L): DataFrame = {
    Inputs.ppmScale(ppmScale)
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    Inputs.integral(events, "sessionConversion", "time column", timeCol)
    splitSessions("sessionConversion", events
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull &&
        col(typeCol).isNotNull),
      entityCol, timeCol, gapUnits, Seq(timeCol, typeCol), "__sid")
      .groupBy(col(entityCol), col("__sid"))
      .agg(
        min(struct(col(timeCol).as("t"),
          col(typeCol).cast("string").as("y"))).as("__first"),
        max(when(col(typeCol) === convType, 1L).otherwise(0L)).as("__conv"))
      .groupBy(col("__first").getField("y").as("entry_type"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("__conv")).as("n_converted"))
      .select(col("entry_type"), col("n_sessions"), col("n_converted"),
        call_function("div", // decimal-widened: no long wrap at ppmScale=1e12
          col("n_converted").cast("decimal(38,0)") * lit(ppmScale),
          col("n_sessions").cast("decimal(38,0)")).as("ppm"))
  }

  /** SCD2 history compaction: collapse a per-key change log (or stacked
    * snapshot observations) into effective-dated rows — for each key,
    * maximal runs of consecutive versions with identical `attrCols` become
    * one row with `valid_from` = the run's first version and `valid_to` =
    * the version that replaced it (NULL for the key's current, open run).
    * This is the type-2 slowly-changing-dimension build every warehouse
    * runs on entity state feeds; downstream point-in-time joins become
    * [[rangeJoin]]s on (valid_from, valid_to).
    *
    * Semantics are observation-based: a version at which a key is simply
    * absent from the input is not modeled (no close/reopen) — a full-
    * snapshot feed wanting deletion tracking should first join its
    * snapshot grid and materialize explicit tombstone attribute values.
    * Rows with a NULL key are dropped (the [[funnel]] null-entity
    * discipline); a NULL version among kept rows fails loudly, since the
    * ordering it feeds would be undefined. Duplicate (key, version)
    * observations fail loudly the [[snapshotDiff]] way.
    *
    * Plan shape: ONE exchange keyed on the key columns, reused by both
    * windows (the change-flag lag and the run-start lead sort the same
    * way); attr equality is a codegen'd null-safe projection. Both eager
    * guards share ONE keyed-aggregate metadata job paid before any fan-out.
    */
  def scd2History(
      df: DataFrame, keyCols: Seq[String], versionCol: String,
      attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd2History needs at least one key column")
    require(attrCols.nonEmpty, "scd2History needs at least one attr column")
    Inputs.present(df, "input", keyCols ++ attrCols :+ versionCol: _*)
    require((keyCols ++ attrCols).distinct.size == keyCols.size + attrCols.size
        && !keyCols.contains(versionCol) && !attrCols.contains(versionCol),
      "key, version, and attr columns must be disjoint")
    Inputs.free(df, "scd2History", "valid_from", "valid_to", "__chg")
    val kept = df
      .select((keyCols ++ Seq(versionCol) ++ attrCols).map(col): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    // ONE validation action for both loud guards: a NULL version and a
    // duplicate (key, version) observation both surface from the same
    // keyed aggregate (NULL versions form their own (key, NULL) group), so
    // validation costs one scan instead of two
    val bad = kept.groupBy((keyCols :+ versionCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .where(col(versionCol).isNull || col("__c") > 1L)
      .limit(1).collect()
    bad.headOption.foreach { r =>
      if (r.isNullAt(keyCols.size)) throw new IllegalArgumentException(
        s"scd2History: NULL $versionCol (e.g. $r) — the version ordering " +
          "would be undefined; filter or fill first")
      else throw new IllegalArgumentException(
        s"scd2History: duplicate (key, $versionCol) observation (e.g. $r) " +
          "— at most one row per key and version")
    }
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol))
    val changed = attrCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _) || lag(col(versionCol), 1).over(w).isNull
    kept
      .withColumn("__chg", changed)
      .where(col("__chg"))
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .select((keyCols ++ attrCols ++ Seq("valid_from", "valid_to")).map(col): _*)
  }

  /** Keyed interval-overlap join: every (left, right) pair sharing
    * `keyCols` whose HALF-OPEN integral intervals [lo, hi) intersect —
    * calendar/resource conflicts, effective-dated reconciliation between
    * two SCD histories ([[scd2History]] outputs join here), shift overlap.
    * [[rangeJoin]] is the point-in-interval special case; this is
    * interval-to-interval.
    *
    * The naive `ON a.lo < b.hi AND b.lo < a.hi` theta join is a per-key
    * cartesian. Instead both sides explode their intervals onto a grid of
    * `cellWidth`-sized cells and equi-join on (keys, cell) — the classic
    * spatial-grid partitioning join — then verify the exact overlap. A
    * pair sharing several cells would duplicate, so only the REPORTING
    * cell releases it: the cell containing the overlap's start
    * max(a.lo, b.lo), which both sides provably cover — no distinct
    * shuffle needed. Empty intervals (hi <= lo) match nothing; NULL
    * bounds drop with the row.
    *
    * `cellWidth` should sit near the typical interval length: fan-out per
    * row is (hi-lo)/W + 1 (guarded by `maxCellsPerInterval`, loud),
    * per-cell population is the data's real concurrency. Too small
    * explodes fan-out; too large recreates the per-key quadratic. The
    * DEFAULT (`cellWidth = 0`) therefore derives it from the data: one
    * bounded pre-pass sketches the MEDIAN interval length of both sides
    * with the KLL aggregate (fixed sketch state, single released row)
    * and uses that — self-tuning, at the disclosed cost of one extra
    * scan of the bound columns. Pass an explicit width to skip the
    * pre-pass (the result SET is cellWidth-invariant either way; only
    * the plan's fan-out changes). Shuffles: one equi-join keyed on
    * (keys, cell) — near-linear in exploded size; at 100 TB the grid
    * key spreads hot keys across their time range instead of one
    * reducer.
    */
  def intervalOverlapJoin(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      loL: String, hiL: String, loR: String, hiR: String,
      cellWidth: Long = 0L, maxCellsPerInterval: Long = 4096L,
      shuffleJoin: Boolean = false): DataFrame = {
    require(cellWidth >= 0L,
      s"cellWidth must be positive (or 0 = derive from the median " +
        s"interval length), got $cellWidth")
    require(maxCellsPerInterval >= 1L,
      s"maxCellsPerInterval must be >= 1, got $maxCellsPerInterval")
    Inputs.present(left, "left side", keyCols ++ Seq(loL, hiL): _*)
    Inputs.present(right, "right side", keyCols ++ Seq(loR, hiR): _*)
    val clash = right.columns.filterNot(keyCols.contains)
      .filter(left.columns.contains)
    require(clash.isEmpty,
      s"right columns ${clash.mkString(", ")} clash with left; rename first")
    Inputs.free(left, "intervalOverlapJoin", "__cell")
    Inputs.free(right, "intervalOverlapJoin", "__cell")
    Inputs.integral(left, "intervalOverlapJoin", "bound", loL, hiL)
    Inputs.integral(right, "intervalOverlapJoin", "bound", loR, hiR)
    val width =
      if (cellWidth > 0L) cellWidth
      else {
        // self-tuning pre-pass: median interval length over both sides,
        // via the KLL sketch — fixed aggregation state, one released row
        // to the driver. BOUNDED: only the first 64k non-empty intervals
        // per side feed the sketch (limit short-circuits the scan), since
        // the width is a fan-out tuning knob — the RESULT SET is
        // width-invariant — and a 64k sample pins the median of any
        // realistic length distribution; a certificate-regime estimate
        // is equally fine for the same reason.
        val cap = 65536
        val lens = left
          .where(col(loL).isNotNull && col(hiL).isNotNull &&
            col(hiL) > col(loL))
          .select((col(hiL) - col(loL)).cast("double").as("len"))
          .limit(cap)
          .unionAll(right
            .where(col(loR).isNotNull && col(hiR).isNotNull &&
              col(hiR) > col(loR))
            .select((col(hiR) - col(loR)).cast("double").as("len"))
            .limit(cap))
        val med = lens
          .agg(graft.exec.Kll.quantiles(col("len"), 4096, Seq(0.5)).as("s"))
          .select(col("s.values").getItem(0)).head()
        require(!med.isNullAt(0),
          "intervalOverlapJoin: cannot derive cellWidth — both sides hold " +
            "only empty or NULL intervals; pass cellWidth explicitly")
        math.max(1L, med.getDouble(0).toLong)
      }
    // exact floor division for possibly-negative epochs. `div` (SQL
    // IntegralDivide), NOT `/`: Spark's `/` on longs is double division,
    // which rounds once the quotient passes 2^53 — nanosecond-scale
    // epochs would silently land in the wrong cell and drop overlaps.
    def cellOf(c: Column): Column =
      call_function("div", c - pmod(c, lit(width)), lit(width))
    def cells(df2: DataFrame, lo: String, hi: String, side: String) = {
      // fat-interval guard INLINE in the main pass (the mergeIntervals
      // raise_error discipline): spans > maxCellsPerInterval cells <=>
      // cell-index span >= max, same exact integer arithmetic as the
      // explode bound it gates. The previous limit(1) pre-probe paid a
      // full extra scan PER SIDE on clean data; this costs zero extra
      // jobs and still fails before the offending row can fan out.
      val span = cellOf(col(hi) - lit(1L)) - cellOf(col(lo))
      val hiCell = when(span >= lit(maxCellsPerInterval),
        raise_error(concat(
          lit(s"intervalOverlapJoin: a $side interval spans > " +
            s"$maxCellsPerInterval cells of width $width (["),
          col(lo).cast("string"), lit(", "), col(hi).cast("string"),
          lit(")) — raise cellWidth or maxCellsPerInterval")))
          .cast("long"))
        .otherwise(cellOf(col(hi) - lit(1L)))
      df2
        .where(col(lo).isNotNull && col(hi).isNotNull && col(hi) > col(lo))
        .withColumn("__cell", explode(sequence(cellOf(col(lo)), hiCell)))
    }
    val l = cells(left, loL, hiL, "left").as("l")
    // shuffleJoin pins the (key, cell) join to a shuffled hash join — for
    // FACT-vs-FACT interval joins (self-overlap especially) the caller
    // knows both exploded sides are the same order of magnitude, where the
    // planner's post-Generate size estimate routinely under-counts one
    // side and broadcasts it: a single-threaded driver build of an entire
    // fact side, and a hard OOM at scale (r14; guide §3.1 — the estimate
    // is wrong after explode, so pick the strategy deliberately). Default
    // false: a small dimension interval table SHOULD broadcast, and the
    // planner gets that case right.
    val rCells = cells(right, loR, hiR, "right")
    val r = (if (shuffleJoin) rCells.hint("shuffle_hash") else rCells).as("r")
    val overlap = col(s"l.`$loL`") < col(s"r.`$hiR`") &&
      col(s"r.`$loR`") < col(s"l.`$hiL`")
    val reporting =
      col("l.__cell") === cellOf(greatest(col(s"l.`$loL`"), col(s"r.`$loR`")))
    l.join(r,
        keyCols.map(c => col(s"l.`$c`") === col(s"r.`$c`"))
          .foldLeft(col("l.__cell") === col("r.__cell"))(_ && _) &&
          overlap && reporting)
      .select(keyCols.map(c => col(s"l.`$c`").as(c)) ++
        left.columns.filterNot(c => keyCols.contains(c)).toSeq
          .map(c => col(s"l.`$c`")) ++
        right.columns.filterNot(c => keyCols.contains(c)).toSeq
          .map(c => col(s"r.`$c`")): _*)
  }

  /** Batch sessionization released as a first-class session table: one
    * row per (entity, session) — sessions split where consecutive events
    * gap by MORE than `gapUnits` — with the session's 1-based per-entity
    * index, start, end, and event count. The building block
    * [[sessionPaths]] folds into a census and the streaming
    * [[graft.streaming.Streaming.sessionize]] emits on close; this is the
    * durable batch table (session duration histograms, session-grained
    * joins) both of those sit beside.
    *
    * Rows with a NULL entity or time drop (the [[funnel]] discipline);
    * `timeCol` must be integral epoch units — same guard and hint as
    * [[rollingStats]]. Plan shape: ONE exchange keyed on the entity (the
    * gap-flag window, the running session index, and the per-session
    * aggregate all key on it; the aggregate adds the session index, a
    * strict refinement Catalyst satisfies without a second exchange).
    */
  def sessionTable(
      events: DataFrame, entityCol: String, timeCol: String,
      gapUnits: Long): DataFrame = {
    Inputs.present(events, "events side", entityCol, timeCol)
    Inputs.free(events, "sessionTable",
      "session_id", "session_start", "session_end", "n_events")
    Inputs.integral(events, "sessionTable", "time column", timeCol)
    splitSessions("sessionTable", events
      .select(col(entityCol), col(timeCol))
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull),
      entityCol, timeCol, gapUnits, Seq(timeCol), "session_id")
      .groupBy(col(entityCol), col("session_id"))
      .agg(min(col(timeCol)).as("session_start"),
        max(col(timeCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** In-session funnel: [[funnel]]'s ordered-step completion counted at
    * SESSION granularity — the entity is (entity, session index) with
    * sessions split at >`gapUnits` silences over the FULL event stream
    * (the [[sessionTable]] segmentation; non-step events still hold a
    * session together). "Did the view→click→purchase happen within one
    * visit" is the product-analytics question the per-user funnel
    * over-counts: a user converting weeks after the view completes the
    * user-grained funnel but not any session-grained one. Released:
    * (step, step_name, n_entities) with n_entities = completing
    * SESSIONS.
    *
    * Plan shape: ONE entity-keyed exchange tags session indexes (the
    * [[sessionTable]] gap window), then [[funnel]]'s per-stage
    * pushed-filter scans + session-keyed min-agg joins run over the
    * tagged stream. `timeCol` must be integral epoch units.
    */
  def sessionFunnel(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      gapUnits: Long, steps: Seq[String],
      maxGap: Option[Long] = None): DataFrame = {
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    // the tagged frame keeps every event column for funnel to read
    Inputs.free(events, "sessionFunnel", "__new", "__sid", "__se")
    Inputs.integral(events, "sessionFunnel", "time column", timeCol)
    val tagged = splitSessions("sessionFunnel", events
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull),
      entityCol, timeCol, gapUnits, Seq(timeCol), "__sid")
      .withColumn("__se", concat(col(entityCol).cast("string"), lit("#"),
        col("__sid").cast("string")))
    funnel(tagged, "__se", typeCol, timeCol, steps, maxGap)
  }

  /** Touch attribution: for every conversion event (`typeCol` ==
    * `convType`), the single touch event (`typeCol` in `touchTypes`) the
    * conversion is credited to — the LAST touch strictly before it
    * (`mode = "last"`, the default ad-analytics model) or the FIRST touch
    * (`mode = "first"`, brand attribution) within the trailing `lookback`
    * time units. Conversions with no in-window touch release NULL touch
    * columns (unattributed — truthfully absent, never silently dropped).
    *
    * One row per conversion: (entity, conversion time, `touch_type`,
    * `touch_time`). Rows with a NULL entity or time drop (the [[funnel]]
    * null-entity discipline). `timeCol` must be integral epoch units —
    * same guard and hint as [[rollingStats]].
    *
    * Touches TIED on one timestamp resolve deterministically by the
    * type: "last" credits the later-sorting type (matching
    * [[graft.streaming.Streaming.streamingAttribution]]'s
    * (time, type)-ordered fold), "first" the earlier-sorting one — the
    * output never depends on partition row order.
    *
    * Plan shape: ONE exchange keyed on the entity + one sort by time;
    * both touch columns unpack ONE min/max of struct(time, type) over
    * the same RANGE [-lookback, -1) frame (one WindowExec, no self-join
    * — the naive "join conversions to touches and rank" formulation
    * shuffles the touch stream a second time and explodes on
    * multi-touch entities). The conversion filter prunes AFTER the
    * window, so the frame sees every touch.
    */
  def attribution(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      convType: String, touchTypes: Seq[String], lookback: Long,
      mode: String = "last"): DataFrame = {
    Inputs.attribution(touchTypes, convType, lookback)
    require(mode == "last" || mode == "first",
      s"mode must be 'last' or 'first', got '$mode'")
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    Inputs.free(events, "attribution", "touch_type", "touch_time", "__touch")
    Inputs.integral(events, "attribution", "time column", timeCol)
    val w = Window.partitionBy(entityCol).orderBy(col(timeCol))
      .rangeBetween(-lookback, -1)
    val isTouch = col(typeCol).isin(touchTypes.map(x => x: Any): _*)
    // min/max of struct(time, type), not first/last-ignoreNulls: ordering
    // by time alone leaves touches TIED on one timestamp resolved by
    // partition row order (run-unstable, and batch could disagree with
    // the streaming twin). Struct comparison breaks the tie on the type:
    // "last" prefers the later-sorting type — exactly what
    // streamingAttribution's (time, type)-ordered fold keeps — and
    // "first" the earlier-sorting one. min/max skip nulls like
    // first/last-ignoreNulls did.
    val touch =
      when(isTouch, struct(col(timeCol).as("t"), col(typeCol).as("y")))
    val pick =
      if (mode == "last") max(touch).over(w) else min(touch).over(w)
    events
      .select(col(entityCol), col(timeCol), col(typeCol))
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull)
      .withColumn("__touch", pick)
      .where(col(typeCol) === convType)
      .select(col(entityCol), col(timeCol),
        col("__touch").getField("y").as("touch_type"),
        col("__touch").getField("t").as("touch_time"))
  }

  /** Multi-touch attribution: every conversion's credit SPLIT across all
    * in-window touches — one row per (conversion, touch) with a `credit`
    * weight summing to 1 per attributed conversion — instead of
    * [[attribution]]'s single winner. Models:
    *
    *  - `"linear"`: each of the n touches gets 1/n;
    *  - `"position"` (U-shaped): 1 touch takes all, 2 split evenly, 3+
    *    give 0.4 to the first, 0.4 to the last, 0.2 shared equally by
    *    the middle — the standard position-based model;
    *  - `"time_decay"`: touch i weighs 2^-k_i with k_i = (convTime -
    *    touchTime) div `halfLife`, normalized per conversion. The decay
    *    is STEPPED per half-life and the weights are exact integer
    *    powers of two (`lookback div halfLife` capped at 40), so every
    *    credit is a correctly-rounded double any engine reproduces
    *    bit-for-bit — the integer-micro-unit discipline of pageRank/BM25
    *    applied to decay curves.
    *
    * Conversions with no in-window touch release ONE row with NULL touch
    * columns and NULL credit (truthfully unattributed, the
    * [[attribution]] contract). Touch order (for `position` and tie
    * stability) is (time, type) ascending — ties on one timestamp
    * resolve by type, deterministic under any partitioning.
    *
    * Plan shape: the SAME single entity-keyed exchange as
    * [[attribution]] — in-window touches fold into ONE
    * collect_list-over-RANGE-frame window (state bounded by
    * `maxTouchesPerConversion`, breached loudly via raise_error, never
    * truncated silently), weights are array-local codegen'd
    * higher-order functions, and the per-touch rows explode AFTER the
    * conversion filter — no conversions-to-touches self-join, which
    * would shuffle the touch stream a second time and explode on
    * multi-touch entities.
    */
  def multiTouchAttribution(
      events: DataFrame, entityCol: String, timeCol: String, typeCol: String,
      convType: String, touchTypes: Seq[String], lookback: Long,
      model: String = "linear", halfLife: Long = 0L,
      maxTouchesPerConversion: Int = 65536): DataFrame = {
    Inputs.attribution(touchTypes, convType, lookback)
    Inputs.creditModel(model, halfLife, lookback)
    require(maxTouchesPerConversion >= 1,
      s"maxTouchesPerConversion must be >= 1, got $maxTouchesPerConversion")
    Inputs.present(events, "events side", entityCol, timeCol, typeCol)
    Inputs.free(events, "multiTouchAttribution", "touch_type", "touch_time",
      "credit", "__touches", "__ws", "__sw", "__n", "__pos", "__t")
    Inputs.integral(events, "multiTouchAttribution", "time column", timeCol)
    val w = Window.partitionBy(entityCol).orderBy(col(timeCol))
      .rangeBetween(-lookback, -1)
    val isTouch = col(typeCol).isin(touchTypes.map(x => x: Any): _*)
    // collect_list skips the null non-touch entries; array_sort makes the
    // in-frame order (time, type), not partition row order
    val touches =
      array_sort(collect_list(when(isTouch,
        struct(col(timeCol).cast("long").as("t"), col(typeCol).as("y"))))
        .over(w))
    val base = events
      .select(col(entityCol), col(timeCol), col(typeCol))
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull)
      .withColumn("__touches", touches)
      .where(col(typeCol) === convType)
      .withColumn("__n", size(col("__touches")))
      .withColumn("__touches",
        when(col("__n") > lit(maxTouchesPerConversion), raise_error(concat(
          lit("multiTouchAttribution: a conversion window holds > " +
            s"$maxTouchesPerConversion touches (entity "),
          col(entityCol).cast("string"),
          lit(") — raise maxTouchesPerConversion or shorten the lookback"))))
          .otherwise(col("__touches")))
    // time_decay: integer weights 2^(40-k) per touch plus their sum, both
    // array-local (codegen'd higher-order functions, no extra exchange)
    val weighted =
      if (model != "time_decay") base
      else base
        .withColumn("__ws", transform(col("__touches"), x =>
          call_function("shiftleft", lit(1L),
            (lit(40L) - call_function("div",
              col(timeCol).cast("long") - x.getField("t"), lit(halfLife)))
              .cast("int"))))
        .withColumn("__sw",
          aggregate(col("__ws"), lit(0L), (acc, x) => acc + x))
    val exploded = weighted.select(
      Seq(col(entityCol), col(timeCol), col("__n")) ++
        (if (model == "time_decay") Seq(col("__ws"), col("__sw")) else Nil) :+
        posexplode_outer(col("__touches")).as(Seq("__pos", "__t")): _*)
    val credit = model match {
      case "linear" => lit(1.0) / col("__n")
      case "position" =>
        when(col("__n") === 1, lit(1.0))
          .when(col("__n") === 2, lit(0.5))
          .when(col("__pos") === 0 || col("__pos") === col("__n") - 1,
            lit(0.4))
          .otherwise(lit(0.2) / (col("__n") - lit(2)))
      case _ =>
        element_at(col("__ws"), col("__pos") + 1).cast("double") /
          col("__sw").cast("double")
    }
    exploded.select(col(entityCol), col(timeCol),
      col("__t").getField("y").as("touch_type"),
      col("__t").getField("t").as("touch_time"),
      when(col("__t").isNull, lit(null).cast("double"))
        .otherwise(credit).as("credit"))
  }

  /** CDC changelog apply — the MERGE half of a warehouse ingest: roll an
    * out-of-order changelog of upserts and deletes onto a keyed base
    * snapshot and release the resulting current state. For every key the
    * HIGHEST-version change wins ('I'/'U' replace the row's payload, 'D'
    * removes the key); keys with no change keep their base row. The
    * inverse direction of [[snapshotDiff]] (which derives a changelog
    * from two snapshots) and the batch materialization step under any
    * CDC stream ([[scd2History]] keeps the history; this keeps the
    * present).
    *
    * Columns: `base` is keys + payload; `changes` carries the SAME keys
    * and payload plus `versionCol` (any orderable type — sequence
    * number, LSN, timestamp) and `opCol` ('I', 'U', or 'D'; delete rows
    * may carry NULL payload). NULL-keyed rows drop on both sides (a
    * keyed merge cannot place them). Loud guards, the [[scd2History]]
    * discipline: duplicate base key, NULL change version, duplicate
    * (key, version) change, and any op outside {I, U, D} all raise —
    * each would make "current state" ambiguous or silently wrong.
    *
    * Scale shape: base and changes union into ONE key-partitioned
    * window (row_number over (priority, version) desc) — the base row
    * rides as priority-0, so no separate base-vs-changes join, no
    * second exchange, and the 100-TB base table crosses the wire
    * exactly once. All three guards share ONE validation job (per-input
    * violation summaries unioned), so validation costs one scan of each
    * input, not one per guard.
    */
  def applyChangelog(
      base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      versionCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyChangelog needs at least one key column")
    Inputs.present(base, "base", keyCols: _*)
    Inputs.present(changes, "changes", keyCols ++ Seq(versionCol, opCol): _*)
    require(!keyCols.contains(versionCol) && !keyCols.contains(opCol),
      "key, version, and op columns must be disjoint")
    val payload = base.columns.toSeq.filterNot(keyCols.contains)
    Inputs.present(changes, "changes (which must share base's payload)",
      payload: _*)
    Inputs.free(base, "applyChangelog", "__pri", "__ver", "__op", "__rn")
    val keyedBase = base
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val keyedChanges = changes
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    // ONE validation action for all three loud guards (duplicate base key,
    // NULL change version, duplicate (key, version) change): per-input
    // violation summaries union into a single job, so base and changes are
    // each scanned ONCE for validation — the previous per-guard limit(1)
    // probes each paid a full pass on clean data (2-3 extra corpus scans
    // per call at 100 TB)
    val baseViol = keyedBase.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1L)
      .select(lit("dup_base").as("__kind"),
        concat_ws(",", keyCols.map(c => col(c).cast("string")): _*)
          .as("__ex"))
      .limit(1)
    val changeViol = keyedChanges
      .groupBy((keyCols :+ versionCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .where(col(versionCol).isNull || col("__c") > 1L)
      .select(when(col(versionCol).isNull, lit("null_ver"))
          .otherwise(lit("dup_ver")).as("__kind"),
        concat_ws(",",
          (keyCols :+ versionCol).map(c => col(c).cast("string")): _*)
          .as("__ex"))
      .limit(1)
    baseViol.unionAll(changeViol).collect().headOption.foreach { r =>
      val ex = r.getString(1)
      r.getString(0) match {
        case "dup_base" => throw new IllegalArgumentException(
          s"applyChangelog: duplicate base key (e.g. [$ex]) — the base " +
            "snapshot must hold at most one row per key")
        case "null_ver" => throw new IllegalArgumentException(
          s"applyChangelog: NULL $versionCol in changes — the winner per " +
            "key would be undefined; filter or fill first")
        case _ => throw new IllegalArgumentException(
          s"applyChangelog: duplicate (key, $versionCol) change (e.g. " +
            s"[$ex]) — at most one change per key and version")
      }
    }
    val opChecked = when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"applyChangelog: unknown op in '$opCol': "),
        coalesce(col(opCol).cast("string"), lit("NULL")))))
    val unioned = keyedBase
      .select(keyCols.map(col) ++ payload.map(col) ++ Seq(
        lit(0).as("__pri"), lit(null).cast("string").as("__op")): _*)
      .withColumn("__ver", lit(null).cast(
        changes.schema(versionCol).dataType.sql))
      .unionByName(keyedChanges.select(
        keyCols.map(col) ++ payload.map(col) ++ Seq(
          lit(1).as("__pri"), opChecked.as("__op"),
          col(versionCol).as("__ver")): _*))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__pri").desc, col("__ver").desc)
    unioned
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && (col("__op").isNull || col("__op") =!= "D"))
      .select((keyCols ++ payload).map(col): _*)
  }

  /** Gaps-and-islands interval union: collapse each key's overlapping or
    * touching half-open `[lo, hi)` intervals into maximal merged runs,
    * releasing per island its span and how many raw intervals folded in.
    * The warehouse classic behind "total covered uptime", contiguous
    * availability windows, and de-fragmenting validity ranges before an
    * [[intervalOverlapJoin]]; [[sessionTable]] is the POINT-event analog
    * (gap rule on instants), this is the interval analog (reachability of
    * the running max endpoint).
    *
    * Merge rule: interval i starts a NEW island iff its `lo` is strictly
    * greater than the running max `hi` of every earlier interval in the
    * key (earlier = (lo, hi) ascending). Touching intervals ([1,3) +
    * [3,5)) therefore MERGE — half-open adjacency has no gap between
    * them; callers wanting strictly-overlapping-only semantics shift `hi`
    * down one unit. Duplicate and fully-contained intervals fold into
    * their container (the running max never moves backward). Rows with a
    * NULL endpoint or `hi <= lo` (empty/inverted — no extent) fail
    * loudly rather than silently skewing the union; rows with a NULL
    * key DROP (they belong to no series — the [[scdAudit]] convention).
    *
    * Scale shape: ONE key-keyed exchange serves everything — the
    * running-max window, the island-id running sum over the SAME sort,
    * and the final (key, island) aggregate (a sub-grouping of the window
    * partitioning, no new shuffle). Island state is a single long per
    * group; nothing joins, nothing is quadratic in intervals — the naive
    * self-join formulation (`a.lo <= b.hi AND b.lo <= a.hi`) this
    * replaces is per-key quadratic.
    */
  def mergeIntervals(
      df: DataFrame, keyCols: Seq[String], loCol: String,
      hiCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mergeIntervals needs at least one key column")
    Inputs.present(df, "input", keyCols ++ Seq(loCol, hiCol): _*)
    Inputs.integral(df, "mergeIntervals", "endpoint", loCol, hiCol)
    val keyed = df.select(
      keyCols.map(col) ++ Seq(
        when(col(loCol).isNull || col(hiCol).isNull,
          raise_error(lit(s"mergeIntervals: NULL endpoint in [$loCol, " +
            s"$hiCol) — intervals need both bounds")).cast("long"))
          .otherwise(col(loCol).cast("long")).as("__lo"),
        when(col(hiCol).cast("long") <= col(loCol).cast("long"),
          raise_error(concat(lit(s"mergeIntervals: empty or inverted " +
            s"interval [$loCol, $hiCol): ["), col(loCol).cast("string"),
            lit(", "), col(hiCol).cast("string"), lit(")"))).cast("long"))
          .otherwise(col(hiCol).cast("long")).as("__hi")): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__lo"), col("__hi"))
    // running max over STRICTLY earlier rows: NULL on the first row of a
    // key, so `__lo > coalesce(maxPrev, MIN)` starts island 1 there
    val maxPrev = max(col("__hi"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    keyed
      .withColumn("__new",
        when(maxPrev.isNull || col("__lo") > maxPrev, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(keyCols.map(col) :+ col("__island"): _*)
      .agg(min(col("__lo")).as("island_lo"),
        max(col("__hi")).as("island_hi"),
        count(lit(1)).as("n_intervals"))
      .select(keyCols.map(col) ++ Seq(col("island_lo"), col("island_hi"),
        col("n_intervals")): _*)
  }

  /** Period-over-period deltas: per key the activity count of every
    * OBSERVED period alongside the previous observed period's count, the
    * raw difference, and — both counts being positive integers — the
    * exact truncating growth ratio `growth_ppm = (n * ppmScale) div
    * prev_n`. The WoW/MoM dashboard table; [[zeroFillSeries]] composes in
    * front when "previous" must mean the previous CALENDAR period rather
    * than the previous period with data (zero-fill first, then a zero
    * `prev_n` releases a NULL growth ratio instead of dividing by zero).
    *
    * First observed period per key releases NULL prev/delta/growth (no
    * predecessor, not zero growth). `delta` can be negative — plain
    * integer subtraction, exact in any engine; `growth_ppm` is only ever
    * computed over positive counts, so truncating division agrees
    * across engines regardless of their negative-division convention.
    * Rows with a NULL key or period drop (they belong to no series).
    *
    * Scale shape: one (key, period) count with map-side partials, then a
    * key-keyed lag window over the already-aggregated series — the window
    * input is |keys| x |periods| rows, not events. AQE plans the second
    * exchange off the first's statistics; nothing joins.
    */
  def periodDeltas(
      events: DataFrame, keyCols: Seq[String], periodCol: String,
      ppmScale: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "periodDeltas needs at least one key column")
    Inputs.ppmScale(ppmScale)
    Inputs.present(events, "input", keyCols :+ periodCol: _*)
    val series = events
      .where((keyCols :+ periodCol).map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col) :+ col(periodCol).cast("long")
        .as("period"): _*)
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("period"))
    series
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(keyCols.map(col) ++ Seq(col("period"), col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta"),
        when(col("prev_n") > 0L,
          call_function("div", // decimal-widened: no long wrap at 1e12 scale
            col("n").cast("decimal(38,0)") * lit(ppmScale),
            col("prev_n").cast("decimal(38,0)"))).as("growth_ppm")): _*)
  }

  /** RFM segmentation: score every entity 1..`tiles` on Recency (latest
    * activity), Frequency (activity count), and Monetary (total integer
    * amount), then release the segment grid — per (r, f, m) cell its
    * population and total spend. The classic customer-value partition
    * behind campaign targeting and churn triage; tile 1 is always the
    * BEST tile (most recent / most frequent / highest spend), matching
    * the "segment 111 = champions" convention.
    *
    * `amountCol` must be integral — exact sums, exact tile boundaries;
    * callers with decimal currency pre-scale to minor units (cents,
    * micros). Tiles are SQL NTILE semantics (sizes differ by at most
    * one, larger tiles first) with the entity id as the universal
    * tie-break, so the grid is bit-stable under any partitioning. Rows
    * with a NULL entity, time, or amount drop before scoring.
    *
    * Scale shape: ONE entity-keyed aggregate reduces events to the
    * |entities|-row profile table; each tile column is a two-phase
    * global rank over that table ([[graft.exec.Ranks.globalNtile]] — a
    * range exchange + per-partition window, never a single-task global
    * sort), and the final grid aggregate groups at most `tiles`^3 cells
    * with map-side partials.
    */
  def rfmSegments(
      events: DataFrame, entityCol: String, timeCol: String,
      amountCol: String, tiles: Int = 5): DataFrame = {
    require(tiles >= 2 && tiles <= 100,
      s"tiles must be in [2, 100], got $tiles")
    Inputs.present(events, "input", entityCol, timeCol, amountCol)
    Inputs.integral(events, "rfmSegments", "time or amount column",
      timeCol, amountCol)
    val profile = events
      .where(col(entityCol).isNotNull && col(timeCol).isNotNull &&
        col(amountCol).isNotNull)
      .groupBy(col(entityCol).as("__e"))
      .agg(max(col(timeCol).cast("long")).as("__rec"),
        count(lit(1)).as("__freq"),
        sum(col(amountCol).cast("long")).as("__mon"))
    val r = graft.exec.Ranks.globalNtile(
      profile, Seq(col("__rec").desc, col("__e")), tiles, "r_tile")
    val f = graft.exec.Ranks.globalNtile(
      r, Seq(col("__freq").desc, col("__e")), tiles, "f_tile")
    val m = graft.exec.Ranks.globalNtile(
      f, Seq(col("__mon").desc, col("__e")), tiles, "m_tile")
    m.groupBy(col("r_tile"), col("f_tile"), col("m_tile"))
      .agg(count(lit(1)).as("n_entities"), sum(col("__mon")).as("sum_amount"))
  }

  /** Two-dimensional Pareto frontier (skyline) per key: the rows no
    * other row in the key DOMINATES, minimizing both dimensions —
    * dominance meaning <= on both and < on at least one. The
    * price-vs-size / latency-vs-cost shortlist operator (Börzsönyi,
    * Kossmann & Stocker, "The Skyline Operator", ICDE 2001). Duplicate
    * (d1, d2) points dominate nothing and all survive; callers wanting
    * one representative compose a dedup. Maximizing a dimension =
    * negate it first. Rows with a NULL key or NULL dimension drop —
    * they have no position in the dominance order.
    *
    * Scale shape: the sweep-line formulation on ONE key-keyed exchange —
    * sort by (d1, d2), a row survives iff no strictly-earlier row's
    * (d2, d1) is lexicographically "better or equal with a strict edge";
    * the strictly-earlier running min over struct(d2, d1) decides in
    * O(1) state. The naive NOT-EXISTS self-join (the SQL oracle's
    * independent formulation) is per-key quadratic; this is per-key
    * sort-linear.
    */
  def paretoFrontier(
      df: DataFrame, keyCols: Seq[String], d1Col: String,
      d2Col: String): DataFrame = {
    require(keyCols.nonEmpty, "paretoFrontier needs at least one key column")
    Inputs.free(df, "paretoFrontier", "__mm")
    Inputs.present(df, "input", keyCols ++ Seq(d1Col, d2Col): _*)
    Inputs.numeric(df, "paretoFrontier", "dimension", d1Col, d2Col)
    val kept = df
      .where((keyCols ++ Seq(d1Col, d2Col)).map(col(_).isNotNull)
        .reduce(_ && _))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(d1Col), col(d2Col))
      .rowsBetween(Window.unboundedPreceding, -1)
    // mm = lexicographic min of (d2, d1) over strictly-earlier rows in
    // (d1, d2) order. Earlier rows all have d1 <= this row's d1, so:
    //   mm.d2 < d2            -> dominated (<= on d1, < on d2)
    //   mm.d2 = d2, mm.d1 < d1 -> dominated (<  on d1, = on d2)
    //   mm.d2 = d2, mm.d1 = d1 -> duplicate point, keep
    //   mm.d2 > d2 or no mm    -> frontier
    val mm = min(struct(col(d2Col).as("d2"), col(d1Col).as("d1"))).over(w)
    kept
      .withColumn("__mm", mm)
      .where(col("__mm").isNull ||
        col("__mm.d2") > col(d2Col) ||
        (col("__mm.d2") === col(d2Col) && col("__mm.d1") === col(d1Col)))
      .drop("__mm")
  }

  /** SCD validity auditor: per key, how healthy its half-open
    * `[from, to)` history is — `n_overlaps` (rows starting before an
    * earlier row ended), `n_gaps` (rows starting strictly after every
    * earlier row ended — uncovered time in between), and `n_open`
    * (rows with NULL `to`, the "current" markers, of which a sane SCD
    * has at most one). The audit [[scd2History]]'s OUTPUT passes by
    * construction and hand-maintained dimension tables routinely fail;
    * run it before trusting a point-in-time join. Perfectly touching
    * rows ([a,b) then [b,c)) are neither overlap nor gap.
    *
    * A NULL `from` or an empty/inverted interval raises loudly (such a
    * row has no defensible position in the order); a NULL `to` is the
    * open-ended current row and overlaps EVERYTHING after it — exactly
    * the double-current defect the n_open column also counts. NULL
    * keys drop.
    *
    * Scale shape: ONE key-keyed exchange — the strictly-earlier
    * running max of `to` (the [[mergeIntervals]] sweep) classifies
    * every row in O(1) window state, and the per-key rollup is a
    * sub-grouping of the same partitioning (no second shuffle).
    */
  def scdAudit(
      df: DataFrame, keyCols: Seq[String], fromCol: String,
      toCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scdAudit needs at least one key column")
    Inputs.present(df, "input", keyCols ++ Seq(fromCol, toCol): _*)
    Inputs.integral(df, "scdAudit", "validity bound", fromCol, toCol)
    val openEnd = Long.MaxValue
    val keyed = df.select(
      keyCols.map(col) ++ Seq(
        when(col(fromCol).isNull,
          raise_error(lit(s"scdAudit: NULL $fromCol — every version " +
            "needs a start")).cast("long"))
          .otherwise(col(fromCol).cast("long")).as("__from"),
        when(col(toCol).isNotNull &&
            col(toCol).cast("long") <= col(fromCol).cast("long"),
          raise_error(concat(lit(s"scdAudit: empty or inverted " +
            s"[$fromCol, $toCol): ["), col(fromCol).cast("string"),
            lit(", "), col(toCol).cast("string"), lit(")"))).cast("long"))
          .otherwise(coalesce(col(toCol).cast("long"), lit(openEnd)))
          .as("__to"),
        col(toCol).isNull.as("__open")): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__from"), col("__to"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val runMax = max(col("__to")).over(w)
    keyed
      .withColumn("__prev", runMax)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__prev").isNotNull &&
          col("__from") < col("__prev"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("__prev").isNotNull &&
          col("__from") > col("__prev"), 1L).otherwise(0L)).as("n_gaps"),
        sum(when(col("__open"), 1L).otherwise(0L)).as("n_open"))
  }

  /** Join pre-flight skew doctor: BEFORE running a 100-TB equi-join,
    * the `topK` keys by exact output contribution — per key the two
    * side multiplicities, their product `out_rows` (the rows that key
    * alone will emit), and its truncating ppm share of the whole join's
    * output. The keys this surfaces are exactly the ones that need
    * salting, AQE skew splitting, or a pre-aggregate; running it costs
    * two key-keyed COUNTS (bounded-width shuffles of the key columns
    * only — never payloads), not the join.
    *
    * Exact integers end to end: products and the total accumulate in
    * decimal(38,0); `out_rows` releases as a long behind a LOUD
    * overflow error (a key pairing 4B x 4B rows overflows — and is
    * precisely the finding, so the message names the key). NULL keys
    * drop on both sides — SQL equi-joins never match them.
    *
    * Scale shape: one count aggregate per side (map-side partials), a
    * key-keyed inner join of the two COUNT tables (|distinct keys|
    * rows), one single-row total broadcast, and a TakeOrdered top-K
    * (per-partition heads, never a global single-task sort). Ordering
    * ties break on the key string, so the released table is bit-stable.
    */
  def joinHotKeys(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      topK: Int = 100, ppmScale: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "joinHotKeys needs at least one key column")
    require(topK >= 1 && topK <= 100000,
      s"topK must be in [1, 1e5], got $topK")
    Inputs.ppmScale(ppmScale)
    Inputs.present(left, "left side", keyCols: _*)
    Inputs.present(right, "right side", keyCols: _*)
    keyCols.foreach { c =>
      // the count tables group on STRINGIFIED keys, and stringification
      // diverges where the real join's numeric widening coincides (double
      // 1.0 -> "1.0" vs long 1 -> "1") — a mismatch would make the skew
      // doctor miss exactly the hot key that explodes the join. Refuse
      // loudly; the caller pre-casts to a common type, as the join should.
      require(left.schema(c).dataType == right.schema(c).dataType,
        s"joinHotKeys: key '$c' differs in type between sides " +
          s"(${left.schema(c).dataType.simpleString} vs " +
          s"${right.schema(c).dataType.simpleString}) — cast both sides " +
          "to a common type first, as the join itself would")
    }
    def counts(df: DataFrame, out: String) = df
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(count(lit(1)).as(out))
    val joined = counts(left, "n_left")
      .join(counts(right, "n_right"), keyCols)
      .withColumn("__out",
        col("n_left").cast("decimal(38,0)") *
          col("n_right").cast("decimal(38,0)"))
    val total = joined.agg(sum(col("__out")).as("__tot"))
    val keyLabel = concat_ws("|", keyCols.map(col): _*)
    joined
      .crossJoin(broadcast(total))
      .select(keyCols.map(col) ++ Seq(col("n_left"), col("n_right"),
        when(col("__out") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(lit("joinHotKeys: key "), keyLabel,
            lit(" alone emits more than 2^63 rows — this IS the skew " +
              "finding; fix the key before joining"))).cast("long"))
          .otherwise(col("__out").cast("long")).as("out_rows"),
        when(col("__tot") > 0,
          call_function("div", col("__out") * lit(ppmScale),
            col("__tot"))).otherwise(lit(0L)).as("share_ppm")): _*)
      .orderBy(col("out_rows").desc, keyLabel)
      .limit(topK)
  }
}
