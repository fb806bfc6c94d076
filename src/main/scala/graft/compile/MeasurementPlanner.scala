package graft.compile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.budget._
import graft.constraints._
import graft.exec.{DpQuantile, MagnitudeBucket, Noise, NoiseInfo, NoiseMechanism}
import graft.ir.MechanismHint
import graft.ir.QueryExpr._
import graft.ir.MeasureExpr
import graft.keyset.KeySet
import graft.types.ColumnType

/** Result of compiling a measurement: the answer plan, per-column noise
  * descriptions, and the budget actually charged (noise-addition queries
  * under ApproxDP charge delta = 0, reference
  * _base_measurement_visitor.py:591-668).
  */
final case class MeasureOut(df: DataFrame, noise: Seq[NoiseInfo], spend: PrivacyBudget)

import MeasurementPlanner.Sens

object MeasurementPlanner {
  /** One budget charge = at most one random draw: when any mechanism in the
    * plan is genuinely random, pin the sampled result with an eager
    * localCheckpoint so every later action replays the same release instead
    * of redrawing noise. The checkpoint runs executor-side over the small
    * post-aggregation rows — no driver collect, so it holds at any keyset
    * size. Noiseless (infinite-budget) plans are pure functions and stay
    * lazy, keeping their scan pruning visible to `.explain` audits.
    */
  def releaseOnce(df: DataFrame, noise: Seq[NoiseInfo]): DataFrame =
    if (noise.forall(_.mechanism.isNoiseless)) df
    else df.localCheckpoint(true)

  /** Noise scale and count threshold for DP partition selection at input
    * distance `sens` (d_in-aware, mirroring the reference's pass of d_in to
    * core create_partition_selection_measurement,
    * _measurement_visitor.py:141-147). One protected unit can contribute up
    * to `sens` rows to a single new group and create up to ceil(sens)
    * distinct new groups, so the threshold clears the per-group contribution
    * bound and the failure probability delta is split across the groups the
    * unit could create: tau = sens + b * ln(1 / (2 * delta / maxGroups)).
    * At sens = 1 this is the classic 1 + b * ln(1/(2*delta)).
    */
  def partitionSelectionParams(
      sens: Double, eps: Double, delta: Double): (Double, Double) = {
    val b = 2.0 * sens / eps
    val maxGroups = math.max(1L, math.ceil(sens).toLong)
    val deltaPer = delta / maxGroups.toDouble
    val tau = sens + b * math.log(1.0 / (2.0 * deltaPer))
    (b, math.max(tau, 1.0))
  }

  /** Aggregation sensitivity: the L1 bound, plus — when the constraint
    * structure grants it — the EXACT squared L2 bound. Scaling by a per-row
    * factor f scales the square by f^2. (Companion-level so pattern matches
    * need no outer-instance check.)
    */
  private[compile] final case class Sens(l1: Rat, l2Sq: Option[Rat] = None) {
    def *(f: Rat): Sens = Sens(l1 * f, l2Sq.map(_ * f * f))
    def isZero: Boolean = l1.isZero
    def toDouble: Double = l1.toDouble
    /** Squared sensitivity for Gaussian-family calibration. */
    def sq: Rat = l2Sq.getOrElse(l1 * l1)
  }
}

/** Lowers `MeasureExpr` to: transform chain -> (truncation) -> aggregation
  * -> keyset left-join -> noise (reference:
  * _query_expr_compiler/_base_measurement_visitor.py).
  *
  * Scale notes (100 TB):
  *  - Aggregation runs BEFORE the keyset join, so the shuffle carries only
  *    partially-aggregated group rows (map-side combine), never raw data.
  *  - The keyset joins against the aggregated result; either side may be
  *    broadcast by AQE since both are small relative to the input.
  *  - Noise is an executor-side projection over the aggregated rows — no
  *    driver collect anywhere.
  */
final class MeasurementPlanner(
    catalog: Catalog, budget: PrivacyBudget, spark: SparkSession) {

  private val transformPlanner = new TransformPlanner(catalog, budget, spark)
  private val cat = catalog.schemas

  def compile(expr: MeasureExpr): MeasureOut = expr match {

    // Auto partition selection: a Detect keyset spends half the epsilon plus
    // all the delta discovering the key domain, then the aggregation runs
    // with the remainder on the discovered keys (reference
    // _split_auto_partition_budget, _base_measurement_visitor.py:343-364,
    // run as an adaptive composition :421-510).
    case agg: GroupByAgg if detectLeaves(agg.keys.op).nonEmpty =>
      val leaves = detectLeaves(agg.keys.op)
      require(leaves.size == 1,
        "a group-by keyset may contain at most one detect(...) leaf")
      val cols = leaves.head.columns
      val (selBudget, aggBudget) = budget match {
        case ApproxDPBudget(eps, delta) =>
          (ApproxDPBudget(eps / Rat(2), delta), ApproxDPBudget(eps / Rat(2), Rat.zero))
        case other => throw new IllegalArgumentException(
          s"groupby(KeySet.detect(...)) requires an ApproxDP budget, got $other")
      }
      // The discovered key domain is itself a DP release: materialize it once
      // so re-executing the final plan cannot re-run partition selection with
      // fresh noise (that would release the selection mechanism many times
      // for a single eps/2 + delta charge).
      val selOut = new MeasurementPlanner(catalog, selBudget, spark)
        .compile(GetGroups(agg.child, cols))
      val discovered = MeasurementPlanner.releaseOnce(selOut.df, selOut.noise)
      // substitute the discovered keys for the detect leaf and evaluate the
      // REST of the keyset plan as ordinary post-processing of the release
      // (reference KeySetPlan: cross/join/filter/... compose around the
      // detect, _keyset.py:622-837)
      val bound = KeySet(substituteDetect(agg.keys.op,
        KeySet.fromDataFrame(discovered).op))
      val inner = new MeasurementPlanner(catalog, aggBudget, spark)
        .compile(withKeys(agg, bound))
      MeasureOut(inner.df, inner.noise, budget)

    case e @ GroupByCount(child, keys, out, hint) =>
      val t = prepared(child, needed = Some(keys.columns))
      val sens = aggSensitivity(t, Some(keys), l2 = isL2(hint))
      val mech = selectMechanism(hint, integer = true, sens, parts = 1)
      val aggd = groupAgg(t.df, keys, Seq(count(lit(1)).as(out)))
      val joined = keysetJoin(keys, aggd, Seq(out -> Some(lit(0L))))
      val noisy = joined.withColumn(out, Noise.addLongNoise(col(out), mech))
      MeasureOut(noisy, Seq(NoiseInfo(out, mech)), noiseSpend)

    case e @ GroupByCountDistinct(child, keys, cols, out, hint) =>
      val t = prepared(child)
      val countCols = if (cols.nonEmpty) cols else t.schema.columnNames
      val idCase = t.metric match {
        // Counting distinct privacy IDs needs no contribution constraint:
        // adding/removing one ID changes the distinct-ID count by exactly
        // one, so sensitivity is d_in directly (the reference's
        // constrained-count-distinct optimization,
        // _base_measurement_visitor.py:217-300, ungrouped form).
        case m @ IDsMetric(id, _, d, _) if countCols == Seq(id) && keys.isEmptyKey =>
          // the exact square matters when the distance is irrational
          // (sqrt(g)*maxIDs from a zCDP partition) — Gaussian consumers take
          // m.sq, L1 consumers the rounded-up d
          Some(Sens(d, Some(m.sq)))
        // Grouped form: with MaxGroupsPerID(c, g) enforced and c the single
        // group-by key, one ID changes at most g groups' distinct-ID counts
        // by 1 each — L1 sensitivity g*d_in, or L2 sqrt(g)*d_in when the
        // selected mechanism is Gaussian-family (L2 across groups; reference
        // :252-300), carried as the exact square g*d_in^2. A Laplace hint
        // under zCDP lowers to an L1 mechanism, so it must NOT take the
        // sqrt credit.
        case m @ IDsMetric(id, _, d, _) if countCols == Seq(id) && keys.columns.size == 1 =>
          val c = keys.columns.head
          t.constraints.collect { case MaxGroupsPerID(`c`, g) => g.toLong }
            .minOption.map { g =>
              Sens(d * Rat(g),
                if (isL2(hint)) Some(m.sq * Rat(g)) else None)
            }
        case _ => None
      }
      val sens = idCase.getOrElse(aggSensitivity(t, Some(keys), l2 = isL2(hint)))
      val mech = selectMechanism(hint, integer = true, sens, parts = 1)
      val aggd = groupAgg(t.df, keys,
        Seq(countDistinct(struct(countCols.map(col).toIndexedSeq: _*)).as(out)))
      val joined = keysetJoin(keys, aggd, Seq(out -> Some(lit(0L))))
      val noisy = joined.withColumn(out, Noise.addLongNoise(col(out), mech))
      MeasureOut(noisy, Seq(NoiseInfo(out, mech)), noiseSpend)

    case e @ GroupByBoundedSum(child, keys, m, lo, hi, out, hint) =>
      val t = prepared(child, dropSpecial = Some(m),
        needed = Some(keys.columns :+ m))
      val sens = aggSensitivity(t, Some(keys), l2 = isL2(hint)) *
        Rat(math.max(math.abs(lo), math.abs(hi)))
      val integer = t.schema(m).ctype == ColumnType.Integer
      val mech = selectMechanism(hint, integer, sens, parts = 1)
      if (integer) {
        val clamped = least(greatest(col(m), lit(lo.toLong)), lit(hi.toLong))
        val aggd = groupAgg(t.df, keys, Seq(sum(clamped).as(out)))
        val joined = keysetJoin(keys, aggd, Seq(out -> Some(lit(0L))))
        MeasureOut(joined.withColumn(out, Noise.addLongNoise(col(out), mech)),
          Seq(NoiseInfo(out, mech)), noiseSpend)
      } else {
        val clamped = least(greatest(col(m), lit(lo)), lit(hi))
        val aggd = groupAgg(t.df, keys, Seq(sum(clamped).as(out)))
        val joined = keysetJoin(keys, aggd, Seq(out -> Some(lit(0.0))))
        MeasureOut(joined.withColumn(out, Noise.addDoubleNoise(col(out), mech)),
          Seq(NoiseInfo(out, mech)), noiseSpend)
      }

    case e @ GroupByBoundedAverage(child, keys, m, lo, hi, out, hint) =>
      // DP mean = noisy sum of deviations from the midpoint / noisy count,
      // shifted back (reference _base_measurement_visitor.py:1249-1261);
      // each part gets half the budget. For an INTEGER measure with whole
      // clamp bounds the midpoint is floored to an integer so the deviation
      // sum stays integer-valued and the discrete mechanism family applies
      // (reference core get_midpoint(integer_midpoint=True); rewrite-rules
      // matrix maps int_col -> GEOMETRIC/DISCRETE_GAUSSIAN). The midpoint
      // shift cancels exactly in the result, so only the calibration — not
      // the noiseless answer — depends on this choice; the asymmetric span
      // side max(hi-mid, mid-lo) is the per-row sensitivity.
      val t = prepared(child, dropSpecial = Some(m),
        needed = Some(keys.columns :+ m))
      val sens = aggSensitivity(t, Some(keys), l2 = isL2(hint))
      val intPath = isIntegerMeasure(t.schema, m, lo, hi)
      val mid = if (intPath) math.floor((lo + hi) / 2.0) else (lo + hi) / 2.0
      val devSens =
        if (intPath) sens * Rat(math.max(hi - mid, mid - lo))
        else sens * Rat((hi - lo) / 2.0)
      val sumMech = selectMechanism(hint, integer = intPath, devSens, parts = 2)
      val cntMech = selectMechanism(hint, integer = true, sens, parts = 2)
      val (sdAgg, sdFill) =
        if (intPath) {
          val c = least(greatest(col(m), lit(lo.toLong)), lit(hi.toLong))
          (sum(c - lit(mid.toLong)).as("__sd"), Some(lit(0L)))
        } else {
          val c = least(greatest(col(m).cast("double"), lit(lo)), lit(hi))
          (sum(c - lit(mid)).as("__sd"), Some(lit(0.0)))
        }
      val aggd = groupAgg(t.df, keys, Seq(sdAgg, count(lit(1)).as("__n")))
      val joined = keysetJoin(keys, aggd,
        Seq("__sd" -> sdFill, "__n" -> Some(lit(0L))))
      val noisy = joined
        .withColumn("__sd",
          if (intPath) Noise.addLongNoise(col("__sd"), sumMech)
          else Noise.addDoubleNoise(col("__sd"), sumMech))
        .withColumn("__n", Noise.addLongNoise(col("__n"), cntMech))
      val result = noisy
        .withColumn(out,
          col("__sd").cast("double") / greatest(col("__n").cast("double"), lit(1.0)) +
            lit(mid))
        .drop("__sd", "__n")
      MeasureOut(result,
        Seq(NoiseInfo(s"$out(sum)", sumMech), NoiseInfo(s"$out(count)", cntMech)),
        noiseSpend)

    case e: GroupByBoundedVariance =>
      MeasureOut(varianceResult(e, e.outputColumn, stdev = false), varianceNoise(e),
        noiseSpend)

    case e @ GroupByBoundedStdev(child, keys, m, lo, hi, out, hint) =>
      val v = GroupByBoundedVariance(child, keys, m, lo, hi, out, hint)
      MeasureOut(varianceResult(v, out, stdev = true), varianceNoise(v), noiseSpend)

    case e @ GroupByQuantile(child, keys, m, q, lo, hi, out) =>
      val t = prepared(child, dropSpecial = Some(m),
        needed = Some(keys.columns :+ m))
      val sens = aggSensitivity(t, Some(keys))
      val eps = exponentialEpsilon(sens)
      val mech = NoiseMechanism.Exponential(eps)
      val keyCols = keys.columns
      // default: bounded-state binned mechanism (DpQuantile header). Opt-in
      // `spark.graft.quantile.method = intervals` runs the reference's
      // interval-scoring mechanism, which materializes each group's values.
      val method = t.df.sparkSession.conf
        .getOption("spark.graft.quantile.method").getOrElse("binned")
      val result = method match {
        case "intervals" =>
          // per-group state is O(group size) by the mechanism's nature, so
          // the gather is residency-bounded (cap + 1 values: one extra row
          // marks the overflow, never an OOM) and the finisher refuses an
          // oversized group loudly, naming the bounded-state binned path —
          // the same discipline as Similarity.bruteForcePairs' guard
          val maxGroupRows = t.df.sparkSession.conf
            .getOption("spark.graft.quantile.intervals.maxGroupRows")
            .map(_.toInt).getOrElse(1 << 20)
          val vals = t.df.withColumn("__v", col(m).cast("double"))
          val gather = graft.exec.BoundedCollect
            .boundedCollectList(col("__v"), maxGroupRows + 1).as("__vs")
          val perGroup =
            if (keys.isEmptyKey) vals.agg(gather)
            else vals.groupBy(keyCols.map(col).toIndexedSeq: _*).agg(gather)
          keysetJoin(keys, perGroup, Seq("__vs" -> None))
            .withColumn(out,
              DpQuantile.finishIntervalsUdf(q, lo, hi, eps, maxGroupRows)(col("__vs")))
            .drop("__vs")
        case "binned" =>
          val binned = t.df.withColumn("__bin", DpQuantile.binColumn(col(m), lo, hi))
          val counts = binned.groupBy((keyCols :+ "__bin").map(col).toIndexedSeq: _*)
            .agg(count(lit(1)).as("__c"))
          val perGroup =
            if (keys.isEmptyKey)
              counts.agg(collect_list(struct(col("__bin"), col("__c"))).as("__bins"))
            else counts.groupBy(keyCols.map(col).toIndexedSeq: _*)
              .agg(collect_list(struct(col("__bin"), col("__c"))).as("__bins"))
          keysetJoin(keys, perGroup, Seq("__bins" -> None))
            .withColumn(out, DpQuantile.finishUdf(q, lo, hi, eps)(col("__bins")))
            .drop("__bins")
        case other => throw new IllegalArgumentException(
          s"spark.graft.quantile.method must be 'binned' or 'intervals', got '$other'")
      }
      MeasureOut(result, Seq(NoiseInfo(out, mech)), noiseSpend)

    case e @ GetGroups(child, columns) =>
      // DP partition selection by noisy-count thresholding (Korolova et al. /
      // Wilson et al.; reference create_partition_selection_measurement call
      // at _measurement_visitor.py:141-147). ApproxDP only.
      val (eps, delta) = budget match {
        case ApproxDPBudget(ep, d) => (ep, d)
        case other => throw new IllegalArgumentException(
          s"get_groups requires an ApproxDP budget, got $other")
      }
      val t = prepared(child)
      val sens = aggSensitivity(t)
      val cols = e.schema(cat).columnNames
      val aggd = t.df.groupBy(cols.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("__c"))
      val (noisy, threshold) =
        if (eps.isInfinite) (aggd, 1.0)
        else {
          if (delta.isZero) throw new IllegalArgumentException(
            "get_groups requires delta > 0")
          if (eps.isZero) throw new IllegalArgumentException(
            "get_groups requires epsilon > 0")
          val (b, tau) = MeasurementPlanner.partitionSelectionParams(
            sens.toDouble, eps.toDouble, delta.toDouble)
          (aggd.withColumn("__c",
            Noise.addLongNoise(col("__c"), NoiseMechanism.Geometric(b))),
            tau)
        }
      val result = noisy.filter(col("__c") >= threshold)
        .select(cols.map(col).toIndexedSeq: _*)
      MeasureOut(result,
        Seq(NoiseInfo("__partition_selection",
          NoiseMechanism.Geometric(if (eps.isInfinite) 0.0 else 2.0 * sens.toDouble / eps.toDouble))),
        budget)

    case e @ GetBounds(child, keys, m, lowerName, upperName) =>
      val t0 = prepared(child, dropSpecial = Some(m))
      // infinities cannot inform a finite bound: exclude them like nulls and
      // NaNs (reference get_bounds returns finite powers of two even when
      // the column contains infinities, test_special_values.py:581-607)
      val t = if (t0.schema(m).ctype == ColumnType.Decimal)
        t0.copy(df = t0.df.filter(!col(m).isin(
          Double.PositiveInfinity, Double.NegativeInfinity)))
      else t0
      val sens = aggSensitivity(t)
      val eps = exponentialEpsilon(sens)
      val integer = t.schema(m).ctype == ColumnType.Integer
      // magnitude bucket: smallest k with |x| <= 2^k, k in [-32, 62],
      // decided on the exponent and mantissa bits, so it is bit-exact across
      // engines — unlike ceil(log2(x)), whose libm rounding at power-of-2
      // boundaries differs between JVM and C runtimes.
      val binned = t.df.withColumn("__mag", MagnitudeBucket.column(col(m)))
      val keyCols = keys.columns
      val counts = binned.groupBy((keyCols :+ "__mag").map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("__c"))
      val perGroup =
        if (keys.isEmptyKey)
          counts.agg(collect_list(struct(col("__mag"), col("__c"))).as("__mags"))
        else counts.groupBy(keyCols.map(col).toIndexedSeq: _*)
          .agg(collect_list(struct(col("__mag"), col("__c"))).as("__mags"))
      val joined = keysetJoin(keys, perGroup, Seq("__mags" -> None))
      val boundUdf = GetBoundsImpl.finishUdf(eps)
      val withK = joined.withColumn("__k", boundUdf(col("__mags"))).drop("__mags")
      val result =
        if (integer) {
          // powers of two are exact in doubles up to 2^62
          val p = pow(lit(2.0), greatest(col("__k"), lit(0)).cast("double")).cast("long")
          withK.withColumn(lowerName, -p).withColumn(upperName, p).drop("__k")
        }
        else
          withK.withColumn(lowerName, -pow(lit(2.0), col("__k")))
            .withColumn(upperName, pow(lit(2.0), col("__k")))
            .drop("__k")
      MeasureOut(result,
        Seq(NoiseInfo(upperName, NoiseMechanism.Exponential(eps))), noiseSpend)

    case SuppressAggregates(child, threshold) =>
      val inner = compile(child)
      MeasureOut(inner.df.filter(col(child.outputColumn) >= threshold),
        inner.noise, inner.spend)
  }

  // -------------------------------------------------------------- internals

  private def detectLeaves(
      op: graft.keyset.KeySetOp): Seq[graft.keyset.KeySetOp.Detect] = {
    import graft.keyset.KeySetOp._
    op match {
      case d: Detect         => Seq(d)
      case Cross(l, r)       => detectLeaves(l) ++ detectLeaves(r)
      case Join(l, r)        => detectLeaves(l) ++ detectLeaves(r)
      case Union(l, r)       => detectLeaves(l) ++ detectLeaves(r)
      case Subtract(l, r)    => detectLeaves(l) ++ detectLeaves(r)
      case Project(c, _)     => detectLeaves(c)
      case KFilter(c, _)     => detectLeaves(c)
      case _                 => Nil
    }
  }

  private def substituteDetect(
      op: graft.keyset.KeySetOp,
      replacement: graft.keyset.KeySetOp): graft.keyset.KeySetOp = {
    import graft.keyset.KeySetOp._
    op match {
      case _: Detect      => replacement
      case Cross(l, r)    => Cross(substituteDetect(l, replacement),
        substituteDetect(r, replacement))
      case Join(l, r)     => Join(substituteDetect(l, replacement),
        substituteDetect(r, replacement))
      case Union(l, r)    => Union(substituteDetect(l, replacement),
        substituteDetect(r, replacement))
      case Subtract(l, r) => Subtract(substituteDetect(l, replacement),
        substituteDetect(r, replacement))
      case Project(c, p)  => Project(substituteDetect(c, replacement), p)
      case KFilter(c, f)  => KFilter(substituteDetect(c, replacement), f)
      case other          => other
    }
  }

  private def withKeys(agg: GroupByAgg, ks: KeySet): GroupByAgg = agg match {
    case e: GroupByCount           => e.copy(keys = ks)
    case e: GroupByCountDistinct   => e.copy(keys = ks)
    case e: GroupByQuantile        => e.copy(keys = ks)
    case e: GroupByBoundedSum      => e.copy(keys = ks)
    case e: GroupByBoundedAverage  => e.copy(keys = ks)
    case e: GroupByBoundedVariance => e.copy(keys = ks)
    case e: GroupByBoundedStdev    => e.copy(keys = ks)
  }

  /** Compile the transform chain; for sum-like/quantile aggregations drop
    * null/NaN rows of the measure column first (the reference auto-inserts
    * DropNullAndNan + ReplaceInfinity around the measure column,
    * _rewrite_rules.py:202-257 — Inf is handled by clamping).
    */
  private def prepared(
      child: graft.ir.TransformExpr,
      dropSpecial: Option[String] = None,
      needed: Option[Seq[String]] = None): TransformOut = {
    // Opaque map/flatMap lambdas block Catalyst's column pruning; when the
    // aggregation's needed columns are known and the chain tops out in a
    // map-like node, narrow its encoded output struct instead.
    val t = child match {
      case m @ (_: MapRows | _: FlatMapRows) if needed.isDefined =>
        transformPlanner.compileMapLike(m, needed)
      case _ => transformPlanner.compile(child)
    }
    dropSpecial match {
      case Some(m) =>
        val d = t.schema(m)
        if (d.allowNull || d.allowNaN) {
          val cond =
            if (d.ctype == ColumnType.Decimal) col(m).isNotNull && !isnan(col(m))
            else col(m).isNotNull
          t.copy(df = t.df.filter(cond))
        } else t
      case None => t
    }
  }

  /** Row sensitivity of an aggregation over the compiled table. IDs tables
    * convert per-ID distance to row distance via the tightest enforced
    * constraint combination (reference _truncate_table,
    * _base_measurement_visitor.py:534-589). The combination
    * MaxGroupsPerID(c, g) x MaxRowsPerGroupPerID(c, r) earns the L2 credit
    * r*sqrt(g) instead of r*g when c is one of the group-by keys (reference
    * _constraint_stability, _base_measurement_visitor.py:200-207); the
    * irrational bound is rounded up to stay a safe overestimate.
    *
    * `l2` must be true ONLY when the downstream mechanism is calibrated to L2
    * sensitivity (Gaussian family under zCDP). A zCDP *budget* alone is not
    * enough: a Laplace mechanism hint under zCDP lowers to a pure-DP
    * mechanism via eps = sqrt(2 rho), and that mechanism needs the L1 bound
    * r*g — granting sqrt(g) there would under-noise by ~sqrt(g). Likewise
    * the exponential mechanism (quantile / bounds) composes in L1.
    */
  private def aggSensitivity(
      t: TransformOut, keys: Option[KeySet] = None, l2: Boolean = false): Sens =
    t.metric match {
      // the L2 credit from AddMaxRowsInMaxGroups applies only when the
      // downstream mechanism is Gaussian-family AND the aggregation groups
      // by the credit's column — otherwise all `distance` changed rows can
      // hit one released value (see the RowsMetric contract)
      case m: RowsMetric =>
        Sens(m.distance, m.l2Credit.collect {
          case (c, vSq) if l2 && keys.exists(_.columns.contains(c)) => vSq
        })
      case m @ IDsMetric(_, _, d, _) =>
        val groups = t.constraints.collect { case MaxGroupsPerID(c, g) => c -> g.toLong }.toMap
        val zcdp = l2 && budget.isInstanceOf[RhoZCDPBudget]
        // per-ID L1 bounds and, for Gaussian consumers grouped on the
        // constraint column, exact SQUARED L2 bounds (r * sqrt(g) squared
        // is the rational r^2 * g — the reference carries the symbolic
        // sqrt; only the square ever reaches a Gaussian calibration)
        val l1Bounds: Seq[Long] =
          t.constraints.collect { case MaxRowsPerID(n) => n.toLong } ++
            t.constraints.collect {
              case MaxRowsPerGroupPerID(c, r) if groups.contains(c) => groups(c) * r
            }
        val l2SqBounds: Seq[Long] =
          if (!zcdp) Nil
          else t.constraints.collect { case MaxRowsPerID(n) => n.toLong * n } ++
            t.constraints.collect {
              case MaxRowsPerGroupPerID(c, r) if groups.contains(c) =>
                if (keys.exists(_.columns.contains(c))) r.toLong * r * groups(c)
                else { val b = groups(c) * r; b * b }
            }
        if (l1Bounds.isEmpty)
          throw new IllegalArgumentException(
            "aggregations on a table with AddRowsWithID protection require an " +
              "enforced constraint (MaxRowsPerID, or MaxGroupsPerID + " +
              "MaxRowsPerGroupPerID); add .enforce(...) to the query")
        Sens(d * Rat(l1Bounds.min),
          if (l2SqBounds.isEmpty) None else Some(m.sq * Rat(l2SqBounds.min)))
    }

  /** True iff `hint` will lower to a Gaussian-family mechanism under the
    * session budget — the only case where an L2 (sqrt-of-groups) constraint
    * credit is sound. Mirrors the RhoZCDP branch of selectMechanism.
    */
  private def isL2(hint: MechanismHint): Boolean =
    budget.isInstanceOf[RhoZCDPBudget] && hint != MechanismHint.Laplace

  /** DEFAULT -> concrete mechanism given budget kind and value type
    * (reference _rewrite_rules.py:91-199), with the noise scale calibrated
    * to sensitivity / (budget / parts).
    */
  private def selectMechanism(
      hint: MechanismHint, integer: Boolean, sens: Sens, parts: Int): NoiseMechanism = {
    // an epsilon/rho of exactly zero cannot calibrate additive noise (the
    // scale would be sens/0); the fully-zero budget is rejected at evaluate,
    // and this catches the ApproxDP(0, delta > 0) corner, where delta alone
    // can only drive partition selection, never noise addition
    def requireNonZero(v: Rat): Rat = {
      if (v.isZero && !sens.isZero) throw new IllegalArgumentException(
        "noise-addition queries require a non-zero epsilon/rho " +
          "(a delta-only budget can only drive partition selection)")
      v
    }
    def laplaceScale(eps0: Rat): Double = {
      val eps = requireNonZero(eps0)
      if (eps.isInfinite || sens.isZero) 0.0
      else (sens.l1 / (eps / Rat(parts))).toDouble
    }
    budget match {
      case PureDPBudget(eps) => lapLike(hint, integer, laplaceScale(eps))
      case ApproxDPBudget(eps, _) => lapLike(hint, integer, laplaceScale(eps))
      case RhoZCDPBudget(rho0) =>
        val rho = requireNonZero(rho0)
        hint match {
          case MechanismHint.Laplace =>
            // eps-DP mechanism run under zCDP: eps = sqrt(2 rho / parts).
            // An L1 mechanism can never take the L2 credit.
            val s = if (rho.isInfinite || sens.isZero) 0.0
              else sens.l1.toDouble / math.sqrt(2.0 * (rho / Rat(parts)).toDouble)
            if (integer) NoiseMechanism.Geometric(s) else NoiseMechanism.Laplace(s)
          case _ =>
            // sigma^2 = Delta_2^2 / (2 rho); the SQUARED sensitivity is an
            // exact rational even when the bound itself is irrational
            // (r * sqrt(g)), so no ceil is needed and the scale matches the
            // reference's symbolic calibration exactly
            val s2 = if (rho.isInfinite || sens.isZero) 0.0
              else (sens.sq / (Rat(2) * (rho / Rat(parts)))).toDouble
            if (integer) NoiseMechanism.DiscreteGaussian(s2)
            else NoiseMechanism.Gaussian(s2)
        }
    }
  }

  private def lapLike(hint: MechanismHint, integer: Boolean, b: Double): NoiseMechanism =
    hint match {
      case MechanismHint.Gaussian => throw new IllegalArgumentException(
        "Gaussian noise requires a zCDP budget (reference _rewrite_rules.py:110-115)")
      case _ =>
        if (integer) NoiseMechanism.Geometric(b) else NoiseMechanism.Laplace(b)
    }

  /** Epsilon available to the exponential mechanism (quantile / bounds):
    * direct under PureDP/ApproxDP; via eps = sqrt(8 rho) under zCDP (the
    * exponential mechanism satisfies eps^2/8-zCDP).
    */
  private def exponentialEpsilon(sens: Sens): Double = budget match {
    // the exponential mechanism is an eps-DP primitive — always L1
    case PureDPBudget(eps) =>
      if (eps.isInfinite) Double.PositiveInfinity else eps.toDouble / sens.l1.toDouble
    case ApproxDPBudget(eps, _) =>
      if (eps.isInfinite) Double.PositiveInfinity else eps.toDouble / sens.l1.toDouble
    case RhoZCDPBudget(rho) =>
      if (rho.isInfinite) Double.PositiveInfinity
      else math.sqrt(8.0 * rho.toDouble) / sens.l1.toDouble
  }

  /** Budget actually charged for noise-addition queries: ApproxDP charges
    * delta = 0 (reference _base_measurement_visitor.py:591-668).
    */
  private def noiseSpend: PrivacyBudget = budget match {
    case ApproxDPBudget(eps, _) => ApproxDPBudget(eps, Rat.zero)
    case other                  => other
  }

  /** Group-by with map-side combine; ungrouped = global aggregate (one row
    * even for empty input, matching groupby(empty keyset) semantics).
    */
  private def groupAgg(df: DataFrame, keys: KeySet, aggs: Seq[Column]): DataFrame =
    if (keys.isEmptyKey) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys.columns.map(col).toIndexedSeq: _*).agg(aggs.head, aggs.tail: _*)

  /** One output row per keyset row: left-join the keyset onto the aggregated
    * result, null-filling absent groups with each column's empty-group value
    * (reference GroupBy(group_keys=keyset) semantics,
    * _base_measurement_visitor.py:400-419). Data groups outside the keyset
    * are dropped by the join. Null-safe on keys (nulls are valid key values).
    */
  private def keysetJoin(
      keys: KeySet, aggd: DataFrame,
      outCols: Seq[(String, Option[Column])]): DataFrame = {
    if (keys.isEmptyKey) return aggd
    val ks = keys.dataframe(spark)
    val keyCols = keys.columns
    val aggR = aggd.select(
      keyCols.map(c => col(c).as(s"__r_$c")) ++ outCols.map { case (c, _) => col(c) }: _*)
    val cond = keyCols.map(c => ks(c) <=> aggR(s"__r_$c")).reduce(_ && _)
    ks.join(aggR, cond, "left")
      .select(keyCols.map(col) ++ outCols.map {
        case (c, Some(default)) => coalesce(col(c), default).as(c)
        case (c, None)          => col(c)
      }: _*)
  }

  /** Integer-arithmetic lowering applies when the measure column is INTEGER
    * and the clamp bounds are whole: deviations from a floored midpoint (and
    * their squares) are integers, so the discrete mechanism family applies
    * (reference rewrite-rules matrix: int_col -> GEOMETRIC/DISCRETE_GAUSSIAN).
    */
  private def isIntegerMeasure(
      schema: graft.types.TableSchema, m: String, lo: Double, hi: Double): Boolean =
    schema(m).ctype == graft.types.ColumnType.Integer &&
      lo == math.floor(lo) && hi == math.floor(hi) &&
      !lo.isInfinite && !hi.isInfinite

  // variance / stdev share the three-part lowering (noisy sum of deviations,
  // sum of squared deviations, count; reference _query_expr.py:1918-2038)
  private def varianceParts(e: GroupByBoundedVariance) = {
    val t = prepared(e.child, dropSpecial = Some(e.measureColumn))
    val sens = aggSensitivity(t, Some(e.keys), l2 = isL2(e.mechanism))
    val intPath = isIntegerMeasure(t.schema, e.measureColumn, e.low, e.high)
    val mid =
      if (intPath) math.floor((e.low + e.high) / 2.0) else (e.low + e.high) / 2.0
    val half =
      if (intPath) math.max(e.high - mid, mid - e.low) else (e.high - e.low) / 2.0
    val sdMech = selectMechanism(e.mechanism, integer = intPath, sens * Rat(half), 3)
    val sqMech = selectMechanism(e.mechanism, integer = intPath,
      sens * Rat(half * half), 3)
    val cntMech = selectMechanism(e.mechanism, integer = true, sens, 3)
    (t, mid, intPath, sdMech, sqMech, cntMech)
  }

  private def varianceNoise(e: GroupByBoundedVariance): Seq[NoiseInfo] = {
    val (_, _, _, sd, sq, cnt) = varianceParts(e)
    Seq(NoiseInfo(s"${e.outputColumn}(sum)", sd),
      NoiseInfo(s"${e.outputColumn}(sumsq)", sq),
      NoiseInfo(s"${e.outputColumn}(count)", cnt))
  }

  private def varianceResult(
      e: GroupByBoundedVariance, out: String, stdev: Boolean): DataFrame = {
    val (t, mid, intPath, sdMech, sqMech, cntMech) = varianceParts(e)
    val (sdAgg, sqAgg, zeroFill) =
      if (intPath) {
        val c = least(greatest(col(e.measureColumn), lit(e.low.toLong)),
          lit(e.high.toLong))
        val dev = c - lit(mid.toLong)
        (sum(dev).as("__sd"), sum(dev * dev).as("__sq"),
          Some(lit(0L)): Option[org.apache.spark.sql.Column])
      } else {
        val c = least(greatest(col(e.measureColumn).cast("double"), lit(e.low)),
          lit(e.high))
        val dev = c - lit(mid)
        (sum(dev).as("__sd"), sum(dev * dev).as("__sq"),
          Some(lit(0.0)): Option[org.apache.spark.sql.Column])
      }
    val aggd = groupAgg(t.df, e.keys,
      Seq(sdAgg, sqAgg, count(lit(1)).as("__n")))
    val joined = keysetJoin(e.keys, aggd, Seq(
      "__sd" -> zeroFill, "__sq" -> zeroFill, "__n" -> Some(lit(0L))))
    def addNoise(c: org.apache.spark.sql.Column, m: graft.exec.NoiseMechanism) =
      if (intPath) Noise.addLongNoise(c, m) else Noise.addDoubleNoise(c, m)
    val noisy = joined
      .withColumn("__sd", addNoise(col("__sd"), sdMech))
      .withColumn("__sq", addNoise(col("__sq"), sqMech))
      .withColumn("__n", Noise.addLongNoise(col("__n"), cntMech))
    val n = greatest(col("__n").cast("double"), lit(1.0))
    val nm1 = greatest(col("__n").cast("double") - lit(1.0), lit(1.0))
    val half = (e.high - e.low) / 2.0
    val varCol = least(
      greatest((col("__sq").cast("double") -
        col("__sd").cast("double") * col("__sd").cast("double") / n) / nm1, lit(0.0)),
      lit(half * half))
    noisy.withColumn(out, if (stdev) sqrt(varCol) else varCol)
      .drop("__sd", "__sq", "__n")
  }
}

/** Finisher for GetBounds: choose the magnitude exponent k such that ~95% of
  * values satisfy |x| <= 2^k, by private selection over candidate exponents
  * (reference create_bounds_measurement, threshold 0.95:
  * _base_measurement_visitor.py:1533-1544,1616). The release is a bare
  * integer exponent and the finite-eps selection runs EXACTLY — rational
  * utilities + [[graft.exec.Noise.permuteAndFlip]]'s integer-arithmetic
  * coins — so this measurement has zero floating-point sampling surface.
  */
object GetBoundsImpl {
  import org.apache.spark.sql.Row
  import java.util.concurrent.ThreadLocalRandom
  import graft.budget.Rat

  def finishUdf(eps: Double): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((pairs: Seq[Row]) => {
      val counts = scala.collection.mutable.Map.empty[Int, Long]
      if (pairs != null) pairs.foreach { r =>
        counts(r.getInt(0)) = counts.getOrElse(r.getInt(0), 0L) + r.getLong(1)
      }
      val n = counts.values.sum
      val ks = (-32 to 62).toArray
      // cumulative count of |x| <= 2^k
      val cum = new Array[Long](ks.length)
      var acc = 0L
      var i = 0
      while (i < ks.length) {
        acc += counts.getOrElse(ks(i), 0L)
        cum(i) = acc
        i += 1
      }
      if (eps.isInfinity) {
        val idx = cum.indexWhere(_ * 20L >= 19L * n) // cum >= 0.95 * n, exactly
        ks(if (idx < 0) ks.length - 1 else idx)
      } else {
        // utility u = -|cum - 0.95*n| has sensitivity 1.95: a row moves the
        // cumulative count by <= 1 and the 0.95*n target by 0.95, so the
        // selection weights divide eps by 2 * 1.95. Scaled by 20 to stay
        // integral: d20 = |20*cum - 19*n|, uSens20 = 39, all exact.
        val target20 = 19L * n
        val d20 = IndexedSeq.tabulate(ks.length) { j =>
          math.abs(20L * cum(j) - target20)
        }
        val dMin = d20.min
        val scale = Rat(eps) / Rat(2L * 39L)
        val gammas = d20.map(d => scale * Rat(d - dMin))
        ks(graft.exec.Noise.permuteAndFlip(gammas, ThreadLocalRandom.current()))
      }
    }).asNondeterministic()
}
