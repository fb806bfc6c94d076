package graft.compile

import java.util.random.RandomGenerator

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.budget._
import graft.constraints._
import graft.exec.{DpQuantile, GetBoundsImpl, MagnitudeBucket, Materialize, Noise,
  NoiseInfo, NoiseMechanism}
import graft.ir.MechanismHint
import graft.ir.QueryExpr._
import graft.ir.MeasureExpr
import graft.keyset.KeySet
import graft.pipeline.Inputs
import graft.types.ColumnType

/** Result of compiling a measurement: the answer plan, per-column noise
  * descriptions, and the budget actually charged (noise-addition queries
  * under ApproxDP charge delta = 0, reference
  * _base_measurement_visitor.py:591-668).
  */
final case class MeasureOut(df: DataFrame, noise: Seq[NoiseInfo], spend: PrivacyBudget)

import MeasurementPlanner.{Part, Sens}

object MeasurementPlanner {
  /** One budget charge = at most one random draw: when any mechanism in the
    * plan is genuinely random, pin the sampled result (`Materialize`) so
    * every later action replays the same release instead of redrawing
    * noise. The pin runs executor-side over the small post-aggregation
    * rows — no driver collect, so it holds at any keyset size. Noiseless
    * (infinite-budget) plans are pure functions and stay lazy, keeping
    * their scan pruning visible to `.explain` audits.
    */
  def releaseOnce(df: DataFrame, noise: Seq[NoiseInfo]): DataFrame =
    if (noise.forall(_.mechanism.isNoiseless)) df
    else Materialize(df, "MeasurementPlanner.releaseOnce").df

  /** Aggregation sensitivity: the L1 bound, plus — when the constraint
    * structure grants it — the EXACT squared L2 bound. Scaling by a per-row
    * factor f scales the square by f^2. (Companion-level so pattern matches
    * need no outer-instance check.)
    */
  private[compile] final case class Sens(l1: Rat, l2Sq: Option[Rat] = None) {
    def *(f: Rat): Sens = Sens(l1 * f, l2Sq.map(_ * f * f))
    /** Squared sensitivity for Gaussian-family calibration. */
    def sq: Rat = l2Sq.getOrElse(l1 * l1)
  }

  /** One noisy column of an additive release: its aggregate, whether it is
    * integer-valued (0L fill, discrete noise) and its mechanism.
    */
  private[compile] final case class Part(
      name: String, agg: Column, integer: Boolean, mech: NoiseMechanism)
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

  private val transformPlanner = new TransformPlanner(catalog, spark)
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

    case GroupByCount(child, keys, out, hint) =>
      val t = prepared(child, needed = Some(keys.columns))
      val sens = aggSensitivity(t, Some(keys), l2 = isL2(hint))
      val mech = selectMechanism(hint, integer = true, sens, parts = 1)
      additive(t.df, keys, Seq(Part(out, count(lit(1)), integer = true, mech)))

    case GroupByCountDistinct(child, keys, cols, out, hint) =>
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
      val distinct = countDistinct(struct(countCols.map(col).toIndexedSeq: _*))
      additive(t.df, keys, Seq(Part(out, distinct, integer = true, mech)))

    case GroupByBoundedSum(child, keys, m, lo, hi, out, hint) =>
      val t = prepared(child, dropSpecial = Some(m),
        needed = Some(keys.columns :+ m))
      val sens = aggSensitivity(t, Some(keys), l2 = isL2(hint)) *
        Rat(math.max(math.abs(lo), math.abs(hi)))
      // the column type alone decides the family: a sum needs no midpoint
      val integer = t.schema(m).ctype == ColumnType.Integer
      val mech = selectMechanism(hint, integer, sens, parts = 1)
      val clamped =
        if (integer) least(greatest(col(m), lit(lo.toLong)), lit(hi.toLong))
        else least(greatest(col(m), lit(lo)), lit(hi))
      additive(t.df, keys, Seq(Part(out, sum(clamped), integer, mech)))

    // the remaining bounded aggregations: average, variance, stdev
    case e: GroupByBounded => moments(e)

    case GroupByQuantile(child, keys, m, q, lo, hi, out) =>
      val t = prepared(child, dropSpecial = Some(m),
        needed = Some(keys.columns :+ m))
      val mech = NoiseMechanism.exponential(budget, aggSensitivity(t, Some(keys)).l1)
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
          Inputs.free(keys.columns :+ m, "intervals quantile",
            "__v", "__vs")
          // the gather holds maxGroupRows + 1 values, so the bound must
          // leave room for the overflow row
          val bound = "spark.graft.quantile.intervals.maxGroupRows"
          val maxGroupRows = t.df.sparkSession.conf.getOption(bound)
            .map(v => v.toIntOption.filter(n => n >= 1 && n < Int.MaxValue)
              .getOrElse(throw new IllegalArgumentException(
                s"$bound must be an integer in [1, ${Int.MaxValue - 1}], got '$v'")))
            .getOrElse(1 << 20)
          val gather = graft.exec.BoundedCollect
            .boundedCollectList(col("__v"), maxGroupRows + 1).as("__vs")
          val perGroup = groupAgg(
            t.df.withColumn("__v", col(m).cast("double")), keys, Seq(gather))
          keysetJoin(keys, perGroup, Seq("__vs" -> None))
            .withColumn(out,
              DpQuantile.finishIntervalsUdf(q, lo, hi, mech.scale, maxGroupRows)(col("__vs")))
            .drop("__vs")
        case "binned" =>
          histogramSelect(t.df, keys, m, DpQuantile.binColumn(_, lo, hi),
            0 until DpQuantile.Bins, out)(DpQuantile.finish(_, q, lo, hi, mech.epsilon, _))
        case other => throw new IllegalArgumentException(
          s"spark.graft.quantile.method must be 'binned' or 'intervals', got '$other'")
      }
      MeasureOut(result, Seq(NoiseInfo(out, mech)), noiseSpend)

    case e @ GetGroups(child, _) =>
      // DP partition selection by noisy-count thresholding (Korolova et al. /
      // Wilson et al.; reference create_partition_selection_measurement call
      // at _measurement_visitor.py:141-147). ApproxDP only.
      val (eps, delta) = budget match {
        case ApproxDPBudget(ep, d) => (ep, d)
        case other => throw new IllegalArgumentException(
          s"get_groups requires an ApproxDP budget, got $other")
      }
      val t = prepared(child)
      val cols = e.schema(cat).columnNames
      Inputs.free(cols, "get_groups", "__c")
      val (mech, threshold) = NoiseMechanism.partitionSelection(aggSensitivity(t).l1, eps, delta)
      val result = t.df.groupBy(cols.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("__c"))
        .withColumn("__c", Noise.addLongNoise(col("__c"), mech))
        .filter(col("__c") >= threshold)
        .select(cols.map(col).toIndexedSeq: _*)
      MeasureOut(result, Seq(NoiseInfo("__partition_selection", mech)), budget)

    case GetBounds(child, keys, m, lowerName, upperName) =>
      val t0 = prepared(child, dropSpecial = Some(m))
      // infinities cannot inform a finite bound: exclude them like nulls and
      // NaNs (reference get_bounds returns finite powers of two even when
      // the column contains infinities, test_special_values.py:581-607)
      val t = if (t0.schema(m).ctype == ColumnType.Decimal)
        t0.copy(df = t0.df.filter(!col(m).isin(
          Double.PositiveInfinity, Double.NegativeInfinity)))
      else t0
      val mech = NoiseMechanism.exponential(budget, aggSensitivity(t).l1)
      val integer = t.schema(m).ctype == ColumnType.Integer
      // magnitude bucket: smallest k with |x| <= 2^k, k in [-32, 62],
      // decided on the exponent and mantissa bits, so it is bit-exact across
      // engines — unlike ceil(log2(x)), whose libm rounding at power-of-2
      // boundaries differs between JVM and C runtimes.
      Inputs.free(keys.columns :+ m, "get_bounds", "__k")
      val withK = histogramSelect(t.df, keys, m, MagnitudeBucket.column,
        GetBoundsImpl.Exponents, "__k")(GetBoundsImpl.finish(_, mech.epsilon, _))
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
      MeasureOut(result, Seq(NoiseInfo(upperName, mech)), noiseSpend)

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
    * sensitivity (Gaussian family under zCDP); every caller passes [[isL2]],
    * which checks both. A zCDP *budget* alone is not
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
          if (!l2) Nil
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
    * (reference _rewrite_rules.py:91-199), calibrated to sensitivity /
    * (budget / parts) by [[NoiseMechanism.additive]].
    */
  private def selectMechanism(
      hint: MechanismHint, integer: Boolean, sens: Sens, parts: Int): NoiseMechanism = {
    if (hint == MechanismHint.Gaussian && !budget.isInstanceOf[RhoZCDPBudget])
      throw new IllegalArgumentException(
        "Gaussian noise requires a zCDP budget (reference _rewrite_rules.py:110-115)")
    // the squared L2 sensitivity is exact even for an irrational bound
    // (r * sqrt(g)); an L1 mechanism never takes the L2 credit
    NoiseMechanism.additive(budget.split(parts), sens.l1, integer,
      if (isL2(hint)) Some(sens.sq) else None)
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
    Inputs.free(aggd, "keyset join", keyCols.map(c => s"__r_$c"): _*)
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

  // ------------------------------------------------------- release shapes

  /** Additive-noise release: aggregate every part per group, left-join the
    * keyset (absent groups read 0), then add each part's noise in the order
    * given. Count, count-distinct, sum and the moments all lower here.
    */
  private def additive(df: DataFrame, keys: KeySet, parts: Seq[Part]): MeasureOut = {
    val aggd = groupAgg(df, keys, parts.map(p => p.agg.as(p.name)))
    val joined = keysetJoin(keys, aggd,
      parts.map(p => p.name -> Some(if (p.integer) lit(0L) else lit(0.0))))
    val noisy = parts.foldLeft(joined) { (d, p) =>
      d.withColumn(p.name,
        if (p.integer) Noise.addLongNoise(col(p.name), p.mech)
        else Noise.addDoubleNoise(col(p.name), p.mech))
    }
    MeasureOut(noisy, parts.map(p => NoiseInfo(p.name, p.mech)), noiseSpend)
  }

  /** Average, variance and stdev: a noisy sum of deviations from the clamp
    * midpoint, for the spread moments a noisy sum of squared deviations, and
    * a noisy count, each part taking an equal share of the budget (reference
    * _base_measurement_visitor.py:1249-1261, _query_expr.py:1918-2038). For
    * an INTEGER measure with whole clamp bounds the midpoint is floored to an
    * integer so the deviation sums stay integer-valued and the discrete
    * mechanism family applies (reference core get_midpoint(
    * integer_midpoint=True)); the per-row sensitivity is then the
    * asymmetric span side max(hi-mid, mid-lo). The midpoint shift cancels
    * exactly in the result, so only the calibration — not the noiseless
    * answer — depends on this choice. Only the final projection differs
    * between the three.
    */
  private def moments(e: GroupByBounded): MeasureOut = {
    val (m, lo, hi, out) = (e.measureColumn, e.low, e.high, e.outputColumn)
    Inputs.free(e.keys.columns :+ m, "moments", "__sd", "__sq", "__n")
    val t = prepared(e.child, dropSpecial = Some(m),
      needed = Some(e.keys.columns :+ m))
    val sens = aggSensitivity(t, Some(e.keys), l2 = isL2(e.mechanism))
    val intPath = isIntegerMeasure(t.schema, m, lo, hi)
    val mid = if (intPath) math.floor((lo + hi) / 2.0) else (lo + hi) / 2.0
    // the larger side of the clamp range around the midpoint, exactly
    val half = (Rat(hi) - Rat(mid)).max(Rat(mid) - Rat(lo))
    val spread = !e.isInstanceOf[GroupByBoundedAverage]
    val nParts = if (spread) 3 else 2
    def mech(integer: Boolean, s: Sens) =
      selectMechanism(e.mechanism, integer, s, nParts)
    val dev =
      if (intPath) least(greatest(col(m), lit(lo.toLong)), lit(hi.toLong)) - lit(mid.toLong)
      else least(greatest(col(m).cast("double"), lit(lo)), lit(hi)) - lit(mid)
    // (noise-info label, part)
    val parts =
      Seq("sum" -> Part("__sd", sum(dev), intPath, mech(intPath, sens * half))) ++
        (if (spread) Seq("sumsq" -> Part("__sq", sum(dev * dev), intPath,
          mech(intPath, sens * (half * half)))) else Nil) :+
        ("count" -> Part("__n", count(lit(1)), integer = true, mech(true, sens)))
    val noisy = additive(t.df, e.keys, parts.map(_._2)).df
    def d(c: String) = col(c).cast("double")
    val result = e match {
      case _: GroupByBoundedAverage =>
        d("__sd") / greatest(d("__n"), lit(1.0)) + lit(mid)
      case _ =>
        val n = greatest(d("__n"), lit(1.0))
        val nm1 = greatest(d("__n") - lit(1.0), lit(1.0))
        // capped by the true half-span, not the floored-midpoint side
        val span = (hi - lo) / 2.0
        val variance = least(
          greatest((d("__sq") - d("__sd") * d("__sd") / n) / nm1, lit(0.0)),
          lit(span * span))
        if (e.isInstanceOf[GroupByBoundedStdev]) sqrt(variance) else variance
    }
    MeasureOut(
      noisy.withColumn(out, result).drop(parts.map(_._2.name): _*),
      parts.map { case (label, p) => NoiseInfo(s"$out($label)", p.mech) },
      noiseSpend)
  }

  /** Private selection over per-group histograms (binned quantile,
    * get_bounds): count rows per (keys, bin), gather each group's
    * (bin, count) pairs, left-join the keyset (absent groups get a null
    * list) and let `select` choose `out` from the group's dense counts over
    * `bins` (index i counts bin `bins(i)`). `bin` maps the measure column
    * `m` to its bin.
    */
  private def histogramSelect[T: TypeTag](df: DataFrame, keys: KeySet, m: String,
      bin: Column => Column, bins: Range, out: String)(
      select: (Array[Long], RandomGenerator) => T): DataFrame = {
    Inputs.free(keys.columns :+ m, "histogram selection",
      "__bin", "__c", "__bins")
    val counts = df.withColumn("__bin", bin(col(m)))
      .groupBy((keys.columns :+ "__bin").map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("__c"))
    val perGroup = groupAgg(counts, keys,
      Seq(collect_list(struct(col("__bin"), col("__c"))).as("__bins")))
    val (first, size) = (bins.start, bins.size)
    val finisher = udf((pairs: Seq[Row]) => {
      val dense = new Array[Long](size)
      if (pairs != null) pairs.foreach { r =>
        val i = r.getInt(0) - first
        if (i >= 0 && i < size) dense(i) += r.getLong(1)
      }
      select(dense, Noise.rng())
    }).asNondeterministic()
    keysetJoin(keys, perGroup, Seq("__bins" -> None))
      .withColumn(out, finisher(col("__bins")))
      .drop("__bins")
  }
}
