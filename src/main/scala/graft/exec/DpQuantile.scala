package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.budget.Rat

/** DP quantile via the exponential mechanism over a fixed binning of the
  * clamped range (reference: GroupByQuantile at _query_expr.py:1731, lowered
  * through core `create_quantile_measurement`,
  * _base_measurement_visitor.py:1060-1072).
  *
  * The reference's mechanism scores intervals between observed values, which
  * requires materializing each group's values. We instead discretize [low,
  * high] into `Bins` equal intervals and run the exponential mechanism over
  * bins, scoring each by rank error |rank(bin) - q*n|. This keeps per-group
  * state bounded at `Bins` counters regardless of group size — at 100 TB a
  * group can hold billions of rows, so a collect-values plan is not viable;
  * the binned plan is two hash aggregations and never materializes raw
  * values. The utility u = -|rank(bin) - q*n| has sensitivity 1 + q, not 1:
  * adding/removing a row moves the bin's rank by at most 1 AND moves the
  * target q*n by q, so the weights are exp(eps * u / (2 * (1 + q))).
  *
  * At epsilon = infinity the mechanism is deterministic: the max-utility bin
  * (ties broken toward the q-th position) and its midpoint.
  */
object DpQuantile {
  val Bins: Int = 2048

  /** Clamped bin index of a value column (codegen'd projection, no UDF). */
  def binColumn(c: Column, low: Double, high: Double): Column = {
    val clamped = least(greatest(c.cast("double"), lit(low)), lit(high))
    least(floor((clamped - lit(low)) / lit(high - low) * lit(Bins)).cast("int"),
      lit(Bins - 1))
  }

  /** Finisher over a group's raw values: the interval-scoring exponential
    * mechanism (see [[finishIntervals]]). `maxGroupRows` is the per-group
    * residency bound the planner enforced on the gather (it collects
    * maxGroupRows + 1 values, so an oversized group surfaces here as a loud
    * refusal naming the bounded-state binned path, never as a silently
    * truncated — i.e. wrong — quantile).
    */
  def finishIntervalsUdf(
      q: Double, low: Double, high: Double, eps: Double,
      maxGroupRows: Int): UserDefinedFunction =
    udf((vs: Seq[Double]) => {
      val arr = if (vs == null) Array.empty[Double] else vs.toArray
      if (arr.length > maxGroupRows) throw new IllegalArgumentException(
        s"interval-scored quantile materializes each group's values and a " +
          s"group exceeds the $maxGroupRows-row bound " +
          "(spark.graft.quantile.intervals.maxGroupRows); use the default " +
          "bounded-state binned mechanism (spark.graft.quantile.method = " +
          "binned) for groups this large, or raise the bound explicitly")
      val rng = Noise.rng()
      finishIntervals(arr, q, low, high, eps, () => rng.nextDouble())
    }).asNondeterministic()

  /** The reference's mechanism shape (core `create_quantile_measurement`,
    * called at _base_measurement_visitor.py:1060-1072): the exponential
    * mechanism over the n + 1 intervals BETWEEN the group's sorted clamped
    * values (Smith 2011). Interval i in 0..n spans [v_i, v_i+1] with
    * v_0 = low, v_n+1 = high; utility u(i) = -|i - q*n|; an interval is
    * chosen with probability proportional to width * exp(eps * u /
    * (2 * (1 + q))) and the release is uniform within it. Zero-width
    * intervals carry zero probability, exactly as in the continuous
    * mechanism. At eps = infinity: deterministic midpoint of the
    * max-utility positive-width interval nearest the q-th position.
    *
    * Opt-in via spark conf `spark.graft.quantile.method = intervals`: it
    * materializes each group's values, so per-group memory is O(group
    * size) — fine at the reference's scale, not at billion-row groups,
    * which is why the binned mechanism stays the default (header above).
    * The planner bounds the gather at
    * `spark.graft.quantile.intervals.maxGroupRows` (default 2^20) values
    * per group via BoundedCollect; a larger group is refused loudly by the
    * finisher rather than truncated or OOMing an executor.
    *
    * FP disclosure: unlike the binned default — whose finite-eps selection
    * is EXACT via [[Noise.permuteAndFlip]] — this mechanism is defined over
    * a continuous density (selection weights carry data-dependent interval
    * WIDTHS as a base measure, and the release is uniform within the chosen
    * data-valued interval), so transcendental floating point is inherent to
    * its shape: no finite-arithmetic implementation can sample it exactly,
    * and an exact-rational rejection scheme has unbounded expected time
    * when the near-target intervals are narrow relative to the clamp range.
    * The reference's implementation is float-based for the same reason.
    * Callers wanting the closed FP surface should stay on the binned
    * default; this path exists for reference-shape parity.
    */
  private[graft] def finishIntervals(
      values: Array[Double], q: Double, low: Double, high: Double, eps: Double,
      nextDouble: () => Double): Double = {
    // NaNs carry no order position: clamping preserves them and sorting
    // parks them past every real value, which (a) biased n/target while
    // excluding them from intervals and (b) on an all-NaN group left every
    // interval width NaN so no pick ever fired (index -1 crash). Exclude
    // them up front — the planner path already drops NaN pre-aggregation
    // (prepared(dropSpecial)); this closes the public exec API path. With
    // NaNs gone and high > low, interval widths sum to high - low > 0, so
    // a pick always exists.
    val v = values.filter(x => !x.isNaN)
      .map(x => math.min(math.max(x, low), high)).sorted
    val n = v.length
    if (high == low) return low
    val target = q * n
    @inline def lo(i: Int): Double = if (i == 0) low else v(i - 1)
    @inline def hi(i: Int): Double = if (i == n) high else v(i)
    if (eps.isInfinity) {
      // positive-width interval nearest the target index (equivalently:
      // max utility, lowest index winning exact distance ties)
      var pick = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i <= n) {
        if (hi(i) > lo(i)) {
          val d = math.abs(i - target)
          if (d < bestD) { bestD = d; pick = i }
        }
        i += 1
      }
      (lo(pick) + hi(pick)) / 2.0
    } else {
      // Gumbel-max over log(width) + eps * u / (2 * uSens): one added or
      // removed row shifts a fixed interval's index by <= 1 and the target
      // q*n by q, so uSens = 1 + q, as in the binned mechanism.
      val uSens = 1.0 + q
      var pick = -1
      var best = Double.NegativeInfinity
      var i = 0
      while (i <= n) {
        val w = hi(i) - lo(i)
        if (w > 0) {
          val g = -math.log(-math.log(nextDouble()))
          val s = math.log(w) - eps / (2.0 * uSens) * math.abs(i - target) + g
          if (s > best) { best = s; pick = i }
        }
        i += 1
      }
      lo(pick) + nextDouble() * (hi(pick) - lo(pick))
    }
  }

  /** The mechanism itself, over a group's per-bin counts (the finisher
    * `MeasurementPlanner.histogramSelect` runs). `rng` injects the
    * randomness source so the statistical acceptance tests
    * (QuantileFidelitySpec) can drive it seeded; the UDF passes
    * [[Noise.rng]].
    *
    * Finite-eps bin SELECTION is sampled EXACTLY: rank errors, the q*n
    * target, and eps are exact rationals (a double IS a rational), and
    * permute-and-flip runs on integer permutations + CKS
    * Bernoulli(exp(-gamma)) coins ([[Noise.selectMin]]) — no
    * transcendental floating point touches the data-dependent choice,
    * the same discipline the exact CKS samplers enforce for additive
    * noise. Permute-and-flip is eps-DP with the same 2 * uSens scaling
    * and stochastically dominates the exponential mechanism's error
    * (McKenna & Sheldon 2020). The within-bin uniform draw that follows
    * uses plain doubles: it is data-INDEPENDENT post-processing of the
    * selected bin index, so it carries no FP privacy surface.
    */
  private[graft] def finish(
      counts: Array[Long], q: Double, low: Double, high: Double, eps: Rat,
      rng: java.util.random.RandomGenerator): Double = {
    val n = counts.sum
    val width = (high - low) / Bins
    // doubled utility per bin, exactly rational: -(2 * rank error at the
    // bin midpoint) = -|2*cum + counts(i) - 2*q*n|
    val target2 = Rat(2) * Rat(q) * Rat(n)
    val d2 = new Array[Rat](Bins)
    var cum = 0L
    var i = 0
    while (i < Bins) {
      val r2 = Rat(2 * cum + counts(i))
      d2(i) = if (r2 >= target2) r2 - target2 else target2 - r2
      cum += counts(i)
      i += 1
    }
    if (eps.isInfinite) {
      // among max-utility bins pick the one nearest the q-th bin position
      val dMin = d2.min
      val anchor = q * (Bins - 1)
      var pick = -1
      var dist = Double.MaxValue
      i = 0
      while (i < Bins) {
        if (d2(i) == dMin) {
          val d = math.abs(i - anchor)
          if (d < dist) { dist = d; pick = i }
        }
        i += 1
      }
      low + (pick + 0.5) * width
    } else {
      // gamma_i = eps * (u_max - u_i) / (2 * uSens), with utilities doubled
      // above so the divisor doubles too: uSens = 1 + q (rank moves by <= 1,
      // target q*n by q per added/removed row) -> 4 * (1 + q) against d2
      val scale = eps / (Rat(4) * (Rat(1) + Rat(q)))
      val pick = Noise.selectMin(d2.toIndexedSeq, scale, rng)
      low + (pick + rng.nextDouble()) * width
    }
  }
}
