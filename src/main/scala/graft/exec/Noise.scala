package graft.exec

import java.util.concurrent.ThreadLocalRandom
import java.util.random.RandomGenerator

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.budget.{ApproxDPBudget, PrivacyBudget, PureDPBudget, Rat, RhoZCDPBudget}

/** Concrete noise mechanisms (reference: the five-mechanism enum at
  * src/tmlt/analytics/_noise_info.py:49-68). Each carries its parameter as
  * the EXACT rational calibration gave it (SURVEY §7.4):
  *  - Geometric / Laplace: b, the distribution scale (= sensitivity / epsilon)
  *  - Gaussian / DiscreteGaussian: sigma^2 (= sensitivity^2 / (2 rho))
  *  - Exponential: epsilon (infinite = noiseless)
  * A parameter of exactly 0 (infinite budget) adds no noise and keeps results
  * bit-deterministic — this is what the infinite-budget correctness oracles
  * rely on (reference doctest: session.py:1037-1043 shows noise scale
  * Delta/epsilon = 2 for a count at epsilon=0.5).
  */
sealed abstract class NoiseMechanism(val name: String, param: Rat, up: Boolean, cap: Rat)
    extends Serializable {
  /** The parameter as a double rounded toward more noise (up for b and
    * sigma^2, down for epsilon), for the continuous samplers, [[inverseCdf]]
    * and the intervals quantile; the exact samplers read the rational.
    */
  val scale: Double = NoiseMechanism.checked(name, param, up, cap)
  def isNoiseless: Boolean = scale == 0.0
  /** The p-quantile of this mechanism's noise distribution (reference
    * _noise_info.py `_inverse_cdf`): the error bar a release carries at
    * confidence p — e.g. `inverseCdf(0.975)` is the 95% two-sided bound.
    */
  def inverseCdf(p: Double): Double = NoiseMechanism.inverseCdf(this, p)
}
object NoiseMechanism {
  final case class Geometric(b: Rat) extends NoiseMechanism("Geometric", b, true, IntegerCap)
  final case class Laplace(b: Rat) extends NoiseMechanism("Laplace", b, true, Rat.Inf)
  final case class Gaussian(sigma2: Rat) extends NoiseMechanism("Gaussian", sigma2, true, Rat.Inf)
  final case class DiscreteGaussian(sigma2: Rat)
      extends NoiseMechanism("DiscreteGaussian", sigma2, true, IntegerCap * IntegerCap)
  /** Exponential mechanism (quantile, get_bounds). */
  final case class Exponential(epsilon: Rat)
      extends NoiseMechanism("Exponential", epsilon, false, Rat.Inf) {
    override def isNoiseless: Boolean = epsilon.isInfinite
  }

  /** The largest b, or sigma, of an integer mechanism: below it P(|draw| >=
    * 2^62) < 2^-1000, so no draw saturates at the ends of the Long range,
    * where a release would read Long.MinValue + the true value.
    */
  private val IntegerCap = Rat(BigInt(1) << 52, BigInt(1))

  // Mechanisms are built at calibration, before the charge: refuse here a
  // negative parameter (the samplers would clamp it to near-zero noise), an
  // integer one past IntegerCap, or one whose rounded-up double is infinite.
  private def checked(name: String, p: Rat, up: Boolean, cap: Rat): Double = {
    require(p >= Rat.zero, s"$name noise parameter must be >= 0 (0 = noiseless), got $p")
    val d = rounded(p, up)
    require(p <= cap && !(up && d.isInfinite), s"$name noise parameter ${p.toDouble} is " +
      s"too large to sample (at most ${cap.toDouble}); spend a larger budget on this query")
    d
  }

  /** The double nearest `r` toward more noise: >= r when `up`, else <= r. */
  private def rounded(r: Rat, up: Boolean): Double = {
    var d = r.toDouble
    if (up) while (Rat(d) < r) d = Math.nextUp(d)
    else while (Rat(d) > r) d = Math.nextAfter(d, Double.NegativeInfinity)
    d
  }

  /** The one calibration step of an additive release: the mechanism for the
    * budget `share` at L1 sensitivity `l1`, Gaussian-family when `l2Sq` (the
    * squared L2 sensitivity) is given under zCDP. PureDP / ApproxDP:
    * b = l1 / eps. zCDP: sigma^2 = l2Sq / (2 rho); an L1 mechanism is eps-DP
    * at eps = sqrt(2 rho), so b = l1 * sqrtUpper(1 / (2 rho)), the one
    * inexact step, rounded up.
    */
  def additive(share: PrivacyBudget, l1: Rat, integer: Boolean,
      l2Sq: Option[Rat] = None): NoiseMechanism = {
    val (v, zcdp) = epsilonOrRho(share)
    // the fully-zero budget is rejected at evaluate; this catches
    // ApproxDP(0, delta > 0), whose delta can only drive partition selection
    if (v.isZero && !l1.isZero) throw new IllegalArgumentException(
      "noise-addition queries require a non-zero epsilon/rho " +
        "(a delta-only budget can only drive partition selection)")
    val gaussian = zcdp && l2Sq.isDefined
    val p = if (l1.isZero) Rat.zero
      else if (gaussian) l2Sq.get / (Rat(2) * v)
      else if (zcdp) l1 * Rat.sqrtUpper(Rat.one / (Rat(2) * v))
      else l1 / v
    if (gaussian) { if (integer) DiscreteGaussian(p) else Gaussian(p) }
    else if (integer) Geometric(p) else Laplace(p)
  }

  /** [[additive]] at a caller's `epsilon` (infinite = the exact release)
    * and `sensitivity` times `factor`; both must be positive.
    */
  def pure(epsilon: Double, sensitivity: Double, factor: Long,
      integer: Boolean): NoiseMechanism = {
    require(epsilon > 0.0,
      s"epsilon must be positive (or infinite for the exact release), got $epsilon")
    require(sensitivity > 0.0, s"sensitivity must be positive, got $sensitivity")
    additive(PureDPBudget(epsilon), Rat(sensitivity) * Rat(factor), integer)
  }

  /** The exponential mechanism at L1 sensitivity `l1` (an eps-DP primitive):
    * eps / l1 under PureDP / ApproxDP; sqrt(8 rho) / l1 under zCDP (it is
    * eps^2/8-zCDP) as 1 / sqrtUpper(l1^2 / 8 rho), never above the exact value.
    */
  def exponential(share: PrivacyBudget, l1: Rat): Exponential = {
    val (v, zcdp) = epsilonOrRho(share)
    Exponential(if (l1.isZero) Rat.Inf
      else if (zcdp) Rat.one / Rat.sqrtUpper(l1 * l1 / (Rat(8) * v)) else v / l1)
  }

  private def epsilonOrRho(share: PrivacyBudget): (Rat, Boolean) = share match {
    case PureDPBudget(eps)      => (eps, false)
    case ApproxDPBudget(eps, _) => (eps, false)
    case RhoZCDPBudget(rho)     => (rho, true)
  }

  /** Noise and count threshold for DP partition selection at input
    * distance `sens` (d_in-aware, mirroring the reference's pass of d_in to
    * core create_partition_selection_measurement,
    * _measurement_visitor.py:141-147). One protected unit can contribute up
    * to `sens` rows to a single new group and create up to ceil(sens)
    * distinct new groups, so the threshold clears the per-group contribution
    * bound and the failure probability delta is split across the groups the
    * unit could create: tau = sens + b * ln(maxGroups / (2 * delta)), with
    * b = 2 * sens / eps; at sens = 1 the classic 1 + b * ln(1/(2*delta)).
    * Returns the geometric and ceil(tau) >= 1, the least noisy count
    * released. `Math.log` is within 1 ulp of ln: at the rounded-up argument,
    * stepped up twice (an ulp doubles at a power of two), it bounds ln above.
    */
  def partitionSelection(sens: Rat, eps: Rat, delta: Rat): (Geometric, Long) =
    if (eps.isInfinite) (Geometric(Rat.zero), 1L)
    else {
      require(!delta.isZero, "get_groups requires delta > 0")
      require(!eps.isZero, "get_groups requires epsilon > 0")
      val b = Rat(2) * sens / eps
      val x = Rat(sens.ceil.max(1), 1) / (Rat(2) * delta)
      val tau = sens + b * Rat(Math.nextUp(Math.nextUp(Math.log(rounded(x, up = true)))))
      (Geometric(b), if (tau.isInfinite || tau.ceil > Long.MaxValue) Long.MaxValue
        else tau.ceil.max(1).toLong)
    }

  private[exec] def inverseCdf(m: NoiseMechanism, p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1): $p")
    val s = m.scale
    m match {
      case _: Laplace =>
        if (s == 0.0) 0.0
        else if (p < 0.5) s * math.log(2.0 * p)
        else -s * math.log(2.0 * (1.0 - p))
      case _: Geometric =>
        // two-sided geometric (discrete Laplace) with pmf ∝ alpha^|k|,
        // alpha = exp(-1/s): the smallest k >= 0 with
        // 1 - alpha^(k+1)/(1+alpha) >= p; p < 1/2 by symmetry
        if (s == 0.0) 0.0
        else if (p < 0.5) -inverseCdf(m, 1.0 - p)
        else {
          val alpha = math.exp(-1.0 / s)
          val k = math.ceil(
            math.log((1.0 - p) * (1.0 + alpha)) / math.log(alpha)) - 1.0
          math.max(0.0, k)
        }
      case _: Gaussian => math.sqrt(s) * probit(p)
      case _: DiscreteGaussian =>
        if (s == 0.0) 0.0
        else if (p < 0.5) -inverseCdf(m, 1.0 - p)
        else {
          val sigma = math.sqrt(s)
          // wide sigmas are indistinguishable from the rounded continuous
          // Gaussian; narrow ones walk the exact pmf
          if (sigma > 200.0) math.rint(sigma * probit(p))
          else {
            val cut = (10.0 * sigma).toInt + 10
            var z = 0.0
            var k = -cut
            while (k <= cut) { z += math.exp(-k * k / (2.0 * s)); k += 1 }
            var cum = 0.0
            var ans = cut.toDouble
            var found = false
            k = -cut
            while (k <= cut && !found) {
              cum += math.exp(-k * k / (2.0 * s))
              if (cum / z >= p) { ans = k.toDouble; found = true }
              k += 1
            }
            ans
          }
        }
      case _: Exponential => throw new UnsupportedOperationException(
        "the exponential mechanism releases an index, not additive noise; " +
          "it has no noise CDF")
    }
  }

  /** Standard-normal quantile (Acklam's rational approximation, ~1.15e-9
    * relative error — far below any error-bar use).
    */
  private def probit(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pLow) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }
}

/** Per-output-column noise description, exposed by `Session.noiseInfo`
  * (reference: _noise_info.py:23-68, session.py:1001-1048).
  */
final case class NoiseInfo(column: String, mechanism: NoiseMechanism)

/** Executor-side noise sampling. Additive noise is drawn by the
  * nondeterministic [[AddNoise]] expression over the (small,
  * post-aggregation) result rows — never a driver collect. Every sampler
  * takes its generator; the entry points pass [[rng]]. The integer samplers
  * and the selections are EXACT: every coin is the one CKS step
  * [[bernoulliExpFrac]], with no floating point (SURVEY §7.4).
  */
object Noise {

  /** ThreadLocalRandom: independent per executor thread, no coordination. */
  def rng(): RandomGenerator = ThreadLocalRandom.current()

  private val One = BigInt(1)
  private val Quantum = BigInt(1) << 20

  /** Two-sided geometric (discrete Laplace), pmf ∝ exp(-|k| * s/t), sampled
    * EXACTLY (Canonne-Kamath-Steinke, arXiv:2004.00010, Algorithm 2). The
    * requested scale `b` is quantized UP to t/2^20 >= b, with
    * t = ceil(b * 2^20) computed exactly as a BigInt at every scale, so the
    * realized noise is never below the calibrated scale. A draw outside the
    * Long range saturates at its end (calibration caps b at 2^52, see
    * [[NoiseMechanism]], so a release never gets there).
    */
  def sampleGeometric(b: Rat, rng: RandomGenerator): Long = {
    if (b.isZero) return 0L
    require(!b.isInfinite, s"geometric scale must be finite, got $b")
    val t = (b * Rat(Quantum, One)).ceil.max(One)
    saturate(sampleDiscreteLaplace(t, Quantum, rng))
  }

  /** Exact discrete Laplace with rational scale t/s (CKS Algorithm 2). */
  def sampleDiscreteLaplace(t: BigInt, s: BigInt, rng: RandomGenerator): BigInt = {
    while (true) {
      val u = uniformBigInt(t, rng)
      if (bernoulliExpFrac(u, t, rng)) {
        // V ~ Geometric(1 - e^-1): count of successful Bernoulli(e^-1) draws
        var v = 0L
        while (bernoulliExpFrac(One, One, rng)) v += 1
        val y = (u + t * v) / s
        val negative = rng.nextBoolean()
        if (!(negative && y.signum == 0)) return if (negative) -y else y
      }
    }
    BigInt(0) // unreachable
  }

  private def saturate(y: BigInt): Long =
    if (y.isValidLong) y.toLong else if (y.signum > 0) Long.MaxValue else Long.MinValue

  /** Uniform BigInt in [0, bound): rejection sampling on raw random bits —
    * exact, no floating point. Expected < 2 draws.
    */
  private def uniformBigInt(bound: BigInt, rng: RandomGenerator): BigInt = {
    require(bound > 0, s"bound must be positive, got $bound")
    if (bound.isValidLong) return BigInt(rng.nextLong(bound.toLong))
    val bits = bound.bitLength
    val bytes = new Array[Byte]((bits + 7) / 8)
    val mask = (0xff >>> (bytes.length * 8 - bits)).toByte
    while (true) {
      rng.nextBytes(bytes)
      bytes(0) = (bytes(0) & mask).toByte
      val r = BigInt(1, bytes)
      if (r < bound) return r
    }
    BigInt(0) // unreachable
  }

  /** Exact Bernoulli(exp(-num/den)) for 0 <= num/den <= 1 via the von
    * Neumann series trick (CKS Algorithm 1): draw Bernoulli(num/(den*k))
    * until the first failure at step k; accept iff k is odd. Only integer
    * comparisons against uniform integers.
    */
  private def bernoulliExpFrac(num: BigInt, den: BigInt, rng: RandomGenerator): Boolean = {
    var k = 1L
    while (true) {
      if (num.signum == 0 || uniformBigInt(den * k, rng) >= num) return k % 2 == 1
      k += 1
    }
    false // unreachable
  }

  /** Exact Bernoulli(exp(-gamma)) for an arbitrary rational gamma >= 0
    * (CKS Algorithm 2's composition: exp(-gamma) = exp(-1)^floor(gamma) *
    * exp(-frac(gamma)), each factor drawn exactly). Expected O(1) work —
    * the exp(-1) chain fails with probability 1 - 1/e per link, so large
    * gammas short-circuit almost immediately.
    */
  def bernoulliExp(gamma: Rat, rng: RandomGenerator): Boolean = {
    require(!gamma.isInfinite && gamma >= Rat(0),
      s"gamma must be finite and non-negative, got $gamma")
    val (w, frac) = gamma.num /% gamma.den
    var whole = w
    while (whole.signum > 0) {
      if (!bernoulliExpFrac(One, One, rng)) return false
      whole -= 1
    }
    bernoulliExpFrac(frac, gamma.den, rng)
  }

  /** Exact DP selection via permute-and-flip (McKenna & Sheldon 2020,
    * arXiv:2010.12603, Algorithm 1): visit candidates in a uniformly random
    * order and release the first whose exact Bernoulli(exp(-gamma_i)) coin
    * lands heads, where gamma_i = eps * (u_max - u_i) / (2 * uSens) >= 0 is
    * precomputed by the caller AS AN EXACT RATIONAL. Permute-and-flip is
    * eps-DP for any bounded-sensitivity utility and stochastically
    * dominates the exponential mechanism's error, and — the reason it is
    * used here — admits an EXACT implementation: integer permutation +
    * CKS Bernoulli(exp(-gamma)) coins, no transcendental floating point
    * anywhere, closing for discrete selection the same Mironov-style FP
    * surface the CKS samplers close for additive noise. At least one
    * gamma must be zero (the max-utility candidate), so one pass always
    * releases.
    */
  def permuteAndFlip(gammas: IndexedSeq[Rat], rng: RandomGenerator): Int = {
    require(gammas.nonEmpty, "permuteAndFlip needs at least one candidate")
    val order = Array.tabulate(gammas.length)(identity)
    var i = order.length - 1
    while (i > 0) { // Fisher-Yates on exact uniform ints
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    var k = 0
    while (k < order.length) {
      val c = order(k)
      if (bernoulliExp(gammas(c), rng)) return c
      k += 1
    }
    // unreachable when some gamma == 0; tolerate caller slack loudly
    throw new IllegalStateException(
      "permuteAndFlip exhausted all candidates — no gamma was zero")
  }

  /** The private-selection step of the binned quantile and get_bounds:
    * release the index of a small distance `d(i)` (utility -d(i)) through
    * [[permuteAndFlip]] with gamma_i = scale * (d(i) - min d), where
    * `scale` = eps / (2 * uSens) in the units of `d`.
    */
  def selectMin(d: IndexedSeq[Rat], scale: Rat, rng: RandomGenerator): Int = {
    val dMin = d.min
    permuteAndFlip(d.map(x => scale * (x - dMin)), rng)
  }

  /** One draw of `m`'s noise for a LongType value; [[AddNoise]]'s generated
    * code and its `eval` both call it.
    */
  def drawLong(m: NoiseMechanism): Long = m match {
    case NoiseMechanism.Geometric(b) => sampleGeometric(b, rng())
    case NoiseMechanism.DiscreteGaussian(s2) => sampleDiscreteGaussian(s2, rng())
    case other => throw new IllegalStateException(s"unsupported ${other.name}")
  }

  /** One draw of `m`'s noise for a DoubleType value: the integer mechanisms
    * give their draw as a double.
    */
  def drawDouble(m: NoiseMechanism): Double = m match {
    case m: NoiseMechanism.Laplace => sampleLaplace(m.scale, rng())
    case m: NoiseMechanism.Gaussian => sampleGaussian(m.scale, rng())
    case _ => drawLong(m).toDouble
  }

  /** Continuous Laplace with scale b. A uniform draw of exactly 0.0 would
    * give log1p(-1) = -infinity, so it is redrawn.
    */
  def sampleLaplace(b: Double, rng: RandomGenerator): Double = {
    if (b == 0.0) return 0.0
    var u = rng.nextDouble() - 0.5
    while (u == -0.5) u = rng.nextDouble() - 0.5
    -b * math.signum(u) * math.log1p(-2.0 * math.abs(u))
  }

  /** Continuous Gaussian with variance sigma2. */
  def sampleGaussian(sigma2: Double, rng: RandomGenerator): Double =
    if (sigma2 == 0.0) 0.0 else rng.nextGaussian() * math.sqrt(sigma2)

  /** Discrete Gaussian with the exact rational variance parameter
    * sigma^2 = `s2`, sampled EXACTLY by rejection from a discrete Laplace
    * proposal (Canonne-Kamath-Steinke, arXiv:2004.00010, Algorithm 3 — the
    * sampler the reference uses for zCDP integer noise). Acceptance is Θ(1),
    * so there is no attempt cap. A draw outside the Long range saturates at
    * its end (calibration caps sigma at 2^52).
    */
  def sampleDiscreteGaussian(s2: Rat, rng: RandomGenerator): Long = {
    if (s2.isZero) return 0L
    require(!s2.isInfinite, s"discrete Gaussian variance must be finite, got $s2")
    // floor(sqrt(x)) = floor(sqrt(floor(x))) for every real x >= 0
    val t = BigInt((s2.num / s2.den).bigInteger.sqrt()) + 1
    val shift = s2 / Rat(t, One)
    val twoS2 = Rat(2) * s2
    while (true) {
      val y = sampleDiscreteLaplace(t, One, rng)
      val d = Rat(y.abs, One) - shift
      if (bernoulliExp(d * d / twoS2, rng)) return saturate(y)
    }
    0L // unreachable
  }

  import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}

  /** Add integer-valued noise to a LongType column via the native codegen'd
    * AddNoise expression.
    */
  def addLongNoise(c: Column, mech: NoiseMechanism): Column = mech match {
    case _ if mech.isNoiseless => c
    case NoiseMechanism.Geometric(_) | NoiseMechanism.DiscreteGaussian(_) =>
      ExpressionUtils.column(AddNoise(ExpressionUtils.expression(c), mech))
    case other => throw new IllegalArgumentException(
      s"${other.name} noise cannot be added to an integer column")
  }

  /** Add continuous noise to a DoubleType column. */
  def addDoubleNoise(c: Column, mech: NoiseMechanism): Column = mech match {
    case _ if mech.isNoiseless => c
    case NoiseMechanism.Exponential(_) => throw new IllegalArgumentException(
      "the exponential mechanism is not additive noise")
    case _ =>
      ExpressionUtils.column(AddNoise(ExpressionUtils.expression(c), mech))
  }
}
