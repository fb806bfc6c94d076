package graft.exec

import java.util.concurrent.ThreadLocalRandom
import java.util.random.RandomGenerator

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.budget.Rat

/** Concrete noise mechanisms (reference: the five-mechanism enum at
  * src/tmlt/analytics/_noise_info.py:49-68). `scale` semantics:
  *  - Geometric / Laplace: b, the distribution scale (= sensitivity / epsilon)
  *  - Gaussian / DiscreteGaussian: sigma^2 (= sensitivity^2 / (2 rho))
  * A scale of exactly 0 (infinite budget) adds no noise and keeps results
  * bit-deterministic — this is what the infinite-budget correctness oracles
  * rely on (reference doctest: session.py:1037-1043 shows noise scale
  * Delta/epsilon = 2 for a count at epsilon=0.5).
  */
sealed trait NoiseMechanism extends Serializable {
  def name: String
  def scale: Double
  def isNoiseless: Boolean = scale == 0.0
  /** The p-quantile of this mechanism's noise distribution (reference
    * _noise_info.py `_inverse_cdf`): the error bar a release carries at
    * confidence p — e.g. `inverseCdf(0.975)` is the 95% two-sided bound.
    */
  def inverseCdf(p: Double): Double = NoiseMechanism.inverseCdf(this, p)
}
object NoiseMechanism {
  // A negative or NaN scale is ALWAYS a caller bug, and the samplers'
  // clamping would otherwise turn it into near-zero noise — a release the
  // caller believes is DP-protected but is essentially exact. Fail at
  // construction, the only place the mistake is still attributable.
  private def checkScale(scale: Double, name: String): Unit =
    require(scale >= 0.0 && !scale.isNaN,
      s"$name noise scale must be >= 0 (0 = noiseless), got $scale")
  final case class Geometric(scale: Double) extends NoiseMechanism {
    NoiseMechanism.checkScale(scale, "Geometric"); val name = "Geometric"
  }
  final case class Laplace(scale: Double) extends NoiseMechanism {
    NoiseMechanism.checkScale(scale, "Laplace"); val name = "Laplace"
  }
  final case class Gaussian(scale: Double) extends NoiseMechanism {
    NoiseMechanism.checkScale(scale, "Gaussian"); val name = "Gaussian"
  }
  final case class DiscreteGaussian(scale: Double) extends NoiseMechanism {
    NoiseMechanism.checkScale(scale, "DiscreteGaussian")
    val name = "DiscreteGaussian"
  }
  /** Exponential mechanism (quantile); `scale` = epsilon (inf = noiseless). */
  final case class Exponential(scale: Double) extends NoiseMechanism {
    NoiseMechanism.checkScale(scale, "Exponential")
    val name = "Exponential"
    override def isNoiseless: Boolean = scale.isInfinity
  }

  private[exec] def inverseCdf(m: NoiseMechanism, p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1): $p")
    m match {
      case Laplace(b) =>
        if (b == 0.0) 0.0
        else if (p < 0.5) b * math.log(2.0 * p)
        else -b * math.log(2.0 * (1.0 - p))
      case Geometric(b) =>
        // two-sided geometric (discrete Laplace) with pmf ∝ alpha^|k|,
        // alpha = exp(-1/b): the smallest k >= 0 with
        // 1 - alpha^(k+1)/(1+alpha) >= p; p < 1/2 by symmetry
        if (b == 0.0) 0.0
        else if (p < 0.5) -inverseCdf(m, 1.0 - p)
        else {
          val alpha = math.exp(-1.0 / b)
          val k = math.ceil(
            math.log((1.0 - p) * (1.0 + alpha)) / math.log(alpha)) - 1.0
          math.max(0.0, k)
        }
      case Gaussian(s2) => math.sqrt(s2) * probit(p)
      case DiscreteGaussian(s2) =>
        if (s2 == 0.0) 0.0
        else if (p < 0.5) -inverseCdf(m, 1.0 - p)
        else {
          val sigma = math.sqrt(s2)
          // wide sigmas are indistinguishable from the rounded continuous
          // Gaussian; narrow ones walk the exact pmf
          if (sigma > 200.0) math.rint(sigma * probit(p))
          else {
            val cut = (10.0 * sigma).toInt + 10
            var z = 0.0
            var k = -cut
            while (k <= cut) { z += math.exp(-k * k / (2.0 * s2)); k += 1 }
            var cum = 0.0
            var ans = cut.toDouble
            var found = false
            k = -cut
            while (k <= cut && !found) {
              cum += math.exp(-k * k / (2.0 * s2))
              if (cum / z >= p) { ans = k.toDouble; found = true }
              k += 1
            }
            ans
          }
        }
      case Exponential(_) => throw new UnsupportedOperationException(
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
    * Long range saturates at its end.
    */
  def sampleGeometric(b: Double, rng: RandomGenerator): Long = {
    if (b == 0.0) return 0L
    require(!b.isInfinite, s"geometric scale must be finite, got $b")
    val t = (Rat(b) * Rat(Quantum, One)).ceil.max(One)
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
    case NoiseMechanism.Laplace(b) => sampleLaplace(b, rng())
    case NoiseMechanism.Gaussian(s2) => sampleGaussian(s2, rng())
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

  /** Discrete Gaussian with variance parameter sigma2, sampled EXACTLY by
    * rejection from a discrete Laplace proposal (Canonne-Kamath-Steinke,
    * arXiv:2004.00010, Algorithm 3 — the sampler the reference uses for
    * zCDP integer noise), with sigma^2 the exact rational value of
    * `sigma2`. Acceptance is Θ(1), so there is no attempt cap. A draw
    * outside the Long range saturates at its end.
    */
  def sampleDiscreteGaussian(sigma2: Double, rng: RandomGenerator): Long = {
    if (sigma2 == 0.0) return 0L
    require(!sigma2.isInfinite, s"discrete Gaussian variance must be finite, got $sigma2")
    val s2 = Rat(sigma2)
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
