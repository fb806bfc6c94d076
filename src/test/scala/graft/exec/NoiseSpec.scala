package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{avg, col, lit, var_pop}

import graft.SparkSpec
import graft.budget.Rat

/** Statistical checks of the samplers against their documented
  * distributions (reference noise-scale ground truth: a count at
  * PureDP(0.5) uses geometric noise with scale 2 - session.py:1037-1043),
  * directly and through the [[AddNoise]] expression.
  */
class NoiseSpec extends SparkSpec {
  private val N = 200000

  test("geometric: mean 0, variance 2a/(1-a)^2 at b=2") {
    val b = 2.0
    val xs = Array.fill(N)(Noise.sampleGeometric(Rat(b), Noise.rng()).toDouble)
    val mean = xs.sum / N
    val varEmp = xs.map(x => (x - mean) * (x - mean)).sum / N
    val a = math.exp(-1.0 / b)
    val varTrue = 2.0 * a / ((1 - a) * (1 - a))
    assert(math.abs(mean) < 0.05, s"mean $mean")
    assert(math.abs(varEmp - varTrue) / varTrue < 0.05, s"var $varEmp vs $varTrue")
  }

  test("laplace: variance 2b^2") {
    val b = 3.0
    val xs = Array.fill(N)(Noise.sampleLaplace(b, Noise.rng()))
    val mean = xs.sum / N
    val varEmp = xs.map(x => (x - mean) * (x - mean)).sum / N
    assert(math.abs(mean) < 0.1)
    assert(math.abs(varEmp - 2 * b * b) / (2 * b * b) < 0.05, s"var $varEmp")
  }

  test("gaussian: variance sigma^2") {
    val s2 = 4.0
    val xs = Array.fill(N)(Noise.sampleGaussian(s2, Noise.rng()))
    val varEmp = xs.map(x => x * x).sum / N
    assert(math.abs(varEmp - s2) / s2 < 0.05)
  }

  test("discrete gaussian: integer-valued, variance ~ sigma^2") {
    val s2 = 9.0
    val xs = Array.fill(N)(Noise.sampleDiscreteGaussian(Rat(s2), Noise.rng()).toDouble)
    val varEmp = xs.map(x => x * x).sum / N
    // CKS discrete Gaussian variance is within O(1) of sigma^2 for sigma >= 1
    assert(math.abs(varEmp - s2) / s2 < 0.1, s"var $varEmp vs $s2")
  }

  // the same moments through AddNoise: its generated code and its `eval`
  // reach the samplers through Noise.drawLong / drawDouble
  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
    test(s"AddNoise under $mode: mean 0 and each mechanism's variance") {
      val n = N / 2
      val zeros = codegenSession(mode).range(n)
      val a = math.exp(-1.0 / 2.0)
      val geometricVar = 2.0 * a / ((1 - a) * (1 - a))
      Seq[(String, Column, Double, Double)](
        ("geometric(2) long", Noise.addLongNoise(lit(0L),
          NoiseMechanism.Geometric(Rat(2))), geometricVar, 0.05),
        ("discrete gaussian(9) long", Noise.addLongNoise(lit(0L),
          NoiseMechanism.DiscreteGaussian(Rat(9))), 9.0, 0.1),
        ("geometric(2) double", Noise.addDoubleNoise(lit(0.0),
          NoiseMechanism.Geometric(Rat(2))), geometricVar, 0.05),
        ("laplace(3) double", Noise.addDoubleNoise(lit(0.0),
          NoiseMechanism.Laplace(Rat(3))), 18.0, 0.05),
        ("gaussian(4) double", Noise.addDoubleNoise(lit(0.0),
          NoiseMechanism.Gaussian(Rat(4))), 4.0, 0.05)
      ).foreach { case (what, noised, varTrue, tol) =>
        val r = zeros.select(noised.as("x"))
          .agg(avg(col("x")), var_pop(col("x"))).head()
        val (mean, varEmp) = (r.getDouble(0), r.getDouble(1))
        // five standard errors of the mean
        assert(math.abs(mean) < 5 * math.sqrt(varTrue / n), s"$what: mean $mean")
        assert(math.abs(varEmp - varTrue) / varTrue < tol,
          s"$what: var $varEmp vs $varTrue")
      }
    }

  /** Pearson chi-squared statistic against exact per-bin probabilities.
    * Bins with expected count < 5 are pooled into the tails.
    */
  private def chiSquared(samples: Array[Long], pmf: Long => Double, lo: Int, hi: Int): (Double, Int) = {
    val n = samples.length
    val obs = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    samples.foreach(s => obs(s.max(lo - 1).min(hi + 1)) += 1)
    // central bins [lo, hi], two pooled tails
    val bins: Seq[(Double, Long)] =
      (lo to hi).map { k => (pmf(k) * n, obs(k)) } ++ Seq(
        ((1.0 - (lo to hi).map(pmf(_)).sum) / 2 * n, obs(lo - 1)),
        ((1.0 - (lo to hi).map(pmf(_)).sum) / 2 * n, obs(hi + 1)))
    val usable = bins.filter(_._1 >= 5.0)
    val chi2 = usable.map { case (e, o) => (o - e) * (o - e) / e }.sum
    (chi2, usable.size - 1)
  }

  test("geometric b=2: chi-squared fit of the two-sided geometric pmf") {
    // the reference's documented anchor: a count at PureDP(epsilon=0.5) with
    // sensitivity 1 uses geometric noise with scale Delta/epsilon = 2
    // (session.py:1037-1043)
    val b = 2.0
    val a = math.exp(-1.0 / b)
    val p0 = (1 - a) / (1 + a)
    def pmf(k: Long): Double = p0 * math.pow(a, math.abs(k).toDouble)
    val xs = Array.fill(N)(Noise.sampleGeometric(Rat(b), Noise.rng()))
    val (chi2, dof) = chiSquared(xs, pmf, -12, 12)
    // dof ~ 24; chi-squared critical value at alpha = 1e-6 is ~65 — a
    // genuinely wrong scale (b=1.9 or 2.1) lands in the thousands at N=200k
    assert(chi2 < 65.0, s"chi2 $chi2 at dof $dof")
  }

  test("discrete gaussian sigma^2=9: chi-squared fit of exp(-k^2/2s^2) pmf") {
    val s2 = 9.0
    // normalization over the effective support (|k| <= 40 is 13 sigma)
    val z = (-40 to 40).map(k => math.exp(-k * k / (2 * s2))).sum
    def pmf(k: Long): Double = math.exp(-k * k / (2 * s2)) / z
    val xs = Array.fill(N)(Noise.sampleDiscreteGaussian(Rat(s2), Noise.rng()))
    val (chi2, dof) = chiSquared(xs, pmf, -10, 10)
    assert(chi2 < 65.0, s"chi2 $chi2 at dof $dof")
  }

  test("discrete gaussian sigma^2=0.5 (t = 1): chi-squared fit of " +
      "exp(-k^2/2s^2) pmf") {
    val s2 = 0.5
    val z = (-20 to 20).map(k => math.exp(-k * k / (2 * s2))).sum
    def pmf(k: Long): Double = math.exp(-k * k / (2 * s2)) / z
    val rng = new java.util.SplittableRandom(16)
    val xs = Array.fill(N)(Noise.sampleDiscreteGaussian(Rat(s2), rng))
    val (chi2, dof) = chiSquared(xs, pmf, -4, 4)
    // dof ~ 6; the critical value at alpha = 1e-6 is ~39
    assert(chi2 < 40.0, s"chi2 $chi2 at dof $dof")
  }

  test("laplace b=3: CDF agreement at fixed quantile probes") {
    val b = 3.0
    val xs = Array.fill(N)(Noise.sampleLaplace(b, Noise.rng())).sorted
    // two-sided Laplace CDF: F(x) = 0.5 + 0.5 sign(x) (1 - exp(-|x|/b))
    def cdf(x: Double): Double =
      0.5 + 0.5 * math.signum(x) * (1 - math.exp(-math.abs(x) / b))
    // max deviation at probe points; DKW bound at alpha=1e-6:
    // sqrt(ln(2/alpha)/(2N)) ~ 0.006
    val probes = Seq(-6.0, -3.0, -1.0, 0.0, 1.0, 3.0, 6.0)
    probes.foreach { x =>
      val emp = xs.count(_ <= x).toDouble / N
      assert(math.abs(emp - cdf(x)) < 0.006, s"CDF at $x: $emp vs ${cdf(x)}")
    }
  }

  test("zero scale is exactly noiseless") {
    assert((1 to 1000).forall(_ => Noise.sampleGeometric(Rat.zero, Noise.rng()) == 0L))
    assert((1 to 1000).forall(_ => Noise.sampleLaplace(0.0, Noise.rng()) == 0.0))
    assert((1 to 1000).forall(_ => Noise.sampleGaussian(0.0, Noise.rng()) == 0.0))
    assert((1 to 1000).forall(_ => Noise.sampleDiscreteGaussian(Rat.zero, Noise.rng()) == 0L))
    assert(NoiseMechanism.Geometric(Rat(0)).isNoiseless)
    assert(NoiseMechanism.Exponential(Rat.Inf).isNoiseless)
  }

  test("negative or NaN mechanism scales refuse at construction — the " +
      "samplers would otherwise clamp them to near-zero noise") {
    for (mk <- Seq[Rat => NoiseMechanism](
        NoiseMechanism.Geometric(_), NoiseMechanism.Laplace(_),
        NoiseMechanism.Gaussian(_), NoiseMechanism.DiscreteGaussian(_),
        NoiseMechanism.Exponential(_))) {
      intercept[IllegalArgumentException] { mk(Rat(-1)) }
      // a NaN parameter cannot be built: it has no rational value
      intercept[IllegalArgumentException] { mk(Rat(Double.NaN)) }
    }
  }
}
