package graft.exec

import org.scalatest.funsuite.AnyFunSuite

import graft.budget.Rat
import NoiseMechanism._

/** Inverse CDF of the noise mechanisms — the error-bar utility the
  * reference exposes through noise info (reference _noise_info.py
  * `_inverse_cdf`; rows mirrored from test/unit/test_noise_info.py
  * test_inverse_cdf).
  */
class NoiseInverseCdfSpec extends AnyFunSuite {

  test("reference rows: laplace / geometric / discrete gaussian at b = 1") {
    assert(math.abs(Laplace(Rat(1)).inverseCdf(0.75) - 0.693147) < 1e-5)
    assert(Laplace(Rat(1)).inverseCdf(0.5) === 0.0)
    assert(Geometric(Rat(1)).inverseCdf(0.5) === 0.0)
    assert(Geometric(Rat(1)).inverseCdf(0.75) === 1.0)
    assert(DiscreteGaussian(Rat(1)).inverseCdf(0.5) === 0.0)
    assert(DiscreteGaussian(Rat(1)).inverseCdf(0.75) === 1.0)
  }

  test("gaussian quantiles match the normal table") {
    assert(math.abs(Gaussian(Rat(1)).inverseCdf(0.975) - 1.959964) < 1e-5)
    assert(math.abs(Gaussian(Rat(4)).inverseCdf(0.975) - 2.0 * 1.959964) < 1e-5)
    assert(math.abs(Gaussian(Rat(1)).inverseCdf(0.5)) < 1e-12)
    // extreme tails stay finite and sane
    assert(Gaussian(Rat(1)).inverseCdf(1e-9) < -5.0)
    assert(Gaussian(Rat(1)).inverseCdf(1.0 - 1e-9) > 5.0)
  }

  test("all additive mechanisms are symmetric about zero") {
    for (m <- Seq(Laplace(Rat(5, 2)), Geometric(Rat(3)), Gaussian(Rat(2)),
        DiscreteGaussian(Rat(7))); p <- Seq(0.01, 0.2, 0.4)) {
      assert(math.abs(m.inverseCdf(p) + m.inverseCdf(1.0 - p)) < 1e-9,
        s"$m at p = $p")
    }
  }

  test("discrete mechanisms return integers; CDF walk matches the wide " +
      "continuous approximation at the crossover") {
    for (p <- Seq(0.1, 0.6, 0.9, 0.99)) {
      val g = Geometric(Rat(5)).inverseCdf(p)
      assert(g === math.rint(g))
      val dg = DiscreteGaussian(Rat(25)).inverseCdf(p)
      assert(dg === math.rint(dg))
    }
    // the exact walk at sigma just below the crossover agrees with the
    // rounded continuous quantile (they may differ by at most one step)
    val exact = DiscreteGaussian(Rat(190 * 190)).inverseCdf(0.9)
    val approx = math.rint(190.0 * 1.2815515655446004)
    assert(math.abs(exact - approx) <= 1.0)
  }

  test("a zero scale is noiseless at every p; exponential has no noise CDF") {
    assert(Laplace(Rat(0)).inverseCdf(0.9) === 0.0)
    assert(Geometric(Rat(0)).inverseCdf(0.9) === 0.0)
    assert(DiscreteGaussian(Rat(0)).inverseCdf(0.9) === 0.0)
    intercept[UnsupportedOperationException] {
      Exponential(Rat(1)).inverseCdf(0.9)
    }
    intercept[IllegalArgumentException] { Laplace(Rat(1)).inverseCdf(0.0) }
    intercept[IllegalArgumentException] { Laplace(Rat(1)).inverseCdf(1.0) }
  }

  test("geometric inverse CDF agrees with the empirical sampler quantiles") {
    // the sampler and the analytic CDF describe the same distribution:
    // compare empirical quantiles of 20k draws against inverseCdf +-1 step
    val b = 3.0
    val draws = Array.fill(20000)(Noise.sampleGeometric(Rat(b), Noise.rng()).toDouble).sorted
    for (p <- Seq(0.25, 0.5, 0.75, 0.9)) {
      val emp = draws(((draws.length - 1) * p).toInt)
      val ana = Geometric(Rat(b)).inverseCdf(p)
      assert(math.abs(emp - ana) <= 1.0, s"p=$p emp=$emp analytic=$ana")
    }
  }
}
