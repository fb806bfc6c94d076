package graft.exec

import java.util.SplittableRandom
import java.util.random.RandomGenerator

import org.scalatest.funsuite.AnyFunSuite

import graft.budget.Rat

/** The integer samplers and the shared selection step draw only uniform
  * integers and bits: a generator that refuses every floating-point draw
  * drives them at scales from well below 1 to far past the Long range.
  * The sampler moments outside NoiseSpec's scales run here, seeded.
  */
class ExactSamplingSpec extends AnyFunSuite {

  /** Counts raw 64-bit draws; throws on any floating-point draw. The
    * integer, boolean and byte draws are RandomGenerator's defaults, which
    * reduce to `nextLong()`.
    */
  private final class IntegerOnly(seed: Long) extends RandomGenerator {
    private val base = new SplittableRandom(seed)
    var draws = 0L
    def nextLong(): Long = { draws += 1; base.nextLong() }
    private def refuse(what: String) =
      throw new AssertionError(s"exact sampler drew $what")
    override def nextDouble(): Double = refuse("nextDouble")
    override def nextDouble(bound: Double): Double = refuse("nextDouble")
    override def nextDouble(origin: Double, bound: Double): Double = refuse("nextDouble")
    override def nextFloat(): Float = refuse("nextFloat")
    override def nextFloat(bound: Float): Float = refuse("nextFloat")
    override def nextFloat(origin: Float, bound: Float): Float = refuse("nextFloat")
    override def nextGaussian(): Double = refuse("nextGaussian")
    override def nextGaussian(mean: Double, stddev: Double): Double = refuse("nextGaussian")
    override def nextExponential(): Double = refuse("nextExponential")
  }

  test("the counting generator refuses floating-point draws") {
    val rng = new IntegerOnly(0)
    intercept[AssertionError] { rng.nextDouble() }
    intercept[AssertionError] { rng.nextFloat() }
    intercept[AssertionError] { rng.nextGaussian() }
    intercept[AssertionError] { rng.nextExponential() }
    assert(rng.nextLong(10) < 10 && rng.draws > 0)
  }

  test("sampleGeometric draws no floating point, up to b = 2^50") {
    for (b <- Seq(0.5, 2.0, math.pow(2, 35), math.pow(2, 50))) {
      val rng = new IntegerOnly(11)
      val xs = Array.fill(2000)(Noise.sampleGeometric(Rat(b), rng))
      assert(rng.draws >= 2000, s"b=$b")
      assert(xs.exists(_ > 0) && xs.exists(_ < 0), s"b=$b")
    }
  }

  test("sampleDiscreteGaussian draws no floating point, up to sigma^2 = " +
      "10^40 (a BigInt proposal scale)") {
    for (s2 <- Seq(0.25, 9.0, 1e6, 1e40)) {
      val rng = new IntegerOnly(12)
      val xs = Array.fill(2000)(Noise.sampleDiscreteGaussian(Rat(s2), rng))
      assert(rng.draws >= 2000, s"sigma^2=$s2")
      assert(xs.exists(_ > 0) && xs.exists(_ < 0), s"sigma^2=$s2")
    }
  }

  test("a draw past the Long range saturates at its end") {
    val xs = Array.fill(200)(Noise.sampleDiscreteGaussian(Rat(1e40), new IntegerOnly(13)))
    assert(xs.contains(Long.MaxValue) || xs.contains(Long.MinValue))
  }

  test("the shared selection step draws no floating point") {
    val rng = new IntegerOnly(14)
    val d = IndexedSeq(Rat(5), Rat(2), Rat(3), Rat(9))
    val picks = (1 to 2000).map(_ => Noise.selectMin(d, Rat(1, 2), rng))
    assert(rng.draws >= 2000)
    assert(picks.groupBy(identity).maxBy(_._2.size)._1 === 1)
  }

  test("geometric at b = 2^35: variance 2a/(1-a)^2, on the exact path " +
      "that replaced the floating-point fallback") {
    val b = math.pow(2, 35)
    val n = 200000
    val rng = new SplittableRandom(15)
    val xs = Array.fill(n)(Noise.sampleGeometric(Rat(b), rng).toDouble)
    val mean = xs.sum / n
    val varEmp = xs.map(x => (x - mean) * (x - mean)).sum / n
    // 2a/(1-a)^2 with a = exp(-1/b) is 2b^2 - 1/6 + O(1/b^2)
    val varTrue = 2.0 * b * b
    // the sample variance of a Laplace has relative standard error
    // sqrt(5/n) ~ 0.005
    assert(math.abs(varEmp - varTrue) / varTrue < 0.05, s"var $varEmp vs $varTrue")
    assert(math.abs(mean) < 5 * math.sqrt(varTrue / n), s"mean $mean")
  }

  test("sampleLaplace redraws a uniform 0.0 instead of returning -infinity") {
    val uniforms = Iterator(0.0, 0.75)
    val stub = new RandomGenerator {
      def nextLong(): Long = throw new AssertionError("unused")
      override def nextDouble(): Double = uniforms.next()
    }
    val x = Noise.sampleLaplace(2.0, stub)
    assert(!x.isInfinite)
    assert(x === -2.0 * math.log1p(-0.5)) // u = 0.25
  }
}
