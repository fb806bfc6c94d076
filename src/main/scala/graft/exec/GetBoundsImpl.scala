package graft.exec

import java.util.random.RandomGenerator

import graft.budget.Rat

/** Finisher for GetBounds: choose the magnitude exponent k such that ~95% of
  * values satisfy |x| <= 2^k, by private selection over the candidate
  * exponents of [[MagnitudeBucket]] (reference create_bounds_measurement,
  * threshold 0.95: _base_measurement_visitor.py:1533-1544,1616). The release
  * is a bare integer exponent and the finite-eps selection runs EXACTLY —
  * rational utilities + [[Noise.selectMin]]'s integer-arithmetic coins — so
  * this measurement has zero floating-point sampling surface.
  */
object GetBoundsImpl {
  /** The candidate exponents, in bucket order. */
  val Exponents: Range = MagnitudeBucket.Min to MagnitudeBucket.Max

  /** The released exponent for a group whose `counts(i)` rows fall in bucket
    * `Exponents(i)`. `eps` = infinity is the deterministic release: the
    * first k whose cumulative count reaches 0.95 * n (an empty group gives
    * the smallest exponent).
    */
  def finish(counts: Array[Long], eps: Rat, rng: RandomGenerator): Int = {
    val n = counts.sum
    // cumulative count of |x| <= 2^k
    val cum = counts.scanLeft(0L)(_ + _).tail
    if (eps.isInfinite) Exponents(cum.indexWhere(_ * 20L >= 19L * n)) // exactly cum >= 0.95 * n
    else {
      // utility u = -|cum - 0.95*n| has sensitivity 1.95: a row moves the
      // cumulative count by <= 1 and the 0.95*n target by 0.95, so the
      // selection weights divide eps by 2 * 1.95. Scaled by 20 to stay
      // integral: d20 = |20*cum - 19*n|, uSens20 = 39, all exact.
      val d20 = cum.toIndexedSeq.map(c => Rat(math.abs(20L * c - 19L * n)))
      Exponents(Noise.selectMin(d20, eps / Rat(2L * 39L), rng))
    }
  }
}
