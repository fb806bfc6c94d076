package graft.exec

import org.scalatest.funsuite.AnyFunSuite

import graft.budget.Rat

/** get_bounds' kernel as a plain function over a group's bucket counts:
  * the deterministic infinite-budget rule and the finite-eps selection,
  * seeded.
  */
class GetBoundsKernelSpec extends AnyFunSuite {

  private val Inf = Rat.Inf

  /** Dense counts over GetBoundsImpl.Exponents from (exponent -> rows). */
  private def counts(rows: (Int, Long)*): Array[Long] = {
    val c = new Array[Long](GetBoundsImpl.Exponents.size)
    rows.foreach { case (k, n) => c(GetBoundsImpl.Exponents.indexOf(k)) += n }
    c
  }

  test("eps = infinity: an empty group gives the smallest exponent") {
    assert(GetBoundsImpl.finish(counts(), Inf, new java.util.Random(1)) === -32)
  }

  test("eps = infinity: the first k with 20 * cum >= 19 * n, which is not " +
      "the argmin of |20 * cum - 19 * n|") {
    val rng = new java.util.Random(2)
    // 94 of 100 rows at k = 3: |20*94 - 1900| = 20 is the smallest
    // distance, yet cum first reaches 95% at k = 10
    assert(GetBoundsImpl.finish(counts(3 -> 94L, 10 -> 6L), Inf, rng) === 10)
    // exactly 95% at k = 3 qualifies
    assert(GetBoundsImpl.finish(counts(3 -> 95L, 10 -> 5L), Inf, rng) === 3)
    assert(GetBoundsImpl.finish(counts(-32 -> 1L), Inf, rng) === -32)
    assert(GetBoundsImpl.finish(counts(62 -> 7L), Inf, rng) === 62)
  }

  test("finite eps: pick frequency peaks at the target bucket") {
    val rng = new java.util.Random(3)
    // 10 rows at each k in 0..19: 95% of 200 is reached at k = 18
    val c = counts((0 to 19).map(k => k -> 10L): _*)
    assert(GetBoundsImpl.finish(c, Inf, rng) === 18)
    val picks = (1 to 4000).map(_ => GetBoundsImpl.finish(c, Rat(1, 2), rng))
    val freq = picks.groupBy(identity).view.mapValues(_.size).toMap.withDefaultValue(0)
    assert(freq.maxBy(_._2)._1 === 18, freq.toString)
    // below the target the distance grows by 200 per bucket; every bucket
    // from k = 19 on is 200 away (its cumulative count is all 200 rows)
    assert(freq(18) > freq(17) && freq(17) > freq(16), freq.toString)
    assert(freq(18) > 2 * freq(19), freq.toString)
  }

  test("seeded runs are reproducible") {
    val c = counts((0 to 19).map(k => k -> 10L): _*)
    def run(seed: Long) = {
      val rng = new java.util.Random(seed)
      (1 to 50).map(_ => GetBoundsImpl.finish(c, Rat(1, 2), rng))
    }
    assert(run(7) === run(7))
    assert(run(7) !== run(8))
  }
}
