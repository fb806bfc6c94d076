package graft.compile

import org.scalatest.funsuite.AnyFunSuite

import graft.budget._

/** The exponential mechanism's epsilon is a double that the selections read
  * back as an exact rational, so it must never exceed the exact eps / l1 or
  * sqrt(8 rho) / l1 that the budget pays for — and it stays the closest
  * such double.
  */
class ExponentialEpsilonSpec extends AnyFunSuite {

  private def eps(b: PrivacyBudget, l1: Long) =
    MeasurementPlanner.exponentialEpsilon(b, Rat(l1))

  test("PureDP / ApproxDP: the largest double <= eps / l1") {
    for (l1 <- Seq(1L, 3L);
         b <- Seq(PureDPBudget(Rat(1, 7)), ApproxDPBudget(Rat(1, 7), Rat(1, 1000)))) {
      val exact = Rat(1, 7) / Rat(l1)
      val d = eps(b, l1)
      assert(Rat(d) <= exact, s"$b at l1=$l1: $d")
      assert(Rat(Math.nextUp(d)) > exact, s"$b at l1=$l1: $d")
    }
  }

  test("zCDP: the largest double <= sqrt(8 rho) / l1, including where the " +
      "round-to-nearest value is above it") {
    // rho = 1/4: 8 rho = 2 is exact in doubles and math.sqrt(2.0) rounds
    // up; rho = 1/3 is above sqrt(8 rho) at both l1
    for (rho <- Seq(Rat(1, 3), Rat(1, 4)); l1 <- Seq(1L, 3L)) {
      val bound = Rat(8) * rho / Rat(l1 * l1) // eps^2
      val nearest = math.sqrt(8.0 * rho.toDouble) / l1.toDouble
      assert(Rat(nearest) * Rat(nearest) > bound, s"rho=$rho l1=$l1 rounds up")
      val d = eps(RhoZCDPBudget(rho), l1)
      assert(Rat(d) * Rat(d) <= bound, s"rho=$rho at l1=$l1: $d")
      val up = Rat(Math.nextUp(d))
      assert(up * up > bound, s"rho=$rho at l1=$l1: $d")
    }
  }

  test("exact values and infinite budgets pass through") {
    assert(eps(PureDPBudget(0.5), 1L) === 0.5)
    assert(eps(RhoZCDPBudget(0.5), 1L) === 2.0)
    assert(eps(PureDPBudget(Rat.Inf), 3L) === Double.PositiveInfinity)
    assert(eps(RhoZCDPBudget(Rat.Inf), 3L) === Double.PositiveInfinity)
  }
}
