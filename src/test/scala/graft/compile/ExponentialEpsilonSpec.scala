package graft.compile

import org.scalatest.funsuite.AnyFunSuite

import graft.budget._
import graft.exec.NoiseMechanism

/** The exponential mechanism's epsilon is the exact rational the selections
  * spend, so it must never exceed the exact eps / l1 or sqrt(8 rho) / l1
  * that the budget pays for; its double `scale` rounds down as well.
  */
class ExponentialEpsilonSpec extends AnyFunSuite {

  private def mech(b: PrivacyBudget, l1: Long) =
    NoiseMechanism.exponential(b, Rat(l1))

  private def roundsDown(m: NoiseMechanism.Exponential): Unit = {
    assert(Rat(m.scale) <= m.epsilon, s"$m: ${m.scale}")
    assert(Rat(Math.nextUp(m.scale)) > m.epsilon, s"$m: ${m.scale}")
  }

  test("PureDP / ApproxDP: the largest double <= eps / l1") {
    for (l1 <- Seq(1L, 3L);
         b <- Seq(PureDPBudget(Rat(1, 7)), ApproxDPBudget(Rat(1, 7), Rat(1, 1000)))) {
      val m = mech(b, l1)
      assert(m.epsilon === Rat(1, 7) / Rat(l1), s"$b at l1=$l1")
      roundsDown(m)
    }
  }

  test("zCDP: at most sqrt(8 rho)/l1; the nearest double is above") {
    // rho = 1/4: 8 rho = 2 is exact in doubles and math.sqrt(2.0) rounds
    // up; rho = 1/3 is above sqrt(8 rho) at both l1
    for (rho <- Seq(Rat(1, 3), Rat(1, 4)); l1 <- Seq(1L, 3L)) {
      val bound = Rat(8) * rho / Rat(l1 * l1) // eps^2
      val nearest = math.sqrt(8.0 * rho.toDouble) / l1.toDouble
      assert(Rat(nearest) * Rat(nearest) > bound, s"rho=$rho l1=$l1 rounds up")
      val m = mech(RhoZCDPBudget(rho), l1)
      assert(m.epsilon * m.epsilon <= bound, s"rho=$rho at l1=$l1: ${m.epsilon}")
      assert(m.epsilon * m.epsilon * (Rat(1) + Rat(BigInt(1), BigInt(1) << 38)) > bound,
        s"rho=$rho at l1=$l1: ${m.epsilon}")
      roundsDown(m)
    }
  }

  test("zCDP: exact where l1^2 / 8 rho is a perfect square") {
    assert(mech(RhoZCDPBudget(Rat(1, 2)), 1L).epsilon === Rat(2))
    assert(mech(RhoZCDPBudget(Rat(2)), 4L).epsilon === Rat(1))
    assert(mech(RhoZCDPBudget(Rat(1, 8)), 3L).epsilon === Rat(1, 3))
  }

  test("exact values and infinite budgets pass through") {
    assert(mech(PureDPBudget(0.5), 1L).scale === 0.5)
    assert(mech(RhoZCDPBudget(0.5), 1L).scale === 2.0)
    for (b <- Seq(PureDPBudget(Rat.Inf), RhoZCDPBudget(Rat.Inf))) {
      assert(mech(b, 3L).epsilon === Rat.Inf)
      assert(mech(b, 3L).scale === Double.PositiveInfinity)
      assert(mech(b, 3L).isNoiseless)
    }
  }
}
