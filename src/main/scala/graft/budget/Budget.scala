package graft.budget

/** Exact rational arithmetic for privacy accounting. Budgets are exact so that
  * repeated composition never drifts with floating-point error (reference keeps
  * budgets as symbolic rationals: src/tmlt/analytics/privacy_budget.py:20-44).
  * Infinity is represented as 1/0.
  */
final class Rat private (val num: BigInt, val den: BigInt) extends Ordered[Rat]
    with Serializable {
  def isInfinite: Boolean = den == 0
  def isZero: Boolean = num == 0 && den != 0

  def +(o: Rat): Rat =
    if (isInfinite || o.isInfinite) Rat.Inf
    else Rat(num * o.den + o.num * den, den * o.den)
  def -(o: Rat): Rat =
    if (isInfinite) Rat.Inf
    else if (o.isInfinite) throw new ArithmeticException("inf subtraction")
    else Rat(num * o.den - o.num * den, den * o.den)
  def *(o: Rat): Rat =
    if (isInfinite || o.isInfinite) { if (num == 0 || o.num == 0) Rat.zero else Rat.Inf }
    else Rat(num * o.num, den * o.den)
  def /(o: Rat): Rat =
    if (o.isInfinite) Rat.zero
    else if (o.num == 0) Rat.Inf
    else if (isInfinite) Rat.Inf
    else Rat(num * o.den, den * o.num)

  def compare(o: Rat): Int =
    if (isInfinite && o.isInfinite) 0
    else if (isInfinite) 1
    else if (o.isInfinite) -1
    else (num * o.den).compare(o.num * den)

  def toDouble: Double =
    if (isInfinite) Double.PositiveInfinity
    else if (den.bitLength < 52 && num.bitLength < 52) num.toDouble / den.toDouble
    else (BigDecimal(num) / BigDecimal(den)).toDouble

  def min(o: Rat): Rat = if (this <= o) this else o
  def max(o: Rat): Rat = if (this >= o) this else o

  /** Exact ceiling (throws on infinity). */
  def ceil: BigInt = {
    if (isInfinite) throw new ArithmeticException("ceil of infinite Rat")
    val (q, r) = num /% den // BigInt division truncates toward zero
    if (r != 0 && num > 0) q + 1 else q
  }

  /** Exact ceiling as a Long (throws on infinity). Used where an integer
    * stability bound is extracted from an exact rational distance — going
    * through Double could round a value like (2^53+1)/1 down.
    */
  def ceilLong: Long = {
    val c = ceil
    // BigInt.toLong silently truncates to the low 64 bits — for a
    // privacy-relevant stability bound a wrapped (tiny or negative)
    // value would be catastrophic, so refuse out-of-range exactly
    if (!c.isValidLong)
      throw new ArithmeticException(s"ceil($this) = $c does not fit a Long")
    c.toLong
  }

  override def equals(o: Any): Boolean = o match {
    case r: Rat => num == r.num && den == r.den
    case _      => false
  }
  override def hashCode: Int = (num, den).hashCode
  override def toString: String =
    if (isInfinite) "inf" else if (den == 1) num.toString else s"$num/$den"
}

object Rat {
  val zero: Rat = Rat(0, 1)
  val one: Rat = Rat(1, 1)
  val Inf: Rat = new Rat(1, 0)

  def apply(num: BigInt, den: BigInt): Rat = {
    if (den == 0) return Inf
    val sign = if (den < 0) -1 else 1
    val g = num.gcd(den)
    if (g == 0) new Rat(0, 1)
    else new Rat(sign * num / g, sign * den / g)
  }
  def apply(n: Long): Rat = apply(BigInt(n), BigInt(1))

  /** A rational UPPER bound on sqrt(r), tight to one part in 2^40. Used
    * where an irrational stability factor (sqrt(maxGroups) under zCDP
    * partitioning) must reach an L1-calibrated mechanism: rounding UP errs
    * toward more noise, never less. Gaussian-family consumers never touch
    * this — they take the exact square instead.
    */
  def sqrtUpper(r: Rat): Rat = {
    if (r.isInfinite) return Inf
    require(r >= zero, s"sqrt of negative rational $r")
    val s = BigInt(1) << 40
    // sqrt(num/den) = sqrt(num*den)/den <= (floorSqrt(num*den*s^2) + 1)/(den*s)
    val x = r.num * r.den * s * s
    val root = BigInt(x.bigInteger.sqrt())
    val exact = root * root == x
    Rat(if (exact) root else root + 1, r.den * s)
  }

  /** Exact Double → Rat conversion (every finite double is a rational). */
  def apply(d: Double): Rat = {
    if (d.isPosInfinity) return Inf
    require(!d.isNaN && !d.isNegInfinity, s"invalid budget value $d")
    val bd = BigDecimal(new java.math.BigDecimal(d))
    val scale = bd.underlying.scale
    if (scale <= 0) apply(bd.underlying.unscaledValue(), BigInt(1))
    else apply(BigInt(bd.underlying.unscaledValue()), BigInt(10).pow(scale))
  }
}

/** Privacy budgets (reference: src/tmlt/analytics/privacy_budget.py).
  * PureDP(ε), ApproxDP(ε, δ), RhoZCDP(ρ).
  */
sealed trait PrivacyBudget extends Serializable {
  def isInfinite: Boolean
  /** True when the budget permits no release at all (reference rejects
    * zero-budget evaluate calls, session.py "You need a non-zero privacy
    * budget to evaluate a query").
    */
  def isZero: Boolean = this match {
    case PureDPBudget(e)      => e.isZero
    case ApproxDPBudget(e, d) => e.isZero && d.isZero
    case RhoZCDPBudget(r)     => r.isZero
  }
  /** Split this budget into n equal parts (for multi-part aggregations).
    * n must be >= 1: Rat division maps /0 to infinity, so an unguarded
    * split(0) would silently turn a finite budget into an UNLIMITED one.
    */
  final def split(n: Int): PrivacyBudget = {
    require(n >= 1, s"cannot split a privacy budget into $n parts")
    splitImpl(n)
  }
  protected def splitImpl(n: Int): PrivacyBudget
  /** Subtract a spend of the same (or coercible) type. */
  def -(spend: PrivacyBudget): PrivacyBudget
  def >=(o: PrivacyBudget): Boolean

  /** Divide by a finite scalar > 0 (reference `__truediv__`,
    * privacy_budget.py:166-176): every parameter — including ApproxDP's
    * delta — is divided.
    */
  def /(k: Double): PrivacyBudget = {
    if (k <= 0 || k.isNaN || k.isInfinite) throw new IllegalArgumentException(
      s"Tried to divide a privacy budget by $k, but can only divide by " +
        "non-infinite numbers >0.")
    scaled(Rat.one / Rat(k))
  }

  /** Multiply by a finite scalar >= 0 (reference `__mul__`,
    * privacy_budget.py:177-187); ApproxDP's delta is capped at 1.
    */
  def *(k: Double): PrivacyBudget = {
    if (k < 0 || k.isNaN || k.isInfinite) throw new IllegalArgumentException(
      s"Tried to multiply a privacy budget by $k, but can only multiply by " +
        "non-infinite numbers >=0.")
    scaled(Rat(k))
  }

  protected def scaled(factor: Rat): PrivacyBudget

  /** Basic composition (reference `__add__`, privacy_budget.py:188-203):
    * PureDP + PureDP = PureDP; mixing PureDP and ApproxDP promotes to
    * ApproxDP (delta sums, capped at 1); zCDP only adds to zCDP. An
    * infinite operand absorbs the sum.
    */
  def +(other: PrivacyBudget): PrivacyBudget = (this, other) match {
    case (PureDPBudget(a), PureDPBudget(b)) => PureDPBudget(a + b)
    case (p: PureDPBudget, a: ApproxDPBudget) =>
      ApproxDPBudget(p.epsilon, Rat.zero) + a
    case (a: ApproxDPBudget, PureDPBudget(e)) =>
      a + ApproxDPBudget(e, Rat.zero)
    case (a: ApproxDPBudget, b: ApproxDPBudget) =>
      if (a.isInfinite) a
      else if (b.isInfinite) b
      else ApproxDPBudget(a.epsilon + b.epsilon, (a.delta + b.delta).min(Rat.one))
    case (RhoZCDPBudget(a), RhoZCDPBudget(b)) => RhoZCDPBudget(a + b)
    case _ => throw new IllegalArgumentException(
      s"Cannot add a ${getClass.getSimpleName} to a ${other.getClass.getSimpleName}.")
  }
}

final case class PureDPBudget(epsilon: Rat) extends PrivacyBudget {
  require(epsilon >= Rat.zero, "epsilon must be non-negative")
  def isInfinite: Boolean = epsilon.isInfinite
  protected def splitImpl(n: Int): PrivacyBudget = PureDPBudget(epsilon / Rat(n))
  protected def scaled(factor: Rat): PrivacyBudget = PureDPBudget(epsilon * factor)
  def -(spend: PrivacyBudget): PrivacyBudget = spend match {
    case PureDPBudget(e) => PureDPBudget(if (isInfinite) Rat.Inf else epsilon - e)
    case _ => throw new IllegalArgumentException(s"cannot spend $spend from PureDP")
  }
  def >=(o: PrivacyBudget): Boolean = o match {
    case PureDPBudget(e) => epsilon >= e
    case _               => false
  }
  override def toString: String = s"PureDPBudget(epsilon=$epsilon)"
}
object PureDPBudget {
  def apply(epsilon: Double): PureDPBudget = PureDPBudget(Rat(epsilon))
}

final case class ApproxDPBudget(epsilon: Rat, delta: Rat) extends PrivacyBudget {
  require(epsilon >= Rat.zero && delta >= Rat.zero && delta <= Rat.one)
  def isInfinite: Boolean = epsilon.isInfinite || delta == Rat.one
  protected def splitImpl(n: Int): PrivacyBudget =
    ApproxDPBudget(epsilon / Rat(n), delta / Rat(n))
  protected def scaled(factor: Rat): PrivacyBudget =
    ApproxDPBudget(epsilon * factor, (delta * factor).min(Rat.one))
  def -(spend: PrivacyBudget): PrivacyBudget = {
    val (e, d) = spend match {
      case ApproxDPBudget(e0, d0) => (e0, d0)
      case PureDPBudget(e0)       => (e0, Rat.zero)
      case _ => throw new IllegalArgumentException(s"cannot spend $spend from ApproxDP")
    }
    if (isInfinite) this
    else ApproxDPBudget(epsilon - e, delta - d)
  }
  def >=(o: PrivacyBudget): Boolean = o match {
    case ApproxDPBudget(e, d) => epsilon >= e && delta >= d
    case PureDPBudget(e)      => epsilon >= e
    case _                    => false
  }
  override def toString: String = s"ApproxDPBudget(epsilon=$epsilon, delta=$delta)"

  /** All infinite ApproxDP budgets are one budget (the reference's
    * equality: (inf, 1), (1, 1), and (inf, 0) all compare equal —
    * test_privacy_budget.py:345+): past the point where the guarantee is
    * vacuous, the parameters stop mattering.
    */
  override def equals(o: Any): Boolean = o match {
    case a: ApproxDPBudget =>
      (isInfinite && a.isInfinite) ||
        (epsilon == a.epsilon && delta == a.delta)
    case _ => false
  }
  override def hashCode: Int =
    if (isInfinite) ApproxDPBudget.InfHash else (epsilon, delta).hashCode
}
object ApproxDPBudget {
  private[budget] val InfHash = "ApproxDPBudget(inf)".hashCode
  def apply(epsilon: Double, delta: Double): ApproxDPBudget =
    ApproxDPBudget(Rat(epsilon), Rat(delta))
}

final case class RhoZCDPBudget(rho: Rat) extends PrivacyBudget {
  require(rho >= Rat.zero, "rho must be non-negative")
  def isInfinite: Boolean = rho.isInfinite
  protected def splitImpl(n: Int): PrivacyBudget = RhoZCDPBudget(rho / Rat(n))
  protected def scaled(factor: Rat): PrivacyBudget = RhoZCDPBudget(rho * factor)
  def -(spend: PrivacyBudget): PrivacyBudget = spend match {
    case RhoZCDPBudget(r) => RhoZCDPBudget(if (isInfinite) Rat.Inf else rho - r)
    case _ => throw new IllegalArgumentException(s"cannot spend $spend from RhoZCDP")
  }
  def >=(o: PrivacyBudget): Boolean = o match {
    case RhoZCDPBudget(r) => rho >= r
    case _                => false
  }
  override def toString: String = s"RhoZCDPBudget(rho=$rho)"
}
object RhoZCDPBudget {
  def apply(rho: Double): RhoZCDPBudget = RhoZCDPBudget(Rat(rho))
}

object PrivacyBudget {
  /** Relative tolerance for "slightly over-requested" budgets (reference
    * _BUDGET_RELATIVE_TOLERANCE = 10^9, privacy_budget.py:509).
    */
  private val RelativeTolerance = Rat(1000000000L)

  private def adjustNumber(requested: Rat, remaining: Rat): Rat =
    if (remaining.isInfinite || requested <= remaining) requested
    else if (requested - remaining <= remaining / RelativeTolerance) remaining
    else requested

  /** Round a requested budget down to the remaining budget when it exceeds
    * it by at most one part in 10^9 (relative) — floating-point users
    * computing eps/3*3 should not be rejected over the last ulp; rounding
    * DOWN errs toward a stronger guarantee (reference _get_adjusted_budget,
    * privacy_budget.py:534-600). Kind mismatches pass through untouched and
    * surface as type errors downstream.
    */
  def adjustToRemaining(
      requested: PrivacyBudget, remaining: PrivacyBudget): PrivacyBudget =
    (requested, remaining) match {
      case (PureDPBudget(e), PureDPBudget(re)) =>
        PureDPBudget(adjustNumber(e, re))
      case (PureDPBudget(e), ApproxDPBudget(re, _)) =>
        PureDPBudget(adjustNumber(e, re))
      case (ApproxDPBudget(e, d), ApproxDPBudget(re, rd)) =>
        ApproxDPBudget(adjustNumber(e, re), adjustNumber(d, rd))
      case (RhoZCDPBudget(r), RhoZCDPBudget(rr)) =>
        RhoZCDPBudget(adjustNumber(r, rr))
      case _ => requested
    }
}
