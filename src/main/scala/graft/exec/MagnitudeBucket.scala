package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Codegen'd get_bounds magnitude bucket of a double column: the smallest
  * k in [-32, 62] with |x| <= 2^k.
  *
  * Bit-identical to the declarative form it replaces (MagnitudeBucketSpec
  * keeps it as ground truth):
  * `when(|x| = 0, -32).otherwise(aggregate(sequence(62, -32, -1), 62,
  * (acc, k) => when(|x| <= pow(2, k), k).otherwise(acc)))`. Spark runs that
  * higher-order function interpreted, 95 lambda steps with a `pow` each,
  * for every input row; here it is one `Math.getExponent` and an exact
  * power-of-two test on the mantissa bits, with no libm call.
  *
  * Out-of-range inputs land where the fold left them: -32 for 0, -0.0 and
  * everything up to 2^-32 (subnormals included); 62 for |x| > 2^62, NaN
  * (Spark orders NaN above every double, so no `<=` holds), ±∞ and null
  * (a null comparison never selects `k`). The result is therefore never
  * null.
  */
final case class MagnitudeBucket(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"MagnitudeBucket requires a double input, got ${t.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MagnitudeBucket.Max
    else MagnitudeBucket.bucket(v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val kernel = MagnitudeBucket.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = ${MagnitudeBucket.Max};
      |if (!${c.isNull}) { ${ev.value} = $kernel.bucket(${c.value}); }
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MagnitudeBucket =
    copy(child = newChild)
}

object MagnitudeBucket {
  final val Min = -32
  final val Max = 62

  private val MantissaMask = 0x000FFFFFFFFFFFFFL
  private val Upper = java.lang.Math.scalb(1.0, Max)
  private val Lower = java.lang.Math.scalb(1.0, Min)

  /** The bucket of one non-null double (shared by both evaluation modes). */
  def bucket(x: Double): Int = {
    val a = math.abs(x)
    // !(a <= 2^62) also catches NaN
    if (!(a <= Upper)) Max
    else if (a <= Lower) Min
    else {
      // a is normal here, so a lies in [2^e, 2^(e+1))
      val e = java.lang.Math.getExponent(a)
      if ((java.lang.Double.doubleToRawLongBits(a) & MantissaMask) == 0L) e
      else e + 1
    }
  }

  /** The bucket of `x` (any numeric column), cast to double first. */
  def column(x: Column): Column =
    ColumnBridge.column(MagnitudeBucket(
      ColumnBridge.resolvedExpression(x.cast("double"))))
}
