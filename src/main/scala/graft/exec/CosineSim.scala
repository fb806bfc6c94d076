package graft.exec

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd exact cosine similarity of two `array<double>` columns: one
  * fused dot-and-norms pass per pair, accumulating in index order exactly
  * like the Scala-closure kernel it replaces (same `dot / (sqrt(na) *
  * sqrt(nb))` final form), so every released double is bit-identical —
  * including non-finite inputs, which flow through the arithmetic
  * unspecial-cased exactly as before.
  *
  * NULL on null inputs, NULL elements, MISMATCHED dimensions, and
  * ZERO-norm vectors — the [[graft.pipeline.Similarity.cosine]] contract
  * verbatim (see the rationale there: NULL sorts last under desc, so
  * degenerate rows lose rank instead of winning it). A null element would
  * otherwise read as 0.0 and score a plausible but wrong cosine.
  *
  * Why an expression and not the ScalaUDF (guide §4, the
  * Md5Prefix/NearestCentroid discipline): the UDF deserializes BOTH
  * UnsafeArrayData inputs into fresh `Array[Double]` copies per call and
  * runs outside whole-stage codegen. On the pair-verify paths
  * (cosineVerifyBuckets, Ivf.topK) the kernel runs once per CANDIDATE
  * PAIR — millions of calls per query, each allocating two d-element
  * arrays that die immediately: pure GC/allocation pressure under 32-way
  * concurrency (the q44b 32-core excursion, r14 verdict item 3). Here
  * the loop reads the array buffers in place; the hot path allocates
  * nothing.
  */
final case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // null even for non-null inputs (dimension mismatch, zero norm)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"CosineSim requires two array<double> inputs, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosineOrNull(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val hole = ctx.freshName("hole")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  boolean $hole = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $hole = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  if ($hole || $na == 0.0 || $nb == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} =
         |    $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Shared interpreted kernel (also the spec's ground truth): boxed
    * cosine of two ArrayData read in place, or null when the dimensions
    * mismatch, an element is null, or a norm is exactly zero. Accumulation
    * order matches the old closure kernel: one left-to-right pass updating
    * dot/na/nb together.
    */
  def cosineOrNull(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}
