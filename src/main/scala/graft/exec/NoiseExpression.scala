package graft.exec

import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, LongType, TypeCollection}

/** Native Catalyst expression adding mechanism noise to an aggregate value —
  * the codegen path for the hot case (geometric / Laplace / Gaussian /
  * discrete Gaussian over LongType/DoubleType), so noised projections stay
  * inside whole-stage codegen instead of breaking the pipeline at a UDF
  * boundary. Nondeterministic: never constant-folded, re-sampled per row.
  *
  * (The reference delegates noise to its core library's measurements; here
  * it is a first-class Spark expression, SURVEY §4 "custom Catalyst work".)
  */
final case class AddNoise(child: Expression, mechanism: NoiseMechanism)
    extends UnaryExpression with Nondeterministic {

  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = dataType == LongType || dataType == DoubleType
    if (!ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"AddNoise requires LongType or DoubleType input, got $dataType")
    else mechanism match {
      // Exponential is a SELECTION mechanism (quantile), not additive —
      // reject at analysis time rather than IllegalStateException mid-job
      case e: NoiseMechanism.Exponential =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${e.name} is a selection mechanism; AddNoise supports only " +
            "additive mechanisms")
      case NoiseMechanism.Geometric(_) | NoiseMechanism.DiscreteGaussian(_) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ if dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${other.name} noise cannot be added to an integer column")
    }
  }

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else if (dataType == LongType) v.asInstanceOf[Long] + Noise.drawLong(mechanism)
    else v.asInstanceOf[Double] + Noise.drawDouble(mechanism)
  }

  // The mechanism reaches the generated code by reference, typed as the
  // trait, so one source serves every scale and every mechanism of a column
  // type: a new epsilon is a new reference, not a new class to compile.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("mechanism", mechanism, classOf[NoiseMechanism].getName)
    val draw = if (dataType == LongType) "drawLong" else "drawDouble"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ($c) + graft.exec.Noise.$draw($m);")
  }

  override protected def withNewChildInternal(newChild: Expression): AddNoise =
    copy(child = newChild)
}
