package graft.exec

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, LambdaFunction}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.accounting.AddOneRow
import graft.budget.{PureDPBudget, Rat}
import graft.ir.QueryBuilder
import graft.session.Session

/** Pins [[MagnitudeBucket]] bit-for-bit to the higher-order-function bucket
  * it replaced on the get_bounds path (kept here only, as ground truth), in
  * both evaluation modes, and pins that a get_bounds release runs it inside
  * whole-stage codegen with no lambda left in the plan.
  */
class MagnitudeBucketSpec extends SparkSpec {

  /** The former planner expression, verbatim. */
  private def hof(x: Column): Column = {
    val absx = abs(x.cast("double"))
    when(absx === 0.0, lit(-32))
      .otherwise(aggregate(
        sequence(lit(62), lit(-32), lit(-1)), lit(62),
        (acc, k) => when(absx <= pow(lit(2.0), k.cast("double")),
          k.cast("int")).otherwise(acc)))
  }

  private val edges: Seq[java.lang.Double] = {
    val pows = (-40 to 70).flatMap { k =>
      val p = math.pow(2.0, k)
      Seq(p, math.nextUp(p), math.nextDown(p), -p, -math.nextUp(p))
    }
    (Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, math.pow(2.0, -33), math.pow(2.0, -32),
      math.nextUp(math.pow(2.0, -32)), math.pow(2.0, 62),
      math.nextUp(math.pow(2.0, 62)), Double.MaxValue, -Double.MaxValue,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      1.0, 0.75, 3.0, 1e-300, 1e300) ++ pows).map(Double.box) :+ null
  }

  private val sweep: Seq[java.lang.Double] = {
    val rnd = new scala.util.Random(20260417L)
    // log-uniform magnitudes over 2^-100 .. 2^100, both signs
    val logUniform = Seq.fill(20000) {
      val v = math.pow(2.0, rnd.nextDouble() * 200.0 - 100.0)
      if (rnd.nextBoolean()) v else -v
    }
    // arbitrary bit patterns: subnormals, NaN payloads, infinities
    val rawBits = Seq.fill(5000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    (logUniform ++ rawBits).map(Double.box)
  }

  private val Modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  /** (x, kernel, hof) rows of `values` under one codegen factory mode. */
  private def buckets(mode: String, field: StructField,
      values: Seq[Any]): Array[Row] =
    codegenSession(mode).createDataFrame(java.util.Arrays.asList(values.map(Row(_)): _*),
        StructType(Seq(field)))
      .select(col("x"),
        MagnitudeBucket.column(col("x")).as("k"), hof(col("x")).as("h"))
      .collect()

  private def assertMatches(field: StructField, values: Seq[Any]): Unit =
    Modes.foreach { mode =>
      val rows = buckets(mode, field, values)
      assert(rows.length === values.length)
      rows.foreach { r =>
        assert(!r.isNullAt(1) && !r.isNullAt(2),
          s"null bucket for ${r.get(0)} ($mode)")
        assert(r.getInt(1) === r.getInt(2),
          s"bucket diverged for x=${r.get(0)} ($mode)")
      }
    }

  test("bit-identical to the HOF bucket on zeros, subnormals, powers of two " +
      "and their neighbours, 2^62, MaxValue, infinities, NaN and null") {
    assertMatches(dblCol("x"), edges)
  }

  test("bit-identical to the HOF bucket on a seeded random sweep") {
    assertMatches(dblCol("x"), sweep)
  }

  test("integer columns are bucketed through the same double cast") {
    assertMatches(longCol("x"), Seq(0L, 1L, -1L, 2L, 3L, 1L << 40,
      (1L << 40) + 1, (1L << 53) + 1, 1L << 62, (1L << 62) + 1,
      Long.MaxValue, Long.MinValue))
  }

  test("whole-stage codegen survives the kernel (no CodegenFallback): " +
      "evaluates under codegen.factoryMode=CODEGEN_ONLY and matches the " +
      "interpreted (NO_CODEGEN) path") {
    val values = edges ++ sweep
    def run(mode: String): Seq[Int] =
      buckets(mode, dblCol("x"), values).map(_.getInt(1)).toSeq
    val diverged = values.indices.zip(run("CODEGEN_ONLY").zip(run("NO_CODEGEN")))
      .collectFirst { case (i, (g, n)) if g != n => s"x=${values(i)}: $g vs $n" }
    assert(diverged.isEmpty, s"codegen vs interpreted: ${diverged.getOrElse("")}")
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => Seq(other)
  }.flatten

  private def uses(p: SparkPlan, pred: PartialFunction[Any, Boolean]): Boolean =
    p.expressions.exists(_.find(e => pred.applyOrElse(e, (_: Any) => false)).isDefined)

  test("a get_bounds release runs the kernel inside a whole-stage-codegen " +
      "stage and leaves no lambda in the executed plan") {
    val inf = PureDPBudget(Rat.Inf)
    // a range, not a local relation: the optimizer would fold the bucket
    // of a local relation into its rows before any stage is planned
    val df = spark.range(-99, 100).select((col("id") + 0.5).as("X"))
    val s = Session.fromDataFrame(spark, inf, "private", df, AddOneRow())
    val out = s.evaluate(QueryBuilder("private").getBounds("X"), inf)
    assert(out.collect().length === 1)
    val nodes = flatten(out.queryExecution.executedPlan)
    assert(!nodes.exists(uses(_, {
      case _: LambdaFunction | _: ArrayAggregate => true })),
      s"HOF left in plan:\n${out.queryExecution.executedPlan}")
    val stages = nodes.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.find(uses(_, { case _: MagnitudeBucket => true })).isDefined),
      s"magnitudebucket outside whole-stage codegen:\n${out.queryExecution.executedPlan}")
  }
}
