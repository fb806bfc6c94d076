package graft.exec

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins [[CosineSim]] bit-for-bit to the Scala-closure kernel it replaced
  * (`Similarity.cosineClosureSpec`) — the exact cosine every embedding
  * pair/top-k release depends on — and pins that the swap keeps
  * whole-stage codegen (the entire point of the kernel).
  */
class CosineSimSpec extends SparkSpec {

  private def kernel(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    graft.pipeline.Similarity.cosine(a, b)

  private def closure(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    graft.pipeline.Similarity.cosineClosureSpec(
      a.cast("array<double>"), b.cast("array<double>"))

  private def fixtures: Seq[(Array[Double], Array[Double])] = {
    val rnd = new scala.util.Random(11)
    def vec(d: Int) = Array.fill(d)(rnd.nextGaussian())
    val random = for (d <- Seq(1, 2, 3, 16, 64); _ <- 1 to 20)
      yield (vec(d), vec(d))
    random ++ Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),          // zero left norm
      (Array(1.0, 2.0), Array(0.0, 0.0)),          // zero right norm
      (Array(0.0), Array(0.0)),                    // both zero
      (Array[Double](), Array[Double]()),          // empty (zero norm)
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),     // dimension mismatch
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0)),     // mismatch, other side
      (null, Array(1.0, 2.0)),                     // null left
      (Array(1.0, 2.0), null),                     // null right
      (null, null),
      (Array(Double.NaN, 1.0), Array(1.0, 1.0)),   // NaN flows through
      (Array(Double.PositiveInfinity, 1.0), Array(1.0, 1.0)),
      (Array(1e308, 1e308), Array(1e308, -1e308))) // overflow to inf norms
  }

  test("bit-identical to the closure kernel on random, degenerate, " +
      "null, and non-finite inputs (NULL <=> NULL, NaN === NaN)") {
    import spark.implicits._
    val df = fixtures.toDF("a", "b")
    val rows = df.select(
        kernel(col("a"), col("b")).as("k"),
        closure(col("a"), col("b")).as("c"))
      .collect()
    rows.zip(fixtures).foreach { case (r, (a, b)) =>
      val ctx = s"a=${Option(a).map(_.mkString(",")).getOrElse("null")} " +
        s"b=${Option(b).map(_.mkString(",")).getOrElse("null")}"
      assert(r.isNullAt(0) === r.isNullAt(1), s"null-ness diverged: $ctx")
      if (!r.isNullAt(0)) {
        val (k, c) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.doubleToRawLongBits(k) ===
          java.lang.Double.doubleToRawLongBits(c),
          s"bits diverged: kernel=$k closure=$c $ctx")
      }
    }
  }

  test("whole-stage codegen survives the kernel (no CodegenFallback): " +
      "evaluates under codegen.factoryMode=CODEGEN_ONLY and matches the " +
      "interpreted (NO_CODEGEN) path bit for bit") {
    import spark.implicits._
    val df = fixtures.toDF("a", "b")
    def run(mode: String): Seq[Option[Long]] =
      codegenSession(mode).createDataFrame(df.collectAsList(), df.schema)
        .select(kernel(col("a"), col("b")).as("k")).collect()
        .map(r => if (r.isNullAt(0)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))))
        .toSeq
    assert(run("CODEGEN_ONLY") === run("NO_CODEGEN"))
  }

  test("a null element in either vector scores NULL, under generated code " +
      "(CODEGEN_ONLY) and interpreted (NO_CODEGEN) alike") {
    val vec = ArrayType(DoubleType, containsNull = true)
    val schema = StructType(Seq(StructField("a", vec), StructField("b", vec)))
    val rows = Seq(
      Row(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)), // null left element
      Row(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, null)), // null right element
      Row(Seq(null, null), Seq(null, null)),
      Row(Seq(3.0, 4.0), Seq(3.0, 4.0)))            // control: cosine 1
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val out = codegenSession(mode)
        .createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .select(kernel(col("a"), col("b"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
      assert(out === Seq(None, None, None, Some(1.0)), mode)
    }
  }

  test("float-array inputs coerce exactly like the old UDF signature " +
      "(cast to array<double> before the kernel)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
    val r = df.select(
        kernel(col("a"), col("b")).as("k"),
        closure(col("a"), col("b")).as("c"))
      .head()
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
  }
}
