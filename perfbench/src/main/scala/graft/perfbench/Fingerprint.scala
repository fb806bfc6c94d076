package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's timed action and its output check, in one aggregate.
  *
  * Every query is timed through `Fingerprint.action`, which hashes every
  * output column of every row. `count()` is not used: Catalyst prunes the columns a
  * count does not read, so the aggregates and UDF columns a query exists to
  * compute never run. Measured at sf0.1 on local[4]:
  * q72_repetition_signals reads 0.12 s under count() and 12.4 s under
  * collect(), q35_get_bounds 0.22 s against 8.0 s, and
  * q65_get_bounds_grouped 0.38 s against 9.3 s (two runs).
  *
  * The hash is taken over a canonical form of each row, modelled on the one
  * the DuckDB oracle comparison uses (tools/selfcheck.py): columns in name
  * order, integers widened to 64 bits, floating values rounded to 6 places
  * (5 inside lists) with -0.0 folded into 0.0, maps as sorted entry lists.
  * Row hashes are summed in two 32-bit halves, so the result does not depend
  * on row order or partitioning, and duplicate rows still count.
  */
object Fingerprint {

  final case class Result(rows: Long, hash: String, schema: String) {
    /** The form committed in the expected-output lists. */
    def key: String = s"$rows:$hash"
  }

  /** Canonical schema text: columns in name order, `name:type`. */
  def schemaOf(df: DataFrame): String =
    df.schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  private def canon(c: Column, dt: DataType, places: Int): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case FloatType | DoubleType | _: DecimalType =>
      round(c.cast(DoubleType), places) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => canon(x, et, 5))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt, places).as("key"),
          canon(e.getField("value"), vt, places).as("value"))))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType, places).as(f.name)): _*)
    case _ => c
  }

  /** The canonical row hash column of `df`. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canon(df.col(s"`${f.name}`"), f.dataType, 6))
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
  }

  /** Runs the query as one aggregate that reads every output column, and
    * returns the fingerprint with the aggregate's query execution.
    */
  def action(df: DataFrame): (Result, QueryExecution) = {
    val h = rowHash(df)
    val agg = df.agg(
      count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
    val r: Row = agg.collect().head
    (Result(r.getLong(0), f"${r.getLong(1)}%x.${r.getLong(2)}%x", schemaOf(df)),
      agg.queryExecution)
  }

  def of(df: DataFrame): Result = action(df)._1
}
