package graft.exec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Count-Min sketch (Cormode & Muthukrishnan 2005): a depth x width counter
  * matrix answering POINT-FREQUENCY queries over keys never retained —
  * where [[SpaceSavingTopK]] answers "which keys are hot", CMS answers
  * "how often did THIS key occur" for any key, in O(depth) per query.
  *
  * Properties the contracts lean on, in decreasing strength:
  *  - merge is EXACT: counters add elementwise, so the merged sketch is
  *    bit-identical to a single-pass sketch of the union (unlike HLL's
  *    estimator split) — partial aggregation, cross-split merges, and
  *    incremental maintenance lose nothing;
  *  - estimates never undercount: every row's cell holds the key's true
  *    count plus non-negative collision mass, and the estimate takes the
  *    min over rows, so est >= true ALWAYS (deterministic, not
  *    probabilistic);
  *  - overestimate is bounded by collision mass: E[excess] <= N/width per
  *    row, and the min over `depth` independent rows concentrates sharply
  *    (the classic eps = e/width, delta = e^-depth bound). With fixed
  *    seeds the sketch has no RNG: every released number and contract
  *    boolean is a pure function of the data.
  *
  * State is depth*width longs per group regardless of cardinality — the
  * frequency-table shape that never spills at 100 TB.
  */
final case class CountMinSketch(depth: Int, width: Int) extends SketchKind[Array[Long]] {

  require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width >= 2, s"width must be >= 2, got $width")

  def name: String = "count_min"
  def inputError(in: DataType): Option[String] =
    if (in == StringType) None
    else Some(s"count_min sketches string keys; cast ${in.simpleString} first")
  def resultType(in: DataType): DataType = ArrayType(LongType, containsNull = false)
  def empty(): Array[Long] = new Array[Long](depth * width)

  def add(state: Array[Long], value: Any): Unit = {
    val key = value.asInstanceOf[UTF8String].toString
    var r = 0
    while (r < depth) {
      state(r * width + CountMin.cell(key, r, width)) += 1L
      r += 1
    }
  }

  def merge(state: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < state.length) { state(i) += other(i); i += 1 }
  }

  def result(state: Array[Long]): Any = new GenericArrayData(state)

  def wire(in: DataType): (Array[Long] => Array[Byte], Array[Byte] => Array[Long]) = {
    val toBytes = (state: Array[Long]) => {
      val bos = new ByteArrayOutputStream(state.length * 8)
      val out = new DataOutputStream(bos)
      var i = 0
      while (i < state.length) { out.writeLong(state(i)); i += 1 }
      out.flush()
      bos.toByteArray
    }
    val fromBytes = (bytes: Array[Byte]) => {
      val data = new DataInputStream(new ByteArrayInputStream(bytes))
      val arr = new Array[Long](depth * width)
      var i = 0
      while (i < arr.length) { arr(i) = data.readLong(); i += 1 }
      arr
    }
    (toBytes, fromBytes)
  }
}

/** Column API over [[CountMinSketch]]: the sketch aggregate, the point
  * estimate, and the exact elementwise merge.
  */
object CountMin {

  /** Row-r cell index for a key: seeded MurmurHash3, floor-modded — the
    * ONE hash both the aggregate and the estimator use.
    */
  private[exec] def cell(key: String, row: Int, width: Int): Int =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(key, 0x5bd1e995 + row), width)

  /** Aggregate: CMS of `c` (cast keys to string first). Nulls are skipped. */
  def sketch(c: Column, depth: Int, width: Int): Column =
    SketchAggregate.column(ColumnBridge.expression(c), CountMinSketch(depth, width))

  /** Point estimate for `key`: min over rows of the key's cell. Never
    * undercounts; overestimates by at most the colliding mass.
    */
  def estimate(sk: Column, key: Column, depth: Int, width: Int): Column = {
    val f = udf((s: Seq[Long], k: String) =>
      if (s == null || k == null) null else {
        require(s.length == depth * width,
          s"count_min estimate: sketch has ${s.length} cells but depth=" +
            s"$depth width=$width expects ${depth * width} — the sketch " +
            "was built with different dimensions")
        var best = Long.MaxValue
        var r = 0
        while (r < depth) {
          val v = s(r * width + cell(k, r, width))
          if (v < best) best = v
          r += 1
        }
        java.lang.Long.valueOf(best)
      })
    f(sk, key)
  }

  /** Exact merge: counters add elementwise, bit-identical to a single-pass
    * sketch over the combined data. Sketches must share dimensions —
    * mismatched sizes fail loudly instead of null-padding.
    */
  def merge(a: Column, b: Column): Column =
    when(size(a) =!= size(b),
      raise_error(concat(
        lit("count_min merge: sketch sizes differ ("), size(a).cast("string"),
        lit(" vs "), size(b).cast("string"),
        lit(") — both sides must use the same depth*width"))))
      .otherwise(zip_with(a, b, (x, y) => x + y))
}
