package graft.exec

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `collect_list` with a hard cap on the number of buffered elements.
  *
  * The LSH dedup pipelines group corpus rows into (band, bucket) cells and
  * only ever want buckets up to `maxBucket` rows — larger cells are flood
  * buckets that get dropped or re-banded. Spark's `collect_list` would
  * still materialize the ENTIRE flood bucket in one aggregation buffer
  * before the size filter discards it, which at corpus scale means
  * buffering millions of rows (or vectors) in a single task. This
  * aggregate stops appending at `limit`, so every buffer is O(limit)
  * bytes no matter how hot the key: a result of size < limit is exact and
  * complete; size == limit means "at least limit elements" and is the
  * oversized signal (callers pass limit = maxBucket + 1).
  *
  * Buffer serialization follows Spark's own Collect aggregate: the buffer
  * round-trips through an UnsafeRow-projected array value, so any element
  * type (atomic, struct, array) is supported.
  */
final case class BoundedCollectList(limit: Int) extends SketchKind[BoundedCollect.Buffer] {

  import BoundedCollect.Buffer

  require(limit > 0, "bounded_collect_list requires a positive limit")

  def name: String = "bounded_collect_list"
  def inputError(in: DataType): Option[String] = None
  def resultType(in: DataType): DataType = ArrayType(in, containsNull = false)
  def empty(): Buffer = mutable.ArrayBuffer.empty

  // like collect_list, nulls are skipped (by the shell); values are copied
  // because the input row is reused by the aggregation iterator
  def add(state: Buffer, value: Any): Unit =
    if (state.size < limit) state += InternalRow.copyValue(value)

  def merge(state: Buffer, other: Buffer): Unit = {
    var i = 0
    while (state.size < limit && i < other.size) {
      state += other(i)
      i += 1
    }
  }

  def result(state: Buffer): Any = new GenericArrayData(state.toSeq)

  def wire(in: DataType): (Buffer => Array[Byte], Array[Byte] => Buffer) = {
    val projection =
      UnsafeProjection.create(Array[DataType](ArrayType(in, containsNull = false)))
    val reusedRow = new UnsafeRow(1)
    val toBytes = (state: Buffer) =>
      projection.apply(InternalRow.apply(new GenericArrayData(state.toSeq))).getBytes()
    val fromBytes = (bytes: Array[Byte]) => {
      val state = empty()
      reusedRow.pointTo(bytes, bytes.length)
      reusedRow.getArray(0).foreach(in, (_, v: Any) => state += v)
      state
    }
    (toBytes, fromBytes)
  }
}

object BoundedCollect {
  type Buffer = mutable.ArrayBuffer[Any]

  /** Column API: collect up to `limit` values of `c` per group. */
  def boundedCollectList(c: Column, limit: Int): Column =
    SketchAggregate.column(ColumnBridge.expression(c), BoundedCollectList(limit))
}
