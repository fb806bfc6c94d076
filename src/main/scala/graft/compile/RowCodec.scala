package graft.compile

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Conversions between Spark Rows and the `Map[String, Any]` rows seen by
  * user `map`/`flatMap` lambdas (reference: Row = Dict[str, Any],
  * _query_expr.py:47-48). Values returned by user functions are normalized
  * to the storage type (Int -> Long, Float -> Double), mirroring ingestion
  * coercion (_coerce_spark_schema.py:31-35).
  *
  * The map handed to the lambda is a zero-copy view over the Row: a lambda
  * that reads two keys out of a 16-column row costs two lookups, not a
  * 16-entry HashMap build per row. Mutating calls fall back to a real map.
  */
object RowCodec {

  /** Immutable-Map view over a Row. `fieldIndex` is computed once per
    * partition and shared across rows.
    */
  private final class RowView(row: Row, names: Array[String],
      index: collection.Map[String, Int]) extends Map[String, Any] {
    def get(key: String): Option[Any] =
      index.get(key).map(row.get)
    def iterator: Iterator[(String, Any)] =
      names.iterator.zipWithIndex.map { case (n, i) => n -> row.get(i) }
    override def size: Int = names.length
    override def contains(key: String): Boolean = index.contains(key)
    override def getOrElse[V >: Any](key: String, default: => V): V =
      index.get(key) match {
        case Some(i) => row.get(i)
        case None    => default
      }
    override def apply(key: String): Any = row.get(index(key))
    def removed(key: String): Map[String, Any] = materialize - key
    def updated[V >: Any](key: String, value: V): Map[String, V] =
      materialize.updated(key, value)
    private def materialize: Map[String, Any] = iterator.toMap
  }

  /** Precomputed per-struct accessor shared by every row of a partition. */
  final class StructCodec(schema: StructType) extends Serializable {
    @transient private lazy val names: Array[String] = schema.fieldNames
    @transient private lazy val index: collection.Map[String, Int] =
      names.iterator.zipWithIndex.toMap
    @transient lazy val fields: Array[StructField] = schema.fields

    def view(row: Row): Map[String, Any] = new RowView(row, names, index)

    /** Build an output Row: fields come from `out` when present, else from
      * the input row (augment) when `base` is set, else null — without ever
      * materializing a merged map.
      */
    def buildRow(out: Map[String, Any], base: Option[Map[String, Any]]): Row = {
      val vals = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        val f = fields(i)
        val v = out.getOrElse(f.name, base match {
          case Some(b) => b.getOrElse(f.name, null)
          case None    => null
        })
        vals(i) = normalize(v, f)
        i += 1
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
  }

  def toMap(row: Row, schema: StructType): Map[String, Any] =
    new StructCodec(schema).view(row)

  private def normalize(v: Any, f: StructField): Any = v match {
    case null => null
    case i: Int if f.dataType == LongType    => i.toLong
    case s: Short if f.dataType == LongType  => s.toLong
    case b: Byte if f.dataType == LongType   => b.toLong
    case i: Int if f.dataType == DoubleType  => i.toDouble
    case l: Long if f.dataType == DoubleType => l.toDouble
    case fl: Float if f.dataType == DoubleType => fl.toDouble
    case other => other
  }
}
