package graft.types

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Column type system: exactly five scalar types, mirroring the reference's
  * analytics type system (reference: src/tmlt/analytics/_schema.py:129-169).
  * Integer data is stored as Spark `LongType`, decimal as `DoubleType`.
  */
sealed trait ColumnType {
  def sparkType: DataType
  def typeName: String
  override def toString: String = typeName
}
object ColumnType {
  case object Integer extends ColumnType {
    val sparkType: DataType = LongType; val typeName = "INTEGER"
  }
  case object Decimal extends ColumnType {
    val sparkType: DataType = DoubleType; val typeName = "DECIMAL"
  }
  case object Varchar extends ColumnType {
    val sparkType: DataType = StringType; val typeName = "VARCHAR"
  }
  case object Date extends ColumnType {
    val sparkType: DataType = DateType; val typeName = "DATE"
  }
  case object Timestamp extends ColumnType {
    val sparkType: DataType = TimestampType; val typeName = "TIMESTAMP"
  }

  /** Default replacement value per type for replace_null_and_nan
    * (reference: AnalyticsDefault, _query_expr.py:1053-1071).
    */
  def defaultValue(t: ColumnType): Any = t match {
    case Integer   => 0L
    case Decimal   => 0.0
    case Varchar   => ""
    case Date      => java.sql.Date.valueOf("1970-01-01")
    case Timestamp => java.sql.Timestamp.valueOf("1970-01-01 00:00:00")
  }

  /** Spark type → analytics type, after coercion (Int→Long, Float→Double). */
  def fromSpark(dt: DataType): ColumnType = dt match {
    case LongType | IntegerType | ShortType | ByteType => Integer
    case DoubleType | FloatType                        => Decimal
    case StringType                                    => Varchar
    case DateType                                      => Date
    case TimestampType | TimestampNTZType              => Timestamp
    case other =>
      throw new IllegalArgumentException(
        s"Unsupported Spark type for analytics tables: $other")
  }
}

/** Type + nullability-like flags (reference: _schema.py:180-196).
  * NaN/Inf flags are only meaningful for DECIMAL columns.
  */
final case class ColumnDescriptor(
    ctype: ColumnType,
    allowNull: Boolean = false,
    allowNaN: Boolean = false,
    allowInf: Boolean = false) {
  def sparkField(name: String): StructField =
    StructField(name, ctype.sparkType, nullable = allowNull)
}

/** Ordered column name → descriptor, plus the three pieces of table-level
  * metadata that drive privacy accounting (reference: _schema.py:199-314).
  */
final case class TableSchema(
    columns: Seq[(String, ColumnDescriptor)],
    groupingColumn: Option[String] = None,
    idColumn: Option[String] = None,
    idSpace: Option[String] = None) {

  lazy val byName: Map[String, ColumnDescriptor] = columns.toMap
  def columnNames: Seq[String] = columns.map(_._1)
  def contains(c: String): Boolean = byName.contains(c)
  def apply(c: String): ColumnDescriptor = byName.getOrElse(c,
    throw new IllegalArgumentException(
      s"Column '$c' not in schema ${columnNames.mkString("[", ", ", "]")}"))

  def toStructType: StructType =
    StructType(columns.map { case (n, d) => d.sparkField(n) })

  require(groupingColumn.forall(byName.contains),
    s"grouping column $groupingColumn not in schema")
  require(idColumn.forall(byName.contains), s"id column $idColumn not in schema")
}

object TableSchema {
  /** Spark schema → analytics schema. Pessimistically assumes DECIMAL columns
    * may contain NaN/Inf (reference: _schema.py:446-462).
    */
  def fromSpark(
      st: StructType,
      groupingColumn: Option[String] = None,
      idColumn: Option[String] = None,
      idSpace: Option[String] = None): TableSchema = {
    val cols = st.fields.toSeq.map { f =>
      val ct = ColumnType.fromSpark(f.dataType)
      val isDec = ct == ColumnType.Decimal
      // NaN/Inf presence is orthogonal to Spark nullability: a non-nullable
      // DoubleType column can still hold NaN, and treating it as NaN-free
      // would let NaN slip past the drop rewrite into the clamp (where
      // least/greatest resolve NaN to a bound). Always pessimistic for
      // decimals, like the reference.
      f.name -> ColumnDescriptor(ct, allowNull = f.nullable,
        allowNaN = isDec, allowInf = isDec)
    }
    TableSchema(cols, groupingColumn, idColumn, idSpace)
  }
}

/** Ingestion-time schema coercion (reference: _coerce_spark_schema.py:31-78):
  * Int/Short/Byte → Long, Float → Double; any other Spark type is rejected;
  * empty-string column names are rejected.
  */
object CoerceSchema {
  def apply(df: DataFrame): DataFrame = {
    require(!df.schema.fieldNames.contains(""),
      "DataFrame contains a column with an empty name")
    val casts = df.schema.fields.map { f =>
      f.dataType match {
        case IntegerType | ShortType | ByteType => col(f.name).cast(LongType).as(f.name)
        case FloatType                          => col(f.name).cast(DoubleType).as(f.name)
        // NTZ timestamps (e.g. parquet isAdjustedToUTC=false) are stored as
        // session-zone timestamps; the session zone is pinned to UTC.
        case TimestampNTZType                   => col(f.name).cast(TimestampType).as(f.name)
        case LongType | DoubleType | StringType | DateType | TimestampType =>
          col(f.name)
        case other => throw new IllegalArgumentException(
          s"Column '${f.name}' has unsupported type $other; only " +
            "integer, floating, string, date and timestamp columns are allowed")
      }
    }
    df.select(casts.toIndexedSeq: _*)
  }
}
