package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** One sketch, as far as it differs from every other: its SQL name, the
  * input it accepts, what it releases, and its state `S` — empty, fold in
  * one value, merge, and the state's bytes. [[SketchAggregate]] runs any
  * kind under Spark's aggregate protocol.
  *
  * Kinds are case classes, so two identical aggregates compare equal and
  * Catalyst can deduplicate them. Their constructors validate the
  * parameters, so a bad k fails when the column is built, not at runtime.
  */
trait SketchKind[S] extends Product with Serializable {

  /** The aggregate's SQL name (its `prettyName`). */
  def name: String

  /** Why input type `in` is refused, or None when it is accepted. */
  def inputError(in: DataType): Option[String]

  /** The released type, which may depend on the input type. Never null. */
  def resultType(in: DataType): DataType

  def empty(): S

  /** Folds one non-null input value into `state`. */
  def add(state: S, value: Any): Unit

  /** Folds `other` into `state`. */
  def merge(state: S, other: S): Unit

  def result(state: S): Any

  /** The state's wire format for input type `in`, as (toBytes, fromBytes).
    * Built once per aggregate instance, so a kind may compile a projection
    * here.
    */
  def wire(in: DataType): (S => Array[Byte], Array[Byte] => S)
}

/** The one `TypedImperativeAggregate` in graft: Spark's aggregate protocol
  * (type check, buffer create/update/merge, serialize/deserialize, the
  * offset copies) around a [[SketchKind]]. A null input adds nothing and
  * the result is never null. A mutable state is kept per group, merged
  * map-side, and only its bytes cross the exchange.
  */
final case class SketchAggregate[S](
    child: Expression,
    kind: SketchKind[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[S]
    with UnaryLike[Expression] {

  // the child is unresolved at construction: type-check at analysis time
  override def checkInputDataTypes(): TypeCheckResult =
    kind.inputError(child.dataType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(message) => TypeCheckResult.TypeCheckFailure(message)
    }

  override def createAggregationBuffer(): S = kind.empty()

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) kind.add(buffer, v)
    buffer
  }

  override def merge(buffer: S, other: S): S = {
    kind.merge(buffer, other)
    buffer
  }

  override def eval(buffer: S): Any = kind.result(buffer)

  @transient private lazy val wire = kind.wire(child.dataType)
  override def serialize(buffer: S): Array[Byte] = wire._1(buffer)
  override def deserialize(bytes: Array[Byte]): S = wire._2(bytes)

  override def nullable: Boolean = false
  override def dataType: DataType = kind.resultType(child.dataType)
  override def prettyName: String = kind.name
  // plans print the kind's parameters inline, e.g. kll_quantiles(v#1, 64, 0.5, 0, 0)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ kind.productIterator ++
      Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggregate[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggregate[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAggregate[S] =
    copy(child = newChild)
}

object SketchAggregate {

  /** The aggregate column of `kind` over `child`. */
  def column[S](child: Expression, kind: SketchKind[S]): Column =
    ColumnBridge.column(SketchAggregate(child, kind).toAggregateExpression())
}
