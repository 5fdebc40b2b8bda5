package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType}

import scala.collection.mutable

/** `collect_list` with a hard per-group buffer cap — the scale-safe form of
  * "group and enumerate" when a hot key must not build an unbounded
  * aggregation buffer.
  *
  * Every buffer (partial, merged, final) holds at most `cap + 1` elements:
  * updates and merges stop retaining elements past that point, so a key
  * with millions of rows costs `cap + 1` slots on every path — including
  * the map-side partials, which also caps the SHUFFLED bytes per hot key
  * per map partition (guide §2.3, aggregate before you shuffle). A result
  * of size `cap + 1` is the overflow signal: the list is truncated and the
  * true group size is > cap, so callers that need exact lists filter
  * `size(ds) <= cap` — exactly the semantics of dropping keys with
  * df > cap up front, without the extra counting pass and anti-join.
  *
  * Element order is partition-nondeterministic, same as `collect_list`;
  * callers must be order-invariant (Dedup normalizes pairs to
  * (least, greatest)). Null elements are skipped like `collect_list`. */
case class CappedCollectList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[Any]]
  with UnaryLike[Expression] {

  // cap = Int.MaxValue would be an "unbounded" sentinel — and would make
  // merge's `cap + 1 - length` room arithmetic wrap negative, silently
  // dropping every merged partial. Callers wanting no bound should use
  // collect_list; this aggregate's contract IS the bound.
  require(cap > 0 && cap < Int.MaxValue,
    s"cap must be in [1, ${Int.MaxValue - 1}], got $cap")

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override def update(buffer: mutable.ArrayBuffer[Any],
                      input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buffer.length <= cap) {
      val value = child.eval(input)
      if (value != null) buffer += InternalRow.copyValue(value)
    }
    buffer
  }

  override def merge(buffer: mutable.ArrayBuffer[Any],
                     other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    if (buffer.length <= cap)
      buffer ++= other.take(cap + 1 - buffer.length)
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  private lazy val projection = UnsafeProjection.create(
    Array[DataType](ArrayType(elementType = child.dataType, containsNull = false)))

  // the projection reuses one row buffer, and getBytes returns that buffer
  // itself when the row fills it exactly: copy, or the next serialize
  // overwrites a result the caller still holds
  override def serialize(obj: mutable.ArrayBuffer[Any]): Array[Byte] =
    projection.apply(InternalRow.apply(new GenericArrayData(obj.toArray))).copy().getBytes

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Any] = {
    val buffer = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType,
      (_, x: Any) => buffer += InternalRow.copyValue(x))
    buffer
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "capped_collect_list"

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CappedCollectList =
    copy(child = newChild)
}

object CappedCollectList {
  /** Column form: collect at most `cap + 1` values of `e` per group (a
    * `cap + 1`-sized result = truncated, the group exceeded the cap). */
  def apply(e: Column, cap: Int): Column =
    ColumnBridge.column(
      CappedCollectList(ColumnBridge.expression(e), cap).toAggregateExpression())
}
