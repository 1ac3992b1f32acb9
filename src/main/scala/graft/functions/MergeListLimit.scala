package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Size-capped array-flattening collect: aggregates ARRAY inputs by
  * concatenating their ELEMENTS, stopping at `limit` — the second stage of
  * the reference's two-stage grouping-metric error merge
  * (checkita-core .../metrics/df/functions/MergeListWithLimit.scala:29-84):
  * stage 1 `collect_list_limit`s per-row payloads inside each group, stage 2
  * flattens the per-group arrays of failing groups into one bounded dump.
  *
  * Null input arrays are skipped (a group whose error condition does not
  * hold contributes nothing). Memory stays O(limit) on every executor.
  *
  * graft's own grouping dumps do not use it: `MetricProcessor` collects at
  * most `limit` failing group keys and fetches their rows afterwards, so no
  * per-group payload is kept. It stays a registered SQL function.
  */
case class MergeListLimit(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(limit > 0, s"merge_list_limit requires a positive limit, got $limit")

  private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"merge_list_limit requires an array column, got ${other.simpleString}")
    }

  override def dataType: DataType = child.dataType

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  override protected lazy val bufferElementType: DataType = elementType

  override def update(
      buffer: mutable.ArrayBuffer[Any],
      input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buffer.size < limit) {
      val v = child.eval(input)
      if (v != null) {
        val arr = v.asInstanceOf[ArrayData]
        var i = 0
        while (i < arr.numElements() && buffer.size < limit) {
          buffer += convertToBufferElement(arr.get(i, elementType))
          i += 1
        }
      }
    }
    buffer
  }

  override def merge(
      buffer: mutable.ArrayBuffer[Any],
      other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    val room = limit - buffer.size
    if (room <= 0) buffer else buffer ++= other.take(room)
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): MergeListLimit =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MergeListLimit =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): MergeListLimit =
    copy(child = newChild)

  override def prettyName: String = "merge_list_limit"
}
