package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** HLL++ distinct count whose aggregation buffer is ONE object, with
  * estimates equal to `approx_count_distinct(child, relativeSD)`.
  *
  * Why this exists: Spark's `approx_count_distinct` keeps one LongType
  * buffer field per register word — 1,639 fields at rsd 0.01. Past
  * `spark.sql.codegen.maxFields` the hash aggregate cannot codegen, and
  * every task still generates (and Janino compiles) unsafe projections
  * over all those fields: at battery scale that fixed cost, not the
  * data, was the query's whole wall (2.14 s of a 16.5 s one-client pass,
  * 4-core host). Here the register words live in one UnsafeRow over a
  * single byte array — the buffer schema is one binary field, so Spark
  * plans an `ObjectHashAggregate` and the per-task projections are tiny.
  *
  * Exactness: update/merge/query delegate to Spark's own
  * `HyperLogLogPlusPlusHelper(relativeSD)` over the same word layout
  * (word i = field i), so the registers, and therefore the estimates,
  * are bit-identical to the built-in: nulls are skipped, values hash
  * with their own data type, the result is a non-null long and empty
  * input estimates 0. Serialization is the row's backing bytes.
  */
case class HllCountDistinct(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
  extends TypedImperativeAggregate[UnsafeRow] with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def prettyName: String = "hll_count_distinct"
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def defaultResult: Option[Literal] = Some(Literal.create(0L, LongType))

  private def wrap(bytes: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(helper.numWords)
    row.pointTo(bytes, bytes.length)
    row
  }

  override def createAggregationBuffer(): UnsafeRow = {
    val n = helper.numWords
    wrap(new Array[Byte](UnsafeRow.calculateBitSetWidthInBytes(n) + n * 8))
  }

  override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buffer, 0, v, child.dataType)
    buffer
  }

  override def merge(buffer: UnsafeRow, input: UnsafeRow): UnsafeRow = {
    helper.merge(buffer, input, 0, 0)
    buffer
  }

  override def eval(buffer: UnsafeRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: UnsafeRow): Array[Byte] = buffer.getBytes

  override def deserialize(bytes: Array[Byte]): UnsafeRow = wrap(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllCountDistinct =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllCountDistinct =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HllCountDistinct =
    copy(child = newChild)
}

object HllCountDistinct {

  /** `approx_count_distinct(c, relativeSD)` with a one-field buffer. */
  def apply(c: Column, relativeSD: Double): Column =
    ColumnBridge.column(
      HllCountDistinct(ColumnBridge.expression(c), relativeSD, 0, 0).toAggregateExpression())
}
