package graft.ops

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** What a [[LongVectorAgg]] folds: a fixed-width `Array[Long]` buffer,
  * how one input row adds to it and how two partials combine. Folds are
  * case classes, so two aggregates with equal parameters compare equal
  * in Catalyst.
  */
trait LongFold extends Serializable {
  /** Buffer length in longs. */
  def width: Int
  /** The aggregate's name in plans (`partial_<prettyName>`). */
  def prettyName: String
  /** Fold one row's child values into `buf`; none of them is null. */
  def update(buf: Array[Long], inputs: Array[Any]): Unit
  /** Fold the partial `other` into `buf`. */
  def merge(buf: Array[Long], other: Array[Long]): Unit
}

/** Map-side-combinable aggregate over a fixed-width long vector: each
  * partition folds its rows into ONE buffer, partials merge elementwise,
  * and the result is one `array<bigint>` row — the shape of Spark's own
  * BloomFilterAggregate. Rows where any child is null are skipped. The
  * buffer serializes as big-endian longs. What the vector means, and how
  * it folds, is the [[LongFold]].
  */
case class LongVectorAgg(
    children: Seq[Expression],
    fold: LongFold,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] = new Array[Long](fold.width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val inputs = new Array[Any](children.length)
    var i = 0
    while (i < inputs.length) {
      inputs(i) = children(i).eval(input)
      if (inputs(i) == null) return buf
      i += 1
    }
    fold.update(buf, inputs)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    fold.merge(buf, other)
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(storage)
    val buf = createAggregationBuffer()
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongVectorAgg =
    copy(children = newChildren)
  override def prettyName: String = fold.prettyName
}

object LongVectorAgg {

  /** The aggregate column folding `inputs` with `fold`. */
  def column(fold: LongFold, inputs: Column*): Column =
    GraftBridge.column(LongVectorAgg(inputs.map(GraftBridge.expression), fold)
      .toAggregateExpression())

  /** `buf(i) += other(i)` for every i. */
  def sumInto(buf: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
  }

  /** `buf(i) |= other(i)` for every i. */
  def orInto(buf: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
  }

  /** `buf(2i, 2i+1) += x`, exact signed 128-bit over an interleaved
    * (hi, lo) pair — value = hi·2^64 + unsigned(lo): sign-extend x, add
    * the low words unsigned, propagate the carry into the high word.
    */
  @inline def add128(buf: Array[Long], i: Int, x: Long): Unit = {
    val lo = buf(2 * i + 1)
    val nl = lo + x
    buf(2 * i + 1) = nl
    buf(2 * i) += (x >> 63) + (((lo & x) | ((lo | x) & ~nl)) >>> 63)
  }

  /** Elementwise 128-bit sum of two (hi, lo)-interleaved buffers. */
  def sum128Into(buf: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < buf.length / 2) {
      val lo = buf(2 * i + 1)
      val x = other(2 * i + 1)
      val nl = lo + x
      buf(2 * i + 1) = nl
      buf(2 * i) += other(2 * i) + (((lo & x) | ((lo | x) & ~nl)) >>> 63)
      i += 1
    }
  }
}
