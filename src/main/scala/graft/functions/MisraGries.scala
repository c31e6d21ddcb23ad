package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitter candidates as a Catalyst
  * `TypedImperativeAggregate` — the third leg of the custom-aggregate API
  * matrix next to the `Aggregator` demo (q29 history) and the
  * `DeclarativeAggregate` [[WeightedAvgCents]]: an opaque JVM buffer
  * (a bounded counter map) with explicit serialize/merge, the right API
  * when the aggregation state is a data structure no expression encodes.
  *
  * Guarantee: with capacity k−1 counters, every item with true frequency
  * > n/k SURVIVES in the final candidate set, under any partitioning and
  * any merge order (merging sums counters, then applies the standard
  * "subtract the k-th largest, drop ≤0" reduction, which preserves the
  * deficit bound). The candidate SET itself is merge-order-dependent —
  * callers get exactness by re-counting candidates in a second pass
  * (q105's formulation), which is also what makes the end result
  * oracle-verifiable. State is O(k) per partition regardless of corpus
  * size: the canonical bounded-memory answer to top-k at 100 TB.
  */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {
  require(k >= 2, "k must be >= 2")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v != null) {
      buf.get(v) match {
        case Some(c) => buf.update(v, c + 1)
        // copy: the incoming UTF8String may alias a reused row buffer
        case None if buf.size < k - 1 => buf.update(v.copy(), 1L)
        case None => decrementAll(buf, 1L)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
      b2: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (t, c) => b1.update(t, b1.getOrElse(t, 0L) + c) }
    if (b1.size > k - 1) {
      // reduce back to k-1 counters: subtract the k-th largest count
      val cut = b1.values.toSeq.sorted(Ordering[Long].reverse).apply(k - 1)
      decrementAll(b1, cut)
    }
    b1
  }

  private def decrementAll(buf: mutable.HashMap[UTF8String, Long], by: Long): Unit = {
    val dead = mutable.ArrayBuffer.empty[UTF8String]
    buf.foreach { case (t, c) => if (c - by <= 0) dead += t else buf.update(t, c - by) }
    dead.foreach(buf.remove)
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val arr = buf.keys.toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val bytes = t.getBytes
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    (0 until n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}
