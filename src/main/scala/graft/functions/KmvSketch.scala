package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values, a.k.a. bottom-k / theta) distinct sketch as a
  * Catalyst `TypedImperativeAggregate`: keep the k smallest DISTINCT hash
  * values seen. Bayer et al.'s classic estimator — with k-th smallest
  * value θ out of a hash space of size 2⁶⁰, distinct ≈ (k−1)·2⁶⁰/θ.
  *
  * Why it exists next to `approx_count_distinct` (HLL++): an HLL register
  * bank supports UNION only. A KMV sketch is a uniform SAMPLE of the
  * distinct set, so two sketches COMPOSE — union (merge + truncate, the
  * same op the shuffle merge uses) AND intersection (hashes below the
  * common θ present in both sketches are an unbiased Jaccard sample).
  * "How many distinct users do event types A and B SHARE?" is answerable
  * from 5 pre-aggregated 64-value sketches instead of a second pass over
  * the raw corpus — at 100 TB the difference between re-scanning a table
  * and joining 5 rows.
  *
  * Exactness/portability contract (the q44/q119 discipline): the input is
  * a 60-bit md5 hash ([[PortableHash.md5Bucket60]]), the kept set is a
  * pure order statistic of the distinct hash set — partition- and
  * merge-order-invariant — so DuckDB replays the ENTIRE sketch (and every
  * estimate derived from it) bit-for-bit with `ROW_NUMBER() OVER (ORDER BY
  * hash) <= k` over `SELECT DISTINCT md5-60bit(x)`. The estimator itself
  * is hash-verified, not banded.
  *
  * State is O(k) per group, map-side combinable; each input split
  * contributes ≤ k survivors per group to the exchange.
  *
  * Output: array<bigint> of the ≤ k smallest distinct hashes, ascending.
  */
case class KmvSketchAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {
  require(k >= 2, "kmv_sketch: k must be >= 2 (the estimator uses k-1)")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  private def offer(buf: mutable.TreeSet[Long], h: Long): Unit = {
    if (buf.size < k) buf += h
    else if (h < buf.last && !buf.contains(h)) { buf -= buf.last; buf += h }
  }

  override def update(buf: mutable.TreeSet[Long],
      input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: mutable.TreeSet[Long],
      b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    b2.foreach(offer(b1, _))
    b1
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf += in.readLong())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}
