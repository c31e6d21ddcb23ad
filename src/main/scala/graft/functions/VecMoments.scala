package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass exact vector moments — count, component sum AND the full d×d
  * second-moment (Gram) matrix of a quantized-vector column, in a single
  * `TypedImperativeAggregate` buffer of `1 + d + d²` longs.
  *
  * This is the bounded-state shape a 100 TB covariance/PCA pass needs: the
  * naive plan (posexplode the d² outer product, hash-aggregate on d² keys)
  * shuffles `rows × d²` exploded tuples — 4.1 × 10¹¹ for d = 64 at 10⁸
  * documents — where this aggregate's exchange carries exactly ONE ~33 KB
  * buffer per map partition regardless of corpus size, with partial
  * (map-side) combine for free under Spark's standard two-phase
  * aggregation. The oracle replays the Gram relationally (UNNEST twice,
  * join on the row id, SUM per (j, k)) — quadratic but exact, the
  * correctness witness for the fused kernel.
  *
  * Overflow discipline: every accumulation uses `Math.addExact` /
  * `Math.multiplyExact`, so the aggregate FAILS LOUDLY (ANSI posture, the
  * [[Guard]] contract) instead of wrapping. With ×10⁴-quantized unit-range
  * components (|x| ≤ 10⁴, so |x·x| ≤ 10⁸ per row) the Long ceiling is
  * ~9.2 × 10¹⁰ rows per Gram cell — beyond any single corpus this engine
  * targets; a larger corpus shards the pass by key and merges, or promotes
  * the buffer to 128-bit limbs.
  *
  * Layout of the emitted array (length `1 + d + d²`):
  * `[n, s₀…s_{d−1}, G₀₀, G₀₁, …, G_{d−1,d−1}]` (G row-major). Empty input
  * (no non-null rows) emits `[0]`. Ragged inputs are rejected loudly: the
  * first row fixes `d`, a later row with a different length throws — a
  * silent per-position mean over ragged vectors is exactly the bug class
  * this engine refuses to ship.
  */
case class VecMomentsAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "vec_moments"

  // buffer: empty until the first row fixes d; then Array(1 + d + d*d)
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def dimOf(buf: Array[Long]): Int = {
    // length = 1 + d + d² → d = (−1 + sqrt(−3 + 4·length)) / 2; an exact
    // inverse is overkill for d ≤ 4096 — walk up instead (cold path: only
    // on merge/eval, never per row).
    var d = 0
    while (1 + d + d.toLong * d < buf.length) d += 1
    require(1 + d + d.toLong * d == buf.length,
      s"corrupt vec_moments buffer of length ${buf.length}")
    d
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    // keep the overflow posture consistent with dimOf(): 1 + d + d*d in
    // Int wraps for d > ~46340; bound d well before that (the documented
    // contract is d <= 4096 — a 4096² Gram buffer is already 128 MiB)
    require(d <= 4096,
      s"vec_moments: $d-dim vector exceeds the supported bound of 4096 dims")
    val out =
      if (buf.isEmpty) new Array[Long](1 + d + d * d)
      else {
        require(buf.length == 1 + d + d * d,
          s"vec_moments: ragged input — saw a $d-dim vector in a " +
            s"${dimOf(buf)}-dim aggregation")
        buf
      }
    val x = new Array[Long](d)
    var j = 0
    while (j < d) { x(j) = arr.getLong(j); j += 1 }
    out(0) = Math.addExact(out(0), 1L)
    j = 0
    while (j < d) {
      out(1 + j) = Math.addExact(out(1 + j), x(j))
      var k = 0
      val row = 1 + d + j * d
      while (k < d) {
        out(row + k) = Math.addExact(out(row + k), Math.multiplyExact(x(j), x(k)))
        k += 1
      }
      j += 1
    }
    out
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b2.isEmpty) return b1
    if (b1.isEmpty) return b2
    require(b1.length == b2.length,
      s"vec_moments: merging buffers of different dims (${dimOf(b1)} vs ${dimOf(b2)})")
    var i = 0
    while (i < b1.length) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(if (buf.isEmpty) Array(0L) else buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * (buf.length + 1))
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecMomentsAgg =
    copy(child = newChild)
}
