package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel for [[ByteEntropy]] — one pass over the byte string, a
  * 256-cell count array, then the integer-exact entropy fold. No companion
  * class ⇒ static forwarder, so generated Java calls
  * `graft.functions.ByteEntropyKernel.features(...)` directly (the
  * ShingleKernel pattern). */
object ByteEntropyKernel {

  /** (n_bytes, n_distinct, top_byte, top_count, entropy_micro) for a
    * non-empty byte string; all-zero row for the empty string (callers
    * filter empties — documents carry n_chars ≥ 1).
    *
    * entropy_micro = (Σ_b c_b · floor(ln(n/c_b)·10⁶)) div n — Shannon
    * entropy in integer micro-nats under the q121 exactness discipline:
    * the ONLY float op is one IEEE double divide + ln per distinct byte,
    * floored at micro precision before any accumulation, so Spark and the
    * oracle accumulate identical integers. Bounds: c·tm ≤ n·ln(256)·10⁶
    * and the sum ≤ n·5.6·10⁶ — Long-safe until n ≈ 1.6·10¹² bytes per
    * single document. Ties for top_byte break to the smallest byte
    * value. */
  def features(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length.toLong
    val out = new Array[Any](5)
    if (n == 0L) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], java.lang.Long.valueOf(0L))
      return new GenericInternalRow(out)
    }
    val c = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { c(bytes(i) & 0xFF) += 1; i += 1 }
    var distinct = 0L
    var topByte = 0L
    var topCount = 0L
    var s = 0L
    var b = 0
    while (b < 256) {
      val cb = c(b)
      if (cb > 0L) {
        distinct += 1
        if (cb > topCount) { topCount = cb; topByte = b.toLong }
        s += cb * math.floor(math.log(n.toDouble / cb.toDouble) * 1000000.0).toLong
      }
      b += 1
    }
    out(0) = n
    out(1) = distinct
    out(2) = topByte
    out(3) = topCount
    out(4) = java.lang.Math.floorDiv(s, n)
    new GenericInternalRow(out)
  }
}

/** `byte_entropy(text)` → struct(n_bytes, n_distinct, top_byte, top_count,
  * entropy_micro) — the byte-distribution feature row of the corpus
  * quality family (q197): Shannon entropy in exact integer micro-nats,
  * plus the mode byte as a junk witness. One codegen pass, no allocation
  * beyond the 256-cell count array. */
case class ByteEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_byte", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("entropy_micro", LongType, nullable = false)))
  override def prettyName: String = "byte_entropy"

  override def nullSafeEval(input: Any): Any =
    ByteEntropyKernel.features(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ByteEntropyKernel.features($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
