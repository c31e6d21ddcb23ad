package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash document fingerprint:
  * `rolling_fp(text) -> bigint` = min over all k-byte windows of a
  * Rabin–Karp polynomial hash (k = 16, base B = 257, mod 2^64).
  *
  * The winnowing-family fingerprint for near-dup detection: content-defined
  * (a shared substring yields the same window hashes in both documents
  * regardless of offset), computed in ONE pass over the bytes with an O(1)
  * rolling update per position — `hash(i+1) = (hash(i) - b_i·B^(k-1))·B +
  * b_(i+k)` — instead of re-hashing every window. Codegen'd, no allocation.
  *
  * Documents shorter than k bytes hash their whole byte string.
  */
case class RollingFingerprint(child: Expression, k: Int = 16)
    extends UnaryExpression with ExpectsInputTypes {

  require(k > 0 && k <= 256, "window size out of range")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fp"

  private val Base = 257L
  /** B^(k-1) mod 2^64, for removing the outgoing byte. */
  private val TopPow: Long = {
    var p = 1L
    var i = 1
    while (i < k) { p *= Base; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n == 0) return 0L
    var h = 0L
    var i = 0
    val w = math.min(k, n)
    while (i < w) { h = h * Base + (bytes(i) & 0xFF); i += 1 }
    var min = h
    while (i < n) {
      h = (h - (bytes(i - w) & 0xFF) * TopPow) * Base + (bytes(i) & 0xFF)
      if (h < min) min = h
      i += 1
    }
    min
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val min = ctx.freshName("min")
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      s"""
         |byte[] $bytes = $str.getBytes();
         |int $n = $bytes.length;
         |long $h = 0L; long $min = 0L;
         |if ($n > 0) {
         |  int $w = java.lang.Math.min($k, $n);
         |  int $i = 0;
         |  for (; $i < $w; $i++) { $h = $h * ${Base}L + ($bytes[$i] & 0xFF); }
         |  $min = $h;
         |  for (; $i < $n; $i++) {
         |    $h = ($h - ($bytes[$i - $w] & 0xFF) * ${TopPow}L) * ${Base}L + ($bytes[$i] & 0xFF);
         |    if ($h < $min) $min = $h;
         |  }
         |}
         |${ev.value} = $min;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
