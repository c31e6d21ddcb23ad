package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization kernel shared by the eval and codegen paths of
  * [[NfcNormalize]].
  *
  * Training corpora mix precomposed (U+00E1) and decomposed (a + U+0301)
  * forms of the same glyph; every downstream exact/near-dup hash treats them
  * as different documents unless canonicalized first, so NFC belongs at the
  * head of a cleaning pipeline. Spark has no built-in for it; this is a
  * per-row, shuffle-free codegen expression — the cheapest extension shape.
  *
  * The fast path matters at scale: `Normalizer.isNormalized` is a single
  * scan with no allocation, and real-world corpora are overwhelmingly
  * already-NFC, so the common case returns the input `UTF8String` untouched
  * (no String round-trip, no copy).
  */
object UnicodeKernel {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** `nfc_normalize(text) -> string`: Unicode canonical composition (NFC),
  * matching DuckDB's `nfc_normalize` — which is what makes it
  * oracle-verifiable byte-for-byte. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    UnicodeKernel.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.UnicodeKernel.nfc($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass aggressive ASCII normalization shared by the eval and
  * codegen paths of [[NormAscii]].
  *
  * Semantics contract (pinned by NormAsciiSpec against the declarative
  * chain INSIDE Spark): identical output to
  * `trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ''), ' +', ' '))`
  * — lowercase, strip non-[a-z0-9 ], collapse space runs, trim. The chain
  * is four allocating string passes per row; this is one pass with one
  * output buffer, which matters because normalization-dedup (q133) runs it
  * over every byte of the corpus — the chain was the dominant cost of the
  * q133 scan at sf1.
  *
  * LOCALE: this kernel lowercases per-character with the locale-independent
  * `Character.toLowerCase` — matching DuckDB's locale-independent `lower()`,
  * which is the behavior the cross-engine hash compare needs. The Spark
  * chain above lowercases via the JVM DEFAULT locale (`String.toLowerCase`),
  * so the kernel==chain equivalence contract assumes a Locale.ROOT-like
  * default (on a Turkish-locale JVM the chain turns 'I' into dotless 'ı',
  * which this kernel keeps as 'i'). NormAsciiSpec pins Locale.ROOT for the
  * equivalence check; the kernel side is the canonical behavior.
  */
object AsciiNormKernel {
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = Character.toLowerCase(str.charAt(i))
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && out.length > 0) out.append(' ')
        pendingSpace = false
        out.append(c)
      } else if (c == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}

/** `norm_ascii(text) -> string`: one-pass lowercase / strip-punctuation /
  * collapse-whitespace / trim canonicalization (the q133 "fuzzy exact"
  * dedup key). The oracle keeps the regexp formulation — hash equality is
  * the cross-engine proof. */
case class NormAscii(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "norm_ascii"

  override def nullSafeEval(input: Any): Any =
    AsciiNormKernel.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.AsciiNormKernel.normalize($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
