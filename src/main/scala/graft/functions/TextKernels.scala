package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel for word n-gram construction, shared by the eval and codegen
  * paths of [[WordShingles]] / [[WordNgrams]].
  *
  * The declarative formulation — `array_distinct(transform(sequence(0,
  * size(w)-n), i -> concat(w[i], ' ', ...)))` — has two hot-path problems
  * measured at bench scale: higher-order lambdas run interpreted (never
  * whole-stage codegen), and `array_distinct` over StringType falls off the
  * specialized-hash-set fast path, degrading to quadratic comparisons on
  * long documents.
  *
  * Round-17 form (guide §1.2 "per-task work"): because the word list IS
  * `split(text, ' ')` and grams re-join consecutive words with single
  * spaces, every n-gram/segment/shingle is a byte-exact CONTIGUOUS
  * SUBSTRING of the text (split on single space is lossless; 0x20 never
  * occurs inside a multi-byte UTF-8 sequence, so byte scanning equals word
  * splitting). The kernel therefore copies the text bytes ONCE into a
  * private buffer, records word-start offsets in one pass, and emits each
  * gram as a zero-copy `UTF8String.fromBytes` view into that buffer — no
  * per-word allocations, no concat chains that re-copy the prefix per
  * joined word. The private copy (never a possibly-reused row buffer)
  * is what makes the views safe; downstream writers copy bytes out when
  * serializing to UnsafeRow, as before. Dedup for [[shingles]] is an
  * open-addressing probe over (offset, length) byte ranges — hashing and
  * comparing bytes in place, allocating only for first occurrences —
  * replacing the boxed LinkedHashSet of concat-built UTF8Strings
  * (round-16 verdict item #2). Output is byte-identical to the previous
  * kernel (TextKernelsSpec pins both formulations).
  *
  * No companion class ⇒ Scala emits static forwarders, so generated Java
  * can call `graft.functions.ShingleKernel.shingles(...)` directly.
  */
object ShingleKernel {
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Copy the text payload into a fresh private array (one copy — the
    * only full-text copy the kernel makes). `getBytes` may return the
    * backing array of a reusable row buffer when perfectly aligned, so
    * views must never target it; this copy is unconditionally private. */
  private def copyBytes(text: UTF8String): Array[Byte] = {
    val n = text.numBytes
    val b = new Array[Byte](n)
    org.apache.spark.unsafe.Platform.copyMemory(
      text.getBaseObject, text.getBaseOffset,
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n)
    b
  }

  /** A width below one word has no meaning, and the kernels' offset
    * arithmetic assumes at least one: reject it before any of it runs.
    * The SQL expressions check their range when built; this guards a direct
    * Scala caller. */
  private def requireWidth(n: Int): Unit =
    require(n >= 1, s"word width must be >= 1, got $n")

  /** Word-start byte offsets of `b` split on 0x20, with sentinel
    * `starts(m) = b.length + 1` so word k spans
    * `[starts(k), starts(k+1) - 1)` uniformly (the −1 drops the
    * separating space; the sentinel's +1 cancels it for the last word). */
  private def wordStarts(b: Array[Byte]): Array[Int] = {
    val len = b.length
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < len) { if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(spaces + 1) = len + 1
    starts
  }

  /** All consecutive `n`-word shingles of `text` (split on single spaces,
    * trailing empties kept — same as Spark `split(text, ' ')` / DuckDB
    * `string_split`). Order-preserving; empty array when < n words. */
  def ngrams(text: UTF8String, n: Int): ArrayData = {
    requireWidth(n)
    val b = copyBytes(text)
    val starts = wordStarts(b)
    val m = starts.length - 1 // word count
    val cnt = m - n + 1
    if (cnt <= 0) return Empty
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val from = starts(i)
      out(i) = UTF8String.fromBytes(b, from, starts(i + n) - 1 - from)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** NON-overlapping `n`-word segments (last one possibly shorter), joined
    * by single spaces — the q112 span unit. Exactly equivalent to the
    * declarative `transform(sequence(0, ceil(size(t)/n) - 1), i ->
    * array_join(slice(t, i*n + 1, n), ' '))` over `t = split(text, ' ')`
    * (empty text ⇒ one empty segment, same as split's [""]). */
  def segments(text: UTF8String, n: Int): ArrayData = {
    requireWidth(n)
    val b = copyBytes(text)
    val starts = wordStarts(b)
    val m = starts.length - 1
    val nseg = (m + n - 1) / n
    val out = new Array[Any](nseg)
    var i = 0
    while (i < nseg) {
      val from = starts(i * n)
      val toWord = math.min(i * n + n, m)
      out(i) = UTF8String.fromBytes(b, from, starts(toWord) - 1 - from)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word count under single-space split semantics: spaces + 1, exactly
    * `size(split(text, ' '))` for non-null text — one byte scan, zero
    * allocation (the declarative form materializes the full word array
    * just to take its length). Used in the shingle family's width filters. */
  def wordCount(text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var spaces = 0
    var i = 0L
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    spaces + 1
  }

  /** Distinct consecutive `n`-word shingles, first-occurrence order
    * (matches `array_distinct` semantics). */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    requireWidth(n)
    val b = copyBytes(text)
    val starts = wordStarts(b)
    val m = starts.length - 1
    val cnt = m - n + 1
    if (cnt <= 0) return Empty
    // Open-addressing set keyed on the shingle's byte range: slotOff holds
    // offset+1 (0 = empty slot), equality compares bytes in place.
    var cap = Integer.highestOneBit(math.max(cnt * 2 - 1, 1)) << 1
    if (cap < 4) cap = 4
    val mask = cap - 1
    val slotOff = new Array[Int](cap)
    val slotLen = new Array[Int](cap)
    val out = new Array[Any](cnt)
    var nOut = 0
    var i = 0
    while (i < cnt) {
      val from = starts(i)
      val l = starts(i + n) - 1 - from
      // FNV-1a over the range — cheap, and collisions only cost a probe.
      var h = -2128831035 // 0x811c9dc5
      var p = from
      while (p < from + l) { h = (h ^ b(p)) * 16777619; p += 1 }
      var s = h & mask
      var found = false
      var off = slotOff(s)
      while (!found && off != 0) {
        if (slotLen(s) == l) {
          val o = off - 1
          var q = 0
          while (q < l && b(o + q) == b(from + q)) q += 1
          if (q == l) found = true
        }
        if (!found) { s = (s + 1) & mask; off = slotOff(s) }
      }
      if (!found) {
        slotOff(s) = from + 1
        slotLen(s) = l
        out(nOut) = UTF8String.fromBytes(b, from, l)
        nOut += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (nOut == cnt) out else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], nOut).asInstanceOf[Array[Any]])
  }
}

/** `word_shingles(text[, n]) -> array<string>`: distinct consecutive n-word
  * shingles (default n=3) — the MinHash/Jaccard unit of the dedup family. */
case class WordShingles(child: Expression, n: Int = 3)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1 && n <= 16, "shingle width out of range")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleKernel.shingles($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_segments(text[, n]) -> array<string>`: NON-overlapping n-word
  * segments (default n=3, last segment possibly shorter) — the q112 exact
  * span-dedup unit. */
case class WordSegments(child: Expression, n: Int = 3)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1 && n <= 64, "segment width out of range")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_segments"

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.segments(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleKernel.segments($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_ngrams(text[, n]) -> array<string>`: ALL consecutive n-word grams
  * (default n=2), duplicates kept — the bigram/frequency-count unit. */
case class WordNgrams(child: Expression, n: Int = 2)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1 && n <= 16, "ngram width out of range")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleKernel.ngrams($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_count(text) -> int`: `size(split(text, ' '))` without building the
  * word array — the shingle family's width-filter kernel. NULL text yields
  * NULL (the declarative form yields −1); equivalent in filter position,
  * where both fail the `>= n` predicate. */
case class WordCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "word_count"

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.wordCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.ShingleKernel.wordCount($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
