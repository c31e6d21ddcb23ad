package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature: `minhash_sig(array<string>) -> array<bigint>`.
  *
  * The naive formulation (`transform(sequence(0, k-1), j ->
  * array_min(transform(sh, x -> xxhash64(x, j))))`) walks the shingle array
  * k times through interpreted higher-order lambdas and re-hashes every
  * shingle's bytes k times — the q37 hotspot at bench scale. This expression
  * hashes each shingle's bytes ONCE (XXH64), derives the k hash family
  * members with a multiply-XOR universal family (Broder's standard
  * one-hash-then-affine construction), and keeps the k minima in a local
  * long[] — one traversal, no allocation per element, whole-stage codegen.
  *
  * Per-row cost drops from O(k·|sh|·|bytes|) to O(|sh|·|bytes| + k·|sh|)
  * with tiny constants; at 100 TB this is the difference between the
  * signature stage being free vs dominating the dedup pipeline.
  */
case class MinHashSig(child: Expression, numHashes: Int = 32)
    extends UnaryExpression with ExpectsInputTypes {

  require(numHashes > 0 && numHashes <= 1024, "numHashes out of range")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // Deterministic affine family: h_j = (h ^ B(j)) * A(j) with A odd.
  // Exposed for tests and the eval/codegen paths; cheap pure functions.
  @inline private def mixA(j: Int): Long = 0x9E3779B97F4A7C15L * (2L * j + 1L)
  @inline private def mixB(j: Int): Long = 0xC2B2AE3D27D4EB4FL * (j + 1L)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var j = 0
        while (j < numHashes) {
          val hj = (h ^ mixB(j)) * mixA(j)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val hj = ctx.freshName("hj")
      val mins = ctx.freshName("mins")
      val xxh = classOf[XXH64].getName
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $arr.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $utf8 $s = $arr.getUTF8String($i);
         |    long $h = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $hj = ($h ^ (0xC2B2AE3D27D4EB4FL * ($j + 1L))) * (0x9E3779B97F4A7C15L * (2L * $j + 1L));
         |      if ($hj < $mins[$j]) $mins[$j] = $hj;
         |    }
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass LSH band hashes: `minhash_bands(array<string>) -> array<bigint>`
  * of length `numBands`.
  *
  * Fuses [[MinHashSig]] with the banding step. The two-step formulation
  * (`minhash_sig` column + a `transform(sequence(0, bands-1), ...)` lambda
  * over slices) has two scale problems: (a) higher-order functions are
  * interpreted, not codegen'd; (b) CollapseProject inlines the signature
  * into the band lambda, so the FULL signature is recomputed once per band
  * (8× the work — measured as the q37 hotspot). Here the signature lives in
  * a local long[] and each band hash chains its rows through XXH64.hashLong
  * — one traversal of the shingles, zero intermediate arrays, whole-stage
  * codegen.
  *
  * Band count is a constructor parameter precisely so callers can grow
  * bands/rows with corpus size (more bands = higher recall at the same
  * signature cost) — the knob that matters at 100 TB.
  */
case class MinHashBands(child: Expression, numHashes: Int = 32, numBands: Int = 8)
    extends UnaryExpression with ExpectsInputTypes {

  require(numHashes > 0 && numHashes <= 1024, "numHashes out of range")
  require(numBands > 0 && numHashes % numBands == 0,
    s"numBands=$numBands must divide numHashes=$numHashes")
  private val rowsPerBand = numHashes / numBands

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  @inline private def mixA(j: Int): Long = 0x9E3779B97F4A7C15L * (2L * j + 1L)
  @inline private def mixB(j: Int): Long = 0xC2B2AE3D27D4EB4FL * (j + 1L)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var j = 0
        while (j < numHashes) {
          val hj = (h ^ mixB(j)) * mixA(j)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    val bands = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + r), acc)
        r += 1
      }
      bands(b) = acc
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val hj = ctx.freshName("hj")
      val acc = ctx.freshName("acc")
      val mins = ctx.freshName("mins")
      val bands = ctx.freshName("bands")
      val xxh = classOf[XXH64].getName
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $arr.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $utf8 $s = $arr.getUTF8String($i);
         |    long $h = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $hj = ($h ^ (0xC2B2AE3D27D4EB4FL * ($j + 1L))) * (0x9E3779B97F4A7C15L * (2L * $j + 1L));
         |      if ($hj < $mins[$j]) $mins[$j] = $hj;
         |    }
         |  }
         |}
         |long[] $bands = new long[$numBands];
         |for (int $b = 0; $b < $numBands; $b++) {
         |  long $acc = (long) $b;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $acc = $xxh.hashLong($mins[$b * $rowsPerBand + $r], $acc);
         |  }
         |  $bands[$b] = $acc;
         |}
         |${ev.value} = new $gad($bands);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
