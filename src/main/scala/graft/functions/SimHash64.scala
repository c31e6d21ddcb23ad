package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass 64-bit SimHash: `simhash64(array<string>) -> bigint`.
  *
  * The declarative formulation (nested `aggregate(sequence(0,63), ...,
  * aggregate(wh, ...))` lambdas — q38's original body) walks the word-hash
  * array 64 times through INTERPRETED higher-order functions: honest
  * measurement (Bench's toRdd fix) put it at 9.8 s on the sf0.1 corpus,
  * 14× slower than the exploded-aggregation portable twin q67 it was
  * supposed to out-run. This kernel hashes each word's bytes once (XXH64),
  * accumulates the 64 ±1 bit counters in a local int[], and emits the sign
  * bits — one traversal, zero allocation per element, whole-stage codegen:
  * the formulation the MinHashSig/MinHashBands kernels already proved out.
  *
  * NULL ELEMENTS ARE SKIPPED: a null word contributes nothing to any bit
  * counter, as if absent. The replaced declarative formulation instead
  * folded `xxhash64(NULL)` = the seed (42) into the counters — a phantom
  * token per null. Skipping is the deliberate semantics (a null is not a
  * word) and is pinned by SimHash64Spec; the registered session function
  * keeps it for arbitrary SQL over null-bearing arrays. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          cnt(b) += (((h >>> b) & 1L).toInt * 2) - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val cnt = ctx.freshName("cnt")
      val sig = ctx.freshName("sig")
      val xxh = classOf[XXH64].getName
      val utf8 = classOf[UTF8String].getName
      s"""
         |int $n = $arr.numElements();
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $utf8 $s = $arr.getUTF8String($i);
         |    long $h = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $cnt[$b] += ((int) (($h >>> $b) & 1L)) * 2 - 1;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($cnt[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
