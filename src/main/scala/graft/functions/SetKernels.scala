package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Intersection size of two SORTED, DISTINCT string arrays — the
  * set-similarity verify kernel.
  *
  * `size(array_intersect(a, b))` builds a hash set per evaluated PAIR; on a
  * candidate-verify join that is millions of transient sets. Sorting each
  * document's token array ONCE upstream (`sort_array`, O(k log k) per doc)
  * turns every pair's overlap into a single allocation-free merge scan —
  * O(|a|+|b|) binary string compares inside whole-stage codegen. Jaccard
  * follows as ovl / (|a| + |b| − ovl) with no union materialized.
  *
  * Inputs MUST be sorted ascending (sort_array order = UTF8 binary order)
  * and duplicate-free; [[graft.operators.SetSimilarityJoin]] normalizes
  * with array_distinct + sort_array before attaching arrays to pairs. */
case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0
    var j = 0
    var ovl = 0L
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { ovl += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    ovl
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val ovl = ctx.freshName("ovl")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $ovl = 0L;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
         |  if ($c == 0) { $ovl++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $ovl;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedOverlap]] over SORTED, DISTINCT long arrays — the same merge
  * scan with primitive long compares in place of UTF8 byte compares.
  *
  * The verify joins attach each candidate pair's token arrays; hashing
  * tokens to 8-byte longs (xxhash64) upstream cuts that shuffle to a
  * fixed 8 B/token and turns the kernel's inner comparison into a single
  * long compare. Overlap-on-hashes equals overlap-on-strings unless two
  * DISTINCT tokens of a compared pair collide in 64 bits (P ≈ k²/2⁶⁵ per
  * pair — negligible at any realistic per-document vocabulary), which the
  * brute-force string-side oracle would catch as a hash mismatch. */
case class SortedOverlapL(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0
    var j = 0
    var ovl = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { ovl += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    ovl
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val ovl = ctx.freshName("ovl")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $ovl = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $ovl++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $ovl;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
