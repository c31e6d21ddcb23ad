package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expressions for the similarity-search hot path.
  *
  * A 64-dim dot product evaluated with `zip_with` + `aggregate` higher-order
  * functions allocates an intermediate array and a lambda frame per row-pair;
  * at ANN scale (queries × corpus row-pairs) that dominates the runtime. These
  * expressions compile to a tight primitive loop inside whole-stage codegen:
  * no allocation, no boxing, stays in the generated code path.
  *
  * Accumulation is in index order (identical to the oracle's sequential sum),
  * so results are deterministic and engine-comparable after rounding.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // Covariant override: Seq[DataType] <: Seq[AbstractDataType] without
  // naming the private[sql] AbstractDataType.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // freshName: multiple dot_f calls can land in one codegen scope.
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two float vectors, accumulated in index
  * order as double — the product-quantization kernel. The formulation is
  * Σ(x−y)·(x−y) with an explicit multiply (not pow, not |x|²−2x·y+|y|²) so
  * an oracle summing the same differences in the same order reproduces it
  * bit-for-bit. */
case class L2Dist2F(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2dist2_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $x.getFloat($i)) - ((double) $y.getFloat($i));
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact squared L2 distance between two quantized (bigint) vectors — the
  * integer PQ kernel. Pure long arithmetic: order-independent, overflow-free
  * for 1e-6-unit components (|d| ≤ 4e6 ⇒ d² ≤ 1.6e13, × dims ≪ 2⁶³). */
case class L2Dist2L(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "l2dist2_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $x.getLong($i) - $y.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact dot product of two quantized (bigint) vectors — the semantic-dedup
  * similarity kernel. Pure long arithmetic, so a threshold compare can never
  * straddle a float rounding boundary between engines. Overflow-free for
  * ×10⁴-quantized unit-norm components (|x·y| ≤ 10⁸, × 64 dims ≪ 2⁶³). */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getLong($i) * $y.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float vector, accumulated in index order as double. */
case class L2NormF(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2norm_f"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All `tables` LSH bucket ids of a float vector in ONE codegen pass.
  *
  * Semantically identical to `tables` × `planesPerTable` separate
  * [[DotProductF]]-against-literal-plane sign tests (same index-order double
  * accumulation, same `> 0` sign rule, bit j from plane `t*p + j` of the
  * flattened family), but materialized as a single tight loop over a
  * primitive `float[]` plane matrix held as a codegen reference object.
  * The composed formulation built one `when(dot_f(...) > 0, ...)` tree per
  * plane — 56 expressions at (L=8, p=7) — which blows past the codegen
  * splitting thresholds into interpreted evaluation (~3.5 µs/dot measured);
  * this kernel computes the same 56 dots in ~0.1 µs/row. The plane count is
  * a constructor constant, so the generated loops have compile-time bounds.
  */
case class LshBucketsF(child: Expression, planesFlat: Array[Float],
    tables: Int, planesPerTable: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(tables >= 1 && planesPerTable >= 1 &&
    planesFlat.length % (tables * planesPerTable) == 0,
    s"plane matrix of ${planesFlat.length} floats does not tile " +
      s"$tables tables x $planesPerTable planes")

  private def dim: Int = planesFlat.length / (tables * planesPerTable)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_buckets_f"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var j = 0
      while (j < planesPerTable) {
        val off = (t * planesPerTable + j) * dim
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += x.getFloat(i).toDouble * planesFlat(off + i).toDouble
          i += 1
        }
        if (acc > 0) b |= 1 << j
        j += 1
      }
      out(t) = b
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val pf = ctx.addReferenceObj("planesFlat", planesFlat, "float[]")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($dim, $x.numElements());
         |int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $b = 0;
         |  for (int $j = 0; $j < $planesPerTable; $j++) {
         |    int $off = ($t * $planesPerTable + $j) * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += ((double) $x.getFloat($i)) * ((double) $pf[$off + $i]);
         |    }
         |    if ($acc > 0) $b |= 1 << $j;
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First index at which two int arrays hold equal values, −1 if none — the
  * multi-table LSH "emit a pair only from its first colliding table" test.
  * Joining bucket-exploded sides on (t, bucket) finds each colliding pair
  * once PER shared table; filtering on `first_eq_idx(sketch_a, sketch_b) = t`
  * keeps exactly one emission per pair, which deletes the cross-table
  * `distinct` — a full shuffle of the candidate pair stream, the widest
  * intermediate of the whole dedup pipeline at corpus scale. */
case class FirstEqIdx(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_eq_idx"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.getInt(i) == y.getInt(i)) return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val res = ctx.freshName("res")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |int $res = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.getInt($i) == $y.getInt($i)) { $res = $i; break; }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Largest |component| of a float vector as double — the symmetric-int8
  * quantization scale. A plain MAX of ABS: order-free, so any engine
  * computing it over the same elements agrees exactly. Empty vector → 0. */
case class AbsMaxF(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "absmax_f"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > m) m = v
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs((double) $x.getFloat($i));
         |  if ($v > $m) $m = $v;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign bits of a float vector's first ≤64 dimensions packed into ONE
  * BIGINT — bit i set iff component i > 0 — the binary-quantization (BQ)
  * index kernel. The packed word is 1/256th the footprint of the 64-float
  * vector it summarizes, and a Hamming distance over it
  * (`bit_count(a ^ b)`, one XOR + POPCNT) replaces 64 float
  * multiply-adds in the candidate-generation scan — the memory-bandwidth
  * argument that makes BQ the first stage of modern vector stores. The
  * `> 0` sign rule and the low-bit-first packing are trivially replayed
  * by an oracle (`SUM(CASE WHEN x > 0 THEN 1 << i END)` over the zipped
  * unnest), so downstream rankings stay engine-exact: Hamming distances
  * are small integers, never floats. Dimensions past 64 are ignored by
  * construction (one word); vectors shorter than 64 leave high bits 0. */
case class SignBitsF(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bits_f"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(64, x.numElements())
    var bits = 0L
    var i = 0
    while (i < n) {
      if (x.getFloat(i) > 0f) bits |= 1L << i
      i += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val bits = ctx.freshName("bits")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min(64, $x.numElements());
         |long $bits = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.getFloat($i) > 0f) $bits |= 1L << $i;
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Total symmetric-int8 round-trip error of a float vector, in INTEGER
  * nanounits — the storage-compression audit kernel (4× memory cut for a
  * 100 TB embedding store; this measures what it costs).
  *
  * Per element: quantize q = ⌊x·127/s + 0.5⌋ against the vector's absmax
  * scale s, dequantize q·s/127, take |x − dq|, and CONVERT EACH ELEMENT'S
  * ERROR TO A LONG (⌊e·10⁹ + 0.5⌋) BEFORE summing — integer addition is
  * order-free, so per-label aggregates of this value are engine-exact with
  * no round() safety net on the sum (only the final mean divides). Every
  * double op (cast, ·127, /s, floor, ·s, /127, −, abs) is an IEEE
  * operation an oracle replays verbatim; ⌊·+0.5⌋ is used instead of
  * round() because engines disagree on half-even vs half-away ties while
  * floor is bit-deterministic. All-zero vector → 0 (nothing to quantize).
  */
case class Int8ErrNanos(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "int8_err_nanos"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > s) s = v
      i += 1
    }
    if (s == 0.0) 0L
    else {
      var acc = 0L
      i = 0
      while (i < n) {
        val xd = x.getFloat(i).toDouble
        val q = math.floor(xd * 127.0 / s + 0.5)
        val e = math.abs(xd - q * s / 127.0)
        acc += math.floor(e * 1e9 + 0.5).toLong
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      val xd = ctx.freshName("xd")
      val q = ctx.freshName("q")
      val e = ctx.freshName("e")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs((double) $x.getFloat($i));
         |  if ($v > $s) $s = $v;
         |}
         |long $acc = 0L;
         |if ($s != 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xd = (double) $x.getFloat($i);
         |    double $q = java.lang.Math.floor($xd * 127.0 / $s + 0.5);
         |    double $e = java.lang.Math.abs($xd - $q * $s / 127.0);
         |    $acc += (long) java.lang.Math.floor($e * 1e9 + 0.5);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorOps {
  /** Dot product of two array<float> columns (codegen'd). */
  def dotF(a: String, b: String): Column = expr(s"dot_f($a, $b)")

  /** Cosine similarity; for L2-normalized embeddings prefer dotF. */
  def cosineF(a: String, b: String): Column =
    expr(s"dot_f($a, $b) / (l2norm_f($a) * l2norm_f($b))")
}
