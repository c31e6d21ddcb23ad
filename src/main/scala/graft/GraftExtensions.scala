package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session-extensions entry point: makes every graft codegen expression
  * available in any session via configuration alone —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — the idiomatic deployment route for a Spark-native library: no
  * per-query `register` calls, functions resolve in SQL text, `expr()`,
  * and views exactly like built-ins. The per-object `register` helpers
  * remain for ad-hoc sessions; both paths construct the same Expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Each builder is a pattern over the argument list: a call with an
    // argument count no case accepts fails analysis with the usage line
    // instead of reading past the list or silently dropping an argument.
    def fn(name: String, usage: String)(
        build: PartialFunction[Seq[Expression], Expression]): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        (es: Seq[Expression]) => build.applyOrElse(es, (_: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: wrong number of arguments (${es.size}); usage: $usage"))))

    fn("dot_f", "dot_f(a, b) - dot product of two array<float> vectors") {
      case Seq(a, b) => DotProductF(a, b)
    }
    fn("l2norm_f", "l2norm_f(a) - L2 norm of an array<float> vector") {
      case Seq(a) => L2NormF(a)
    }
    fn("l2dist2_f", "l2dist2_f(a, b) - squared L2 distance of two array<float> vectors") {
      case Seq(a, b) => L2Dist2F(a, b)
    }
    fn("l2dist2_l",
      "l2dist2_l(a, b) - exact squared L2 distance of two array<bigint> vectors") {
      case Seq(a, b) => L2Dist2L(a, b)
    }
    fn("dot_l", "dot_l(a, b) - exact dot product of two array<bigint> vectors") {
      case Seq(a, b) => DotProductL(a, b)
    }
    fn("absmax_f", "absmax_f(a) - largest |component| of an array<float> vector") {
      case Seq(a) => AbsMaxF(a)
    }
    fn("int8_err_nanos",
      "int8_err_nanos(a) - total symmetric-int8 round-trip error in integer nanounits") {
      case Seq(a) => Int8ErrNanos(a)
    }
    fn("sign_bits_f",
      "sign_bits_f(a) - sign bits of an array<float> vector's first <=64 dims " +
        "packed into one bigint") {
      case Seq(a) => SignBitsF(a)
    }
    fn("bloom_filter_agg",
      "bloom_filter_agg(xxhash64(col), est) - Bloom filter over a column's hashes") {
      case Seq(h, est) => new BloomFilterAggregate(h, est).toAggregateExpression()
    }
    fn("bloom_might_contain",
      "bloom_might_contain(bf, xxhash64(col)) - Bloom filter membership probe") {
      case Seq(bf, h) => BloomFilterMightContain(bf, h)
    }
    fn("minhash_sig", "minhash_sig(shingles) - 32-slot MinHash signature") {
      case Seq(sh) => MinHashSig(sh)
    }
    fn("minhash_bands", "minhash_bands(shingles) - fused MinHash LSH band hashes") {
      case Seq(sh) => MinHashBands(sh)
    }
    fn("simhash64", "simhash64(words) - one-pass 64-bit SimHash signature") {
      case Seq(ws) => SimHash64(ws)
    }
    fn("word_shingles", "word_shingles(text[, n]) - distinct n-word shingles") {
      case Seq(t)    => WordShingles(t)
      case Seq(t, n) => WordShingles(t, intLit(n))
    }
    fn("word_ngrams", "word_ngrams(text[, n]) - all consecutive n-word grams") {
      case Seq(t)    => WordNgrams(t)
      case Seq(t, n) => WordNgrams(t, intLit(n))
    }
    fn("word_segments", "word_segments(text[, n]) - non-overlapping n-word segments") {
      case Seq(t)    => WordSegments(t)
      case Seq(t, n) => WordSegments(t, intLit(n))
    }
    fn("word_count",
      "word_count(text) - size(split(text, ' ')) without building the array") {
      case Seq(t) => WordCount(t)
    }
    fn("rolling_fp", "rolling_fp(text) - Rabin-Karp min-window fingerprint") {
      case Seq(t) => RollingFingerprint(t)
    }
    fn("sorted_overlap",
      "sorted_overlap(a, b) - intersection size of two sorted distinct string arrays") {
      case Seq(a, b) => SortedOverlap(a, b)
    }
    fn("sorted_overlap_l",
      "sorted_overlap_l(a, b) - intersection size of two sorted distinct bigint arrays") {
      case Seq(a, b) => SortedOverlapL(a, b)
    }
    fn("misra_gries", "misra_gries(col, k) - Misra-Gries heavy-hitter candidate set") {
      case Seq(c, k) => MisraGriesAgg(c, intLit(k)).toAggregateExpression()
    }
    fn("topk_pair",
      "topk_pair(value, id, k) - k largest (value, id) pairs, bounded O(k) state") {
      case Seq(v, id, k) => TopKPairsAgg(v, id, intLit(k)).toAggregateExpression()
    }
    fn("kmv_sketch",
      "kmv_sketch(hash60, k) - k smallest distinct hashes (bottom-k/theta sketch)") {
      case Seq(h, k) => KmvSketchAgg(h, intLit(k)).toAggregateExpression()
    }
    fn("kll_quantiles",
      "kll_quantiles(col, k, array(ppm...)) - mergeable KLL/MRL quantile sketch") {
      case Seq(c, k, ppm) =>
        KllQuantilesAgg(c, intLit(k), KllSketch.ppmList(ppm)).toAggregateExpression()
    }
    fn("nfc_normalize", "nfc_normalize(text) - Unicode canonical composition (NFC)") {
      case Seq(t) => NfcNormalize(t)
    }
    fn("norm_ascii",
      "norm_ascii(text) - one-pass lowercase/strip-punct/collapse-ws/trim canonicalization") {
      case Seq(t) => NormAscii(t)
    }
    fn("weighted_avg_cents",
      "weighted_avg_cents(cents, w) - exact weighted mean in currency units") {
      case Seq(c, w) => WeightedAvgCents(c, w)
    }
    fn("vec_moments",
      "vec_moments(arr) - one-pass [n, sum_0..d-1, gram_00..d-1d-1] exact moments") {
      case Seq(a) => VecMomentsAgg(a).toAggregateExpression()
    }
  }

  private def intLit(e: Expression): Int = e.eval(null) match {
    case i: Int  => i
    case l: Long => l.toInt
    case other   => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
}
