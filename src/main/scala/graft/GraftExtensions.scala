package graft

import graft.functions._
import graft.multimodal._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session-extensions entry point: makes every graft SQL function
  * available in any session via configuration alone —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — the idiomatic deployment route for a Spark-native library: functions
  * resolve in SQL text, `expr()`, and views exactly like built-ins. A
  * session built without the extension gets the same functions from
  * [[GraftExtensions.install]]; both read the one [[GraftExtensions.catalog]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.catalog.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Bind every catalog function into an existing session (one built
    * without `spark.sql.extensions=graft.GraftExtensions`), skipping names
    * already bound. Query builders call it before resolving a graft
    * function; repeat calls are a few registry lookups and log nothing
    * (rebinding a name logs a `SimpleFunctionRegistry` WARN per call).
    *
    * Known limitation: first-wins also defers to a FOREIGN session
    * function that happens to share a graft name (registered by user code
    * before any graft query ran) — the query would then resolve to the
    * foreign binding. Sessions embedding graft next to other function
    * libraries should use the extension, which binds the catalog at
    * session build time, before any user registration. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    catalog.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  // Each builder is a pattern over the argument list: a call with an
  // argument count no case accepts fails analysis with the usage line
  // instead of reading past the list or silently dropping an argument.
  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (es: Seq[Expression]) => build.applyOrElse(es, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong number of arguments (${es.size}); usage: $usage")))

  /** A plan-time integer argument (a width, or the `k` that sizes an
    * aggregation buffer). A column reference here would evaluate to an
    * opaque NPE or a wrong constant, so anything non-foldable is rejected,
    * as is a bigint that would wrap to a different int. */
  private def intLit(name: String, arg: String, e: Expression): Int = {
    def reject(got: String) = throw new IllegalArgumentException(
      s"$name: $arg must be a foldable integer literal, got $got")
    if (!e.foldable) reject(e.sql)
    e.eval() match {
      case i: Int   => i
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case l: Long if l.isValidInt => l.toInt
      case other    => reject(String.valueOf(other))
    }
  }

  /** Every graft SQL function as (name, usage, builder). Aggregates build
    * the bare `AggregateFunction`: the analyzer wraps it, applying any
    * `DISTINCT` or `FILTER (WHERE ...)` clause. */
  val catalog: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("dot_f", "dot_f(a, b) - dot product of two array<float> vectors") {
      case Seq(a, b) => DotProductF(a, b)
    },
    fn("l2norm_f", "l2norm_f(a) - L2 norm of an array<float> vector") {
      case Seq(a) => L2NormF(a)
    },
    fn("l2dist2_f", "l2dist2_f(a, b) - squared L2 distance of two array<float> vectors") {
      case Seq(a, b) => L2Dist2F(a, b)
    },
    fn("l2dist2_l",
      "l2dist2_l(a, b) - exact squared L2 distance of two array<bigint> vectors") {
      case Seq(a, b) => L2Dist2L(a, b)
    },
    fn("dot_l", "dot_l(a, b) - exact dot product of two array<bigint> vectors") {
      case Seq(a, b) => DotProductL(a, b)
    },
    fn("absmax_f", "absmax_f(a) - largest |component| of an array<float> vector") {
      case Seq(a) => AbsMaxF(a)
    },
    fn("int8_err_nanos",
      "int8_err_nanos(a) - total symmetric-int8 round-trip error in integer nanounits") {
      case Seq(a) => Int8ErrNanos(a)
    },
    fn("sign_bits_f",
      "sign_bits_f(a) - sign bits of an array<float> vector's first <=64 dims " +
        "packed into one bigint") {
      case Seq(a) => SignBitsF(a)
    },
    fn("bloom_filter_agg",
      "bloom_filter_agg(xxhash64(col), est) - Bloom filter over a column's hashes") {
      case Seq(h, est) => new BloomFilterAggregate(h, est)
    },
    fn("bloom_might_contain",
      "bloom_might_contain(bf, xxhash64(col)) - Bloom filter membership probe") {
      case Seq(bf, h) => BloomFilterMightContain(bf, h)
    },
    fn("minhash_sig", "minhash_sig(shingles) - 32-slot MinHash signature") {
      case Seq(sh) => MinHashSig(sh)
    },
    fn("minhash_bands", "minhash_bands(shingles) - fused MinHash LSH band hashes") {
      case Seq(sh) => MinHashBands(sh)
    },
    fn("simhash64", "simhash64(words) - one-pass 64-bit SimHash signature") {
      case Seq(ws) => SimHash64(ws)
    },
    fn("word_shingles", "word_shingles(text[, n]) - distinct n-word shingles") {
      case Seq(t)    => WordShingles(t)
      case Seq(t, n) => WordShingles(t, intLit("word_shingles", "n", n))
    },
    fn("word_ngrams", "word_ngrams(text[, n]) - all consecutive n-word grams") {
      case Seq(t)    => WordNgrams(t)
      case Seq(t, n) => WordNgrams(t, intLit("word_ngrams", "n", n))
    },
    fn("word_segments", "word_segments(text[, n]) - non-overlapping n-word segments") {
      case Seq(t)    => WordSegments(t)
      case Seq(t, n) => WordSegments(t, intLit("word_segments", "n", n))
    },
    fn("word_count",
      "word_count(text) - size(split(text, ' ')) without building the array; " +
        "NULL text gives NULL where size(split(text, ' ')) gives -1") {
      case Seq(t) => WordCount(t)
    },
    fn("rolling_fp", "rolling_fp(text) - Rabin-Karp min-window fingerprint") {
      case Seq(t) => RollingFingerprint(t)
    },
    fn("sorted_overlap",
      "sorted_overlap(a, b) - intersection size of two sorted distinct string arrays") {
      case Seq(a, b) => SortedOverlap(a, b)
    },
    fn("sorted_overlap_l",
      "sorted_overlap_l(a, b) - intersection size of two sorted distinct bigint arrays") {
      case Seq(a, b) => SortedOverlapL(a, b)
    },
    fn("misra_gries", "misra_gries(col, k) - Misra-Gries heavy-hitter candidate set") {
      case Seq(c, k) => MisraGriesAgg(c, intLit("misra_gries", "k", k))
    },
    fn("topk_pair",
      "topk_pair(value, id, k) - k largest (value, id) pairs, bounded O(k) state") {
      case Seq(v, id, k) => TopKPairsAgg(v, id, intLit("topk_pair", "k", k))
    },
    fn("kmv_sketch",
      "kmv_sketch(hash60, k) - k smallest distinct hashes (bottom-k/theta sketch)") {
      case Seq(h, k) => KmvSketchAgg(h, intLit("kmv_sketch", "k", k))
    },
    fn("kll_quantiles",
      "kll_quantiles(col, k, array(ppm...)) - mergeable KLL/MRL quantile sketch") {
      case Seq(c, k, ppm) =>
        KllQuantilesAgg(c, intLit("kll_quantiles", "k", k), KllSketch.ppmList(ppm))
    },
    fn("nfc_normalize", "nfc_normalize(text) - Unicode canonical composition (NFC)") {
      case Seq(t) => NfcNormalize(t)
    },
    fn("norm_ascii",
      "norm_ascii(text) - one-pass lowercase/strip-punct/collapse-ws/trim canonicalization") {
      case Seq(t) => NormAscii(t)
    },
    fn("byte_entropy",
      "byte_entropy(text) - byte-distribution features: n_bytes, n_distinct, " +
        "top_byte, top_count, entropy_micro") {
      case Seq(t) => ByteEntropy(t)
    },
    fn("weighted_avg_cents",
      "weighted_avg_cents(cents, w) - exact weighted mean in currency units") {
      case Seq(c, w) => WeightedAvgCents(c, w)
    },
    fn("vec_moments",
      "vec_moments(arr) - one-pass [n, sum_0..d-1, gram_00..d-1d-1] exact moments") {
      case Seq(a) => VecMomentsAgg(a)
    },
    fn("media_for", "media_for(doc_id, text) - canonical PNG/JPEG container for a document") {
      case Seq(id, t) => MediaFor(id, t)
    },
    fn("media_dims",
      "media_dims(bin) - image container dims: format, width, height, n_bytes, n_frames") {
      case Seq(b) => MediaDims(b)
    },
    fn("png_for", "png_for(doc_id) - deterministic PNG using all five filter types") {
      case Seq(id) => PngFor(id)
    },
    fn("png_pixel_sums", "png_pixel_sums(bin) - full PNG decode to exact per-channel sums") {
      case Seq(b) => PngPixelSums(b)
    },
    fn("wav_for", "wav_for(doc_id, n_chars) - canonical PCM WAV container") {
      case Seq(id, n) => WavFor(id, n)
    },
    fn("wav_energy", "wav_energy(bin) - WAV parse plus windowed-energy features") {
      case Seq(b) => WavEnergy(b)
    },
    fn("wav_vad", "wav_vad(bin) - WAV parse plus silence-run segmentation") {
      case Seq(b) => WavVad(b)
    },
    fn("avi_for", "avi_for(doc_id, n_chars) - canonical AVI container") {
      case Seq(id, n) => AviFor(id, n)
    },
    fn("avi_index", "avi_index(bin) - AVI parse plus index-walk features") {
      case Seq(b) => AviIndex(b)
    }
  )
}
