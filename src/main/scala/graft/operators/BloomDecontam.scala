package graft.operators

import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-pre-filtered benchmark decontamination — the two-stage shape for
  * train/eval overlap at corpus scale.
  *
  * q93's one-stage form broadcasts the eval shingle set and equi-joins the
  * FULL train shingle inventory against it: every train shingle crosses
  * the exchange even though almost none match. The classic fix is a Bloom
  * filter over the eval shingles applied map-side to the train side first:
  * at ~9.6 bits/element (3% fpp) the filter is 20-50× smaller than the
  * string set it summarizes, and the exchange then carries only true
  * matches + the fpp tail. Bloom filters have NO false negatives, so the
  * pre-filter is lossless and the exact join downstream makes the final
  * result identical to the unfiltered pipeline — which is why q109 shares
  * q93's DuckDB oracle verbatim (the Bloom stage must be invisible in the
  * output).
  *
  * Spark-native: the filter is Spark's own `BloomFilterAggregate` /
  * `BloomFilterMightContain` pair — the machinery InjectRuntimeFilter uses
  * for automatic runtime row filtering — surfaced as an explicit operator
  * (registered in the session's function registry like the graft kernels;
  * keys are `xxhash64` longs as in the runtime-filter rule). The built
  * filter is collected (it is eval-sized, i.e. tiny by the asymmetry this
  * operator exists for) and embedded as a foldable `unbase64` literal so
  * `BloomFilterMightContain`'s constant-bloom contract holds; the same
  * localize move as [[KMeansLloyd]]'s centroids. The literal is
  * eval-proportional (~1.2 MB per million eval shingles at 3% fpp) — fine
  * for realistic eval suites; should the eval side ever strain the
  * driver, the zero-collect upgrade is the scalar-subquery form
  * `BloomFilterMightContain` equally accepts,
  * `bloom_might_contain((SELECT bloom_filter_agg(..) FROM eval), ..)` —
  * exactly how InjectRuntimeFilter plans it (subquery broadcast; the
  * filter bytes never touch the driver).
  *
  * Scale shape: one hash-agg job builds the filter (partial aggregation —
  * per-partition Blooms OR-merged); the train side is then a map-only
  * codegen filter BEFORE any exchange; the residual exact join inherits
  * q93's broadcast-eval + df-filtered-shingle shape. At 100 TB the win is
  * the exchange volume: |train shingles| → |hits| + fpp·|train shingles|.
  */
object BloomDecontam {
  /** All (train_id, test_id, n_shared) pairs sharing ≥ `minShared`
    * shingles, Bloom-pruned then exactly joined. `train`/`eval` carry
    * (`shingle`, `train_id`) / (`shingle`, `test_id`); `expectedItems` is
    * a FLOOR on the filter size — if the eval suite's estimated DISTINCT
    * shingle count (a bloom filter is sized by distinct inserts, not
    * rows) exceeds the floor, the filter is rebuilt at the corrected
    * size, so a fixed call-site constant cannot silently undersize it as
    * the eval suite grows (undersizing inflates fpp and erodes the
    * map-side prune; overestimating only wastes bits, never drops). Both
    * counts ride the SAME aggregation job as the filter build — eval
    * rows are tiny by this operator's asymmetry contract, but eval's
    * LINEAGE need not be (q109's eval side embeds a corpus-wide
    * document-frequency aggregate), so a separate counting job would
    * re-execute it; the well-sized call stays one pass, and only a
    * genuinely undersized floor pays a second build.
    *
    * Sizing ceiling: Spark's `BloomFilterAggregate` silently clamps the
    * item estimate at `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * (default 4M) and the bit budget at `...maxNumBits` — beyond that the
    * rebuild cannot help and fpp degrades with eval growth; raise those
    * confs for larger eval suites (the clamp is made explicit below so
    * the capped request is visible, not silent). */
  def contaminatedPairs(train: DataFrame, eval: DataFrame,
      expectedItems: Long, minShared: Int): DataFrame = {
    val spark = train.sparkSession
    graft.GraftExtensions.install(spark)
    val firstPass = eval.agg(
      count(lit(1)).as("n"),
      // 5% default rsd; the 1.2x margin below absorbs it, so a borderline
      // under-estimate cannot skip a genuinely needed rebuild
      approx_count_distinct(expr("xxhash64(shingle)")).as("ndv"),
      expr(s"bloom_filter_agg(xxhash64(shingle), ${expectedItems}L)").as("bf"))
      .head()
    val evalRows = firstPass.getLong(0)
    val distinctEst = math.ceil(firstPass.getLong(1) * 1.2).toLong
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    // bloom_filter_agg over zero rows evaluates to null, not an empty
    // filter; an empty eval suite means no contamination by definition,
    // so prune everything (keeping the output schema) instead of NPE-ing
    // on the null literal.
    val pruned =
      if (evalRows == 0) train.filter(lit(false))
      else {
        val bf =
          if (distinctEst <= expectedItems) firstPass.getAs[Array[Byte]](2)
          else eval
            .agg(expr("bloom_filter_agg(xxhash64(shingle), " +
              s"${math.min(distinctEst, maxItems)}L)").as("bf"))
            .head().getAs[Array[Byte]](0)
        val b64 = Base64.getEncoder.encodeToString(bf)
        train.filter(
          expr(s"bloom_might_contain(unbase64('$b64'), xxhash64(shingle))"))
      }
    pruned.join(broadcast(eval), Seq("shingle"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
