package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an `array<float>` embedding column,
  * formulated so every arithmetic step is EXACT integer math and therefore
  * replayable by the DuckDB oracle:
  *
  *  - vectors are quantized once to `array<bigint>` (×10000, floor(+0.5) —
  *    float→double widening and the double ops are IEEE-identical in both
  *    engines);
  *  - init is the deterministic strided sample (same coarse-quantizer
  *    choice as [[IvfAnn]]);
  *  - assignment is argmin of the codegen `l2dist2_l` kernel with (d², cid)
  *    lexicographic tie-break — exact longs, no float comparisons anywhere;
  *    the pair is packed into one BIGINT ([[graft.functions.PackedArgMin]],
  *    `d² * 2^20 + cid`) so the per-vector winner is `min(long)` on the
  *    true HashAggregate path (struct min falls back to SortAggregate);
  *    bounds guarded: cid < 2^20, d² ≤ 2^42 (×10⁴-quantized unit-scale
  *    vectors stay far inside — 64 dims at |x| ≤ 13 is ~4·10¹²);
  *  - the update step is a component-wise integer mean (`sum div count`,
  *    truncating toward zero in both Spark and DuckDB).
  *
  * Scale shape: per iteration one broadcast of k centroids (tiny, driver
  * round-trip is k·dim longs), one codegen map over N vectors, and one
  * (cid, pos)-keyed hash aggregate — no all-pairs, no global sort. The
  * classic Spark Lloyd loop; iterations are a fixed small constant.
  *
  * Lineage audit (round-12 iterative-operator sweep): FLAT by
  * construction, no CheckpointTracker needed — the only state carried
  * between rounds is the centroid frame, and [[localize]] rebuilds it as
  * a LocalRelation every round, so the round-r assignment plan is always
  * exactly `scan → crossJoin(local k·dim relation) → hash agg`, never a
  * function of r. (Contrast ConnectedComponents.propagate / PageRankInt,
  * whose carried state is data-sized and must be checkpointed.)
  */
object KMeansLloyd {

  /** The ×10⁴ quantization contract: `array<float>` → `array<bigint>` via
    * `floor(x·10000 + 0.5)` on the double widening. This exact expression is
    * the cross-engine exactness boundary shared by k-means (q98), SemDedup
    * (q108) and the source-centroid matrix (q114) — any change here must be
    * mirrored in every oracle that replays it. ([[PqAnn]] replays the same
    * `sum div count` mean contract but at ×10⁶ `round()` on subvectors —
    * see PqAnn.Q.) */
  def quantize(vecCol: String): org.apache.spark.sql.Column = expr(
    s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))")

  /** Element-wise truncating integer mean (`sum div count`, toward zero in
    * both Spark and DuckDB) of a quantized-vector column per key group —
    * the engine-portable centroid kernel of the Lloyd update, shared with
    * q114's per-source centroids. Output: keyCols ++ (centroid,
    * n_members). `n_members` = max per-position row count, which equals the
    * group's vector count whenever vectors are non-empty (ragged arrays
    * would under-count shorter tails per position — the mean at position p
    * averages only vectors long enough to have one, same as the oracle's
    * per-pos GROUP BY). */
  def intMeanCentroids(df: DataFrame, keyCols: Seq[String],
      qvecCol: String): DataFrame = {
    val keys = keyCols.map(col)
    df.select(keys :+ posexplode(col(qvecCol)).as(Seq("pos", "v")): _*)
      .groupBy(keys :+ col("pos"): _*)
      .agg(expr("sum(v) div count(1)").as("m"), count(lit(1)).as("cnt"))
      .groupBy(keys: _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("centroid"), max(col("cnt")).as("n_members"))
  }

  /** Collect a TINY frame (k·dim longs) and rebuild it as a local relation:
    * a lazy centroid frame would embed every prior round's
    * crossJoin+aggregate in its lineage, and the caller's action would
    * recompute the whole history once per action (the disease PqAnn's
    * encode had; fixed the same way). */
  def localize(df: DataFrame): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** Quantized assignment after `iters` Lloyd rounds: returns
    * (idCol, qvec, cid, d2) — d2 the exact squared distance to the final
    * centroid. Clusters that lose all members simply vanish (no
    * re-seeding), keeping the replay engine-independent. */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1)
    graft.GraftExtensions.install(vectors.sparkSession)
    val q = vectors.select(col(idCol), quantize(vecCol).as("qvec"))
    val n = q.count()
    val stride = math.max(1L, n / k)
    val seed = q
      .filter((col(idCol) % stride === 0) && (col(idCol) / stride < k))
      .select((col(idCol) / stride).cast("int").as("cid"), col("qvec").as("centroid"))
    var cents = localize(seed)
    // Strided seeding assumes a dense 0-based id space (same contract as
    // PqAnn.build): with filtered or offset ids the seed can come up empty
    // or short and the fit would silently degenerate. Fail fast instead.
    val nSeeded = cents.count()
    require(nSeeded == math.min(k.toLong, n),
      s"k-means seeding produced $nSeeded of ${math.min(k.toLong, n)} centroids — " +
        s"$idCol must be dense and 0-based (re-index with row_number()-1 if filtered)")
    var assigned: DataFrame = null
    import graft.functions.PackedArgMin
    for (i <- 1 to iters) {
      val scored = q.crossJoin(broadcast(cents))
        .withColumn("d2", expr("l2dist2_l(qvec, centroid)"))
      assigned = PackedArgMin.guard(scored, col("d2"), col("cid"), 20,
          "KMeansLloyd assignment")
        .groupBy(col(idCol), col("qvec"))
        .agg(min(PackedArgMin.pack(col("d2"), col("cid"), 20)).as("best"))
        .select(col(idCol), col("qvec"),
          PackedArgMin.payload(col("best"), 20).cast("int").as("cid"),
          PackedArgMin.key(col("best"), 20).as("d2"))
      if (i < iters) {
        cents = localize(intMeanCentroids(assigned, Seq("cid"), "qvec")
          .select(col("cid"), col("centroid")))
      }
    }
    assigned
  }
}
