package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-table random-hyperplane LSH near-duplicate join over embedding
  * columns — the embedding-space sibling of the MinHash-LSH text scheme
  * (DedupQueries q66) and the candidate engine behind semantic dedup
  * (SemDeDup-style: suppress a document when an earlier one sits within
  * cosine τ of it).
  *
  * Why multi-table: a single hyperplane table (HyperplaneLsh, q43) collides
  * a pair with probability (1 − θ/π)^planes, which for τ-grade similarity
  * is far below 1 — fine for top-k search (a query only needs *some* good
  * neighbors) but wrong for dedup, where each missed pair is a duplicate
  * kept forever. `tables` independent tables of `planesPerTable` planes
  * drive the miss rate to (1 − (1 − θ/π)^p)^L — the same band/row recall
  * trade MinHash-LSH makes, tuned by two small integers.
  *
  * Scale shape (100 TB posture):
  *  - candidate generation explodes each vector to `tables` (table, bucket)
  *    keys — a map-only widening by L, not by corpus size — and self-joins
  *    on the compound key, so candidate volume is Σ_buckets n_b² per table,
  *    held constant by sizing planesPerTable ≈ log2(N / targetBucketSize);
  *  - cross-table repeats are dropped by a `distinct` on the slim (id_a,
  *    id_b) pair list BEFORE the verify join, so each pair is scored once;
  *  - verify joins the slim pair list back to the embeddings by id (shuffle
  *    carries two ids per candidate, never L copies of the vector) and
  *    scores with the codegen `dot_f` kernel;
  *  - nothing touches the driver: no collect, no global sort.
  */
object CosineLshJoin {

  /** Corpus-adaptive plane count: the smallest p with
    * targetBucket · 2^p ≥ n, clamped to [floor, cap] — i.e.
    * ⌈log2(n / targetBucket)⌉ computed with pure integer arithmetic
    * (shifts and comparisons, never floating-point log2, whose rounding
    * differs across engines at exact powers of two: Scala's
    * log(8)/log(2) = 2.9999999999999996). Keeping per-table bucket
    * population ≈ targetBucket makes candidate volume Σ_b n_b² ≈
    * n · targetBucket — LINEAR in the corpus — where a fixed p lets
    * buckets grow with n and candidates grow ~n². An oracle replays the
    * derivation exactly with a VALUES probe table:
    * `MIN(p) WHERE targetBucket * (1 << p) >= COUNT(*)`. */
  def adaptivePlanes(n: Long, targetBucket: Long = 250L,
      floor: Int = 3, cap: Int = 14): Int = {
    val fit = (1 to cap).find(p => (targetBucket << p) >= n).getOrElse(cap)
    math.min(cap, math.max(floor, fit))
  }

  /** The candidate stage alone: distinct pairs (id_a < id_b) colliding in
    * ≥1 of `tables` LSH tables. Exposed separately so ScalingProbe can
    * count the work volume the verify stage actually pays.
    *
    * Two kernel-level choices keep this stage scan-shaped:
    *  - all `tables` bucket ids come from ONE codegen pass per row
    *    ([[graft.functions.LshBucketsF]] over the flattened plane matrix;
    *    the composed per-plane `when(dot_f...)` tree fell out of codegen
    *    at L×p = 56 expressions and cost ~4 s at 20 k×10 vectors);
    *  - each colliding pair is emitted from its FIRST shared table only
    *    ([[graft.functions.FirstEqIdx]] on the two 8-int sketches, which
    *    ride along the join at 4 bytes/table/row), so the output is
    *    exactly the distinct pair set with NO cross-table `distinct` —
    *    deleting a full shuffle of the candidate stream, the widest
    *    intermediate of the pipeline at corpus scale. */
  def candidatePairs(df: DataFrame, idCol: String, vecCol: String,
      tables: Int, planesPerTable: Int, dim: Int,
      seed: Long = 12345L): DataFrame = {
    require(tables >= 1 && planesPerTable >= 1,
      s"need >=1 table of >=1 planes, got $tables x $planesPerTable")
    import org.apache.spark.sql.graft.bridge.{column, expression}
    // table t hashes with the contiguous plane slice [t*p, (t+1)*p) — the
    // oracle replays the same family with bit j = global_index % p.
    val flat = HyperplaneLsh.planes(tables * planesPerTable, dim, seed)
      .flatten.toArray
    val sketch = column(graft.functions.LshBucketsF(
      expression(col(vecCol)), flat, tables, planesPerTable))
    val keyed = df.select(col(idCol), sketch.as("bks"))
      .select(col(idCol), col("bks"),
        posexplode(col("bks")).as(Seq("t", "bucket")))
    keyed.select(col("t"), col("bucket"), col(idCol).as("id_a"),
        col("bks").as("bka"))
      .join(keyed.select(col("t"), col("bucket"), col(idCol).as("id_b"),
        col("bks").as("bkb")), Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        column(graft.functions.FirstEqIdx(
          expression(col("bka")), expression(col("bkb")))) === col("t"))
      .select(col("id_a"), col("id_b"))
  }

  /** All pairs (id_a < id_b) that collide in ≥1 of `tables` LSH tables AND
    * verify at cosine ≥ `tau` (dot on L2-normalized vectors, rounded to
    * `simScale` decimals before the threshold so an engine replaying the
    * same planes ranks identically). Output: (id_a, id_b, sim). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      tables: Int, planesPerTable: Int, dim: Int, tau: Double,
      seed: Long = 12345L, simScale: Int = 4): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    val cand = candidatePairs(df, idCol, vecCol, tables, planesPerTable, dim, seed)
    val slim = df.select(col(idCol), col(vecCol))
    cand
      .join(slim.select(col(idCol).as("id_a"), col(vecCol).as("va")), Seq("id_a"))
      .join(slim.select(col(idCol).as("id_b"), col(vecCol).as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("dot_f(va, vb)"), simScale).as("sim"))
      .filter(col("sim") >= tau)
  }
}
