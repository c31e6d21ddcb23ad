package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an
  * `array<float>` embedding column.
  *
  * The scale path for vector search when the corpus outgrows brute force:
  *
  *  - **build**: pick `k` coarse centroids (deterministic strided sample —
  *    a random coarse quantizer, the classic cheap IVF variant), assign
  *    every vector to its nearest centroid. Cost k·N codegen'd `dot_f`
  *    kernels, embarrassingly parallel; the posting lists are just the
  *    corpus partitioned by `cid`.
  *  - **search**: each query scores the `k` centroids (tiny), picks the
  *    `nprobe` nearest lists, and scores ONLY vectors in those lists —
  *    corpus-side work drops by ~nprobe/k vs brute force, and the
  *    (query × probed-list) join shuffles on `cid` like any equi-join.
  *
  * Centroids are driver-collected by design: k is small and fixed (the
  * coarse quantizer IS the small side); everything per-vector stays
  * distributed. Requires `VectorOps.register` (dot_f) on the session.
  * Embeddings are assumed L2-normalized so dot == cosine.
  */
object IvfAnn {

  /** Assign each row of `vectors(idCol, vecCol)` to its nearest of `k`
    * strided-sample centroids. Returns (assigned, centroids):
    * assigned = vectors + `cid`; centroids = (cid, centroid vector). */
  def build(vectors: DataFrame, idCol: String, vecCol: String, k: Int): (DataFrame, DataFrame) = {
    graft.GraftExtensions.install(vectors.sparkSession)
    // deterministic strided sample as the coarse quantizer
    val n = vectors.count()
    val stride = math.max(1L, n / k)
    val cents = vectors
      .filter((col(idCol) % stride === 0) && (col(idCol) / stride < k))
      .select((col(idCol) / stride).cast("int").as("cid"), col(vecCol).as("centroid"))
    // Centroid dots are rounded to 4 decimals before ranking (ties then
    // broken by cid) so the assignment is stable across engines/runs — two
    // raw doubles an ulp apart must not flip the argmax between Spark and
    // the DuckDB oracle.
    val wBest = Window.partitionBy(col(idCol)).orderBy(col("__cdot").desc, col("cid"))
    val assigned = vectors.crossJoin(broadcast(cents))
      .withColumn("__cdot", round(expr(s"dot_f($vecCol, centroid)"), 4))
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
      .drop("__cdot", "__rk", "centroid")
    (assigned, cents)
  }

  /** Top-`topK` neighbors for each row of `queries(qIdCol, qVecCol)`,
    * probing the `nprobe` nearest posting lists per query. */
  def search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      nprobe: Int, topK: Int): DataFrame = {
    graft.GraftExtensions.install(assigned.sparkSession)
    val wProbe = Window.partitionBy(col(qIdCol)).orderBy(col("__cdot").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("__cdot", round(expr(s"dot_f($qVecCol, centroid)"), 4))
      .withColumn("__rk", row_number().over(wProbe))
      .filter(col("__rk") <= nprobe)
      .select(col(qIdCol), col(qVecCol), col("cid"))
    val wTop = Window.partitionBy(col(qIdCol)).orderBy(col("sim").desc, col(idCol))
    probes.join(assigned, Seq("cid"))
      .filter(col(qIdCol) =!= col(idCol))
      .withColumn("sim", round(expr(s"dot_f($qVecCol, $vecCol)"), 4))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(qIdCol), col("rank"), col(idCol), col("cid"), col("sim"))
  }
}
