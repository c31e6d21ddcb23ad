package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH bucketing for `array<float>` embedding columns.
  *
  * Each of `numPlanes` deterministic pseudo-random hyperplanes contributes
  * one sign bit (codegen'd `dot_f` against a literal vector), giving
  * `2^numPlanes` buckets. Queries then score only vectors in their own
  * bucket, so per-query work is ~corpus/2^numPlanes.
  *
  * `numPlanes` is the scale knob: bucket count must grow with the corpus to
  * keep per-bucket work constant — numPlanes ≈ log2(N / targetBucketSize).
  * At 5k vectors, 4 planes ≈ 300/bucket; at 10^10 vectors, ~25 planes keeps
  * the same per-bucket cost. The seed fixes the hyperplane family so bucket
  * assignment is reproducible across runs and engines.
  */
object HyperplaneLsh {

  /** Deterministic hyperplane family: `numPlanes` × `dim` floats in [-1, 1). */
  def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
  }

  /** SQL literal for an array<float> constant. */
  def litArray(xs: Seq[Float]): String =
    xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")

  /** Bucket id column: bit j set iff dot(vec, plane_j) > 0. Requires
    * `VectorOps.register` on the session (codegen `dot_f`). */
  def bucketCol(vecCol: String, planeFamily: Seq[Seq[Float]]): Column =
    planeFamily.zipWithIndex.map { case (p, j) =>
      when(expr(s"dot_f($vecCol, ${litArray(p)})") > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)

  /** `df` + a `bucket` column over `vecCol` with `numPlanes` hyperplanes. */
  def withBucket(df: DataFrame, vecCol: String, numPlanes: Int, dim: Int,
      seed: Long = 12345L): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    df.withColumn("bucket", bucketCol(vecCol, planes(numPlanes, dim, seed)))
  }
}
