package graft

import graft.operators.HyperplaneLsh
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hyperplane-LSH bucketing invariants: deterministic assignment, bucket
  * ids within [0, 2^planes), and locality — a vector always shares its own
  * bucket (trivially) and near-identical vectors land together far more
  * often than unrelated ones. */
class HyperplaneLshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucket ids are deterministic and bounded by 2^numPlanes") {
    val e = Tables.embeddings(spark, dir)
    val b1 = HyperplaneLsh.withBucket(e, "embedding", numPlanes = 4, dim = 64)
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b2 = HyperplaneLsh.withBucket(e, "embedding", numPlanes = 4, dim = 64)
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(b1 == b2, "same seed must give identical buckets")
    assert(b1.values.forall(b => b >= 0 && b < 16))
    assert(b1.values.toSet.size > 1, "vectors must spread over multiple buckets")
  }

  test("more planes never decreases bucket count bound and stays consistent") {
    val e = Tables.embeddings(spark, dir)
    val b6 = HyperplaneLsh.withBucket(e, "embedding", numPlanes = 6, dim = 64)
      .select("bucket").collect().map(_.getInt(0))
    assert(b6.forall(b => b >= 0 && b < 64))
  }

  test("a perturbed copy of a vector usually shares its bucket") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, dir).limit(50)
      .select(col("vec_id"), col("embedding"))
    // tiny perturbation: flip the last component's sign bit-of-noise
    val perturbed = e.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x + IF(i = 63, 0.001, 0.0) AS FLOAT))")
        .as("embedding"))
    val b0 = HyperplaneLsh.withBucket(e, "embedding", 4, 64)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    val b1 = HyperplaneLsh.withBucket(perturbed, "embedding", 4, 64)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    val same = b0.keys.count(k => b0(k) == b1(k))
    assert(same >= 45, s"only $same/50 perturbed vectors kept their bucket")
  }
}
