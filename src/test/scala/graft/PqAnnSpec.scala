package graft

import graft.operators.PqAnn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PQ is an approximation of true L2 ranking — the oracle (q90) proves the
  * pipeline is deterministic and engine-portable; this spec gates its
  * QUALITY: ADC top-10 must overlap the exact top-10 well above chance,
  * and encoding must be total (every vector gets m codes). */
class PqAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("every vector encodes to exactly m codes, one per subspace") {
    val e = Tables.embeddings(spark, dir)
    val (codes, codebook) = PqAnn.build(e, "vec_id", "embedding", m = 16, k = 64, dim = 64)
    val n = e.count()
    assert(codes.count() == n * 16)
    val perVec = codes.groupBy("vec_id").count().filter(col("count") =!= 16).count()
    assert(perVec == 0, "every vector must have one code per subspace")
    assert(codebook.count() == 16 * 64)
    val codeRange = codes.agg(min("code"), max("code")).head()
    assert(codeRange.getInt(0) >= 0 && codeRange.getInt(1) < 64)
  }

  test("build + search are partition-invariant (integer pipeline, no FP order dependence)") {
    val e = Tables.embeddings(spark, dir)
    def run(parts: Int): Seq[Seq[Any]] = {
      val v = e.repartition(parts)
      val (codes, cb) = PqAnn.build(v, "vec_id", "embedding", m = 16, k = 64, dim = 64)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      PqAnn.search(codes, cb, qs, "q_id", "q_emb", "vec_id", m = 16, dim = 64, topK = 10)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    }
    assert(run(1) == run(32), "PQ output must not depend on partitioning")
  }

  test("ADC top-10 recall vs exact L2 top-10 is >= 0.4 (chance is ~0.02)") {
    GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, dir)
    val (codes, codebook) = PqAnn.build(e, "vec_id", "embedding", m = 16, k = 64, dim = 64)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val approx = PqAnn.search(codes, codebook, qs, "q_id", "q_emb", "vec_id",
        m = 16, dim = 64, topK = 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
    val exact = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("l2dist2_f(embedding, q_emb)").as("d"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean recall@10 $mean too low; per-query: $recalls")
  }
}
