package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass moments aggregate behind q178 (count ⊕ sum ⊕ Gram in one
  * buffer) plus the end-to-end invariants of the three round-10 operators
  * (anisotropy / BFS census / time-weighted average). The oracle run pins
  * exact values; these pin the algebra and the partitioning-invariance the
  * oracle cannot see. */
class VecMomentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("vec_moments equals the brute-force count/sum/gram") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val vecs = Seq(
      Array(3L, -2L, 7L), Array(0L, 5L, -1L), Array(4L, 4L, 4L),
      Array(-6L, 1L, 2L), Array(9L, 0L, -3L))
    val got = vecs.toDF("v").agg(expr("vec_moments(v)")).head.getSeq[Long](0)
    val d = 3
    val exp = new Array[Long](1 + d + d * d)
    exp(0) = vecs.length.toLong
    for (x <- vecs; j <- 0 until d) {
      exp(1 + j) += x(j)
      for (k <- 0 until d) exp(1 + d + j * d + k) += x(j) * x(k)
    }
    assert(got.toArray.toSeq == exp.toSeq)
  }

  test("vec_moments is partitioning-invariant (merge path == update path)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val vecs = (1 to 200).map(i => Array(i.toLong, (i % 7) - 3L, -i.toLong))
    val one = vecs.toDF("v").coalesce(1).agg(expr("vec_moments(v)")).head.getSeq[Long](0)
    val many = vecs.toDF("v").repartition(16).agg(expr("vec_moments(v)")).head.getSeq[Long](0)
    assert(one == many)
  }

  test("vec_moments rejects ragged input loudly and skips nulls") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val ragged = Seq(Array(1L, 2L), Array(1L, 2L, 3L)).toDF("v").coalesce(1)
    val ex = intercept[Exception](ragged.agg(expr("vec_moments(v)")).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("ragged")))
    val withNull = Seq(Some(Array(1L, 2L)), None, Some(Array(3L, 4L))).toDF("v")
    val got = withNull.agg(expr("vec_moments(v)")).head.getSeq[Long](0)
    assert(got.head == 2L && got(1) == 4L && got(2) == 6L)
  }

  test("q178 emits a unit-scale direction and a consistent explained share") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q178_embedding_anisotropy")(spark, sf).collect()
    assert(rows.length == 64)
    val vs = rows.map(_.getLong(1))
    assert(vs.map(math.abs).max == 10000L,
      "power iteration renormalizes to max|v| = 1e4 every round")
    val lam = rows.head.getLong(2); val tr = rows.head.getLong(3)
    val ppm = rows.head.getLong(4)
    assert(lam > 0 && tr > 0 && ppm == lam * 1000000L / tr)
    // dominant share of a d-dim spectrum is at least the isotropic 1/d
    assert(ppm >= 1000000L / 64)
  }

  test("q179 census partitions the part table and seeds land at distance 0") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q179_bfs_distance_census")(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    val nPart = Tables.part(spark, sf).count()
    assert(total == nPart, "every part is in exactly one distance bucket")
    val seeds = Tables.part(spark, sf).filter(col("p_size") === 1).count()
    val d0 = rows.find(_.getLong(0) == 0L).map(_.getLong(1)).getOrElse(0L)
    assert(d0 == seeds, "the 0-bucket is exactly the seed set")
    assert(rows.map(_.getLong(0)).forall(d => d >= -1L && d <= 3L))
  }

  test("q180 TWA is bounded by each user's min/max event value") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val twa = SparkEntry.queries("q180_time_weighted_avg")(spark, sf)
      .select(col("user_id"), col("twa_cents")).as[(Long, Long)].collect().toMap
    val bounds = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("user_id").agg(min("cents").as("lo"), max("cents").as("hi"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(twa.nonEmpty)
    twa.foreach { case (u, v) =>
      val (lo, hi) = bounds(u)
      // truncating div can land 1 below the exact mean's floor at the edge
      assert(v >= lo - 1 && v <= hi, s"user $u TWA $v outside [$lo, $hi]")
    }
  }
}
