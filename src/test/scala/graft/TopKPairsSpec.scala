package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded top-k TypedImperativeAggregate must return EXACTLY the k
  * largest (value, id) pairs under (value DESC, id ASC) — invariant to
  * partitioning (merge order), exact on ties, and correct when a group
  * holds fewer than k rows. The reference is the row_number() window
  * formulation it replaces on the hot path. */
class TopKPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaAgg(rows: Seq[(String, Long, Long)], k: Int,
      parts: Int): Seq[(String, Long, Long, Long)] = {
    import spark.implicits._
    GraftExtensions.install(spark)
    rows.toDF("g", "v", "id").repartition(parts)
      .groupBy(col("g")).agg(expr(s"topk_pair(v, id, $k)").as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"),
        col("col.v"), col("col.id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._2))
  }

  private def viaWindow(rows: Seq[(String, Long, Long)],
      k: Int): Seq[(String, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.map(t => (t._2, t._3)).sortBy(t => (-t._1, t._2)).take(k)
        .zipWithIndex.map { case ((v, id), i) => (g, (i + 1).toLong, v, id) }
    }.sortBy(t => (t._1, t._2))

  test("equals the sorted reference for random data, any partitioning") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      (s"g${rng.nextInt(7)}", rng.nextInt(300).toLong, i.toLong)
    }
    for (k <- Seq(1, 3, 10); parts <- Seq(1, 4, 13)) {
      assert(viaAgg(rows, k, parts) == viaWindow(rows, k),
        s"mismatch at k=$k parts=$parts")
    }
  }

  test("ties break by smaller id, deterministically") {
    // every value identical: the kept set must be the k smallest ids
    val rows = (0 until 100).map(i => ("g", 42L, i.toLong))
    val got = viaAgg(rows, 5, 8)
    assert(got == (1 to 5).map(r => ("g", r.toLong, 42L, (r - 1).toLong)))
  }

  test("groups smaller than k return all their rows, ordered") {
    val rows = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("b", 5L, 3L))
    assert(viaAgg(rows, 4, 3) == Seq(
      ("a", 1L, 20L, 2L), ("a", 2L, 10L, 1L), ("b", 1L, 5L, 3L)))
  }

  test("null values and ids are skipped, not kept") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq((Some(9L), Some(1L)), (None, Some(2L)), (Some(99L), None))
      .toDF("v", "id")
    val top = df.agg(expr("topk_pair(v, id, 3)").as("t"))
      .select(explode(col("t"))).select(col("col.v"), col("col.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == Seq((9L, 1L)))
  }
}
