package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The KMV sketch TypedImperativeAggregate must return EXACTLY the k
  * smallest DISTINCT hash values, ascending — invariant to partitioning
  * (merge order), duplicate-blind (a value seen twice occupies one slot),
  * and equal to the whole distinct set when a group holds fewer than k.
  * The reference is the sort-distinct-take formulation it replaces. */
class KmvSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaAgg(rows: Seq[(String, Long)], k: Int,
      parts: Int): Map[String, Seq[Long]] = {
    import spark.implicits._
    GraftExtensions.install(spark)
    rows.toDF("g", "h").repartition(parts)
      .groupBy(col("g")).agg(expr(s"kmv_sketch(h, $k)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  private def brute(rows: Seq[(String, Long)], k: Int): Map[String, Seq[Long]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).distinct.sorted.take(k)
    }

  test("equals brute-force bottom-k distinct under any partitioning") {
    // deterministic pseudo-random stream with heavy duplication + two groups
    val rows = (0 until 500).map { i =>
      (if (i % 3 == 0) "a" else "b", ((i * 2654435761L) % 97 + 97) % 97)
    }
    val expected = brute(rows, 16)
    for (parts <- Seq(1, 7, 32)) {
      assert(viaAgg(rows, 16, parts) == expected, s"parts=$parts")
    }
  }

  test("a group with fewer than k distinct values returns the whole set") {
    val rows = Seq(("g", 5L), ("g", 3L), ("g", 5L), ("g", 9L))
    assert(viaAgg(rows, 64, 3) == Map("g" -> Seq(3L, 5L, 9L)))
  }

  test("duplicates of a kept value never evict another survivor") {
    // k=2: {1,2} kept; a flood of repeated 1s must not displace 2
    val rows = Seq(("g", 2L)) ++ (0 until 100).map(_ => ("g", 1L)) :+ ("g", 7L)
    assert(viaAgg(rows, 2, 5) == Map("g" -> Seq(1L, 2L)))
  }
}
