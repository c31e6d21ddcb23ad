package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Misra-Gries TypedImperativeAggregate must uphold its one guarantee
  * — every item with true frequency > n/k appears in the candidate set —
  * under adversarial skew, tiny capacities, and arbitrary partitioning
  * (merge order). The exact two-pass composition (q105's shape) must then
  * equal brute force exactly. */
class MisraGriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def candidates(data: Seq[String], k: Int, parts: Int): Set[String] = {
    import spark.implicits._
    GraftExtensions.install(spark)
    data.toDF("w").repartition(parts)
      .agg(expr(s"misra_gries(w, $k)").as("c"))
      .collect()(0).getSeq[String](0).toSet
  }

  test("every true heavy hitter survives, for any k and partitioning") {
    val rng = new scala.util.Random(31)
    // zipf-ish skew: item i appears ~ 4000 / (i + 1) times
    val data = rng.shuffle(
      (0 until 40).flatMap(i => Seq.fill(4000 / (i + 1))(s"item$i")).toVector)
    val n = data.size
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(3, 5, 10, 25); parts <- Seq(1, 4, 13)) {
      val heavy = exact.filter { case (_, c) => c * k > n }.keySet
      val cand = candidates(data, k, parts)
      assert(heavy.subsetOf(cand),
        s"k=$k parts=$parts lost heavy hitters: ${heavy -- cand}")
      assert(cand.size <= k - 1, s"k=$k returned ${cand.size} candidates")
    }
  }

  test("two-pass exact composition equals brute force") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rng = new scala.util.Random(7)
    val data = rng.shuffle(
      (0 until 30).flatMap(i => Seq.fill(1000 / (i + 1))(s"w$i")).toVector)
    val n = data.size
    val df = data.toDF("w").repartition(8)
    val cand = df.agg(expr("misra_gries(w, 12)").as("c"))
      .select(explode(col("c")).as("w"))
    val counts = df.groupBy("w").agg(count(lit(1)).as("freq"))
    val got = cand.join(counts, Seq("w"))
      .filter(col("freq") * 12 > n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = data.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 12 > n }.toMap
    assert(got == want)
  }
}
