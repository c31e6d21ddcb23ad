package graft

import graft.queries.WeightedAvgAgg
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DeclarativeAggregate production path (weighted_avg_cents) must be
  * bit-identical to the Aggregator-API demo (WeightedAvgAgg) — same integer
  * buffer, same final expression — across nulls, zero weights, negatives,
  * and empty groups. */
class WeightedAvgSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows = Seq[(String, java.lang.Long, java.lang.Long)](
    ("a", 100L, 1L), ("a", 300L, 3L), ("a", -50L, 2L),
    ("b", 500L, 0L), ("b", 700L, 0L), // zero total weight -> 0.0
    ("c", 250L, 5L),
    ("d", null, 4L), ("d", 120L, null), ("d", 120L, 2L)) // nulls contribute nothing

  test("DeclarativeAggregate matches the Aggregator demo bit-for-bit") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = rows.toDF("g", "cents", "k")

    val fast = df.groupBy("g")
      .agg(expr("weighted_avg_cents(cents, k)").as("wavg"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1))

    val wavg = udaf(WeightedAvgAgg, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val demo = df.filter(col("cents").isNotNull && col("k").isNotNull)
      .groupBy("g").agg(wavg(col("cents"), col("k")).as("wavg"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1))

    assert(fast.toSeq == demo.toSeq)
    val m = fast.toMap
    assert(m("a") == (100.0 * 1 + 300 * 3 - 50 * 2) / (100.0 * 6))
    assert(m("b") == 0.0, "zero weight sum must yield 0.0, not NaN")
    assert(m("c") == (250.0 * 5) / (100.0 * 5))
    assert(m("d") == (120.0 * 2) / (100.0 * 2), "null value or weight rows skipped")
  }

  test("partials merge exactly regardless of partitioning") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val big = (1 to 10000).map(i => ("g" + (i % 7), (i * 13 % 1000).toLong, (i % 5).toLong))
    val one = big.toDF("g", "cents", "k").repartition(1)
      .groupBy("g").agg(expr("weighted_avg_cents(cents, k)").as("w")).orderBy("g").collect()
    val many = big.toDF("g", "cents", "k").repartition(32)
      .groupBy("g").agg(expr("weighted_avg_cents(cents, k)").as("w")).orderBy("g").collect()
    assert(one.map(_.toSeq).toSeq == many.map(_.toSeq).toSeq)
  }

  test("rides whole-stage codegen (no encoder boundary in the plan)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = rows.toDF("g", "cents", "k")
      .groupBy("g").agg(expr("weighted_avg_cents(cents, k)").as("w"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate in:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"DeclarativeAggregate must use the hash-aggregate fast path:\n$plan")
  }
}
