package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen simhash64 kernel must equal the declarative nested-lambda
  * formulation it replaced (same xxhash64 seed, same ±1 counter, same
  * sign rule) — the q38 rewrite changes the plan, not the value. */
class SimHash64Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val declarative =
    """aggregate(sequence(0, 63), 0L, (acc, b) -> acc + shiftleft(
      |  CASE WHEN aggregate(wh, 0L, (a2, h) -> a2 + (shiftright(h, b) & 1) * 2 - 1) > 0
      |  THEN 1L ELSE 0L END, b))""".stripMargin

  test("kernel == declarative formulation on the sf0.001 corpus") {
    GraftExtensions.install(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("ws", array_distinct(split(col("text"), " ")))
    val both = docs
      .withColumn("wh", expr("transform(ws, x -> xxhash64(x))"))
      .select(col("doc_id"),
        expr("simhash64(ws)").as("fast"),
        expr(declarative).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    // non-degenerate: signatures vary across the corpus
    assert(both.select(col("fast")).distinct().count() > 100)
  }

  test("null elements are skipped, not hashed as a phantom token") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("alpha", "beta")),
      (2L, Seq[String]("alpha", null, "beta")),
      (3L, Seq[String](null, null)))
      .toDF("id", "ws").withColumn("sig", expr("simhash64(ws)"))
    val sig = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // null-padded array == the same words without nulls; all-null == empty
    assert(sig(1L) == sig(2L))
    assert(sig(3L) == 0L)
  }

  test("empty and single-word arrays are well-defined") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq(Seq.empty[String], Seq("alpha"), Seq("alpha", "beta"))
      .toDF("ws").withColumn("sig", expr("simhash64(ws)"))
    val rows = df.collect().map(_.getLong(1))
    assert(rows(0) == 0L) // no words: every counter 0, no bit set
    assert(rows.distinct.length == 3)
  }
}
