package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The continuous KMV sketch must be bit-identical to the BATCH
  * `kmv_sketch` aggregate over any stream prefix (exact twin parity,
  * not just estimate closeness), keep ≤ k state per group under a
  * duplicate flood, and compose: the overlap of two groups' final
  * emitted sketches must equal the q182 intersection rule computed on
  * the batch sketches. */
class StreamingKmvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val k = 16

  /** Batch reference: the kmv_sketch aggregate over all rows. */
  private def batchSketch(rows: Seq[(String, Long)]): Map[String, Seq[Long]] = {
    import spark.implicits._
    GraftExtensions.install(spark)
    rows.toDF("g", "h").groupBy(col("g"))
      .agg(expr(s"kmv_sketch(h, $k)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  private def runStream(batches: Seq[Seq[(String, Long)]]): Map[String, (Seq[Long], Long)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val last = scala.collection.mutable.Map.empty[String, (Seq[Long], Long)]
      val stream = MemoryStream[(String, Long)]
      val q = graft.streaming.StreamingKmv.sketches(stream.toDS(), k)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingKmv.Out], _: Long) =>
          df.collect().foreach(o => last(o.group) = (o.sketch.toSeq, o.estDistinct))
          ()
        }
        .start()
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      q.stop()
      last.toMap
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // deterministic 60-bit-ish hashes with heavy duplication on two groups
  private val rows = (0 until 400).map { i =>
    (if (i % 5 < 3) "a" else "b", ((i * 2654435761L) % 211 + 211) % 211 + 1L)
  }

  test("cumulative sketch equals the batch aggregate over any prefix") {
    val streamed = runStream(rows.grouped(90).toSeq)
    val expected = batchSketch(rows)
    assert(streamed.keySet == expected.keySet)
    for ((g, (sk, est)) <- streamed) {
      assert(sk == expected(g), s"group $g sketch diverged from batch")
      assert(sk.length <= k && sk == sk.sorted && sk.distinct == sk,
        s"group $g state not a bounded sorted distinct set")
      assert(est == graft.streaming.StreamingKmv.estimate(sk.toArray, k))
    }
  }

  test("overlap of emitted sketches matches the q182 intersection rule") {
    val streamed = runStream(rows.grouped(55).toSeq)
    val (a, b) = (streamed("a")._1.toArray, streamed("b")._1.toArray)
    val (inter, merged) = graft.streaming.StreamingKmv.overlap(a, b, k)
    // reference: the same rule on the batch sketches
    val ex = batchSketch(rows)
    val (exA, exB) = (ex("a").toArray, ex("b").toArray)
    val mergedRef = (exA.toSet ++ exB.toSet).toArray.sorted.take(k)
    val interRef = mergedRef.count(h => exA.contains(h) && exB.contains(h))
    assert(merged.toSeq == mergedRef.toSeq && inter == interRef)
    assert(inter > 0, "the shared-hash sample must be non-empty on overlapping groups")
  }

  test("estimate is exact below k and bounded state survives a duplicate flood") {
    // one group, 8 distinct values repeated 50x each across many batches
    val flood = (0 until 400).map(i => ("g", (i % 8) + 1L))
    val streamed = runStream(flood.grouped(40).toSeq)
    assert(streamed("g") == ((1L to 8L).toSeq, 8L))
  }
}
