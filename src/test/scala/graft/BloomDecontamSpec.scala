package graft

import graft.operators.BloomDecontam
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom pre-filter must be invisible in the result (no false
  * negatives, exact verify downstream) while actually pruning the train
  * side (a degenerate always-true filter would pass a correctness-only
  * check). */
class BloomDecontamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus(seed: Int): (Seq[(String, Long)], Seq[(String, Long)]) = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 400).map(i => s"sh$i")
    // train: 50 docs x ~30 shingles; eval: 4 docs, two of them planted
    // inside train docs (the contamination to find)
    val train = for {
      id <- 0L until 50L
      _ <- 0 until 30
    } yield (vocab(rng.nextInt(vocab.size)), id)
    val eval = (for {
      id <- 100L until 104L
      _ <- 0 until 10
    } yield (vocab(rng.nextInt(vocab.size)), id)) ++
      train.filter(_._2 == 7L).take(8).map { case (s, _) => (s, 100L) }
    (train.distinct, eval.distinct)
  }

  test("bloom-pruned pipeline == unfiltered pipeline across seeds") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val (tr, ev) = corpus(seed)
      val train = tr.toDF("shingle", "train_id")
      val eval = ev.toDF("shingle", "test_id")
      val exact = train.join(broadcast(eval), Seq("shingle"))
        .groupBy(col("train_id"), col("test_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = BloomDecontam
        .contaminatedPairs(train, eval, expectedItems = 4096, minShared = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exact, s"seed $seed: got ${got.size}, want ${exact.size}")
      assert(exact.nonEmpty, s"seed $seed: vacuous fixture")
    }
  }

  test("the filter prunes: disjoint train shingles mostly rejected") {
    import spark.implicits._
    // eval vocabulary disjoint from train ⇒ every bloom hit is a false
    // positive; at 3% fpp and 2000 train rows, passing rows must be rare
    val train = (0L until 2000L).map(i => (s"t$i", i)).toDF("shingle", "train_id")
    val eval = (0L until 200L).map(i => (s"e$i", i)).toDF("shingle", "test_id")
    GraftExtensions.install(spark)
    val bf = eval.agg(expr("bloom_filter_agg(xxhash64(shingle), 4096L)").as("bf"))
      .head().getAs[Array[Byte]](0)
    val b64 = java.util.Base64.getEncoder.encodeToString(bf)
    val passed = train.filter(
      expr(s"bloom_might_contain(unbase64('$b64'), xxhash64(shingle))")).count()
    assert(passed < 200, s"bloom passed $passed of 2000 disjoint shingles")
  }

  test("empty eval suite yields an empty result, not an NPE") {
    import spark.implicits._
    // bloom_filter_agg over zero rows evaluates to null; the operator must
    // return the schema-correct empty pair set (matching the unfiltered
    // q93 twin on the same data), not throw on the null filter bytes.
    val train = (0L until 100L).map(i => (s"t$i", i)).toDF("shingle", "train_id")
    val eval = Seq.empty[(String, Long)].toDF("shingle", "test_id")
    val got = BloomDecontam.contaminatedPairs(train, eval,
      expectedItems = 4096, minShared = 1)
    assert(got.columns.toSeq == Seq("train_id", "test_id", "n_shared"))
    assert(got.count() == 0)
  }
}
