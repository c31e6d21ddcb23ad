package graft

import graft.queries.DedupQueries
import org.scalatest.funsuite.AnyFunSuite

/** MinHash+LSH behavior on planted near-duplicates: the banded candidate
  * join must surface high-Jaccard pairs and the exact-Jaccard verify must
  * reject unrelated ones. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def doc(id: Long, text: String) = (id, text)

  test("minhashCandidates finds planted near-dups and skips unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps near the warm fire and the birds sing in the tall green trees " +
      "beside the quiet river that flows gently through the old stone village"
    val nearDup = base.replace("quiet river", "silent stream") // few shingles differ
    val unrelated = "completely different content about spark catalyst " +
      "optimizer rules and physical execution strategies with whole stage " +
      "codegen and adaptive query execution in distributed data processing"
    val docs = Seq(
      doc(1, base), doc(2, nearDup), doc(3, unrelated),
      doc(4, base) // exact dup of 1
    ).toDF("doc_id", "text")

    val pairs = DedupQueries.minhashCandidates(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair must be found")
    assert(pairs.contains((1L, 2L)), "near dup pair must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("minhash_bands equals banding the minhash_sig signature (fused == two-step)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq(
      (1L, Array("a b c", "b c d", "c d e")),
      (2L, Array("x y z", "y z w"))).toDF("id", "sh")
    val rows = df.selectExpr("minhash_sig(sh) AS sig", "minhash_bands(sh) AS bands")
      .collect()
    rows.foreach { r =>
      val sig = r.getSeq[Long](0)
      val bands = r.getSeq[Long](1)
      assert(bands.length == 8)
      val expected = (0 until 8).map { b =>
        (0 until 4).foldLeft(b.toLong) { (acc, j) =>
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(b * 4 + j), acc)
        }
      }
      assert(bands == expected, "fused band hashes must match banding the signature")
    }
  }

  test("minhash_sig is deterministic and shingle-order-independent on sets") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq(
      (1L, Array("a b c", "b c d", "c d e")),
      (2L, Array("c d e", "a b c", "b c d"))).toDF("id", "sh")
    val sigs = df.selectExpr("minhash_sig(sh) AS sig").collect()
      .map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1), "same shingle set => same signature")
    assert(sigs(0).length == 32)
  }

  test("q115 canonical dedup: partitions the corpus, agrees with q101, keeps a real member's quality") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = DedupQueries.queries("q115_canonical_dedup")(spark, dir)
    val rows = out.collect()
    val nDocs = graft.Tables.documents(spark, dir).count()
    // clusters partition the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // keep_ids are distinct, and the keeper cannot precede the cluster's
    // min-id label
    assert(rows.map(_.getAs[Long]("keep_id")).distinct.length == rows.length)
    assert(rows.forall(r => r.getAs[Long]("keep_id") >= r.getAs[Long]("cluster")))
    // census agrees with q101 (independent registration, same closure)
    val q101 = DedupQueries.queries("q101_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_docs"))).toMap
    assert(rows.map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_docs"))).toMap == q101)
    // keep_quality_ppm is the keeper's ACTUAL q33 quality, and beats (or
    // ties) the quality of the min-id representative q101 would keep
    val qual = graft.queries.TextQueries.queries("q33_quality_score")(spark, dir)
      .select(col("doc_id"), col("quality_ppm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_quality_ppm") == qual(r.getAs[Long]("keep_id")))
      assert(r.getAs[Long]("keep_quality_ppm") >= qual(r.getAs[Long]("cluster")))
    }
  }

  test("q122 incremental dedup equals a replay from q66's verified pair set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = DedupQueries.queries("q122_incremental_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // near layer replayed from the ORACLE-VERIFIED global q66 pair set
    // (different code path: global symmetric join vs q122's old×new join):
    // mixed pairs only — intra-batch (new×new) pairs must NOT mark a doc.
    val pairs = DedupQueries.queries("q66_minhash_lsh_verified")(spark, dir)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val mixed = pairs.flatMap { case (a, b) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (true, false) => Some(b -> a)   // (old, new) keyed by new
        case (false, true) => Some(a -> b)
        case _             => None
      }
    }.groupBy(_._2).map { case (nid, ps) => nid -> ps.map(_._1) }
    // exact layer replayed driver-side from md5(text)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> md5hex(r.getString(1)))
    val oldByFp = docs.filter(_._1 % 10 != 0).groupBy(_._2)
      .map { case (fp, ds) => fp -> ds.map(_._1).min }
    val newDocs = docs.filter(_._1 % 10 == 0)
    assert(out.size == newDocs.length)
    newDocs.foreach { case (id, fp) =>
      val exactId = oldByFp.get(fp)
      val near = mixed.get(id)
      val expected = (exactId, near) match {
        case (Some(e), n)    => ("dup_exact", e, n.map(_.size.toLong).getOrElse(0L))
        case (None, Some(n)) => ("dup_near", n.min, n.size.toLong)
        case (None, None)    => ("kept", -1L, 0L)
      }
      assert(out(id) == expected, s"doc $id")
    }
    // the batch must contain both survivors and at least one duplicate
    // verdict, or the scenario tests nothing
    assert(out.values.exists(_._1 == "kept") && out.values.exists(_._1 != "kept"))
  }
}
