package graft

import graft.multimodal.AviKernel
import org.scalatest.funsuite.AnyFunSuite

/** The AVI container must round-trip: index(aviFor(...)) recovers the
  * header fields and the exact per-frame byte accounting via the idx1
  * walk; malformed containers — truncation, bad magics, a lying RIFF
  * size, index/chunk size disagreement, offsets escaping 'movi' — must
  * throw, not decode to garbage (the parseWav/parseDims contract). */
class VideoSpec extends AnyFunSuite {

  private def scalarRef(id: Long, nChars: Long) = {
    val n = AviKernel.framesFor(nChars)
    val sizes = (0 until n).map(AviKernel.frameSize(id, _))
    (n.toLong, AviKernel.widthFor(id).toLong, AviKernel.heightFor(id).toLong,
      (0 until n).count(_ % 4 == 0).toLong,
      sizes.map(_.toLong).sum, sizes.max.toLong)
  }

  test("synthesize-parse roundtrip matches the scalar frame accounting") {
    for (id <- Seq(0L, 1L, 17L, 4999L); nChars <- Seq(0L, 255L, 256L, 512L, 10000L)) {
      val row = AviKernel.index(AviKernel.aviFor(id, nChars))
      val got = (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4), row.getLong(5))
      assert(got == scalarRef(id, nChars), s"id=$id nChars=$nChars")
    }
  }

  test("frame-count formula caps at 24 and floors at 1") {
    assert(AviKernel.framesFor(0L) == 1)
    assert(AviKernel.framesFor(255L) == 1)
    assert(AviKernel.framesFor(256L) == 2)
    assert(AviKernel.framesFor(1000000L) == 24)
  }

  test("malformed containers throw instead of decoding to zeros") {
    val good = AviKernel.aviFor(3L, 1000L)
    // truncation
    intercept[IllegalArgumentException](AviKernel.index(good.take(40)))
    // wrong outer magic
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](AviKernel.index(badMagic))
    // RIFF size lies about the container length
    val badRiff = good.clone(); badRiff(4) = (badRiff(4) + 1).toByte
    intercept[IllegalArgumentException](AviKernel.index(badRiff))
    // not an AVI form
    val badForm = good.clone(); badForm(8) = 'W'.toByte
    intercept[IllegalArgumentException](AviKernel.index(badForm))
  }

  test("index entries disagreeing with their movi chunks throw") {
    val good = AviKernel.aviFor(5L, 2000L)
    // find idx1 and corrupt the first entry's size field (+1) — the walk
    // must catch the disagreement with the frame chunk's own header
    val idx = {
      var p = -1
      for (i <- 0 until good.length - 4 if p < 0)
        if (good(i) == 'i' && good(i + 1) == 'd' && good(i + 2) == 'x' && good(i + 3) == '1') p = i
      p
    }
    assert(idx > 0, "idx1 not found in synthesized container")
    val badSize = good.clone()
    badSize(idx + 8 + 12) = (badSize(idx + 8 + 12) + 1).toByte
    intercept[IllegalArgumentException](AviKernel.index(badSize))
    // offset pointing outside movi
    val badOff = good.clone()
    badOff(idx + 8 + 8 + 3) = 0x7f.toByte // blow up the le32 offset's high byte
    intercept[IllegalArgumentException](AviKernel.index(badOff))
    // entry count disagreeing with avih dwTotalFrames: shrink idx1 by one
    // entry via its declared size
    val badCount = good.clone()
    val declared = (badCount(idx + 4) & 0xff) | ((badCount(idx + 5) & 0xff) << 8)
    val shrunk = declared - 16
    badCount(idx + 4) = (shrunk & 0xff).toByte
    badCount(idx + 5) = ((shrunk >> 8) & 0xff).toByte
    intercept[IllegalArgumentException](AviKernel.index(badCount))
  }

  test("the q159 expression pipeline equals the kernel on a local frame") {
    val spark = TestSpark.spark
    import spark.implicits._
    GraftExtensions.install(spark)
    val rows = Seq((7L, 300L), (8L, 0L), (9L, 7000L)).toDF("doc_id", "n_chars")
      .selectExpr("doc_id", "avi_index(avi_for(doc_id, n_chars)) AS f")
      .selectExpr("doc_id", "f.n_frames", "f.width", "f.height",
        "f.n_keyframes", "f.tot_frame_bytes", "f.max_frame_bytes")
      .collect()
    val nCharsFor = Map(7L -> 300L, 8L -> 0L, 9L -> 7000L)
    rows.foreach { r =>
      val ref = scalarRef(r.getLong(0), nCharsFor(r.getLong(0)))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == ref, s"doc ${r.getLong(0)}")
    }
  }
}
