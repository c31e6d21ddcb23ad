package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: frame sampling must slice the payload losslessly
  * and resize must produce exact-size payloads with updated metadata. */
class MultimodalSpec extends AnyFunSuite {
  private implicit lazy val spark: SparkSession = TestSpark.spark

  private def media() =
    Multimodal.toMedia(Tables.documents(spark, "/root/testdata/sf0.001"))

  test("sampleFrames(1) reassembles the original payload exactly") {
    val m = media()
    val frames = Multimodal.sampleFrames(m, every = 1).collect()
      .groupBy(_.doc_id)
    val originals = m.collect().map(r => r.doc_id -> r.media).toMap
    originals.foreach { case (id, bytes) =>
      val rebuilt = frames(id).sortBy(_.frame_no).flatMap(_.frame)
      assert(java.util.Arrays.equals(rebuilt, bytes), s"doc $id reassembly mismatch")
    }
  }

  test("sampleFrames(3) keeps exactly the frames with index % 3 == 0") {
    val sampled = Multimodal.sampleFrames(media(), every = 3).collect()
    assert(sampled.nonEmpty)
    assert(sampled.forall(_.frame_no % 3 == 0))
  }

  test("resizeStub pads/truncates to the exact target and tags metadata") {
    val resized = Multimodal.resizeStub(media(), targetBytes = 256).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(r.media.length == 256)
      assert(r.meta("resized_bytes") == "256")
    }
  }

  test("header round-trip: parseDims reads back exactly what headerFor wrote") {
    for ((fmt, w, h) <- Seq(("png", 1, 1), ("png", 640, 480), ("png", 65535, 3),
        ("jpeg", 1, 1), ("jpeg", 640, 480), ("jpeg", 65535, 65535))) {
      val bytes = Multimodal.headerFor(fmt, w, h) ++ Array.fill[Byte](10)('x')
      assert(Multimodal.parseDims(bytes) == ((fmt, w, h)), s"$fmt $w x $h")
    }
    // header size invariant the oracle arithmetic depends on
    assert(Multimodal.headerFor("png", 10, 10).length == Multimodal.HeaderBytes)
    assert(Multimodal.headerFor("jpeg", 10, 10).length == Multimodal.HeaderBytes)
  }

  test("parseDims walks real container structure, not fixed offsets") {
    // PNG: an extra chunk BEFORE IHDR must be walked over (chunk walk, not
    // a fixed-offset peek). 'tEXt' with 3 bytes of data.
    val png = Multimodal.headerFor("png", 123, 45)
    val spliced = png.take(8) ++
      Array[Byte](0, 0, 0, 3) ++ "tEXt".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3) ++ Array[Byte](0, 0, 0, 0) ++
      png.drop(8)
    assert(Multimodal.parseDims(spliced) == (("png", 123, 45)))
    // JPEG: an extra COM segment + a fill byte before SOF0 must be skipped
    val jpg = Multimodal.headerFor("jpeg", 77, 66)
    val (soiApp0, sof) = jpg.splitAt(20) // SOI(2) + APP0(18)
    val withCom = soiApp0 ++
      Array[Byte](0xff.toByte, 0xfe.toByte, 0, 4, 'h', 'i') ++ // COM, len 4
      Array[Byte](0xff.toByte) ++ sof.tail                      // fill byte + SOF
    assert(Multimodal.parseDims(withCom) == (("jpeg", 77, 66)))
    // garbage must throw, not decode to zeros
    intercept[IllegalArgumentException](Multimodal.parseDims("not media".getBytes))
    intercept[IllegalArgumentException](
      Multimodal.parseDims(jpg.take(20))) // JPEG with no SOF
  }

  test("corrupt png chunk length throws instead of looping forever") {
    val png = Multimodal.headerFor("png", 4, 4)
    // A chunk whose u32 length (0xFFFFFFF4) truncates to -12 as an Int:
    // unchecked, the offset increment is 8 + (-12) + 4 = 0 and the walk
    // re-reads the same chunk forever. Must throw, not hang.
    val evil = png.take(8) ++
      Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xf4.toByte) ++
      "AAAA".getBytes("US-ASCII") ++ Array.fill[Byte](8)(0)
    intercept[IllegalArgumentException](Multimodal.parseDims(evil))
    // IHDR width >= 2^31 must throw, not return a negative dimension
    val negDim = png.clone()
    negDim(16) = 0x80.toByte // width hi byte: 4 -> 0x80000004
    intercept[IllegalArgumentException](Multimodal.parseDims(negDim))
  }

  test("media_for/media_dims expressions equal the Dataset decode path") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val docs = Seq((2L, "even doc png"), (3L, "odd doc jpeg body"), (40L, ""))
      .toDF("doc_id", "text")
    val viaExpr = docs
      .selectExpr("doc_id", "media_dims(media_for(doc_id, text)) AS f")
      .selectExpr("doc_id", "f.format", "f.width", "f.height", "f.n_bytes", "f.n_frames")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
    val viaDs = Multimodal.extractFeatures(Multimodal.toMedia(
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("s"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")).cast("long"))))
      .collect().map(f => (f.doc_id, f.format, f.width, f.height, f.n_bytes, f.n_frames))
      .toSeq.sortBy(_._1)
    assert(viaExpr == viaDs)
  }
}
