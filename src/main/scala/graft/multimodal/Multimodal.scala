package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One media object: an opaque binary payload + typed metadata.
  *
  * The multimodal design for a 100 TB training-data pipeline: image/audio/
  * video travel as `binary` columns (parquet stores them page-compressed,
  * scans prune them unless selected) with a typed metadata map alongside.
  * Decode/feature-extraction runs batch-at-a-time inside `mapPartitions`, so
  * each task amortizes codec setup over its whole partition — the Scala
  * analogue of a batched pandas UDF.
  */
case class MediaRecord(
    doc_id: Long,
    media: Array[Byte],
    format: String,
    meta: Map[String, String])

/** Deterministic per-object features extracted from the decoded media. */
case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    n_frames: Long,
    width: Long,
    height: Long,
    format: String)

/** One sampled frame: payload slice + its index within the media object. */
case class FrameRecord(doc_id: Long, frame_no: Long, frame: Array[Byte])

object Multimodal {

  /** Header overhead prepended by [[toMedia]]: both synthesized container
    * formats are exactly 33 bytes before the payload (PNG: 8-byte
    * signature + 25-byte IHDR chunk; JPEG: SOI + 18-byte JFIF APP0 +
    * 13-byte SOF0), so the oracle's byte arithmetic is one constant. */
  val HeaderBytes = 33

  private def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Real container-format headers carrying the dimensions IN THE BYTES
    * (the decode side re-reads them with a genuine parser — see
    * [[parseDims]] — not a formula):
    *
    *  - `png`: the 8-byte PNG signature followed by a spec-shaped IHDR
    *    chunk (length=13, type, width/height as big-endian u32, bit depth
    *    8, color type 2 (truecolor), compression/filter/interlace 0). The
    *    chunk CRC is zeroed — this harness has no zlib CRC table and the
    *    parser (like most fast-path decoders) does not verify it.
    *  - `jpeg`: SOI, a spec-shaped JFIF APP0 segment (length 16,
    *    identifier "JFIF\0", version 1.1, no thumbnail), and an SOF0
    *    baseline frame header (length 11, precision 8, height/width as
    *    big-endian u16, one component) — dimensions live in SOF0, so the
    *    parser must WALK segments to find them, as a real decoder does.
    */
  def headerFor(format: String, width: Int, height: Int): Array[Byte] = format match {
    case "png" =>
      require(width > 0 && height > 0, "png dims must be positive")
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        be32(13) ++ "IHDR".getBytes("US-ASCII") ++
        be32(width) ++ be32(height) ++
        Array[Byte](8, 2, 0, 0, 0) ++
        be32(0) // CRC not computed (documented above)
    case "jpeg" =>
      require(width > 0 && height > 0 && width < 65536 && height < 65536,
        "jpeg dims must fit u16")
      Array[Byte](0xff.toByte, 0xd8.toByte) ++                 // SOI
        Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++   // APP0, len 16
        "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
        be16(1) ++ be16(1) ++ Array[Byte](0, 0) ++             // 1:1 density, no thumb
        Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++   // SOF0, len 11
        Array[Byte](8) ++ be16(height) ++ be16(width) ++
        Array[Byte](1, 1, 0x11, 0)                             // 1 component
    case other => throw new IllegalArgumentException(s"unknown media format: $other")
  }

  /** Pure-JVM dimension parse — the real byte-format logic a decode stage
    * runs before handing pixels to a codec. Format is SNIFFED from the
    * magic bytes, never trusted from metadata:
    *
    *  - PNG: verify the 8-byte signature, then walk chunks
    *    (length/type/data/crc) until IHDR and read width/height (BE u32).
    *  - JPEG: verify SOI, then walk marker segments (skipping by each
    *    segment's declared length, tolerating fill bytes) until a
    *    start-of-frame marker (SOF0-SOF15 minus DHT/JPG/DAC, as in the
    *    JPEG spec) and read height/width (BE u16) from its payload.
    *
    * Throws on malformed bytes — decode is the stage where a corrupt
    * object must surface, not flow on as zeros. */
  def parseDims(media: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int): Int = media(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long = (u16(i).toLong << 16) | u16(i + 2)
    val pngSig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
    if (media.length >= 8 && pngSig.indices.forall(i => u8(i) == pngSig(i))) {
      var off = 8 // walk chunks: u32 length, 4-byte type, data, u32 crc
      while (off + 8 <= media.length) {
        val len = u32(off)
        val ctype = new String(media, off + 4, 4, "US-ASCII")
        if (ctype == "IHDR") {
          require(len >= 8 && off + 16 <= media.length, "truncated IHDR")
          val (w, h) = (u32(off + 8), u32(off + 12))
          require(w > 0 && w <= Int.MaxValue && h > 0 && h <= Int.MaxValue,
            s"png: IHDR dimensions out of range ($w x $h)")
          return ("png", w.toInt, h.toInt)
        }
        // The untrusted u32 length must be bounds-checked BEFORE advancing:
        // len.toInt on a value >= 2^31 is zero/negative, which would walk
        // the offset backwards and loop forever on a corrupt chunk instead
        // of throwing (the documented contract for malformed bytes).
        if (len > media.length.toLong - off - 12)
          throw new IllegalArgumentException(
            s"png: chunk '$ctype' at $off claims $len bytes past end of buffer")
        off += 8 + len.toInt + 4
      }
      throw new IllegalArgumentException("png: no IHDR chunk")
    } else if (media.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8) {
      var off = 2 // walk segments: 0xff marker, u16 length (incl. itself)
      while (off + 4 <= media.length) {
        if (u8(off) != 0xff) throw new IllegalArgumentException(
          f"jpeg: expected marker at $off, got 0x${u8(off)}%02x")
        var m = u8(off + 1)
        var p = off + 1
        while (m == 0xff && p + 1 < media.length) { p += 1; m = u8(p) } // fill bytes
        val seg = p + 1
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          require(seg + 7 <= media.length, "truncated SOF")
          return ("jpeg", u16(seg + 5), u16(seg + 3))
        }
        off = seg + u16(seg)
      }
      throw new IllegalArgumentException("jpeg: no SOF marker")
    } else throw new IllegalArgumentException("unrecognized media magic bytes")
  }

  /** Wrap the documents table as media objects: the text payload stands in
    * for the entropy-coded body (this container has no pixel codecs), but
    * the CONTAINER is real — [[headerFor]] writes a spec-shaped PNG or
    * JPEG header (alternating by doc id) whose dimension fields the decode
    * side parses back out of the bytes. Metadata carries the typed sidecar
    * fields. Dimension values are a deterministic function of payload size
    * and doc id so the DuckDB oracle can replay them arithmetically while
    * Spark must earn them through the byte parse. */
  def toMedia(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars").cast("string"))
      .as[(Long, String, String, String, String)]
      .map { case (id, text, lang, source, nChars) =>
        val payload = text.getBytes("UTF-8")
        val fmt = if (id % 2 == 0) "png" else "jpeg"
        val w = 64 + (payload.length % 577)
        val h = (64 + (id * 31) % 417).toInt
        MediaRecord(id, headerFor(fmt, w, h) ++ payload, fmt,
          Map("lang" -> lang, "source" -> source, "n_chars" -> nChars))
      }
  }

  /** Decode one media object's features by parsing its real header bytes
    * ([[parseDims]]); sizes/frame counts derive from the full object. */
  def decode(r: MediaRecord): MediaFeatures = {
    val (fmt, w, h) = parseDims(r.media)
    val nBytes = r.media.length.toLong
    MediaFeatures(
      doc_id = r.doc_id,
      n_bytes = nBytes,
      n_frames = frameCount(nBytes),
      width = w.toLong,
      height = h.toLong,
      format = fmt)
  }

  /** Batch feature extraction: one decoder "session" per partition, streamed
    * over the partition's records (no per-row setup, no driver collect). */
  def extractFeatures(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // codec/session init would happen here, once per partition
      it.map(decode)
    }
  }

  /** Frame width of the stub codec: 1000 payload bytes per "frame". */
  val FrameBytes = 1000

  /** Ceil-divide frame count; an empty payload still counts as one (empty)
    * frame so every media object yields at least one row downstream, but an
    * exact-multiple payload no longer emits a spurious zero-length tail. */
  def frameCount(nBytes: Long): Long =
    math.max(1L, (nBytes + FrameBytes - 1) / FrameBytes)

  /** Sample every `every`-th frame of each media object as a real payload
    * slice. This is the video-frame-sampling shape: a flatMap generator that
    * multiplies rows WITHOUT shuffling — each task samples its own split's
    * objects, output row count is corpus-frames/every. A real deployment
    * replaces the byte-slice with a codec keyframe extraction; the slicing,
    * row explosion, and typed output encoder are the real plumbing. */
  def sampleFrames(media: Dataset[MediaRecord], every: Int)(
      implicit spark: SparkSession): Dataset[FrameRecord] = {
    require(every >= 1, "sampling stride must be >= 1")
    import spark.implicits._
    media.flatMap { r =>
      val nb = r.media.length
      val nFrames = frameCount(nb.toLong).toInt
      (0 until nFrames).iterator.filter(_ % every == 0).map { i =>
        val from = i * FrameBytes
        val until = math.min(from + FrameBytes, nb)
        FrameRecord(r.doc_id, i.toLong, java.util.Arrays.copyOfRange(r.media, from, until))
      }
    }
  }

  /** Kernel body of the `media_for` expression: the [[toMedia]] container
    * (format alternates by doc id, dims deterministic from payload size +
    * id) built straight from the raw inputs — no Row decode. */
  def mediaFor(docId: Long, text: UTF8String): Array[Byte] = {
    val payload = text.getBytes
    val fmt = if (docId % 2 == 0) "png" else "jpeg"
    val w = 64 + (payload.length % 577)
    val h = (64 + (docId * 31) % 417).toInt
    headerFor(fmt, w, h) ++ payload
  }

  /** Kernel body of the `media_dims` expression: [[parseDims]] + the
    * frame-count arithmetic as one struct row. */
  def dimsRow(media: Array[Byte]): InternalRow = {
    val (fmt, w, h) = parseDims(media)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(fmt), w.toLong, h.toLong,
      media.length.toLong, frameCount(media.length.toLong)))
  }

  /** STUB RESIZE — deterministic fake: truncate or zero-pad the payload to
    * `targetBytes` and record the new size in the metadata sidecar. A real
    * deployment does pixel resampling here (per-partition codec session);
    * the binary-column rewrite + metadata update is the real plumbing. */
  def resizeStub(media: Dataset[MediaRecord], targetBytes: Int)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    require(targetBytes >= 0, "target size must be non-negative")
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val out = java.util.Arrays.copyOf(r.media, targetBytes)
        r.copy(media = out, meta = r.meta + ("resized_bytes" -> targetBytes.toString))
      }
    }
  }
}

/** `media_for(doc_id, text) -> binary`: the canonical PNG/JPEG container
  * (the q159/q152 synthesis-kernel discipline for the image leg). */
case class MediaFor(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, StringType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "media_for"

  override def nullSafeEval(l: Any, r: Any): Any =
    Multimodal.mediaFor(l.asInstanceOf[Long], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.multimodal.Multimodal.mediaFor($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MediaFor =
    copy(left = newLeft, right = newRight)
}

/** `media_dims(bin) -> struct`: sniff + chunk/segment-walk the container
  * ([[Multimodal.parseDims]]) and return (format, width, height, n_bytes,
  * n_frames). */
case class MediaDims(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))
  override def prettyName: String = "media_dims"

  override def nullSafeEval(input: Any): Any =
    Multimodal.dimsRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.multimodal.Multimodal.dimsRow($x);")

  override protected def withNewChildInternal(newChild: Expression): MediaDims =
    copy(child = newChild)
}
