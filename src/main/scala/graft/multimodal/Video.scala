package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Video leg of the multimodal column family — a REAL RIFF/AVI container
  * per document, completing the triad next to the PNG/JPEG chunk walk
  * ([[Multimodal.parseDims]]) and the WAV parse ([[Audio.parseWav]]) with
  * the same rigor: spec-shaped 'RIFF…AVI ' header, an 'hdrl' LIST whose
  * 56-byte 'avih' main header carries frame count and dimensions in the
  * bytes, a 'movi' LIST of '00dc' frame chunks, and a trailing 'idx1'
  * index whose 16-byte entries the parser WALKS — each entry's offset is
  * followed back into 'movi' and checked against that frame chunk's own
  * fourcc and declared size (genuine per-frame byte accounting, not a
  * formula), with malformed containers throwing rather than flowing on as
  * zeros.
  *
  * Unlike the earlier legs (Dataset + mapPartitions), both synthesis and
  * parse are CODEGEN EXPRESSIONS (`avi_for`, `avi_index`) — the kernel
  * discipline of norm_ascii applied to binary columns: the whole q159
  * pipeline is one WholeStageCodegen span with no encoder boundary.
  *
  * Frame geometry, count, and per-frame sizes are deterministic integer
  * functions of (doc_id, n_chars), so the DuckDB oracle replays the
  * accounting arithmetically while Spark must EARN it through the byte
  * walk — a wrong list size, a misread little-endian field, or an index
  * offset confusion fails the hash compare. Frame sizes are kept even so
  * no RIFF word-alignment pad bytes arise (documented simplification; the
  * parser still never assumes it — sizes are read, not derived).
  */
object AviKernel {
  /** Deterministic container parameters (both engines replay these). */
  def framesFor(nChars: Long): Int = (1L + math.min(nChars / 256L, 23L)).toInt
  def widthFor(docId: Long): Int = (160L + (docId * 17L) % 481L).toInt
  def heightFor(docId: Long): Int = (120L + (docId * 13L) % 241L).toInt
  def frameSize(docId: Long, i: Int): Int = (64L + 2L * ((docId * 7L + i * 13L) % 96L)).toInt

  private def le32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }
  private def fourcc(b: java.io.ByteArrayOutputStream, s: String): Unit =
    b.write(s.getBytes("US-ASCII"))

  /** Synthesize the canonical AVI for one document. */
  def aviFor(docId: Long, nChars: Long): Array[Byte] = {
    require(nChars >= 0, s"doc $docId: negative n_chars $nChars")
    val n = framesFor(nChars)
    val sizes = Array.tabulate(n)(frameSize(docId, _))
    val moviData = 4 + sizes.map(_ + 8).sum            // 'movi' + frame chunks
    val hdrlData = 4 + 8 + 56                          // 'hdrl' + avih chunk
    val idx1Data = 16 * n
    val riffData = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idx1Data)
    val b = new java.io.ByteArrayOutputStream(8 + riffData)
    fourcc(b, "RIFF"); le32(b, riffData); fourcc(b, "AVI ")
    // hdrl LIST: avih main header (14 le32 fields, 56 bytes)
    fourcc(b, "LIST"); le32(b, hdrlData); fourcc(b, "hdrl")
    fourcc(b, "avih"); le32(b, 56)
    le32(b, 33333L)                 // dwMicroSecPerFrame (~30 fps)
    le32(b, 0L); le32(b, 0L)        // dwMaxBytesPerSec, dwPaddingGranularity
    le32(b, 0x10L)                  // dwFlags: AVIF_HASINDEX
    le32(b, n.toLong)               // dwTotalFrames
    le32(b, 0L); le32(b, 1L); le32(b, 0L) // initialFrames, streams, bufSize
    le32(b, widthFor(docId).toLong); le32(b, heightFor(docId).toLong)
    le32(b, 0L); le32(b, 0L); le32(b, 0L); le32(b, 0L) // dwReserved[4]
    // movi LIST: '00dc' frame chunks; deterministic filler bytes
    fourcc(b, "LIST"); le32(b, moviData); fourcc(b, "movi")
    var i = 0
    while (i < n) {
      fourcc(b, "00dc"); le32(b, sizes(i).toLong)
      var j = 0
      while (j < sizes(i)) { b.write(((docId * 31 + i * 7 + j) % 251).toInt); j += 1 }
      i += 1
    }
    // idx1: ckid / dwFlags / dwChunkOffset (from the 'movi' fourcc) / size
    fourcc(b, "idx1"); le32(b, idx1Data)
    var off = 4L
    i = 0
    while (i < n) {
      fourcc(b, "00dc")
      le32(b, if (i % 4 == 0) 0x10L else 0L) // AVIIF_KEYFRAME every 4th
      le32(b, off); le32(b, sizes(i).toLong)
      off += 8L + sizes(i)
      i += 1
    }
    b.toByteArray
  }

  /** Parse + index-walk: returns (n_frames, width, height, n_keyframes,
    * tot_frame_bytes, max_frame_bytes) as an InternalRow. Throws on any
    * malformed container. */
  def index(a: Array[Byte]): InternalRow = {
    def u8(i: Int): Int = a(i) & 0xff
    def u32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def cc(i: Int): String = new String(a, i, 4, "US-ASCII")
    require(a.length >= 12, s"truncated container: ${a.length} bytes")
    require(cc(0) == "RIFF" && cc(8) == "AVI ", "not a RIFF/AVI container")
    require(u32(4) == a.length - 8L,
      s"RIFF size ${u32(4)} != container ${a.length - 8}")
    var nFrames = -1L; var width = -1L; var height = -1L
    var moviPos = -1; var moviEnd = -1
    var idx1Pos = -1; var idx1Count = -1
    var off = 12
    while (off + 8 <= a.length) {
      val id = cc(off)
      val sz = u32(off + 4)
      require(sz <= a.length.toLong - off - 8,
        s"chunk '$id' at $off claims $sz bytes past end of buffer")
      if (id == "LIST") {
        require(sz >= 4, s"LIST at $off too small for a type fourcc")
        cc(off + 8) match {
          case "hdrl" =>
            // walk hdrl children for the avih main header
            var p = off + 12
            val end = off + 8 + sz.toInt
            while (p + 8 <= end && nFrames < 0) {
              val cid = cc(p); val csz = u32(p + 4)
              require(csz <= end.toLong - p - 8, s"hdrl child '$cid' overruns list")
              if (cid == "avih") {
                require(csz == 56, s"avih cb $csz != 56")
                nFrames = u32(p + 8 + 16)
                width = u32(p + 8 + 32); height = u32(p + 8 + 36)
                require(nFrames >= 1 && width >= 1 && height >= 1,
                  s"avih fields out of range ($nFrames frames, ${width}x$height)")
              }
              p += 8 + csz.toInt
            }
          case "movi" => moviPos = off + 8; moviEnd = off + 8 + sz.toInt
          case _      => () // other lists (strl…) skipped, not required here
        }
      } else if (id == "idx1") {
        require(sz % 16 == 0, s"idx1 size $sz not a multiple of 16")
        idx1Pos = off + 8; idx1Count = (sz / 16).toInt
      }
      off += 8 + sz.toInt
    }
    require(nFrames >= 0, "missing avih header")
    require(moviPos >= 0, "missing movi list")
    require(idx1Pos >= 0, "missing idx1 index")
    require(idx1Count.toLong == nFrames,
      s"idx1 has $idx1Count entries for $nFrames declared frames")
    // Walk the index: every entry resolved back into movi and checked
    // against the frame chunk's own header — the per-frame accounting.
    var tot = 0L; var maxB = 0L; var nKey = 0L
    var i = 0
    while (i < idx1Count) {
      val e = idx1Pos + 16 * i
      require(cc(e) == "00dc", s"idx1 entry $i: unexpected ckid '${cc(e)}'")
      val flags = u32(e + 4); val rel = u32(e + 8); val esz = u32(e + 12)
      val cp = moviPos + rel
      require(rel >= 4 && cp + 8 <= moviEnd,
        s"idx1 entry $i points outside movi (offset $rel)")
      val cpI = cp.toInt
      require(cc(cpI) == "00dc", s"frame $i: chunk fourcc '${cc(cpI)}'")
      require(u32(cpI + 4) == esz,
        s"frame $i: index size $esz != chunk size ${u32(cpI + 4)}")
      require(cpI + 8 + esz <= moviEnd, s"frame $i overruns movi list")
      tot += esz
      if (esz > maxB) maxB = esz
      if ((flags & 0x10L) != 0) nKey += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](nFrames, width, height, nKey, tot, maxB))
  }
}

/** `avi_for(doc_id, n_chars) -> binary`: the canonical AVI container. */
case class AviFor(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_for"

  override def nullSafeEval(l: Any, r: Any): Any =
    AviKernel.aviFor(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.multimodal.AviKernel.aviFor($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviFor =
    copy(left = newLeft, right = newRight)
}

/** `avi_index(bin) -> struct`: parse + index-walk features. */
case class AviIndex(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_keyframes", LongType, nullable = false),
    StructField("tot_frame_bytes", LongType, nullable = false),
    StructField("max_frame_bytes", LongType, nullable = false)))
  override def prettyName: String = "avi_index"

  override def nullSafeEval(input: Any): Any =
    AviKernel.index(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.multimodal.AviKernel.index($x);")

  override protected def withNewChildInternal(newChild: Expression): AviIndex =
    copy(child = newChild)
}
