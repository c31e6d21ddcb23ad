package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (builder brief + SURVEY.md §2b): documents
  * wrapped as binary media objects with typed metadata, decoded and
  * feature-extracted batch-at-a-time in mapPartitions. Each object carries
  * a REAL spec-shaped PNG or JPEG header (Multimodal.headerFor) whose
  * dimension fields the decode stage parses back out of the bytes
  * (Multimodal.parseDims — signature check + chunk/segment walk); only the
  * pixel body is stand-in text (no pixel codecs in this container). The
  * dimension VALUES are a deterministic function of payload size and doc
  * id, so the oracle replays them from octet_length(encode(text)) while
  * Spark must earn them through the byte parse.
  */
object MultimodalQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q63
  /** Image-container decode, since round 8 ALL-EXPRESSION like its audio
    * (q152) and video (q159) siblings: `media_dims(media_for(...))` builds
    * the real PNG/JPEG container and sniffs+walks it back in one
    * WholeStageCodegen projection — the Dataset/mapPartitions decode path
    * (Multimodal.extractFeatures) remains the API for callers that carry
    * the metadata sidecar (q64/q79). */
  private val q63: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("media_dims(media_for(doc_id, text))").as("f"))
      .select(col("doc_id"), col("f.n_bytes").as("n_bytes"),
        col("f.n_frames").as("n_frames"), col("f.width").as("width"),
        col("f.height").as("height"), col("f.format").as("format"))
      .orderBy(col("doc_id"))
  }

  // +33 = Multimodal.HeaderBytes (the real PNG/JPEG container header
  // prepended by toMedia). width/height replay arithmetically here, but
  // the Spark side must EARN them by parsing the header bytes — a broken
  // byte parse yields wrong dims and fails this hash compare.
  private val q63Sql =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) + 33 AS BIGINT) AS n_bytes,
      | CAST(greatest(1, (octet_length(encode(text)) + 33 + 999) // 1000) AS BIGINT) AS n_frames,
      | CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
      | CAST(64 + (doc_id * 31) % 417 AS BIGINT) AS height,
      | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Metadata-map handling: group media objects by a typed metadata key.
    * Exercises map-column access + aggregation over the binary payload size
    * without ever decoding — the "prune the blob, read the sidecar" path
    * that matters at 100 TB (parquet never materializes `media` here). */
  private val q64: Q = (s, d) => {
    implicit val spark: SparkSession = s
    Multimodal.toMedia(Tables.documents(s, d))
      .toDF()
      .select(col("meta")("lang").as("lang"), length(col("media")).cast("long").as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy(col("lang"))
  }

  private val q64Sql =
    """SELECT lang, COUNT(*) AS n_media,
      | CAST(SUM(octet_length(encode(text)) + 33) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Frame sampling (Multimodal.sampleFrames): every 3rd 1000-byte "frame"
    * of each media payload, as real binary slices via a flatMap generator —
    * row explosion without any shuffle. The aggregate then verifies both
    * the sampled-frame count and the exact sampled byte volume against the
    * oracle's arithmetic reconstruction. */
  private val q79: Q = (s, d) => {
    implicit val spark: SparkSession = s
    Multimodal.sampleFrames(Multimodal.toMedia(Tables.documents(s, d)), every = 3)
      .toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("frame"))).as("bytes_sampled"))
      .orderBy(col("doc_id"))
  }

  private val q79Sql =
    """WITH t AS (SELECT doc_id, CAST(octet_length(encode(text)) + 33 AS BIGINT) AS nb FROM documents),
      |f AS (SELECT doc_id, nb, UNNEST(range(greatest(1, (nb + 999) // 1000))) AS i FROM t)
      |SELECT doc_id,
      | CAST(COUNT(*) FILTER (WHERE i % 3 = 0) AS BIGINT) AS n_sampled,
      | CAST(SUM(CASE WHEN i % 3 = 0 THEN least(nb - i * 1000, 1000) ELSE 0 END) AS BIGINT) AS bytes_sampled
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Audio windowed-energy extraction (graft.multimodal.Audio): every
    * document wrapped as a REAL RIFF/WAVE PCM container, then decoded by
    * parsing the bytes — magics, format tag, little-endian sample rate,
    * data-chunk walk, s16le sample decode — and reduced to per-object
    * windowed |amplitude| features. Sample values are a deterministic
    * function of (doc_id, index), so the oracle replays the energy math
    * arithmetically while Spark must EARN it through the byte parse (a
    * wrong endianness or data offset fails this hash compare — the q63
    * contract, audio edition). Map-only, and since round 8 ALL-EXPRESSION
    * (`wav_energy(wav_for(...))` codegen kernels, the q159 discipline):
    * scan → one WholeStageCodegen projection → sort, no mapPartitions
    * encoder boundary anywhere in the plan. */
  private val q152: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"),
        expr("wav_energy(wav_for(doc_id, n_chars))").as("f"))
      .select(col("doc_id"), col("f.sample_rate").as("sample_rate"),
        col("f.n_samples").as("n_samples"), col("f.n_windows").as("n_windows"),
        col("f.tot_abs").as("tot_abs"), col("f.max_win_abs").as("max_win_abs"))
      .orderBy(col("doc_id"))
  }

  private val q152Sql =
    """WITH t AS (SELECT doc_id, n_chars AS n,
      |  8000 + (doc_id * 13) % 8001 AS sr FROM documents WHERE n_chars >= 1),
      |s AS (SELECT doc_id, n, UNNEST(range(n)) AS i FROM t),
      |v AS (SELECT doc_id, i // 64 AS w,
      |  ABS((doc_id * 31 + i * 7) % 65536 - 32768) AS a FROM s),
      |pw AS (SELECT doc_id, w, SUM(a) AS wa FROM v GROUP BY doc_id, w),
      |agg AS (SELECT doc_id, CAST(SUM(wa) AS BIGINT) AS tot_abs,
      |        CAST(MAX(wa) AS BIGINT) AS max_win_abs FROM pw GROUP BY doc_id)
      |SELECT t.doc_id, CAST(sr AS BIGINT) AS sample_rate,
      | CAST(n AS BIGINT) AS n_samples, CAST((n + 63) // 64 AS BIGINT) AS n_windows,
      | agg.tot_abs, agg.max_win_abs
      |FROM t JOIN agg ON agg.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Video container index walk (graft.multimodal.AviKernel): every
    * document becomes a REAL RIFF/AVI — 'avih' main header, 'movi' frame
    * chunks, trailing 'idx1' — and the feature row is EARNED by walking
    * the index: each 16-byte entry is followed back into 'movi' and
    * checked against that frame chunk's own fourcc and declared size
    * before its bytes count (a wrong list size, endianness, or offset
    * convention fails this hash compare; the oracle replays the
    * deterministic frame geometry arithmetically). Completes the
    * multimodal triad (image chunk walk, WAV sample decode, AVI index
    * walk). Unlike the earlier legs, synthesis AND parse are codegen
    * expressions, so the plan is scan → one WholeStageCodegen projection →
    * sort: no mapPartitions encoder boundary, nothing per-row but the
    * kernel call. */
  private val q159: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("avi_index(avi_for(doc_id, n_chars))").as("f"))
      .select(col("doc_id"),
        col("f.n_frames").as("n_frames"), col("f.width").as("width"),
        col("f.height").as("height"), col("f.n_keyframes").as("n_keyframes"),
        col("f.tot_frame_bytes").as("tot_frame_bytes"),
        col("f.max_frame_bytes").as("max_frame_bytes"))
      .orderBy(col("doc_id"))
  }

  private val q159Sql =
    """WITH t AS (SELECT doc_id, 1 + least(n_chars // 256, 23) AS n FROM documents),
      |f AS (SELECT doc_id, n, UNNEST(range(n)) AS i FROM t),
      |sz AS (SELECT doc_id, n, i, 64 + 2 * ((doc_id * 7 + i * 13) % 96) AS fs FROM f),
      |agg AS (SELECT doc_id,
      |        CAST(COUNT(*) FILTER (WHERE i % 4 = 0) AS BIGINT) AS n_keyframes,
      |        CAST(SUM(fs) AS BIGINT) AS tot_frame_bytes,
      |        CAST(MAX(fs) AS BIGINT) AS max_frame_bytes
      |        FROM sz GROUP BY doc_id)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_frames,
      | CAST(160 + (t.doc_id * 17) % 481 AS BIGINT) AS width,
      | CAST(120 + (t.doc_id * 13) % 241 AS BIGINT) AS height,
      | agg.n_keyframes, agg.tot_frame_bytes, agg.max_frame_bytes
      |FROM t JOIN agg ON agg.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q206
  /** Audio silence-run segmentation (VAD shape) — the SEGMENTATION leg
    * the audio family lacked: q152 measures energy, this finds the
    * quiet-run structure a curation pipeline keys on (trim leading
    * silence, drop mostly-silent clips, split on long pauses). Per
    * object: silent-sample count (|s16| < half scale), runs of ≥ 8
    * consecutive silent samples, the longest run, and the leading run
    * (the trim offset). Same q152/q63 contract: sample values are
    * deterministic in (doc_id, index), so the oracle replays the
    * run-length logic via gaps-and-islands SQL while the Spark side must
    * EARN the samples through the RIFF/s16le byte parse — then folds the
    * entire run census in ONE single-pass codegen kernel
    * (`wav_vad(wav_for(...))`: scan → one WholeStageCodegen projection →
    * sort, no per-sample explode, no window exchange — the oracle pays
    * the per-sample UNNEST + island window the kernel exists to avoid).
    * Map-only; one bounded feature row per object regardless of
    * duration. */
  private val q206: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"),
        expr("wav_vad(wav_for(doc_id, n_chars))").as("f"))
      .select(col("doc_id"), col("f.n_samples").as("n_samples"),
        col("f.n_silent").as("n_silent"), col("f.n_runs").as("n_runs"),
        col("f.max_run").as("max_run"), col("f.lead_run").as("lead_run"))
      .orderBy(col("doc_id"))
  }

  private val q206Sql =
    """WITH t AS (SELECT doc_id, n_chars AS n FROM documents WHERE n_chars >= 1),
      |s AS (SELECT doc_id, n, UNNEST(range(n)) AS i FROM t),
      |sil AS (SELECT doc_id, i,
      |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM s WHERE ABS((doc_id * 31 + i * 7) % 65536 - 32768) < 16384),
      |runs AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
      |    MIN(i) AS run_start
      |  FROM sil GROUP BY doc_id, grp),
      |agg AS (SELECT doc_id, SUM(len) AS n_silent,
      |    COUNT(CASE WHEN len >= 8 THEN 1 END) AS n_runs,
      |    MAX(len) AS max_run,
      |    COALESCE(MAX(CASE WHEN run_start = 0 THEN len END), 0) AS lead_run
      |  FROM runs GROUP BY doc_id)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_samples,
      |  CAST(COALESCE(agg.n_silent, 0) AS BIGINT) AS n_silent,
      |  CAST(COALESCE(agg.n_runs, 0) AS BIGINT) AS n_runs,
      |  CAST(COALESCE(agg.max_run, 0) AS BIGINT) AS max_run,
      |  CAST(COALESCE(agg.lead_run, 0) AS BIGINT) AS lead_run
      |FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q225
  /** REAL PNG pixel decode ([[graft.multimodal.Png]]) — the round-14
    * verdict's stretch item, closing the multimodal family's one
    * documented gap (container-walk, not codec): every document id is
    * synthesized into a SPEC-COMPLIANT PNG (real zlib-deflated IDAT
    * stream split across chunks, CRC32-framed, scanlines filtered with
    * all five PNG filter types — `javax.imageio.ImageIO` decodes these
    * bytes bit-for-bit, PngCodecSpec) and decoded back by the full
    * codec path: signature check, CRC-verified chunk walk, IDAT
    * concatenation, `java.util.zip.Inflater`, and per-row
    * None/Sub/Up/Average/Paeth reconstruction, reduced to exact
    * per-channel pixel sums. Pixel values are a deterministic function
    * of (doc_id, byte index), so the oracle replays the sums
    * arithmetically while Spark must EARN them through the byte path —
    * a wrong Paeth tie-break or a mis-framed IDAT boundary fails the
    * hash compare (the q63/q152 synthesis-kernel discipline).
    *
    * Multi-IDAT pinning, stated honestly (round-15 advisor finding —
    * the old scaladoc claimed the in-band column blocked single-chunk
    * shortcuts, which it does not): the ORACLE pins only n_idat ≥ 1 —
    * zlib output length is not SQL-replayable, and no raw-size bound can
    * force multi-chunk in-band either (deflate ratios are unbounded; a
    * round-16 corpus-wide probe found highly-compressible ramp images
    * past PngCodecSpec's 2048-raw-byte heuristic that legitimately fit
    * ONE 512-byte chunk). Multi-IDAT decode — chunk concatenation across
    * the 512-byte encoder split — is exercised and pinned by
    * PngCodecSpec on specific doc ids whose streams measurably span
    * chunks, plus both ImageIO cross-decodes. Map-only codegen; one
    * bounded row per image, pixels never shuffle. */
  private val q225: Q = (s, d) => {
    graft.GraftExtensions.install(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("png_pixel_sums(png_for(doc_id))").as("f"))
      .select(col("doc_id"), col("f.width").as("width"),
        col("f.height").as("height"),
        expr("CAST(f.n_idat >= 1 AS LONG)").as("multi_chunk_ok"),
        col("f.sum_r").as("sum_r"), col("f.sum_g").as("sum_g"),
        col("f.sum_b").as("sum_b"))
      .orderBy(col("doc_id"))
  }

  private val q225Sql =
    """WITH t AS (SELECT doc_id, CAST(8 + doc_id % 25 AS BIGINT) AS width,
      |    CAST(8 + (doc_id * 7) % 17 AS BIGINT) AS height FROM documents),
      |px AS (SELECT doc_id, width, height,
      |    UNNEST(range(width * height * 3)) AS i FROM t)
      |SELECT doc_id, width, height, CAST(1 AS BIGINT) AS multi_chunk_ok,
      |  CAST(SUM(CASE WHEN i % 3 = 0
      |    THEN (doc_id * 131 + i * 7) % 256 END) AS BIGINT) AS sum_r,
      |  CAST(SUM(CASE WHEN i % 3 = 1
      |    THEN (doc_id * 131 + i * 7) % 256 END) AS BIGINT) AS sum_g,
      |  CAST(SUM(CASE WHEN i % 3 = 2
      |    THEN (doc_id * 131 + i * 7) % 256 END) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q63_multimodal_features" -> q63,
    "q64_multimodal_meta_agg" -> q64,
    "q79_frame_sample" -> q79,
    "q152_audio_energy" -> q152,
    "q159_video_index_walk" -> q159,
    "q206_audio_vad" -> q206,
    "q225_png_pixel_decode" -> q225)

  val oracle: Map[String, String] = Map(
    "q63_multimodal_features" -> q63Sql,
    "q64_multimodal_meta_agg" -> q64Sql,
    "q79_frame_sample" -> q79Sql,
    "q152_audio_energy" -> q152Sql,
    "q159_video_index_walk" -> q159Sql,
    "q206_audio_vad" -> q206Sql,
    "q225_png_pixel_decode" -> q225Sql)
}
