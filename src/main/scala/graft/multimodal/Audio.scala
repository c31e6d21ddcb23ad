package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One audio object: a REAL RIFF/WAVE container (canonical 44-byte PCM
  * header + s16le samples) carried as an opaque binary column. */
case class AudioRecord(doc_id: Long, wav: Array[Byte])

/** Features the decode stage EARNS by parsing the container bytes. */
case class AudioFeatures(doc_id: Long, sample_rate: Long, n_samples: Long,
    n_windows: Long, tot_abs: Long, max_win_abs: Long)

/** Audio leg of the multimodal column family (brief: image/audio/video as
  * opaque binary + typed metadata): every document becomes a WAV object
  * whose header fields — 'RIFF'/'WAVE'/'fmt ' magics, PCM format tag,
  * channel count, little-endian sample rate, 'data' chunk length — are
  * written and then parsed back out of the bytes by [[parseWav]] (a
  * genuine signature check + field decode; malformed containers throw,
  * they do not flow on as zeros — the [[Multimodal.parseDims]] contract).
  *
  * The SAMPLE VALUES are a deterministic function of (doc_id, index)
  * (`sampleAt`), so the DuckDB oracle replays the windowed-energy math
  * arithmetically while the Spark side must earn it through the s16le
  * byte decode — a wrong endianness or a misplaced data offset fails the
  * hash compare. (No audio codecs exist in this container, so PCM
  * synthesis IS the honest stand-in; the parse/window/aggregate plumbing
  * — batch iteration, schema, shuffle-free explosion — is the real
  * deliverable, per the multimodal stubbing mandate.)
  *
  * Scale shape: map-only synthesis and decode (mapPartitions batch at a
  * time, no shuffle); windowed energy folds inside the per-object loop so
  * the operator emits one bounded feature row per object regardless of
  * duration. */
object Audio {
  /** Samples per analysis window (fixed, both engines). */
  val WindowSamples = 64

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Deterministic per-object sample rate, 8000..16000 Hz. */
  def sampleRateFor(docId: Long): Int = (8000L + (docId * 13) % 8001L).toInt

  /** Deterministic s16 sample value at index i. */
  def sampleAt(docId: Long, i: Long): Int =
    ((docId * 31 + i * 7) % 65536L - 32768L).toInt

  /** Canonical 44-byte PCM WAV container with n s16le mono samples. */
  def wavFor(docId: Long, nSamples: Int): Array[Byte] = {
    // dataBytes = nSamples * 2 in Int: reject sizes that would wrap to a
    // negative count and surface later as a confusing parseWav overrun
    // (the Multimodal.scala explicit len.toInt overflow-handling contract).
    require(nSamples >= 0 && nSamples <= (Int.MaxValue - 44) / 2,
      s"audio object too large: $nSamples samples overflows the container size")
    val sr = sampleRateFor(docId)
    val dataBytes = nSamples * 2
    val b = new java.io.ByteArrayOutputStream(44 + dataBytes)
    b.write("RIFF".getBytes("US-ASCII")); b.write(le32(36L + dataBytes))
    b.write("WAVE".getBytes("US-ASCII"))
    b.write("fmt ".getBytes("US-ASCII")); b.write(le32(16L))
    b.write(le16(1)) // PCM
    b.write(le16(1)) // mono
    b.write(le32(sr.toLong))
    b.write(le32(sr.toLong * 2)) // byte rate = sr * channels * 16/8
    b.write(le16(2)) // block align
    b.write(le16(16)) // bits per sample
    b.write("data".getBytes("US-ASCII")); b.write(le32(dataBytes.toLong))
    var i = 0L
    while (i < nSamples) { b.write(le16(sampleAt(docId, i) & 0xffff)); i += 1 }
    b.toByteArray
  }

  /** Parse a canonical PCM WAV: verify magics and format fields, return
    * (sampleRate, samples). Throws on any malformed container. */
  def parseWav(wav: Array[Byte]): (Int, Array[Int]) = {
    def u8(i: Int): Int = wav(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    def ascii(i: Int, n: Int): String = new String(wav, i, n, "US-ASCII")
    require(wav.length >= 44, s"truncated container: ${wav.length} bytes")
    require(ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE",
      "not a RIFF/WAVE container")
    require(ascii(12, 4) == "fmt " && u32(16) == 16, "missing canonical fmt chunk")
    require(u16(20) == 1, s"not PCM: format tag ${u16(20)}")
    require(u16(22) == 1, s"not mono: ${u16(22)} channels")
    require(u16(34) == 16, s"not s16: ${u16(34)} bits")
    val sr = u32(24).toInt
    require(ascii(36, 4) == "data", "missing data chunk at canonical offset")
    val dataBytes = u32(40)
    require(44 + dataBytes <= wav.length, "data chunk overruns container")
    val n = (dataBytes / 2).toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val raw = u16(44 + 2 * i)
      out(i) = if (raw >= 0x8000) raw - 0x10000 else raw // s16le
      i += 1
    }
    (sr, out)
  }

  /** Wrap every document as an audio object: one sample per text char. */
  def toAudio(docs: DataFrame)(implicit spark: SparkSession): Dataset[AudioRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars"))
      .filter(col("n_chars") >= 1)
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, n) => AudioRecord(id, wavForL(id, n)) })
  }

  /** Long-armed synthesis guard shared by [[toAudio]] and the `wav_for`
    * expression: validate BEFORE the silent toInt truncation. */
  def wavForL(docId: Long, nChars: Long): Array[Byte] = {
    require(nChars >= 1 && nChars <= (Int.MaxValue - 44) / 2,
      s"doc $docId: $nChars chars outside the single-object WAV capacity")
    wavFor(docId, nChars.toInt)
  }

  /** Decode + windowed-energy fold as ONE kernel call (parse the container,
    * fold |amplitude| per WindowSamples window) — the body of the
    * `wav_energy` codegen expression; returns the feature struct as an
    * InternalRow. */
  def energy(wav: Array[Byte]): InternalRow = {
    val (sr, samples) = parseWav(wav)
    var tot = 0L; var winAbs = 0L; var maxWin = 0L
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i).toLong)
      tot += a; winAbs += a
      if ((i + 1) % WindowSamples == 0 || i == samples.length - 1) {
        if (winAbs > maxWin) maxWin = winAbs
        winAbs = 0L
      }
      i += 1
    }
    val nw = (samples.length + WindowSamples - 1) / WindowSamples
    new GenericInternalRow(Array[Any](
      sr.toLong, samples.length.toLong, nw.toLong, tot, maxWin))
  }

  /** |amplitude| below this counts as silence for [[vad]] (half of full
    * scale — the synthetic signal is uniform, so ~half the samples are
    * "silent" and minRun-length runs occur at a testable ~1/2^minRun
    * rate; a real deployment tunes this to the noise floor). */
  val VadThreshold = 16384
  /** Minimum consecutive silent samples to count as a run. */
  val VadMinRun = 8

  /** Decode + silence-run segmentation (voice-activity-detection shape)
    * as ONE kernel call — the body of the `wav_vad` codegen expression:
    * single pass over the decoded samples tracking |a| < VadThreshold
    * run lengths; emits per-object run census (the trim-silence /
    * segment-boundary features an audio curation pipeline keys on).
    * Returns (n_samples, n_silent, n_runs, max_run, lead_run). */
  def vad(wav: Array[Byte]): InternalRow = {
    val (_, samples) = parseWav(wav)
    var nSilent = 0L; var nRuns = 0L; var maxRun = 0L; var leadRun = 0L
    var run = 0L
    var i = 0
    def closeRun(endExclusive: Int): Unit = {
      if (run >= VadMinRun) nRuns += 1
      if (run > maxRun) maxRun = run
      if (run > 0 && endExclusive.toLong == run) leadRun = run // run started at 0
      run = 0L
    }
    while (i < samples.length) {
      if (math.abs(samples(i)) < VadThreshold) { nSilent += 1; run += 1 }
      else closeRun(i)
      i += 1
    }
    closeRun(samples.length)
    new GenericInternalRow(Array[Any](
      samples.length.toLong, nSilent, nRuns, maxRun, leadRun))
  }

  /** Decode + windowed energy: per object, total |amplitude| and the
    * hottest WindowSamples-sample window's |amplitude| mass. Implemented
    * over the `wav_energy` codegen expression (round-8 conversion from
    * mapPartitions — the advisor-flagged encoder boundary: the
    * deserialize-whole-row cost before the parse is gone; only the typed
    * output encoder remains for callers who want Dataset[AudioFeatures]).
    * The all-expression hot path is q152's direct
    * `wav_energy(wav_for(...))` projection. */
  def features(audio: Dataset[AudioRecord])(
      implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    audio.toDF()
      .select(col("doc_id"), expr("wav_energy(wav)").as("f"))
      .select(col("doc_id"), col("f.sample_rate").as("sample_rate"),
        col("f.n_samples").as("n_samples"), col("f.n_windows").as("n_windows"),
        col("f.tot_abs").as("tot_abs"), col("f.max_win_abs").as("max_win_abs"))
      .as[AudioFeatures]
  }
}

/** `wav_for(doc_id, n_chars) -> binary`: the canonical PCM WAV container
  * (one s16le sample per text char). */
case class WavFor(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_for"

  override def nullSafeEval(l: Any, r: Any): Any =
    Audio.wavForL(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.multimodal.Audio.wavForL($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WavFor =
    copy(left = newLeft, right = newRight)
}

/** `wav_energy(bin) -> struct`: container parse + windowed-energy fold. */
case class WavEnergy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("n_windows", LongType, nullable = false),
    StructField("tot_abs", LongType, nullable = false),
    StructField("max_win_abs", LongType, nullable = false)))
  override def prettyName: String = "wav_energy"

  override def nullSafeEval(input: Any): Any =
    Audio.energy(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.multimodal.Audio.energy($x);")

  override protected def withNewChildInternal(newChild: Expression): WavEnergy =
    copy(child = newChild)
}

/** `wav_vad(bin) -> struct`: container parse + silence-run segmentation. */
case class WavVad(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("n_silent", LongType, nullable = false),
    StructField("n_runs", LongType, nullable = false),
    StructField("max_run", LongType, nullable = false),
    StructField("lead_run", LongType, nullable = false)))
  override def prettyName: String = "wav_vad"

  override def nullSafeEval(input: Any): Any =
    Audio.vad(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.multimodal.Audio.vad($x);")

  override protected def withNewChildInternal(newChild: Expression): WavVad =
    copy(child = newChild)
}
