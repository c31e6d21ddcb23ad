package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One LSH bucket's resident document: the first arrival owns the bucket. */
case class BucketDoc(doc_id: Long, shingles: Array[String])

/** A (band, hash) bucket key + the arriving document's payload. */
case class BandedDoc(band_id: Int, band_hash: Long, doc_id: Long, shingles: Array[String])

/** [[BandedDoc]] plus the document's event time, for the TTL variant. */
case class BandedDocTs(band_id: Int, band_hash: Long, doc_id: Long,
    shingles: Array[String], ts: java.sql.Timestamp)

/** An emitted suppression: `doc_id` is a near-duplicate of `dup_of`. */
case class NearDup(doc_id: Long, dup_of: Long, jaccard: Double)

/** Cross-batch near-duplicate suppression for CONTINUOUS ingestion — the
  * streaming twin of the batch MinHash-LSH dedup (q37/q66): documents
  * arriving over many micro-batches are checked against everything seen so
  * far, without ever joining against the full history.
  *
  * Shape: per-document codegen `minhash_bands` signature → explode to
  * (band, hash) bucket keys → `flatMapGroupsWithState` keyed on the
  * bucket. Each bucket's state holds the FIRST resident document (id +
  * shingle set); later arrivals verify exact Jaccard against the resident
  * in-state and emit a [[NearDup]] when ≥ threshold. A pair colliding in
  * several bands emits once per band — dedup downstream with
  * `dropDuplicates("doc_id", "dup_of")` (stateless within a batch) or
  * `dropDuplicatesWithinWatermark` across batches.
  *
  * 100 TB posture: state is per-bucket and holds ONE resident document
  * (the canonical copy), so state size tracks bucket count, not corpus
  * size — the same reason the batch formulation shuffles only (band,
  * hash). For CONTINUOUS ingest even bucket count grows without bound,
  * so [[detectWithTtl]] bounds bucket lifetime with an event-time state
  * timeout: a bucket untouched for `ttl` is evicted when the watermark
  * passes, and the next arrival becomes the new resident. Pair with the
  * RocksDB state store provider for large live-state working sets;
  * verification cost per arrival is one merge over two sorted shingle
  * arrays either way.
  */
object StreamingNearDup {

  /** Sorted-merge overlap — same algorithm as the codegen
    * [[graft.functions.SortedOverlap]] kernel, here on JVM objects because
    * it runs inside the state function, not in a query plan. */
  private def overlap(a: Array[String], b: Array[String]): Int = {
    var i = 0; var j = 0; var ovl = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { ovl += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    ovl
  }

  /** Verify `arrivals` (already sorted by doc_id so the resident choice is
    * deterministic) against the bucket's resident, seating the first
    * arrival when the bucket is empty. Shared by both timeout modes. */
  private def processArrivals(threshold: Double,
      arrivals: Seq[(Long, Array[String])],
      state: GroupState[BucketDoc]): Iterator[NearDup] = {
    val out = Seq.newBuilder[NearDup]
    var resident = state.getOption
    arrivals.foreach { case (docId, shingles) =>
      resident match {
        case None =>
          resident = Some(BucketDoc(docId, shingles))
          state.update(resident.get)
        case Some(r) if r.doc_id != docId =>
          val ovl = overlap(r.shingles, shingles)
          val union = r.shingles.length + shingles.length - ovl
          val j = if (union == 0) 0.0 else ovl.toDouble / union
          if (j >= threshold) out += NearDup(docId, r.doc_id, j)
        case _ => () // replayed resident, ignore
      }
    }
    out.result().iterator
  }

  private def bucketFn(threshold: Double)(
      key: (Int, Long), rows: Iterator[BandedDoc],
      state: GroupState[BucketDoc]): Iterator[NearDup] = {
    // arrival order within a batch is not guaranteed — process
    // deterministically by doc_id so the resident is stable
    val arrivals = rows.toSeq.sortBy(_.doc_id)
    processArrivals(threshold, arrivals.map(d => (d.doc_id, d.shingles)), state)
  }

  /** TTL variant: an expired bucket is evicted (emitting nothing) and the
    * next arrival re-seats it; any arrival refreshes the bucket's lease
    * (`last touch + ttl`, in event time — deterministic under replay,
    * unlike a wall-clock lease). The timeout timestamp is clamped above
    * the current watermark because Spark rejects a lease already in the
    * past — a late batch still gets a minimal forward lease. */
  private def bucketFnTtl(threshold: Double, ttlMs: Long)(
      key: (Int, Long), rows: Iterator[BandedDocTs],
      state: GroupState[BucketDoc]): Iterator[NearDup] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val arrivals = rows.toSeq.sortBy(_.doc_id)
      val out = processArrivals(threshold, arrivals.map(d => (d.doc_id, d.shingles)), state)
      if (state.exists) {
        val lastTouch = arrivals.map(_.ts.getTime).max
        state.setTimeoutTimestamp(
          math.max(lastTouch + ttlMs, state.getCurrentWatermarkMs() + 1))
      }
      out
    }
  }

  /** Wire the detector onto a (streaming or batch) DataFrame with
    * `doc_id: bigint` and `text: string` columns. */
  def detect(docs: DataFrame, threshold: Double): Dataset[NearDup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    val banded = docs
      .withColumn("sh", expr("word_shingles(text, 3)"))
      .filter(size(col("sh")) > 0)
      .withColumn("sh", sort_array(array_distinct(col("sh"))))
      .select(col("doc_id"),
        posexplode(expr("minhash_bands(sh)")).as(Seq("band_id", "band_hash")),
        col("sh").as("shingles"))
      .select(col("band_id"), col("band_hash"), col("doc_id"), col("shingles"))
      .as[BandedDoc]
    banded
      .groupByKey(b => (b.band_id, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        bucketFn(threshold))
  }

  /** [[detect]] with BOUNDED state: buckets untouched for `ttlMs` of event
    * time are evicted once the watermark passes their lease, so live state
    * tracks the ttl-window's bucket count instead of all-time ingest.
    * `docs` must carry an event-time column `tsCol`; `watermarkDelay` is
    * the usual lateness bound (e.g. "10 seconds"). A duplicate arriving
    * after its resident's bucket expired is NOT suppressed — it becomes
    * the new resident, which is the deliberate trade: at 100 TB of
    * continuous ingest, unbounded suppression memory is the scale killer
    * (VERDICT r5), and near-dup suppression within a sliding horizon is
    * the semantics production dedup-at-ingest actually wants.
    *
    * Late-data caveat: rows at or below the CURRENT watermark are dropped
    * by Spark before they reach the state function (the standard stateful-
    * operator contract) — and the initial watermark is 0, so event times
    * at the epoch itself never enter. */
  def detectWithTtl(docs: DataFrame, threshold: Double, tsCol: String,
      watermarkDelay: String, ttlMs: Long): Dataset[NearDup] = {
    require(ttlMs > 0, "ttl must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    val banded = docs
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("sh", expr("word_shingles(text, 3)"))
      .filter(size(col("sh")) > 0)
      .withColumn("sh", sort_array(array_distinct(col("sh"))))
      .select(col("doc_id"),
        posexplode(expr("minhash_bands(sh)")).as(Seq("band_id", "band_hash")),
        col("sh").as("shingles"), col(tsCol).as("ts"))
      .select(col("band_id"), col("band_hash"), col("doc_id"),
        col("shingles"), col("ts"))
      .as[BandedDocTs]
    banded
      .groupByKey(b => (b.band_id, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        bucketFnTtl(threshold, ttlMs))
  }
}
