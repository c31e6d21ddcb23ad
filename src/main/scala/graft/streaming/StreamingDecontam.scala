package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming benchmark DECONTAMINATION — the continuous-ingestion twin of
  * the batch q93: documents arriving over micro-batches are checked for
  * verbatim shingle overlap against a STATIC held-out evaluation set, so
  * contaminated training documents are flagged at ingest time instead of
  * in a full-corpus sweep later.
  *
  * Shape: the eval suite is prepared ONCE as a (shingle, test_id) table —
  * it is small by nature, so the stream side joins it broadcast (Spark
  * plans a stream-static join, re-broadcast per micro-batch). Arriving
  * documents explode to shingles, join, and aggregate WITHIN the document
  * (the per-batch groupBy key is (doc_id, test_id) — bounded by the batch,
  * no cross-batch state needed because contamination is a per-document
  * fact, unlike near-dup suppression which must remember history).
  *
  * 100 TB posture: per-batch work is one codegen shingle projection + a
  * broadcast join; no shuffle of the stream side, no state store. The
  * boilerplate df-filter runs on the EVAL side at prepare time (dropping
  * shingles common across eval docs); production would additionally drop
  * corpus-boilerplate shingles via a precomputed static blocklist —
  * another broadcast — which q93 demonstrates in batch form.
  */
object StreamingDecontam {

  /** Eval suite → its informative (shingle, test_id) pairs. `maxDf` drops
    * shingles shared by more than `maxDf` eval documents (boilerplate). */
  def prepareEval(evalDocs: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 50): DataFrame = {
    graft.GraftExtensions.install(evalDocs.sparkSession)
    val sh = evalDocs
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol).as("test_id"),
        explode(expr(s"word_shingles($textCol, 3)")).as("shingle"))
    val informative = sh.groupBy(col("shingle"))
      .agg(countDistinct(col("test_id")).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    sh.join(informative, Seq("shingle"))
  }

  /** Flag streaming documents sharing ≥ `minShared` informative shingles
    * with any eval document. `stream` must carry (idCol, textCol); output
    * is (doc_id, test_id, n_shared) per flagged pair.
    *
    * Intended to run inside `foreachBatch` (as StreamingDecontamSpec
    * does), where each micro-batch is a complete DataFrame and the
    * groupBy is an ordinary batch aggregation. Attached directly to a
    * streaming sink in append mode, Spark would reject the aggregation
    * for lacking a watermark. Assumes each document arrives WHOLE in one
    * micro-batch — text split across batches would under-count its
    * per-batch shingle overlap (contamination is a per-document fact, so
    * feed whole documents). */
  def flagContaminated(stream: DataFrame, evalShingles: DataFrame,
      idCol: String, textCol: String, minShared: Int = 3): DataFrame = {
    graft.GraftExtensions.install(stream.sparkSession)
    stream
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol).as("doc_id"),
        explode(expr(s"word_shingles($textCol, 3)")).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"))
      .groupBy(col("doc_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
