package graft.streaming

import graft.ops.ScrubOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming PII compliance stage — the per-ingest face of q104
  * (`ScrubOps.piiAuditOn`) + the scrub rewrite (`ScrubOps.scrubOn`): in
  * production compliance runs at ingest time, not as a later batch sweep,
  * so the document pipeline needs both the rewrite and the evidence trail
  * as stream stages.
  *
  * Scale shape: scrubbing is pure per-row regex work — no state, no
  * watermark, no stream-side shuffle — so the stage runs at wire speed on
  * any executor count; the audit aggregates each micro-batch to
  * ≤|sources| rows. Sinks follow `IngestPipeline`'s idempotence
  * convention: every written unit is keyed on the micro-batch id and
  * overwritten on replay, so a crashed-and-replayed batch converges
  * instead of duplicating (and double-counting the audit).
  */
object ScrubPipeline {

  /** The pure transform, usable on any (…, source, text) stream:
    * rewritten `text` + per-row `n_scrubbed`. Exposed separately so a
    * caller can slot it between parse and dedup stages of an existing
    * pipeline.
    */
  def scrubbed(docStream: DataFrame): DataFrame = ScrubOps.scrubOn(docStream)

  /** End-to-end scrub ingest: per micro-batch, write the q104 audit rows
    * (computed on the batch BEFORE scrubbing — the audit must describe
    * what arrived, not what survived) under `auditDir/batch_id=N`, and the
    * scrubbed documents under `sinkDir/batch_id=N`.
    */
  def runScrubIngest(docStream: DataFrame, sinkDir: String, auditDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (b, batchId) =>
      ScrubOps.piiAuditOn(b).withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(BatchDirs.segment(auditDir, batchId))
      ScrubOps.scrubOn(b).write.mode("overwrite")
        .parquet(BatchDirs.segment(sinkDir, batchId))
    }

  /** Roll the accumulated per-batch audit rows up to the corpus-level
    * q104 report: every count column is additive across batches, so the
    * store rollup must equal `piiAuditOn` run over everything ingested —
    * the invariant StreamingSpec pins.
    */
  def auditFromStore(s: SparkSession, auditDir: String): DataFrame =
    BatchDirs.readIfExists(s, auditDir) match {
      case None =>
        // no batch committed yet: the empty q104-schema report, not a
        // missing-path error
        ScrubOps.piiAuditOn(BatchDirs.emptyDocs(s))
      case Some(perBatch) =>
        val countCols = perBatch.columns
          .filter(c => c != "source" && c != "batch_id")
        perBatch.groupBy("source")
          .agg(sum(countCols.head).as(countCols.head),
            countCols.tail.map(c => sum(c).as(c)): _*)
          .select(col("source") +: countCols.map(col): _*)
          .orderBy("source")
    }
}
