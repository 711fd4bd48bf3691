package graft.streaming

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming mix-governance monitor — the per-ingest face of q114
  * (`TextOps.sourceDriftOn`) over the persisted token-count store: each
  * crawl micro-batch folds its (source, token, count) contraction into the
  * store (`TextOps.writeTokenCountBatch`), then re-reads ONLY the store —
  * ≤ |sources|·|vocab| rows, never the corpus — to publish the cumulative
  * per-source KL drift as of that batch. This is the drift dashboard a
  * curation team watches DURING a crawl: a source whose KL trend bends
  * upward is diverging from the corpus mix while it is still being
  * ingested, not in a post-hoc batch sweep. (The reference recomputes its
  * dashboard aggregates from the full table every poll,
  * dashboard.py:61-62; this face is the incremental restatement over the
  * store convention.)
  *
  * Scale shape: per micro-batch, one batch-sized contraction shuffle (the
  * identical work a batch append pays) plus a vocabulary-bounded store
  * read — nothing is ever proportional to the accumulated corpus. Sinks
  * follow IngestPipeline's idempotence convention: both the store segment
  * and the report row are keyed on the micro-batch id and overwritten on
  * replay, so a crashed-and-replayed batch converges (its segment is
  * replaced, never double-counted — StreamingSpec pins this and the
  * stream ≡ batch q114 equality).
  */
object DriftMonitorPipeline {

  /** Start the monitor over a (…, source, text) document stream. Store
    * segments land under `storeDir/batch_id=N`; the per-batch cumulative
    * drift report (q114 schema + `batch_id`) under
    * `reportDir/batch_id=N`.
    */
  def runDriftMonitor(docStream: DataFrame, storeDir: String,
      reportDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (b, batchId) =>
      TextOps.writeTokenCountBatch(b, storeDir, batchId)
      TextOps.sourceDriftFromStore(b.sparkSession, storeDir)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(BatchDirs.segment(reportDir, batchId))
    }

  /** The monitor's current answer: the report of the highest completed
    * batch id — cumulative drift over everything ingested so far,
    * spec-pinned equal to batch q114 over the concatenated batches.
    */
  def latestReport(s: SparkSession, reportDir: String): DataFrame =
    BatchDirs.latestBatchSlice(s, reportDir) match {
      case None =>
        // no batch committed yet: the empty q114-schema report
        TextOps.sourceDriftOn(BatchDirs.emptyDocs(s))
      case Some(rep) => rep.orderBy("source")
    }
}
