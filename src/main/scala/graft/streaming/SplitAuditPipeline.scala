package graft.streaming

import graft.ops.CurationOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming split-leakage audit — the per-ingest face of q130: every
  * crawl micro-batch routes through the IDENTICAL deterministic q116
  * split the batch audit uses ([[CurationOps.withDefaultSplit]]), its
  * held-out docs' distinct 5-grams land as a batch-keyed store segment,
  * and its train docs are decontaminated against the ACCUMULATED held-out
  * set — including this batch's own held docs, so a leak that straddles
  * the split inside one batch is flagged in the same trigger. This is the
  * live "is duplicated text straddling my split boundary" signal a crawl
  * owner watches while ingest runs, instead of a post-hoc corpus sweep.
  *
  * Per-batch report semantics: each report row set covers THAT BATCH's
  * train docs against the held-out set as of that batch. A held-out doc
  * arriving in a LATER batch is not retroactively flagged into earlier
  * reports (that would cost a corpus re-audit per trigger); the final
  * pre-training sign-off is [[CurationOps.decontaminationAgainstStore]] /
  * the q130 rollup over the full train set against the finished store —
  * zero held-out corpus re-reads, StreamingSpec pins it equal to the
  * batch q130.
  *
  * Scale shape: per trigger, one batch-sized split assignment + shingle
  * pass, one segment write bounded by the batch's held 5-grams, and one
  * audit join of the batch's train ngrams against the store (linear scan
  * of the accumulated DISTINCT held ngrams — never the corpus; AQE picks
  * broadcast vs shuffle by actual store size). Nothing downstream of a
  * batch is corpus-sized.
  *
  * Idempotence: both sinks key on the micro-batch id and overwrite on
  * replay (IngestPipeline's convention); the held store is additionally
  * duplicate-safe (readers take distinct ngrams), so even cross-batch
  * repeated ngrams cost nothing but bytes until
  * [[CurationOps.compactHeldoutNgramStore]] folds them.
  */
object SplitAuditPipeline {

  /** Start the audit over a (doc_id, source, text) document stream. */
  def runSplitAudit(docStream: DataFrame, heldStoreDir: String,
      reportDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (b, batchId) =>
      val s = b.sparkSession
      val split = CurationOps.withDefaultSplit(b)
      // held segment FIRST, so the store read below already holds this
      // batch's own held docs (within-batch leaks flag in the same
      // trigger); zero held docs still land an empty segment — replay
      // overwrites it either way
      // NOT coalesce(1): unlike the <=|sources|-row report below, this
      // segment is proportional to the batch's held text — the
      // distinct's shuffle layout writes in parallel
      CurationOps.heldoutNgramsOn(split.filter(col("split") =!= "train"))
        .write.mode("overwrite")
        .parquet(BatchDirs.segment(heldStoreDir, batchId))
      // an absent/just-created store (possible only if THIS segment
      // write raced a listing, or on replay edge states) reads as the
      // empty reference — nothing held out yet, nothing leaks
      val refNgrams = BatchDirs.readIfExists(s, heldStoreDir)
        .map(_.select("ngram"))
        .getOrElse(emptyNgrams(s))
      CurationOps.leakageRollup(
        CurationOps.decontaminationAgainstNgrams(
          split.filter(col("split") === "train").drop("split"),
          refNgrams))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(BatchDirs.segment(reportDir, batchId))
    }

  /** The audit of the highest completed batch (per-batch semantics — see
    * the object doc); the empty-schema report before anything commits.
    */
  def latestReport(s: SparkSession, reportDir: String): DataFrame =
    BatchDirs.latestBatchSlice(s, reportDir).getOrElse(emptyReport(s))

  /** Zero-row (source, n_train, n_leaky, n_shared_5grams, leak_rate)
    * frame with the exact report schema, derived by running the real
    * operators over empty inputs so the shapes cannot drift.
    */
  def emptyReport(s: SparkSession): DataFrame = {
    import s.implicits._
    CurationOps.leakageRollup(CurationOps.decontaminationAgainstNgrams(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"),
      emptyNgrams(s)))
  }

  private def emptyNgrams(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[String].toDF("ngram")
  }
}
