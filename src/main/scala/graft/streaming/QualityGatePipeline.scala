package graft.streaming

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming quality gate — the per-ingest face of q117
  * (`TextOps.withQualityLogit`): production pipelines score documents at
  * crawl-ingest time and quarantine rejects immediately, instead of
  * landing everything and re-filtering in a later batch sweep. The model
  * is the same frozen linear classifier as the batch query, so stream and
  * batch decisions provably agree (StreamingSpec pins them equal).
  *
  * Scale shape: scoring is pure per-row arithmetic over codegen'd
  * built-ins — no state, no watermark, ZERO stream-side shuffle (the
  * q104-scrub / novelty-triage discipline) — so the gate runs at wire
  * speed on any executor count. Sinks follow `IngestPipeline`'s
  * idempotence convention: units are keyed on the micro-batch id and
  * overwritten on replay, so a crashed-and-replayed batch converges.
  */
object QualityGatePipeline {

  /** The pure transform, usable on any (…, text) stream: every input
    * column plus (n_tokens, en_hits, logit, keep).
    */
  def scored(docStream: DataFrame): DataFrame =
    TextOps.withQualityLogit(docStream)

  /** End-to-end gated ingest: per micro-batch, keepers land under
    * `keepDir/batch_id=N`, rejects under `rejectDir/batch_id=N` (the
    * quarantine trail threshold audits replay against — rejects are
    * evidence, not garbage).
    */
  def runQualityGate(docStream: DataFrame, keepDir: String,
      rejectDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    // scored on the stream, so the batch runKeyed persists is already
    // scored and one scoring feeds both routes. Routing is on
    // coalesce(keep, false), NOT the raw keep column: an unscorable doc
    // (null text → null token stats → null logit → NULL keep) would
    // otherwise match NEITHER filter(keep) NOR filter(!keep) and
    // silently vanish from both dirs — the two routes must PARTITION the
    // batch (rejects are the quarantine trail), and "quality unknown" is
    // not training data, so it rejects.
    BatchDirs.runKeyed(
        scored(docStream).withColumn("keep", coalesce(col("keep"), lit(false))),
        checkpointDir, trigger) { (b, batchId) =>
      b.filter(col("keep")).write.mode("overwrite")
        .parquet(BatchDirs.segment(keepDir, batchId))
      b.filter(!col("keep")).write.mode("overwrite")
        .parquet(BatchDirs.segment(rejectDir, batchId))
    }

  /** The corpus-level acceptance report off the accumulated batch dirs:
    * per source, documents seen / kept and the realized keep rate — the
    * additive rollup that must equal running the batch gate over
    * everything ingested.
    */
  def gateReport(s: SparkSession, keepDir: String,
      rejectDir: String): DataFrame = {
    // a side with no committed batch yet reads as empty, not as an error
    // (an all-keep or all-reject stream legitimately has one-sided dirs)
    def side(dir: String, name: String) =
      BatchDirs.readIfExists(s, dir).getOrElse(BatchDirs.emptyDocs(s))
        .select(col("source"))
        .groupBy("source").agg(count(lit(1)).as(name))
    val keep = side(keepDir, "n_kept")
    val rej = side(rejectDir, "n_rejected")
    keep.join(rej, Seq("source"), "full_outer")
      .na.fill(0L, Seq("n_kept", "n_rejected"))
      .withColumn("n_docs", col("n_kept") + col("n_rejected"))
      .withColumn("keep_rate",
        round(col("n_kept") / col("n_docs"), 6))
      .select("source", "n_docs", "n_kept", "n_rejected", "keep_rate")
      .orderBy("source")
  }
}
