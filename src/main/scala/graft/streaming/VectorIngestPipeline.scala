package graft.streaming

import graft.ops.SimilarityOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming embedding ingest: each micro-batch of (vec_id, label,
  * embedding) rows passes the q110 integrity audit AS A ROUTING GATE
  * (null vectors, null elements, wrong dimension, degenerate norms — the
  * malformations that would crash or silently poison a downstream
  * ANN/dedup pass — go to quarantine with a `reject_reason`), and the
  * valid rows PQ-encode straight into the persisted code index
  * ([[graft.ops.SimilarityOps.annPqFromStore]] searches it without ever
  * touching raw embeddings) — the vector twin of [[MediaTriagePipeline]].
  *
  * Replay idempotence: both sinks are batch-id-keyed and overwritten (a
  * replayed micro-batch rewrites its own segments). Zero stream-side
  * state: encoding is per-row kernel arithmetic against the literal
  * codebook, the gate is per-row predicates — no joins, no shuffle, no
  * state store at all.
  *
  * The codebook is a trained artifact fixed at stream start (the
  * [[graft.ops.SimilarityOps.kmeansCentroids]] ANALYZE convention);
  * retraining means re-encoding the corpus, a batch job by design.
  */
object VectorIngestPipeline {

  /** Seed the batch-id-keyed index layout from already-ingested vectors
    * (segment -1, one uniform partition layout for readers). Stamps the
    * codebook fingerprint at the store ROOT: the keyed layout's segments
    * are one index, so the generation guard lives on the whole store,
    * not per segment.
    */
  def seedStore(embDf: DataFrame, codebook: Array[Array[Double]],
      storeDir: String): Unit = {
    SimilarityOps.writePqSegment(embDf, codebook,
      BatchDirs.segment(storeDir, BatchDirs.SeedId))
    SimilarityOps.writePqMeta(embDf.sparkSession, storeDir, codebook)
  }

  /** Row-level reject reason, null when the row is valid — the q110
    * audit classes in gate form, checked in hazard order (each test is
    * only reached when the prior ones pass, so the norm kernel never
    * sees the malformed shapes it rejects).
    */
  def rejectReason(dim: Int): Column =
    when(col("embedding").isNull, "null_vector")
      .when(exists(col("embedding"), x => x.isNull), "null_element")
      .when(size(col("embedding")) =!= dim, "wrong_dim")
      // the 6-dp round replays q110's exact arithmetic, so gate rejects
      // reconcile one-for-one with the batch audit's n_degenerate
      .when(round(SimilarityOps.norm(col("embedding")), 6) < 1e-6,
        "degenerate_norm")

  /** Run the ingest: valid rows encode into `storeDir/batch_id=N`
    * (vec_id, label, codes — 8 B per vector), rejects land under
    * `quarantineDir/batch_id=N` with their reason.
    */
  def runVectorIngest(embStream: DataFrame,
      codebook: Array[Array[Double]], storeDir: String,
      quarantineDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val dim = codebook.head.length
    BatchDirs.runKeyed(embStream, checkpointDir, trigger) { (batch, batchId) =>
      graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
      // generation guard: a restart fed a codebook that isn't the store's
      // encoding generation (the hand-passed-array drift the scaladoc
      // warns about) must fail the stream loud — its codes would be
      // unsearchable alongside the existing segments
      SimilarityOps.requirePqFingerprint(batch.sparkSession, storeDir,
        codebook, "runVectorIngest")
      val flagged = batch.withColumn("reject_reason", rejectReason(dim))
      flagged.filter(col("reject_reason").isNotNull)
        .select("vec_id", "label", "reject_reason")
        .write.mode("overwrite")
        .parquet(BatchDirs.segment(quarantineDir, batchId))
      // segment write is an OVERWRITE of the batch's own dir — a replayed
      // attempt rewrites, never double-appends (the append-mode store
      // face would duplicate rows on retry)
      SimilarityOps.writePqSegment(
        flagged.filter(col("reject_reason").isNull)
          .select("vec_id", "label", "embedding"),
        codebook, BatchDirs.segment(storeDir, batchId))
      // (re)stamp the root fingerprint — idempotent one-row write, so
      // even a store bootstrapped by its first batch carries it
      SimilarityOps.writePqMeta(batch.sparkSession, storeDir, codebook)
    }
  }

  /** [[runVectorIngest]] with the codebook rehydrated from a persisted
    * [[graft.ops.SimilarityOps.writeCodebookStore]] artifact — the
    * trained-index lifecycle end to end with zero retraining at stream
    * start: a batch ANALYZE publishes the codebook once, and every
    * ingest (re)start loads the SAME literal array. Codes are
    * meaningless across codebooks, so this is the restart-safe form —
    * a hand-passed array can drift from what the index was built with,
    * while the store's contiguity/width guards fail loud on damage.
    */
  def runVectorIngestFromStore(embStream: DataFrame, codebookDir: String,
      storeDir: String, quarantineDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    runVectorIngest(embStream,
      SimilarityOps.readCodebookStore(embStream.sparkSession, codebookDir),
      storeDir, quarantineDir, checkpointDir, trigger)

  // ---- the composed-index (IVF-PQ) ingest -------------------------------

  /** Seed the batch-id-keyed IVF-PQ layout (segment -1, each segment
    * cell-partitioned inside — the q151 inverted lists under the
    * streaming key) and stamp BOTH artifact fingerprints at the root.
    * `validDf` needs (vec_id, label, embedding), null-free full-dim.
    */
  def seedIvfPqStore(validDf: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], storeDir: String): Unit = {
    SimilarityOps.writeIvfPqSegment(validDf, cells, residCb,
      BatchDirs.segment(storeDir, BatchDirs.SeedId))
    SimilarityOps.writeIvfPqMeta(validDf.sparkSession, storeDir,
      cells, residCb)
  }

  /** [[runVectorIngest]]'s gauntlet with the COMPOSED-index encode:
    * valid rows assign to their coarse cell and land residual codes in
    * `storeDir/batch_id=N/cell=M` (the q151 inverted lists, so
    * [[graft.ops.SimilarityOps.annIvfPqFromStore]] over the keyed root
    * still prunes to probed cells), rejects quarantine with their
    * reason. Same replay discipline (keyed overwrite), same per-batch
    * root guard — now over BOTH artifacts, because a drift in either
    * one mis-scores the whole index.
    */
  def runIvfPqIngest(embStream: DataFrame, cells: Array[Array[Double]],
      residCb: Array[Array[Double]], storeDir: String,
      quarantineDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val dim = cells.head.length
    BatchDirs.runKeyed(embStream, checkpointDir, trigger) { (batch, batchId) =>
      graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
      SimilarityOps.requireIvfPqFingerprints(batch.sparkSession,
        storeDir, cells, residCb, "runIvfPqIngest")
      val flagged = batch.withColumn("reject_reason", rejectReason(dim))
      flagged.filter(col("reject_reason").isNotNull)
        .select("vec_id", "label", "reject_reason")
        .write.mode("overwrite")
        .parquet(BatchDirs.segment(quarantineDir, batchId))
      // cast to the q151 valid-frame convention so streamed codes are
      // bit-identical to a batch encode of the same rows
      SimilarityOps.writeIvfPqSegment(
        flagged.filter(col("reject_reason").isNull)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("embedding")),
        cells, residCb, BatchDirs.segment(storeDir, batchId))
      SimilarityOps.writeIvfPqMeta(batch.sparkSession, storeDir,
        cells, residCb)
    }
  }

  /** [[runIvfPqIngest]] with BOTH artifacts rehydrated from their
    * persisted [[graft.ops.SimilarityOps.writeCodebookStore]] stores —
    * the composed-index lifecycle end to end: one ANALYZE publishes the
    * coarse cells and the residual codebook, every ingest (re)start
    * loads the same two literal arrays, and the root fingerprints refuse
    * a mismatched pair loud.
    */
  def runIvfPqIngestFromStores(embStream: DataFrame, cellsDir: String,
      residCbDir: String, storeDir: String, quarantineDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val s = embStream.sparkSession
    runIvfPqIngest(embStream,
      SimilarityOps.readCodebookStore(s, cellsDir),
      SimilarityOps.readCodebookStore(s, residCbDir),
      storeDir, quarantineDir, checkpointDir, trigger)
  }
}
