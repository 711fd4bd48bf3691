package graft.streaming

import graft.ops.{CurationOps, DedupOps, ScaleOps, SpanOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming curation funnel — the per-crawl production shape of the
  * whole library: each micro-batch of crawled documents runs the ENTIRE
  * gauntlet (quality gate → exact freshness against the persisted corpus
  * norms → span-novelty against the persisted shingle keys → benchmark
  * decontamination → PII release gate) through the ONE routing core the
  * oracle-checked q149 batch face uses
  * ([[CurationOps.crawlFunnelStages]]), so stream and batch decisions
  * provably agree, and lands: released docs, the per-(stage, source)
  * survivor report (the funnel's mix accounting), and the batch's own
  * norm/shingle contributions folded back into the reference stores so
  * the NEXT batch dedups against everything before it.
  *
  * Replay discipline (the store layout IS the idempotence mechanism):
  * the funnel-owned reference stores are batch-id-keyed
  * (`<dir>/batch_id=N`), and each batch probes only segments with
  * `batch_id < N`. A flat append-only store would poison replay: a
  * crashed-and-replayed batch would find its OWN norms already folded in
  * and route every document to "duplicate", silently emptying the
  * replayed keep segment. Keyed probes make the reference set a pure
  * function of the batch id; every sink (keep, report, norm segment,
  * shingle segment) overwrites its own key, so replay converges
  * byte-for-byte (IngestPipeline's convention). Segments accumulate one
  * dir per batch — [[compactFunnelStores]] folds them back into the
  * seed slot at compaction cadence (stream stopped).
  *
  * Scale shape: per trigger, the batch pays exactly what the q149 face
  * pays on its crawl — row-local quality/PII arithmetic, two anti-joins
  * against contracted norm sets, one shingle explode of the
  * already-gated sliver — plus store probes that read thin key columns
  * with `batch_id` partition pruning. Nothing is ever re-read
  * corpus-sized; the raw corpus behind the seed segment is never
  * touched again.
  *
  * The EVAL store is externally owned (benchmarks are not crawl
  * artifacts) and REQUIRED: an absent path fails the stream loud rather
  * than silently disabling decontamination — seed an explicitly EMPTY
  * store ([[CurationOps.writeFingerprintStore]] on an empty frame) to
  * state "no benchmarks yet"; a typo'd path must not read as that
  * statement.
  */
object CurationFunnelPipeline {

  /** Bootstrap the funnel-owned reference stores from an existing corpus
    * (the `batch_id=-1` seed segment): its distinct norms and distinct
    * [[CurationOps.FunnelShingleK]]-shingle keys, plus the shingle
    * width sidecar that makes a mismatched-k probe fail loud. Run BEFORE
    * the stream starts (a fresh corpus may skip seeding entirely — the
    * stores self-create from the first batch's contributions).
    */
  def seedFunnelStores(corpus: DataFrame, normStoreDir: String,
      shingleStoreDir: String): Unit = {
    corpus.select(DedupOps.normText.as("norm")).distinct()
      .write.mode("overwrite")
      .parquet(BatchDirs.segment(normStoreDir, BatchDirs.SeedId))
    SpanOps.distinctShingleKeys(corpus, CurationOps.FunnelShingleK)
      .write.mode("overwrite")
      .parquet(BatchDirs.segment(shingleStoreDir, BatchDirs.SeedId))
    SpanOps.writeShingleMeta(corpus.sparkSession, shingleStoreDir,
      CurationOps.FunnelShingleK)
  }

  /** Fold the funnel's per-batch reference segments into the
    * `batch_id=-1` seed slot — run at compaction cadence WHILE THE
    * STREAM IS STOPPED (the probe set is a pure function of committed
    * batch ids; compacting under a live stream could hand one batch a
    * reference set another batch's id scheme).
    *
    * The NEWEST segment is deliberately left in place: the highest
    * batch id is the one batch that may have crashed after its segment
    * writes but before the checkpoint commit, and will then REPLAY
    * under the same id. Folding it into the seed would self-poison that
    * replay — the batch's probe (batch_id < N) would see its own
    * released norms, route every previously-released doc to duplicate,
    * and overwrite the keep segment EMPTY (silent data loss; the
    * round-15 self-review finding). Every segment below the max is
    * checkpoint-committed (streaming replays only the latest batch), so
    * folding those is safe: -1 < any future or replayed id, and every
    * probe set is unchanged. Staged + atomic swap per store
    * ([[graft.ops.ScaleOps.compactStore]]'s keyed slot, the retained
    * segment copied into staging before the swap; it carries the
    * shingle-width sidecar across too).
    */
  def compactFunnelStores(s: SparkSession, normStoreDir: String,
      shingleStoreDir: String): Unit = {
    compactKeyed(s, normStoreDir, "norm")
    compactKeyed(s, shingleStoreDir, "h")
  }

  private def compactKeyed(s: SparkSession, dir: String,
      keyCol: String): Unit = {
    val maxId = graft.Tables.boundedCollect(
      s.read.parquet(dir).agg(max("batch_id")), 1,
      "funnel store max segment").headOption
      .filterNot(_.isNullAt(0)).map(_.getInt(0))
    // nothing beyond the seed: no fold to do
    if (maxId.forall(_ <= -1)) return
    val newest = maxId.get
    ScaleOps.compactStore(s, dir,
      _.filter(col("batch_id") < newest).select(keyCol).distinct(),
      batchSlot = true,
      // carry the possibly-uncommitted newest segment verbatim — the
      // live dir stays intact until the swap
      onStaged = staging =>
        s.read.parquet(dir).filter(col("batch_id") === newest)
          .select(keyCol)
          .write.parquet(BatchDirs.segment(staging, newest)))
  }

  /** Start the funnel over a (doc_id, source, text) document stream.
    *
    * @param normStoreDir    funnel-owned batch-id-keyed corpus norms
    * @param shingleStoreDir funnel-owned batch-id-keyed shingle keys
    * @param evalStoreDir    REQUIRED external benchmark norm store
    *                        (fingerprint-store layout; `norm` column)
    * @param keepDir         released docs, `batch_id=N`-keyed
    * @param reportDir       per-batch funnel report, `batch_id=N`-keyed
    */
  def runCurationFunnel(docStream: DataFrame, normStoreDir: String,
      shingleStoreDir: String, evalStoreDir: String, keepDir: String,
      reportDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (b, batchId) =>
      routeBatch(b, batchId, normStoreDir, shingleStoreDir, evalStoreDir,
        keepDir, reportDir)
    }

  /** One micro-batch through the shared core — factored out so the spec
    * can drive the exact per-batch routing without a stream.
    */
  private[graft] def routeBatch(batch: DataFrame, batchId: Long,
      normStoreDir: String, shingleStoreDir: String, evalStoreDir: String,
      keepDir: String, reportDir: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // probes read ONLY pre-batch segments: on replay the reference set
    // is identical to the crashed attempt's, never self-poisoned
    val priorNorms = BatchDirs.readIfExists(s, normStoreDir)
      .map(_.filter(col("batch_id") < batchId).select("norm"))
      .getOrElse(Seq.empty[String].toDF("norm"))
    SpanOps.requireShingleK(s, shingleStoreDir,
      CurationOps.FunnelShingleK)
    val priorKeys = BatchDirs.readIfExists(s, shingleStoreDir)
      .map(_.filter(col("batch_id") < batchId).select("h").distinct())
      .getOrElse(Seq.empty[Array[Byte]].toDF("h"))
    // loud by contract: decontamination must never silently no-op
    val evalNorms = s.read.parquet(evalStoreDir).select("norm")
    val stages = CurationOps.crawlFunnelStages(batch, priorNorms,
      priorKeys, evalNorms, pin = true)
    val released = stages.last._2
    released.select(batch.columns.map(col): _*)
      .write.mode("overwrite").parquet(BatchDirs.segment(keepDir, batchId))
    CurationOps.crawlFunnelReport(stages)
      .coalesce(1).write.mode("overwrite")
      .parquet(BatchDirs.segment(reportDir, batchId))
    // fold the batch's released contributions into the reference stores
    // (keyed overwrite — replay replaces, never duplicates)
    released.select(col("norm")).distinct()
      .write.mode("overwrite")
      .parquet(BatchDirs.segment(normStoreDir, batchId))
    SpanOps.distinctShingleKeys(released, CurationOps.FunnelShingleK)
      .write.mode("overwrite")
      .parquet(BatchDirs.segment(shingleStoreDir, batchId))
    // (re)stamp the width sidecar — idempotent one-row write, so even a
    // store bootstrapped by the first batch (no seed) carries its k
    SpanOps.writeShingleMeta(s, shingleStoreDir,
      CurationOps.FunnelShingleK)
  }

  /** The most recent batch's funnel report (per-stage, per-source
    * survivors of THAT crawl slice).
    */
  def latestReport(s: SparkSession, reportDir: String): DataFrame =
    BatchDirs.latestBatchSlice(s, reportDir) match {
      case None => emptyReport(s)
      case Some(rep) => rep.orderBy("stage", "source")
    }

  /** The whole-crawl funnel accounting: per-(stage, source) docs/tokens
    * summed across every committed batch — additive because each batch's
    * report counts only that batch's documents.
    */
  def funnelReport(s: SparkSession, reportDir: String): DataFrame =
    BatchDirs.readIfExists(s, reportDir) match {
      case None => emptyReport(s)
      case Some(rep) => rep
        .groupBy("stage", "source")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("stage", "source")
    }

  private def emptyReport(s: SparkSession): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    CurationOps.crawlFunnelReport(CurationOps.crawlFunnelStages(
      empty, empty.select(col("text").as("norm")),
      Seq.empty[Array[Byte]].toDF("h"),
      empty.select(col("text").as("norm"))))
  }
}
