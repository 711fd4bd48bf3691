package graft.streaming

import graft.ops.MultimodalOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming media dedup: each micro-batch of (doc_id, text)-payload
  * documents is fingerprinted ONCE (`MultimodalOps.mediaPhashOn`),
  * screened against the PERSISTED phash index
  * (`phashHashedPairsAgainstStore` — Hamming-banded, never a corpus
  * cross product), collapsed to one representative per within-batch
  * fingerprint, and routed keep → sink / duplicate → quarantine; the
  * fresh fingerprints then extend the index so the NEXT batch screens
  * against them — the streaming face of the CrawlSpec media loop.
  *
  * Replay idempotence: every sink (keeps, quarantine, and the store
  * segment itself) is batch-id-keyed and overwritten, the
  * DriftMonitorPipeline store convention — a replayed micro-batch
  * rewrites its own segment instead of double-appending fingerprints.
  *
  * Scale: hashing is the map-only fingerprint kernel; the screen joins
  * 8-byte fingerprint rows only; no stream-side state store exists at
  * all (the phash store IS the state, bounded at 8 bytes per admitted
  * payload and shared with every batch consumer).
  */
object MediaTriagePipeline {

  /** Seed the batch-id-keyed store layout from an already-ingested
    * corpus (segment -1, so partition discovery sees one uniform
    * layout).
    */
  def seedStore(corpus: DataFrame, storeDir: String): Unit =
    MultimodalOps.mediaPhashOn(corpus)
      .write.mode("overwrite")
      .parquet(BatchDirs.segment(storeDir, BatchDirs.SeedId))

  /** Run the ingest: keeps land under `sinkDir/batch_id=N`; duplicates
    * (against the index, or near-duplicate of a lower-id batchmate) and
    * zero-length payloads land under `quarantineDir/batch_id=N` with a
    * `reason` column ("duplicate" / "unhashable"); and the batch's fresh
    * fingerprints under `storeDir/batch_id=N`. `storeDir` must be absent
    * (first run) or batch-id-keyed ([[seedStore]]) — the flat
    * `writePhashStore` layout is rejected.
    */
  def runMediaIngest(docStream: DataFrame, storeDir: String,
      sinkDir: String, quarantineDir: String, checkpointDir: String,
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      import graft.ops.HammingBands
      // hash once; the same frame feeds both screens and the store
      // append (empty payloads hash to nothing — they surface in the
      // quarantine routing below with reason "unhashable")
      val hashed = MultimodalOps.mediaPhashOn(batch)
        .localCheckpoint(eager = true)
      // REPLAY SAFETY: a crashed attempt may have committed this
      // batch's own store segment already — screening against it
      // would self-match every previously-admitted doc and silently
      // quarantine it on retry, so the batch's own segment is
      // excluded from the index view. An absent store (never seeded,
      // first-ever batch) reads as an empty index, not an error; a
      // FLAT store layout (writePhashStore / analyzeCorpusStores —
      // no batch_id partition) is rejected loudly because replay
      // safety depends on segment exclusion.
      val index = BatchDirs.readIfExists(s, storeDir) match {
        case Some(df) =>
          require(df.columns.contains("batch_id"),
            s"runMediaIngest: the phash store at $storeDir has no " +
              "batch_id partition — only the batch-id-keyed layout " +
              "is accepted (seed with MediaTriagePipeline.seedStore, " +
              "not writePhashStore)")
          df.filter(col("batch_id") =!= batchId)
            .select("doc_id", "phash")
        case None =>
          import s.implicits._
          Seq.empty[(Long, Long)].toDF("doc_id", "phash")
      }
      val storeDups = MultimodalOps
        .phashHashedPairsAgainstStore(hashed, s, storeDir,
          index = Some(index), maxHamming = maxHamming)
        .select("doc_id")
      // within-batch collapse at the SAME Hamming threshold as the
      // store screen (exact-only grouping would admit co-batched
      // near-dups that consecutive batches reject): survivors are
      // docs with no lower-id near-dup batchmate
      val chunked = HammingBands.chunked(hashed, "doc_id", "phash")
      val batchDups = HammingBands.pairs(chunked, chunked, "phash",
          maxHamming, col("x.doc_id") < col("y.doc_id"))
        .select(col("y.doc_id").as("doc_id"))
      // one materialization feeds all three routing writes (and
      // breaks the read-storeDir-then-overwrite-a-segment cycle)
      val dupIds = storeDups.unionByName(batchDups).distinct()
        .localCheckpoint(eager = true)
      // quarantine carries its reason (the VectorIngestPipeline
      // reject_reason convention): near-dups of the index or of a
      // lower-id batchmate as "duplicate", zero-length payloads —
      // which have no fingerprint to screen and would otherwise be
      // silently re-admitted every batch — as "unhashable". The two
      // legs are disjoint: an unhashable doc is never in `hashed`,
      // so it can never appear in dupIds.
      batch.join(dupIds, Seq("doc_id"), "left_semi")
        .withColumn("reason", lit("duplicate"))
        .unionByName(
          batch.join(hashed.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("reason", lit("unhashable")))
        .write.mode("overwrite")
        .parquet(BatchDirs.segment(quarantineDir, batchId))
      batch.join(hashed.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(dupIds, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(BatchDirs.segment(sinkDir, batchId))
      hashed.join(dupIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "phash")
        .write.mode("overwrite").parquet(BatchDirs.segment(storeDir, batchId))
    }

  /** Per-batch triage report off the accumulated routing dirs: documents
    * seen / kept / quarantined, the unhashable (empty-payload) share of
    * the quarantine, and the realized duplicate rate — the monitor a
    * media-ingest operator watches for a crawl source gone stale
    * (dup_rate → 1) or a broken screen (dup_rate → 0 on a known
    * dup-heavy source). `dup_rate` counts DUPLICATES only — unhashable
    * rejects are surfaced separately as `n_unhashable` so they can't
    * masquerade as dedup signal. A side with no committed batch reads as
    * empty, not as an error (the gateReport convention).
    */
  def triageReport(s: org.apache.spark.sql.SparkSession, sinkDir: String,
      quarantineDir: String): DataFrame = {
    val kept = BatchDirs.readIfExists(s, sinkDir)
      .map(_.groupBy(col("batch_id").cast("long").as("batch_id"))
        .agg(count(lit(1)).as("n_kept")))
      .getOrElse(s.range(0)
        .select(col("id").as("batch_id"), col("id").as("n_kept")))
    val quarantined = BatchDirs.readIfExists(s, quarantineDir)
      .map(_.groupBy(col("batch_id").cast("long").as("batch_id"))
        .agg(count(lit(1)).as("n_quarantined"),
          sum(when(col("reason") === "unhashable", 1L).otherwise(0L))
            .as("n_unhashable")))
      .getOrElse(s.range(0)
        .select(col("id").as("batch_id"), col("id").as("n_quarantined"),
          col("id").as("n_unhashable")))
    kept.join(quarantined, Seq("batch_id"), "full_outer")
      .na.fill(0L, Seq("n_kept", "n_quarantined", "n_unhashable"))
      .withColumn("n_docs", col("n_kept") + col("n_quarantined"))
      .withColumn("dup_rate",
        round((col("n_quarantined") - col("n_unhashable")) / col("n_docs"),
          6))
      .select("batch_id", "n_docs", "n_kept", "n_quarantined",
        "n_unhashable", "dup_rate")
      .orderBy("batch_id")
  }
}
