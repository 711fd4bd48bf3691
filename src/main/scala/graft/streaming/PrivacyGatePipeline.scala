package graft.streaming

import graft.ops.{ScaleOps, ScrubOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming k-anonymity monitor — the per-ingest face of q134
  * (`ScrubOps.kanonAuditOn`): a release gate wants the privacy verdict
  * CONTINUOUSLY as events arrive, not as a later full-corpus sweep it
  * cannot afford at 100 TB. Each micro-batch contracts to its
  * quasi-identifier class rows (HLL user sketch + exact event count — the
  * q134 store row) and lands batch-id-keyed; the audit then merges
  * sketches across every batch ever ingested, so the cross-crawl distinct
  * count is exact where it matters (small classes) and never re-reads an
  * event.
  *
  * Scale shape: the only stream-side work is one bounded aggregation per
  * batch (classes ≤ |types|·|k-values|·24 regardless of batch size); no
  * watermark, no stream state — the STORE is the state, and it is
  * mergeable by construction. Sinks follow `IngestPipeline`'s idempotence
  * convention: per-batch rows are keyed on the micro-batch id and
  * overwritten on replay, so a crashed-and-replayed batch converges —
  * and doubly so here, because the user sketches are set-idempotent
  * even across a NON-keyed replay (only n_events needs the keying).
  */
object PrivacyGatePipeline {

  /** End-to-end privacy ingest: per micro-batch, write the batch's
    * quasi-identifier class sketches under `storeDir/batch_id=N`.
    */
  def runPrivacyIngest(eventStream: DataFrame, storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(eventStream, checkpointDir, trigger) { (b, batchId) =>
      // staged write + two-rename publish: a REPLAYED batch must not
      // leave the segment missing for the duration of a parquet write —
      // a gate poller racing that window would transiently under-report
      // small classes (this sink feeds a release gate, unlike the report
      // sinks). Dot-prefixed staging/parked dirs are invisible to Spark's
      // file listing, so a concurrent reader sees the old segment until
      // the final rename; the unreadable window is two metadata renames,
      // not a write.
      val fs = new org.apache.hadoop.fs.Path(storeDir)
        .getFileSystem(b.sparkSession.sparkContext.hadoopConfiguration)
      val staging =
        new org.apache.hadoop.fs.Path(s"$storeDir/.staging_$batchId")
      ScrubOps.classSketches(b)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      publishSegment(fs, staging,
        new org.apache.hadoop.fs.Path(BatchDirs.segment(storeDir, batchId)),
        new org.apache.hadoop.fs.Path(s"$storeDir/.old_$batchId"))
    }

  /** The two-rename publish ([[graft.ops.ScaleOps.swapInto]]'s core with
    * the batch-scoped parked name `.old_N`: crashed-swap recovery, park,
    * publish, rollback to the prior segment on failure so pollers keep
    * reading the PRIOR verdict, cleanup). Each successful publish also
    * sweeps stale `.old_M` siblings of OTHER batches whose published
    * segment exists: unlike swapInto's fixed `.old` name (self-cleaning —
    * the next swap deletes it), the batch-scoped name is touched by no
    * later batch, so a lost post-publish delete on a committed batch
    * would leak a parked copy per crash forever. A parked copy WITHOUT a
    * published twin is never swept — that is the crashed-swap shape, and
    * it belongs to its own batch's replay recovery (batches serialize
    * within the query, so no in-flight publish can be sweeping-visible
    * here).
    */
  private[graft] def publishSegment(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    ScaleOps.swapInto(fs, staging, dest, old)
    sweepStaleParked(fs, dest)
  }

  /** Delete committed batches' leftover parked copies (see
    * [[publishSegment]]): any `.old_M` sibling whose `batch_id=M`
    * segment EXISTS is redundant by definition — the publish that
    * created the segment either deleted the parked copy or died before
    * doing so (and M's replay, if any, already ran its recovery). One
    * directory listing per publish; never touches a parked copy whose
    * published twin is missing.
    */
  private def sweepStaleParked(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Unit = {
    val parent = dest.getParent
    fs.listStatus(parent).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".old_") &&
          name.stripPrefix(".old_").toLongOption.exists(m =>
            fs.exists(new org.apache.hadoop.fs.Path(
              BatchDirs.segment(parent.toString, m)))))
        fs.delete(st.getPath, true)
    }
  }

  /** The q134 verdict over everything ever ingested — zero event
    * re-reads: per-batch rows merge via the ONE class-merge definition
    * ([[ScrubOps.kanonAuditFromClasses]]; the batch_id partition column
    * groups out), consuming the frame `readIfExists` already built — no
    * second listing/footer pass per poll. An empty store (no batch
    * committed yet) reports the empty q134 schema, not a missing-path
    * error.
    */
  def auditFromStore(s: SparkSession, storeDir: String,
      k: Int = ScrubOps.KAnonK): DataFrame =
    BatchDirs.readIfExists(s, storeDir) match {
      case None => ScrubOps.kanonAuditOn(emptyEvents(s), k)
      case Some(perBatch) => ScrubOps.kanonAuditFromClasses(perBatch, k)
    }

  /** The q141 l-diversity verdict over everything ever ingested — the
    * same store read, the same merged class view, the diversity rollup
    * ([[ScrubOps.ldivAuditFromClasses]]).
    */
  def ldivFromStore(s: SparkSession, storeDir: String,
      l: Int = ScrubOps.LDivL): DataFrame =
    BatchDirs.readIfExists(s, storeDir) match {
      case None => ScrubOps.ldivAuditOn(emptyEvents(s), l)
      case Some(perBatch) => ScrubOps.ldivAuditFromClasses(perBatch, l)
    }

  /** The q145 t-closeness verdict from the same store — the third audit
    * the one ingest serves (the `band_counts` histograms merge across
    * batches by exact per-band sum, so the cross-crawl EMD needs zero
    * event re-reads). Same empty-store discipline as the others.
    */
  def tcloseFromStore(s: SparkSession, storeDir: String,
      t: Double = ScrubOps.TCloseT): DataFrame =
    BatchDirs.readIfExists(s, storeDir) match {
      case None => ScrubOps.tcloseAuditOn(emptyEvents(s), t)
      case Some(perBatch) => ScrubOps.tcloseAuditFromClasses(perBatch, t)
    }

  /** The gate itself: the quasi-identifier classes CURRENTLY below `k`
    * distinct users — the rows a release blocks on (the per-class drill-
    * down behind [[auditFromStore]]'s per-type risk counters). Same
    * empty-store discipline as the audit: a poller racing the first
    * batch gets the zero-row classes frame, never a missing-path error —
    * and the class view is [[ScrubOps.kanonClassEstimates]], the same
    * definition the audit rolls up, so the two can never disagree.
    */
  def smallClassesFromStore(s: SparkSession, storeDir: String,
      k: Int = ScrubOps.KAnonK): DataFrame =
    BatchDirs.readIfExists(s, storeDir)
      .getOrElse(ScrubOps.classSketches(emptyEvents(s)))
      .transform(ScrubOps.kanonClassEstimates)
      .filter(col("n_users") < k)
      .orderBy("event_type", "k_prop", "hod")

  /** Zero-row frame in the events-stream shape (for the empty-store
    * audit). */
  private def emptyEvents(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, Long, java.sql.Timestamp, String, Double)]
      .toDF("event_type", "user_id", "ts", "props", "value")
  }
}
