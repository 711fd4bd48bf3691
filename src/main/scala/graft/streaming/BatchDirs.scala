package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The batch-id-keyed sink/store layout every keyed streaming pipeline
  * writes (`<dir>/batch_id=N`), and its one writer and shared readers.
  *
  * Writing: [[runKeyed]] is the keyed micro-batch sink — the only
  * `foreachBatch` in the library — and [[segment]] / [[SeedId]] are the
  * one definition of the segment path and of the seed slot. The
  * contract (the reference consumer's at-least-once delivery + keyed
  * idempotent insert, consumer.py:78): every unit a batch writes is keyed
  * on its micro-batch id and overwritten on replay, so a crashed-and-
  * replayed batch rewrites its own segments instead of duplicating them,
  * and an EMPTY batch writes nothing at all.
  *
  * Reading: before the first non-empty micro-batch commits — a
  * just-started stream, or one whose batches were all empty — the
  * directory does not exist yet, and a dashboard polling a report rollup
  * must get the empty report, not an AnalysisException from
  * `read.parquet` on a missing path ([[readIfExists]]).
  */
private[graft] object BatchDirs {

  /** The seed slot: segment id of a store bootstrapped from an existing
    * corpus, or of a compaction's fold. Checkpointed micro-batch ids are
    * non-negative, so the slot never collides with a live batch and
    * sorts below every one of them (`batch_id < N` probes include it).
    */
  val SeedId: Long = -1L

  /** The segment directory of batch `id` under a keyed store root. */
  def segment(dir: String, id: Long): String = s"$dir/batch_id=$id"

  /** Start a keyed micro-batch sink over `stream`: append output mode,
    * `trigger`, checkpoint at `checkpointDir`, and `body(batch, batchId)`
    * for every NON-EMPTY micro-batch. `body` keys every unit it writes on
    * `batchId` — for a directory, [[segment]]`(dir, batchId)` written with
    * `mode("overwrite")`.
    *
    *  - Replay idempotence: a failure between a plain append and the
    *    offset commit would re-run the batch and duplicate every row;
    *    keying each written unit on the batch id makes a replayed batch
    *    rewrite its own output, so replays converge to exactly-once
    *    state.
    *  - Empty micro-batches (trailing AvailableNow ticks, idle triggers)
    *    never reach `body`: writing one would clobber a same-numbered
    *    segment from an earlier pipeline incarnation with nothing.
    *  - The batch is persisted for the call, so the emptiness probe and
    *    every write in `body` share one evaluation of the upstream plan
    *    (and of the source read), and unpersisted when `body` returns or
    *    throws, together with every pin `body` made
    *    ([[graft.Tables.releaseCheckpoints]]): a stream's pinned blocks
    *    end with their batch. The per-batch job sequence is persist →
    *    isEmpty → the body's own jobs, nothing after them.
    */
  def runKeyed(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try { if (!b.isEmpty) body(b, batchId) }
        finally { b.unpersist(); Tables.releaseCheckpoints(b.sparkSession) }
      }
      .start()

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The accumulated frame, or None when no batch directory exists yet —
    * INCLUDING a directory that exists but holds no readable parquet
    * (only an in-flight or crashed write's `_temporary`): a crash during
    * the very first segment write would otherwise wedge every replay and
    * poller on "Unable to infer schema" until someone hand-deletes the
    * dir, and a poller racing the first write would crash instead of
    * reading "nothing committed yet". Only the two error conditions that
    * MEAN "nothing committed" map to None — no schema to infer (no
    * parquet footer present) and path vanished between the existence
    * check and the read (a staged swap's rename window); any other
    * analysis failure on a real store (and all IO errors) still
    * propagates, so a damaged store reads as damaged, not as
    * not-yet-seeded. The None cases log a warning: a store that maps to
    * None on every poll is visible in the logs, not silent.
    */
  def readIfExists(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      try Some(s.read.parquet(dir))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
                c.startsWith("PATH_NOT_FOUND")) =>
          log.warn(s"readIfExists: $dir exists but holds no readable " +
            s"parquet (${e.getCondition}) — treating as nothing " +
            "committed yet")
          None
      }
    else None
  }

  /** The slice of a batch-id-keyed report dir belonging to the highest
    * committed batch id (partition discovery may type `batch_id` int or
    * long — the filter is agnostic), with `batch_id` dropped; None when
    * nothing has committed. The shared read of every pipeline's
    * `latestReport`.
    */
  def latestBatchSlice(s: SparkSession, dir: String): Option[DataFrame] =
    readIfExists(s, dir).map { rep =>
      val last = rep.agg(org.apache.spark.sql.functions.max("batch_id"))
        .head.get(0)
      rep.filter(org.apache.spark.sql.functions.col("batch_id") === last)
        .drop("batch_id")
    }

  /** An empty (source, text) document frame — feeding it through a batch
    * report operator yields the zero-row report WITH the operator's own
    * schema, so "no batches yet" and "batches so far" answers are
    * shape-compatible.
    */
  def emptyDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, String)].toDF("source", "text")
  }
}
