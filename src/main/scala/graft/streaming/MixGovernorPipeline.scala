package graft.streaming

import graft.ops.{CurationOps, ScaleOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming data-mix governor — the per-ingest face of q115 (temperature
  * flattening) and q131 (DoReMi loss-aware reweighting) over the persisted
  * stores: each crawl micro-batch folds its (source, token, count)
  * contraction into the token store, scores itself against the FROZEN
  * reference bigram LM (seed with `SearchOps.writeBigramStore` —
  * atomic even mid-crawl, a polled path is absent or fully written,
  * never footer-less; DoReMi's reference model is fixed by
  * construction, the proxy weights are what update), appends its
  * ≤|sources| DoReMi
  * partial rows, and republishes BOTH mix tables from stores alone —
  * zero corpus re-reads, cost per batch ∝ batch. This is the live
  * sampling-weight feed a data-mix owner points the trainer at while a
  * crawl is still running, instead of a post-hoc batch sweep.
  *
  * Scale shape: per micro-batch, one batch-sized token contraction and
  * one batch-sized LM-score join (the identical work the batch faces
  * pay), then report reads bounded by |sources|·|vocab| (token store) and
  * |sources|·|batches| (partials — if a crawl runs to millions of
  * batches, re-contract them with [[CurationOps.compactDoremiPartials]]
  * while the stream is stopped). Nothing downstream of a batch is ever
  * corpus-sized.
  *
  * Idempotence: all three sinks key on the micro-batch id and overwrite
  * on replay (IngestPipeline's convention) — a crashed-and-replayed batch
  * replaces its token segment, its partial row, and its report, never
  * double-counts (StreamingSpec pins replay convergence and the
  * stream ≡ batch equalities).
  */
object MixGovernorPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True iff `e` is the staged-swap rename window biting between the
    * per-trigger LM probe and the scoring read: plan-time
    * AnalysisException whose condition means "nothing at that path"
    * (the two conditions BatchDirs.readIfExists narrows to), or an
    * execution-time FileNotFoundException (files listed at planning
    * renamed away before the scan task read them) — and in EITHER case
    * the failing path must lie under `lmStoreDir`. Scoping to the store
    * path matters: the try also covers the micro-batch's own source scan
    * and the partials sink write, and a FileNotFoundException from THOSE
    * (an input file cleaned mid-trigger, a sink `_temporary` raced away)
    * must fail the trigger so replay re-scores — misclassifying it as
    * the swap window would commit empty partials and permanently lose
    * the batch's DoReMi evidence, the exact loss this catch exists to
    * prevent. Everything else — damaged store, OOM, other IO — also
    * fails the trigger.
    */
  private[graft] def isLmSwapWindow(e: Throwable,
      lmStoreDir: String): Boolean = {
    // match BOTH the caller's spelling and the canonical absolute path:
    // exception messages often carry a normalized form (a file: URI, a
    // canonicalized path) while the caller passed a relative or
    // differently-spelled one — a raw-string-only match would misclassify
    // a genuine swap window and fail the trigger (fail-safe, but it
    // defeats the model-less fallback this catch exists for)
    val raw = lmStoreDir.replaceAll("/+$", "")
    val needles = (raw +: (try Seq(new java.io.File(raw).getCanonicalPath)
      catch { case _: java.io.IOException => Nil })).distinct
    // PATH-BOUNDARY match, not bare substring: /data/lm must not claim a
    // failure on the sibling /data/lm2 (or /data/lm-inputs, or
    // /data/lm.bak) — the needle occurrence must end the message or be
    // followed by a non-path-word character (separator, quote, space).
    // '.' is NOT a boundary by itself: a '.'-joined continuation is a
    // sibling path unless it is (a) one of the store's OWN staged-swap
    // artifacts (the staging and parked suffixes ScaleOps's publish
    // creates beside the live dir, the one family of dot-siblings that IS
    // the store mid-swap) or (b) a sentence-ending period ("File /data/lm
    // does not exist.").
    def boundedHit(m: String, needle: String): Boolean = {
      def wordChar(c: Char): Boolean =
        Character.isLetterOrDigit(c) || c == '_' || c == '-'
      // boundary at position p: end-of-message, a non-word-non-dot char,
      // or a sentence-ending '.' (dot followed by end or a non-word char)
      def boundaryAt(p: Int): Boolean =
        p >= m.length || {
          val c = m.charAt(p)
          if (c == '.') p + 1 >= m.length || !wordChar(m.charAt(p + 1))
          else !wordChar(c)
        }
      val swapSuffixes = Seq(ScaleOps.ParkedSuffix, ScaleOps.StagingSuffix)
        .map(_.stripPrefix("."))
      var from = m.indexOf(needle)
      while (from >= 0) {
        val end = from + needle.length
        if (boundaryAt(end) ||
            (end < m.length && m.charAt(end) == '.' &&
              swapSuffixes.exists(s => m.startsWith(s, end + 1) &&
                boundaryAt(end + 1 + s.length))))
          return true
        from = m.indexOf(needle, from + 1)
      }
      false
    }
    def mentionsStore(t: Throwable): Boolean =
      Option(t.getMessage).exists(m => needles.exists(boundedHit(m, _)))
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(16).toSeq
    chain.exists {
      case a: org.apache.spark.sql.AnalysisException =>
        Option(a.getCondition).exists(c =>
          c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
            c.startsWith("PATH_NOT_FOUND")) && mentionsStore(a)
      case f: java.io.FileNotFoundException => mentionsStore(f)
      case _ => false
    }
  }

  /** Start the governor over a (doc_id, source, text) document stream.
    *
    * @param lmStoreDir    pre-seeded frozen bigram store (the reference
    *                      LM); absent ⇒ batches contribute zero partial
    *                      rows (model-less) and the report's DoReMi
    *                      columns stay null until the store is seeded —
    *                      token segments still land, so nothing is lost
    * @param tokenStoreDir batch-id-keyed token-count store segments
    * @param partialsDir   per-batch DoReMi partial rows
    *                      (`batch_id=N/(source, n_docs, n_bigrams, sum_lp)`)
    * @param reportDir     per-batch cumulative mix report
    */
  def runMixGovernor(docStream: DataFrame, lmStoreDir: String,
      tokenStoreDir: String, partialsDir: String, reportDir: String,
      checkpointDir: String, alpha: Double = 0.3,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(docStream, checkpointDir, trigger) { (b, batchId) =>
      val s = b.sparkSession
      TextOps.writeTokenCountBatch(b, tokenStoreDir, batchId)
      // an absent reference LM must not kill the stream (the media
      // triage absent-store convention): the batch's docs are all
      // model-less — zero partial rows, DoReMi columns stay null in
      // the report until the store is seeded. The batch's TOKEN
      // segment above still lands, so seeding later loses nothing.
      // Seed a live path with writeBigramStore (absent →
      // fully written, never footer-less mid-job).
      // probe-then-read still has a window (a live re-seed's staged
      // swap can land between them) — if the LM read itself dies on
      // exactly that window (path vanished / footer-less mid-swap),
      // fall through to the model-less arm; the next trigger
      // re-probes and scores again. ONLY the swap-window conditions
      // map to model-less (mirroring BatchDirs.readIfExists's
      // narrowed catch): any other scoring/write failure fails the
      // trigger so checkpoint replay RE-SCORES this batch — a
      // swallowed transient would commit an empty partial under this
      // batch id and permanently lose its DoReMi evidence (sinks are
      // batch-id-keyed; no later trigger revisits this batch).
      val partialsOut = BatchDirs.segment(partialsDir, batchId)
      val scored = lmReadable(s, lmStoreDir) && (
        try {
          CurationOps.doremiBatchPartials(b, lmStoreDir)
            .coalesce(1).write.mode("overwrite").parquet(partialsOut)
          true
        } catch {
          case e: Throwable if isLmSwapWindow(e, lmStoreDir) =>
            log.warn(s"mix governor batch $batchId: reference LM at " +
              s"$lmStoreDir vanished mid-score (staged-swap rename " +
              s"window) — scoring model-less this trigger", e)
            false
        })
      if (!scored)
        CurationOps.emptyDoremiPartials(s)
          .coalesce(1).write.mode("overwrite").parquet(partialsOut)
      mixReport(s, tokenStoreDir, partialsDir, alpha)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(BatchDirs.segment(reportDir, batchId))
    }

  /** True when the reference LM at `path` is actually SCORABLE right
    * now: the dir must hold readable parquet with the bigram-store
    * schema. Probed EVERY trigger — one file listing, trivial against a
    * micro-batch of work. The LM is frozen by contract, but a live
    * re-seed's staged swap has a brief path-absent rename window, and a
    * memoized "seen readable once" answer would skip the probe exactly
    * then (and leak across unrelated sessions sharing the JVM); a dir
    * that exists but carries only an in-flight job's `_temporary` reads
    * as not-yet-seeded rather than crashing the stream.
    */
  private def lmReadable(s: SparkSession, path: String): Boolean =
    BatchDirs.readIfExists(s, path).exists(_.columns.contains("n_pairs"))

  /** The cumulative mix table from the stores alone: q115's temperature
    * columns for every source seen so far, left-joined with q131's DoReMi
    * columns (null for a source with only < 2-token / fully-OOV docs —
    * no LM evidence to weight it by, [[CurationOps.doremiFromStore]]'s
    * drop contract surfaced as nulls instead of dropped rows, so the
    * governor's size-based columns still cover every source).
    */
  def mixReport(s: SparkSession, tokenStoreDir: String,
      partialsDir: String, alpha: Double = 0.3): DataFrame = {
    val tokenStore = BatchDirs.readIfExists(s, tokenStoreDir)
    if (tokenStore.isEmpty)
      return mixReportEmpty(s) // nothing ingested yet — not a read error
    // reuse the already-opened frame: one store listing per trigger
    val temp = CurationOps.temperatureMixFromCounts(
      tokenStore.get.groupBy("source")
        .agg(org.apache.spark.sql.functions.sum("c").as("n_tokens")), alpha)
    val doremi = BatchDirs.readIfExists(s, partialsDir) match {
      case Some(p) => CurationOps.doremiFromPartials(p.drop("batch_id"))
      case None =>
        CurationOps.doremiFromPartials(CurationOps.emptyDoremiPartials(s))
    }
    temp.join(
      doremi.select(col("source"), col("n_docs"), col("nll"),
        col("excess"), col("doremi_weight")),
      Seq("source"), "left")
      .orderBy("source")
  }

  /** The governor's current answer: the report of the highest completed
    * batch id (cumulative over everything ingested so far).
    */
  def latestReport(s: SparkSession, reportDir: String): DataFrame =
    BatchDirs.latestBatchSlice(s, reportDir) match {
      case None => mixReportEmpty(s)
      case Some(rep) => rep.orderBy("source")
    }

  private def mixReportEmpty(s: SparkSession): DataFrame = {
    val temp = CurationOps.temperatureMixOn(BatchDirs.emptyDocs(s))
    temp.join(
      CurationOps.doremiFromPartials(CurationOps.emptyDoremiPartials(s))
        .select(col("source"), col("n_docs"), col("nll"), col("excess"),
          col("doremi_weight")),
      Seq("source"), "left")
  }
}
