package graft.ops

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level exact deduplication (ExactSubstr-style, at word-shingle
  * granularity): find every span of a document that also occurs verbatim
  * elsewhere in the corpus, and optionally rewrite documents with those
  * spans removed. This is the span-level companion to the document-level
  * dedup family in [[DedupOps]] — document dedup drops whole near-copies,
  * span dedup surgically removes boilerplate/quoted passages that repeat
  * across otherwise-distinct documents.
  *
  * Scale design (everything is linear in corpus tokens — no pair listing):
  *  1. shingle pass — each doc emits its K-word shingles with positions
  *     (`posexplode` over a `transform`/`slice` array expression; stays in
  *     whole-stage codegen);
  *  2. one shingle-keyed window count flags occurrences whose shingle
  *     appears ≥ 2 times globally (no pair expansion — a shingle occurring
  *     m times costs m flagged rows, not m² pairs);
  *  3. per-doc interval merge (gaps-and-islands over a doc-partitioned
  *     window — partitions are doc-sized, never corpus-sized);
  *  4. (rewrite only) spans collect to a per-doc sorted array — bounded by
  *     doc size — and a row-local slice expression rebuilds the text.
  *
  * The data-sized shuffles are exactly two: one on the 16-byte md5 shingle
  * key (step 2) and one on doc_id (step 3) — every candidate formulation
  * with more (groupBy + self-semi-join, explode-words + anti-join) measured
  * 2–3× slower at 100× and recomputed the shingle explode to boot.
  */
object SpanOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** Default shingle width (words). 8 keeps the testdata signal
    * non-degenerate; production corpora would use ~50 tokens. */
  val DefaultK = 8

  /** (doc_id, pos, h) for every K-word window; docs shorter than K emit
    * nothing. pos is the 0-based word index of the shingle start; h is the
    * 128-bit md5 of the shingle text — the key every downstream shuffle
    * rides on. 16-byte binary keys shuffle at a third of the raw shingle
    * strings' width, and at 128 bits a collision (which would falsely
    * flag a span as duplicated) stays negligible past 10^12 shingles —
    * the same key-width reasoning as the dedup family's md5 membership
    * keys. */
  /** SQL fragment: the 16-byte md5 K-shingle keys of a token-array column
    * as an array expression — THE shingle-key definition, shared by every
    * span-family op here and the streaming novelty face
    * (`NoveltyTriagePipeline`), so the two can never silently diverge.
    */
  private[graft] def shingleKeysExpr(k: Int, toks: String): String =
    s"transform(sequence(0, size($toks) - $k)," +
      s" i -> unhex(md5(array_join(slice($toks, i + 1, $k), ' '))))"

  private def shingleOcc(docsDf: DataFrame, k: Int): DataFrame =
    docsDf
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(expr(shingleKeysExpr(k, "toks"))).as(Seq("pos", "h")))

  /** Duplicated (doc_id, pos) shingle occurrences: the shingle starting at
    * `pos` occurs ≥ 2 times corpus-wide (same doc or another doc — an
    * internally-repeated passage is just as removable as a cross-doc one).
    *
    * A window count over the shingle key, not groupBy + self-semi-join:
    * the join form shuffles the occurrence table twice AND recomputes the
    * shingle explode for the probe side (measured 17.7 s vs 6.5 s at 100×);
    * the window pays one shuffle + sort and reads the explode once. Hot
    * boilerplate shingles are safe — sort-based windows spill, where a
    * collect_list-based contraction would hold a corpus-wide shingle's
    * occurrence list in one row. */
  private def dupOcc(docsDf: DataFrame, k: Int): DataFrame =
    shingleOcc(docsDf, k)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("cnt") >= 2)
      .select("doc_id", "pos")

  /** q102: duplicated spans per document — maximal word-index intervals
    * covered by shingles that occur ≥ 2 times in the corpus. Overlapping
    * and adjacent shingle intervals merge (classic gaps-and-islands: a new
    * island starts when this shingle begins past the running max end + 1).
    *
    * Output: (doc_id, span_start, span_end, span_len), word indices,
    * inclusive, 0-based.
    */
  def dupSpansOn(docsDf: DataFrame, k: Int = DefaultK): DataFrame =
    mergeIslands(dupOcc(docsDf, k), k)

  /** Gaps-and-islands merge of flagged (doc_id, pos) shingle starts into
    * maximal spans — shared by the whole-corpus and against-store paths. */
  private def mergeIslands(occ: DataFrame, k: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val before = byPos.rowsBetween(Window.unboundedPreceding, -1)
    occ
      .withColumn("prev_end", max(col("pos") + lit(k - 1)).over(before))
      .withColumn("new_island",
        when(col("prev_end").isNull ||
          col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("new_island")).over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  // ---- incremental: spans against an indexed corpus ------------------

  /** Spans of `incoming` docs that duplicate the REFERENCE corpus — the
    * incremental/decontamination face of q102: within-batch repeats are
    * deliberately NOT flagged (they're the new crawl's own content; q102
    * on the batch finds those). The reference side contracts to its
    * distinct shingle keys first — in production that contraction is the
    * persisted shingle store ([[writeShingleStore]]), and the raw indexed
    * corpus is never re-read ([[dupSpansAgainstStore]]). */
  def dupSpansAgainstOn(incoming: DataFrame, reference: DataFrame,
      k: Int = DefaultK): DataFrame =
    spansAgainstKeys(incoming,
      shingleOcc(reference, k).select("h").distinct(), k)

  private def spansAgainstKeys(incoming: DataFrame, refKeys: DataFrame,
      k: Int): DataFrame =
    mergeIslands(
      shingleOcc(incoming, k)
        .join(refKeys, Seq("h"), "left_semi")
        .select("doc_id", "pos"), k)

  /** Materialize a corpus's distinct K-shingle key table (16-byte md5),
    * hash-laid-out for balanced probes — the span-level sibling of
    * `CurationOps.writeFingerprintStore`. Tiny relative to the corpus
    * (32 B per distinct shingle, no text payload). The shingle width k
    * rides in a hidden `_graft_meta` sidecar (underscore-prefixed, so
    * Spark's file index never reads it as data): an 8-word-shingle probe
    * of a 50-word-shingle store matches NOTHING and would otherwise
    * report 100% novelty silently — the bloom store records its params
    * in the row for the same reason. Published, sidecar included,
    * through [[ScaleOps.publishStore]] (a rebuild of a LIVE store must
    * never leave it deleted-but-unwritten mid-crash).
    */
  def writeShingleStore(docsDf: DataFrame, path: String,
      k: Int = DefaultK): Unit =
    ScaleOps.publishStore(shingleOcc(docsDf, k).select("h").distinct()
      .withColumn("fp", xxhash64(col("h")))
      .repartition(col("fp")), path,
      stamp = writeShingleMeta(docsDf.sparkSession, _, k))

  /** Record the store's shingle width in the hidden sidecar. */
  private[graft] def writeShingleMeta(s: SparkSession, path: String, k: Int): Unit = {
    import s.implicits._
    Seq(k).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(ScaleOps.metaPath(path))
  }

  /** The store's recorded shingle width, or None for a store written
    * before the sidecar existed (legacy layout — caller-supplied k is
    * trusted there, as before).
    */
  private[graft] def storedShingleK(s: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(ScaleOps.metaPath(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString).head.getInt(0))
    else None
  }

  /** Fail loudly when the caller's k disagrees with the store's recorded
    * width — mismatched shingle hashes never collide, so every probe
    * would silently answer "nothing indexed".
    */
  private[graft] def requireShingleK(s: SparkSession, path: String, k: Int): Unit =
    storedShingleK(s, path).foreach(stored =>
      require(stored == k,
        s"shingle store at $path was built with k=$stored; probing or " +
          s"appending with k=$k would be silently meaningless"))

  /** Fold an ADMITTED crawl batch's shingle keys into the store,
    * append-only — the incremental face that keeps the indexed corpus
    * never-re-read across crawls: each round touches only the fresh docs.
    * Keys already present land as duplicate rows (batch-side distinct
    * only; a store-side anti-join would pay a store-sized shuffle per
    * crawl) — every consumer is duplicate-safe (semi-join probes, and
    * [[noveltyAgainstStore]] contracts reference keys before counting),
    * so duplicates cost bytes, not correctness. Compact with
    * [[compactShingleStore]] when the bloat matters.
    */
  def appendToShingleStore(admitted: DataFrame, path: String,
      k: Int = DefaultK): Unit = {
    requireShingleK(admitted.sparkSession, path, k)
    shingleOcc(admitted, k).select("h").distinct()
      .withColumn("fp", xxhash64(col("h")))
      .repartition(col("fp"))
      .write.mode("append").parquet(path)
  }

  /** Re-contract accumulated append segments to distinct keys, publishing
    * via staging + atomic swap (durable state — never overwrite the live
    * path in place; the `k` sidecar rides across the swap).
    */
  def compactShingleStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .select("h").distinct()
      .withColumn("fp", xxhash64(col("h")))
      .repartition(col("fp")))

  /** Rebuild the bloom store FROM the shingle store — after a crawl
    * appends fresh keys, the triage filter refreshes by folding the
    * store's (duplicate-tolerant: bloom insertion is idempotent) key
    * table, sized by distinct shingles, never by the corpus. `k` must be
    * the store's shingle size (the store carries keys, not k — the bloom
    * row records it for probe-compatibility).
    */
  def writeBloomStoreFromShingles(s: SparkSession, shinglePath: String,
      bloomPath: String, k: Int = DefaultK, nBits: Int = 1 << 20,
      kHashes: Int = 7): Unit = {
    requireShingleK(s, shinglePath, k) // bloom row must record the real k
    // the store already persists fp = xxhash64(h) — read the 8-byte
    // column instead of re-hashing every 16-byte key per refresh
    val b = s.read.parquet(shinglePath)
      .select(col("fp").as("hk"))
      .agg(GraftFunctions.bloomAgg(col("hk"), nBits, kHashes).as("b"))
      .head().getAs[Array[Byte]]("b")
    publishBloom(s, bloomPath, k, nBits, kHashes,
      if (b == null) graft.functions.Bloom.empty(nBits, kHashes) else b)
  }

  /** The bloom store's one row, published through
    * [[ScaleOps.publishStore]]: a refresh of durable state never leaves
    * the crawl loop's triage filter deleted-but-unwritten mid-crash.
    */
  private def publishBloom(s: SparkSession, path: String, k: Int,
      nBits: Int, kHashes: Int, filter: Array[Byte]): Unit = {
    import s.implicits._
    ScaleOps.publishStore(Seq((k, nBits, kHashes, filter))
      .toDF("k", "n_bits", "k_hashes", "filter").coalesce(1), path)
  }

  /** [[dupSpansAgainstOn]] probing the persisted store instead of
    * re-scanning the indexed corpus. */
  def dupSpansAgainstStore(incoming: DataFrame, storePath: String,
      k: Int = DefaultK): DataFrame = {
    requireShingleK(incoming.sparkSession, storePath, k)
    spansAgainstKeys(incoming,
      incoming.sparkSession.read.parquet(storePath).select("h"), k)
  }

  // ---- persisted bloom filter: the wire-speed face of the shingle store ---

  /** 64-bit bloom domain: xxhash64 over the md5 shingle keys — ONE
    * definition shared by the batch filter builder below and the
    * streaming scorer (`NoveltyTriagePipeline`), so a filter built here
    * is guaranteed probe-compatible there.
    */
  private[graft] def shingleHash64Expr(k: Int, toks: String): String =
    s"transform(${shingleKeysExpr(k, toks)}, h -> xxhash64(h))"

  /** Fold the corpus's shingle hashes into one bloom byte array. No
    * distinct() before the fold: insertion is idempotent, so duplicate
    * keys change nothing in the bytes — a distinct would pay a
    * corpus-sized shuffle for nothing (per-task partial filters of
    * nBits/8 bytes each merge into the single row instead). An empty
    * corpus (no ≥k-token doc) yields the all-zero-payload filter — the
    * semantically right "nothing indexed yet" value (every probe misses,
    * everything scores novel): `graft_bloom_agg` is non-nullable, so zero
    * input rows serialize its initial buffer, which IS the canonical
    * empty filter; the null fallback below is belt-and-braces in the same
    * canonical layout (a raw zero array would fail the probe's header
    * validation).
    */
  def bloomFilterBytes(corpus: DataFrame, k: Int = DefaultK,
      nBits: Int = 1 << 20, kHashes: Int = 7): Array[Byte] = {
    val b = corpus
      .select(Tables.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= k)
      .select(explode(expr(shingleHash64Expr(k, "toks"))).as("hk"))
      .agg(GraftFunctions.bloomAgg(col("hk"), nBits, kHashes).as("b"))
      .head().getAs[Array[Byte]]("b")
    if (b == null) graft.functions.Bloom.empty(nBits, kHashes) else b
  }

  /** Persist the corpus bloom filter beside the shingle store: ONE row
    * (k, n_bits, k_hashes, filter) of bounded bytes, so every streaming
    * triage consumer (`NoveltyTriagePipeline.scoredAgainstStore`) loads
    * the filter instead of re-folding the corpus at stream start — the
    * difference between O(bytes-read) and O(corpus) stream startup.
    * Parameters ride in the row because a probe with mismatched k/bits
    * would be silently meaningless.
    */
  def writeBloomStore(corpus: DataFrame, path: String, k: Int = DefaultK,
      nBits: Int = 1 << 20, kHashes: Int = 7): Unit =
    publishBloom(corpus.sparkSession, path, k, nBits, kHashes,
      bloomFilterBytes(corpus, k, nBits, kHashes))

  /** Read a persisted bloom store: (filter bytes, k). */
  def readBloomStore(s: SparkSession, path: String): (Array[Byte], Int) = {
    val r = s.read.parquet(path).select("filter", "k").head()
    (r.getAs[Array[Byte]]("filter"), r.getInt(1))
  }

  /** Per-document novelty of `incoming` against the REFERENCE corpus — the
    * incremental face of q111: the fraction of each incoming doc's
    * DISTINCT K-shingles absent from the indexed side. The crawl-triage
    * score: fetchers prioritize (or keep) high-novelty documents before
    * any pairwise dedup runs, for the cost of one store probe. Like
    * [[dupSpansAgainstOn]], within-batch repetition is deliberately not
    * scored (q111 on the batch does that); docs shorter than K tokens
    * emit no shingles and no row.
    *
    * Plan: incoming contracts to distinct (doc_id, h); one left join
    * against the reference's distinct keys (the persisted store in
    * production — [[noveltyAgainstStore]]); one doc-keyed agg.
    */
  def noveltyAgainstOn(incoming: DataFrame, reference: DataFrame,
      k: Int = DefaultK): DataFrame =
    noveltyAgainstKeys(incoming,
      shingleOcc(reference, k).select("h").distinct(), k)

  /** [[noveltyAgainstOn]] probing the persisted shingle store. The
    * store-side distinct matters here (unlike the semi-join probes):
    * [[appendToShingleStore]] leaves duplicate keys across segments, and
    * a non-distinct reference side would multiply join rows and overcount
    * a doc's shingles.
    */
  def noveltyAgainstStore(incoming: DataFrame, storePath: String,
      k: Int = DefaultK): DataFrame = {
    requireShingleK(incoming.sparkSession, storePath, k)
    noveltyAgainstKeys(incoming,
      incoming.sparkSession.read.parquet(storePath).select("h").distinct(), k)
  }

  /** The distinct K-shingle keys of a document frame — the contracted
    * reference side every against-keys probe and funnel-store segment
    * rides on (ONE definition with [[shingleOcc]]'s keys, so a store
    * segment and a probe can never hash differently).
    */
  private[graft] def distinctShingleKeys(docsDf: DataFrame,
      k: Int): DataFrame =
    shingleOcc(docsDf, k).select("h").distinct()

  private[graft] def noveltyAgainstKeys(incoming: DataFrame,
      refKeys: DataFrame, k: Int): DataFrame =
    shingleOcc(incoming, k).select("doc_id", "h").distinct()
      .join(refKeys.withColumn("_seen", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_shingles"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ratio",
        round(col("n_novel") / col("n_distinct_shingles"), 6))
      .orderBy("doc_id")

  /** q107: the q62-convention deterministic split — 80 % of the corpus is
    * the already-indexed store, 20 % is the incoming crawl; emit the
    * incoming docs' spans that duplicate the indexed side.
    *
    * r16 (guide §2.4/§6): both halves come from the SAME table, so instead
    * of `dupSpansAgainstOn(d.filter(!existing), d.filter(existing))` — two
    * full parquet text scans (each decodes every page and keeps one half)
    * plus a contract-the-reference + semi-join pipeline (two h-keyed
    * exchanges, or a corpus-wide broadcast under AQE) — run ONE scan that
    * carries the split as a flag and flag incoming occurrences with a
    * window count of reference occurrences per shingle key: q102's own
    * dupOcc pattern (its comment records the join form 2.7× slower at
    * 100×). An incoming shingle occurrence is flagged iff its key occurs
    * ≥ 1 time on the existing side — exactly the semi-join's predicate,
    * so the result set is row-identical (oracle-pinned). Plan: scans 2→1,
    * the reference side's distinct agg + broadcast disappear, one h-keyed
    * exchange total.
    */
  def deltaSpans(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val existing = Tables.lcgBucket(col("doc_id"), 48271L, 23L, 100L) < 80L
    val occ = d
      .select(col("doc_id"), existing.as("existing"),
        Tables.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= DefaultK)
      .select(col("doc_id"), col("existing"),
        posexplode(expr(shingleKeysExpr(DefaultK, "toks")))
          .as(Seq("pos", "h")))
    val flagged = occ
      .withColumn("n_ref",
        sum(when(col("existing"), 1L).otherwise(0L))
          .over(Window.partitionBy("h")))
      .where(!col("existing") && col("n_ref") >= 1L)
      .select("doc_id", "pos")
    mergeIslands(flagged, DefaultK)
  }

  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansOn(docs(s, dir))

  /** q103: span-masked rewrite — every word position covered by a q102
    * span is dropped and the document re-joined from the survivors. Docs
    * with no duplicated span pass through verbatim; a fully-covered doc
    * yields an empty `clean_text` (its row survives — downstream length
    * filters decide its fate, not this operator).
    *
    * Output: (doc_id, n_tokens, n_kept, n_removed, clean_text).
    *
    * HEAVY-DUP REGIME: the rewrite is Ω(flagged spans) by nature — on a
    * corpus where nearly every span is duplicated (measured: 144 s at
    * 1000× on the deliberately dup-dense scale corpus, vs 13.5 s at 100×
    * at realistic density) most of that cost buys rewritten text nobody
    * keeps. Run detection-only q102 ([[dupSpansOn]]) first; if the
    * flagged-span count says the corpus is rewrite-everything dense,
    * exact-dedup / decision-form dedup is the cheaper tool. `spanBudget`
    * makes that check a fail-fast gate: when set, the span count (a
    * ≤|flagged-spans|-row frame, cheap next to the rewrite) is probed
    * once and the call aborts with that guidance instead of paying the
    * full rewrite. Default None = no probe, no behavior change.
    */
  def substrDedupOn(docsDf: DataFrame, k: Int = DefaultK,
      spanBudget: Option[Long] = None): DataFrame = {
    spanBudget.foreach { budget =>
      val flagged = dupSpansOn(docsDf, k).count()
      if (flagged > budget)
        throw new IllegalStateException(
          s"substrDedupOn: $flagged duplicated spans exceed the declared " +
            s"budget $budget — the rewrite is Ω(flagged spans) and this " +
            "corpus is in the rewrite-everything regime. Triage with " +
            "detection-only dupSpansOn (q102) or drop whole documents " +
            "via DedupOps.dedupDecision before rewriting.")
    }
    val toks = docsDf.select(col("doc_id"),
      Tables.tokens(col("text")).as("toks"))
    // Per-doc sorted span arrays, then a row-local array rebuild: the
    // span list is doc-bounded, so the only data-sized shuffles are the
    // span pipeline itself plus one doc-keyed join of two doc-count-sized
    // sides. (The explode-words ∕ anti-join ∕ collect_list formulation
    // shuffles every TOKEN three times — measured 3× slower at 100×.)
    val sp = dupSpansOn(docsDf, k)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(
        struct(col("span_start"), col("span_end")))).as("sp"))
    // kept = the between-span slices (spans are sorted, merged, and
    // non-overlapping by construction, so the gaps tile the doc)
    toks.join(sp, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """CASE WHEN sp IS NULL THEN toks ELSE
          |flatten(transform(sequence(0, size(sp)), j ->
          |  slice(toks,
          |    IF(j = 0, 1, element_at(sp, j).span_end + 2),
          |    greatest(0,
          |      IF(j = size(sp), size(toks),
          |         element_at(sp, j + 1).span_start)
          |        - IF(j = 0, 0, element_at(sp, j).span_end + 1)))))
          |END""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("kept")).as("n_kept"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  def substrDedup(s: SparkSession, dir: String): DataFrame =
    substrDedupOn(docs(s, dir))

  // ---- content-defined chunking --------------------------------------

  /** CDC window (words) and boundary divisor: a position ends a chunk when
    * the rolling hash of the last [[CdcW]] words ≡ 0 (mod [[CdcD]]), so
    * chunks average ~CdcD words and boundaries depend only on LOCAL
    * content — an insertion early in a doc shifts every fixed-stride chunk
    * (q71) but re-synchronizes CDC chunks within a window. */
  val CdcW = 4
  val CdcD = 16
  private val P = 1000000007L
  private val B = 1000003L
  private val B2 = B * B % P
  private val B3 = B2 * B % P

  /** Boundary positions (0-based, ascending, always ending at the last
    * token): position i ends a chunk when the rolling hash of words
    * i−W+1..i ≡ 0 (mod D). The polynomial rides the per-word portable
    * hashes, so both engines compute identical BIGINT arithmetic. Docs
    * shorter than the window are one chunk (also guards Spark's
    * descending-`sequence` behavior and ANSI `element_at` bounds). */
  private def boundsExpr: org.apache.spark.sql.Column = expr(
    s"""IF(size(toks) < $CdcW,
       |  array(size(toks) - 1),
       |  array_distinct(concat(
       |    filter(sequence(${CdcW - 1}, size(toks) - 1), i ->
       |      (element_at(wh, i - 2) * $B3 + element_at(wh, i - 1) * $B2
       |        + element_at(wh, i) * $B + element_at(wh, i + 1))
       |        % $P % $CdcD = 0),
       |    array(size(toks) - 1))))""".stripMargin)

  /** Chunk table: (doc_id, chunk_id, start_tok, n_chunk_toks, chunk_text)
    * with content-defined boundaries. start_tok is 0-based; every doc is
    * fully tiled (the last boundary is forced at the doc end). Per-word
    * hashes are q34's code-point fold — DuckDB replays them via
    * `unicode()`; everything here is a row-local array expression, the
    * corpus never shuffles. */
  def cdcChunksOn(docsDf: DataFrame): DataFrame = {
    docsDf
      .select(col("doc_id"), Tables.tokens(col("text")).as("toks"))
      .withColumn("wh", transform(col("toks"), word => aggregate(
        GraftFunctions.codePoints(word), lit(0L),
        (a, c) => (a * 31 + c) % P)))
      .withColumn("bounds", boundsExpr)
      .select(col("doc_id"), col("toks"), posexplode(expr(
        """transform(sequence(0, size(bounds) - 1), j -> struct(
          |  IF(j = 0, 0, element_at(bounds, j) + 1) AS start_tok,
          |  element_at(bounds, j + 1) AS end_tok))""".stripMargin))
        .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id"),
        col("c.start_tok").as("start_tok"),
        (col("c.end_tok") - col("c.start_tok") + 1).as("n_chunk_toks"),
        array_join(slice(col("toks"), col("c.start_tok") + 1,
          col("c.end_tok") - col("c.start_tok") + 1), " ").as("chunk_text"))
  }

  /** q106: chunk-level dedup savings — what a content-addressed chunk
    * store would deduplicate. One row: chunk counts, duplicate
    * occurrences, and the token volume the duplicates represent. The
    * chunk key is a 16-byte md5 of the chunk text (the oracle groups on
    * the text itself — same cardinality, collision-negligible).
    */
  def chunkDedupOn(docsDf: DataFrame): DataFrame =
    cdcChunksOn(docsDf)
      .select(unhex(md5(col("chunk_text"))).as("ch"),
        col("n_chunk_toks").cast("long").as("tok"))
      .groupBy("ch")
      .agg(count(lit(1)).as("cnt"), max(col("tok")).as("tok"))
      .agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("cnt") - 1).as("n_dup_occurrences"),
        sum(col("cnt") * col("tok")).as("chunk_tokens_total"),
        sum((col("cnt") - 1) * col("tok")).as("tokens_saved"))
      .select(col("n_chunks"), col("n_distinct_chunks"),
        col("n_dup_occurrences"), col("chunk_tokens_total"),
        col("tokens_saved"),
        round(col("tokens_saved") * 100.0 / col("chunk_tokens_total"), 4)
          .as("savings_pct"))

  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDedupOn(docs(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_dup_spans" -> dupSpans,
    "q103_substr_dedup" -> substrDedup,
    "q106_chunk_dedup" -> chunkDedup,
    "q107_delta_spans" -> deltaSpans)

  /** Island-merge SQL (expects a CTE `occ(doc_id, pos)` upstream). */
  private val islandCtes: String =
    s"""isl AS (SELECT doc_id, pos,
       |  CASE WHEN pos > coalesce(max(pos + ${DefaultK - 1}) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |    THEN 1 ELSE 0 END AS ni FROM occ),
       |g AS (SELECT doc_id, pos,
       |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM isl),
       |spans AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       |    CAST(max(pos) + ${DefaultK - 1} AS INT) AS span_end
       |  FROM g GROUP BY doc_id, grp)""".stripMargin

  /** Shared oracle CTE chain: tokenize → shingle with positions → flag
    * duplicated shingles → merged islands (mirrors steps 1–3 above). */
  private val spanCtes: String =
    s"""WITH d AS (SELECT doc_id,
       |  string_split(trim(text), ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(toks[i+1 : i+$DefaultK], ' ') AS shingle
       |  FROM (SELECT doc_id, toks,
       |      unnest(range(0, len(toks) - $DefaultK + 1)) AS i
       |    FROM d WHERE len(toks) >= $DefaultK)),
       |dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) >= 2),
       |occ AS (SELECT doc_id, pos FROM sh
       |  WHERE shingle IN (SELECT shingle FROM dup)),
       |$islandCtes""".stripMargin

  val oracle: Map[String, String] = Map(
    "q102_dup_spans" ->
      s"""$spanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    "q103_substr_dedup" ->
      s"""$spanCtes,
         |cov AS (SELECT doc_id,
         |    CAST(unnest(range(span_start, span_end + 1)) AS INT) AS pos
         |  FROM spans),
         |w AS (SELECT doc_id, CAST(i AS INT) AS pos, toks[i+1] AS word,
         |    CAST(len(toks) AS INT) AS n_tokens
         |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i
         |    FROM d)),
         |kept AS (SELECT w.* FROM w LEFT JOIN cov
         |    ON w.doc_id = cov.doc_id AND w.pos = cov.pos
         |  WHERE cov.pos IS NULL),
         |rb AS (SELECT doc_id, n_tokens, CAST(count(*) AS INT) AS n_kept,
         |    string_agg(word, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id, n_tokens)
         |SELECT d2.doc_id, CAST(len(d2.toks) AS INT) AS n_tokens,
         |  coalesce(rb.n_kept, 0) AS n_kept,
         |  CAST(len(d2.toks) AS INT) - coalesce(rb.n_kept, 0) AS n_removed,
         |  coalesce(rb.clean_text, '') AS clean_text
         |FROM d AS d2 LEFT JOIN rb ON d2.doc_id = rb.doc_id
         |ORDER BY d2.doc_id""".stripMargin,
    "q106_chunk_dedup" ->
      s"""WITH d AS (SELECT doc_id,
         |  string_split(trim(text), ' ') AS toks FROM documents),
         |h AS (SELECT doc_id, toks, list_transform(toks, word ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, length(word)),
         |        i -> CAST(unicode(word[i]) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % $P)) AS wh
         |  FROM d),
         |b AS (SELECT doc_id, toks, CASE WHEN len(toks) < $CdcW
         |    THEN [len(toks) - 1]
         |    -- list_distinct does NOT preserve order in DuckDB; bounds
         |    -- are ascending by construction, so sort restores them
         |    ELSE list_sort(list_distinct(list_concat(
         |      list_filter(generate_series(${CdcW - 1}, len(toks) - 1),
         |        i -> (wh[i - 2] * $B3 + wh[i - 1] * $B2
         |          + wh[i] * $B + wh[i + 1]) % $P % $CdcD = 0),
         |      [len(toks) - 1]))) END AS bounds
         |  FROM h),
         |c AS (SELECT doc_id, toks, bounds,
         |    unnest(generate_series(1, len(bounds))) AS j FROM b),
         |ch AS (SELECT
         |    CASE WHEN j = 1 THEN 0 ELSE bounds[j - 1] + 1 END AS s,
         |    bounds[j] AS e, toks FROM c),
         |t AS (SELECT array_to_string(toks[s + 1 : e + 1], ' ')
         |      AS chunk_text,
         |    e - s + 1 AS tok FROM ch),
         |g AS (SELECT chunk_text, count(*) AS cnt, max(tok) AS tok
         |  FROM t GROUP BY 1)
         |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |  CAST(sum(cnt - 1) AS BIGINT) AS n_dup_occurrences,
         |  CAST(sum(cnt * tok) AS BIGINT) AS chunk_tokens_total,
         |  CAST(sum((cnt - 1) * tok) AS BIGINT) AS tokens_saved,
         |  round(CAST(sum((cnt - 1) * tok) AS BIGINT) * 100.0e0
         |    / CAST(sum(cnt * tok) AS BIGINT), 4) AS savings_pct
         |FROM g""".stripMargin,
    "q107_delta_spans" ->
      s"""WITH d AS (SELECT doc_id,
         |    string_split(trim(text), ' ') AS toks,
         |    ((doc_id % 100 + 100) % 100 * 48271 + 23) % 100 < 80 AS existing
         |  FROM documents),
         |sh AS (SELECT doc_id, existing, CAST(i AS INT) AS pos,
         |    array_to_string(toks[i+1 : i+$DefaultK], ' ') AS shingle
         |  FROM (SELECT doc_id, existing, toks,
         |      unnest(range(0, len(toks) - $DefaultK + 1)) AS i
         |    FROM d WHERE len(toks) >= $DefaultK)),
         |ref AS (SELECT DISTINCT shingle FROM sh WHERE existing),
         |occ AS (SELECT doc_id, pos FROM sh WHERE NOT existing
         |  AND shingle IN (SELECT shingle FROM ref)),
         |$islandCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin)
}
