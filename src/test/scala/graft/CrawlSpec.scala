package graft

import graft.ops.{CurationOps, DedupOps, SpanOps, TextOps}
import graft.streaming.NoveltyTriagePipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The incremental crawl loop, END TO END: every store family and the
  * operators that feed them, composed the way a production crawl round
  * actually chains them —
  *
  *   streaming novelty triage → quality gate → span decontamination
  *   evidence → winnow near-dup evidence → within-batch dedup decision →
  *   fingerprint-store admission → append to fingerprint / token-count /
  *   cardinality / winnow stores
  *
  * over two simulated crawl batches, asserting the END state equals the
  * one-shot batch computation over everything ever admitted. Each stage is
  * individually spec-pinned elsewhere; this pins the CONTRACTS BETWEEN
  * them (id/column handoffs, store append semantics across rounds, triage
  * feeding the decision form).
  */
class CrawlSpec extends SparkSpec {

  import spark.implicits._

  private val K = 3 // shingle size for triage/span stores (short fixtures)

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.map { case (id, src, t) => (id, src, t, "en") }
      .toDF("doc_id", "source", "text", "lang")

  /** Streaming triage: score `batch` against the PERSISTED bloom store
    * through the MemoryStream face, admit docs that are not fully known
    * (novelty > 0, or null = too short to judge — conservative keep).
    */
  private def triage(batch: Seq[(Long, String, String)], bloomPath: String,
      sinkName: String): Seq[(Long, String, String)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = NoveltyTriagePipeline.scoredAgainstStore(
      input.toDS().toDF("doc_id", "source", "text"), bloomPath)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    input.addData(batch: _*)
    q.processAllAvailable()
    q.stop()
    val admittedIds = spark.table(sinkName)
      .filter(col("novelty_ratio").isNull || col("novelty_ratio") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    batch.filter(r => admittedIds(r._1))
  }

  test("two-crawl round trip: triage → spans → decision → stores equals " +
      "the one-shot batch answer") {
    val root = tmpDir("crawl")
    val fpStore = s"$root/fingerprints"
    val shStore = s"$root/shingles"
    val blStore = s"$root/bloom"
    val hllStore = s"$root/cardinality"
    val tcStore = s"$root/token_counts"
    val wnStore = s"$root/winnow"

    // round 0: the already-indexed corpus seeds every store
    val corpus0 = Seq(
      (0L, "s1", "alpha beta gamma delta epsilon"),
      (1L, "s1", "one two three four five six"))
    var accepted = docsDf(corpus0)
    CurationOps.writeFingerprintStore(accepted, fpStore)
    SpanOps.writeShingleStore(accepted, shStore, K)
    SpanOps.writeBloomStoreFromShingles(spark, shStore, blStore, K,
      nBits = 1 << 12)
    CurationOps.writeCardinalityStore(accepted, hllStore)
    TextOps.writeTokenCountStore(accepted, tcStore)
    TextOps.writeWinnowStore(accepted, wnStore)

    // crawl 1: exact dup of an indexed doc (triage drops), a novel doc, a
    // within-batch copy of it (decision drops), a too-short doc (admitted
    // conservatively)
    val crawl1 = Seq(
      (10L, "s2", "alpha beta gamma delta epsilon"), // == doc 0
      (11L, "s2", "brand new content words here now"),
      (12L, "s2", "brand new content words here now"), // == doc 11
      (13L, "s3", "mini doc"), // < K tokens: no shingles
      // degenerate repetition: novel to triage, but the quality gate
      // rejects it (q117 logit < 0) before it can poison any store
      (14L, "s3", "x x x x x x x x x x"))
    // crawl 2: a cross-crawl dup of doc 11 (triage drops — the stores
    // learned doc 11 in round 1) and one more novel doc
    val crawl2 = Seq(
      (20L, "s3", "brand new content words here now"), // == doc 11
      (21L, "s2", "completely fresh final crawl payload"),
      // novel overall (3 of 4 shingles fresh → admitted) but opens with
      // doc 1's "one two three" span — the span probe must flag exactly it
      (22L, "s3", "one two three unrelated trailing words"))

    var spanEvidence = Map.empty[Long, Long]
    var matchEvidence = Set.empty[(Long, Long)]
    for ((crawl, i) <- Seq(crawl1, crawl2).zipWithIndex) {
      // winnow near-dup evidence runs on the RAW batch (it must see the
      // dups triage is about to drop) against the persisted index only
      matchEvidence ++= TextOps.matchesAgainstStore(docsDf(crawl),
        wnStore, maxDf = 8, minShared = 1, topK = 100).collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")))
      val triaged = triage(crawl, blStore, s"crawl_triage_$i")
      // quality gate: same frozen model as batch q117 / the streaming
      // QualityGatePipeline — rejects never reach dedup or any store
      val gateKeep = TextOps.withQualityLogit(docsDf(triaged))
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val admitted = triaged.filter(r => gateKeep(r._1))
      // span decontamination evidence against the persisted shingle store
      // (the raw indexed corpus is deliberately NOT an input here)
      val spans = SpanOps.dupSpansAgainstStore(
        docsDf(admitted), shStore, K)
      spanEvidence ++= spans.groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      // within-batch dedup decision: keep each component's representative
      val decision = DedupOps.dedupDecision(docsDf(admitted))
      val keepIds = decision.filter(col("doc_id") === col("rep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val kept = docsDf(admitted.filter(r => keepIds(r._1)))
      // fingerprint-store admission (exact-dup probe, store-side only),
      // then fold the fresh docs into every store
      val fresh = CurationOps.freshAgainstStore(kept, fpStore)
      CurationOps.appendToFingerprintStore(fresh, fpStore)
      CurationOps.mergeIntoCardinalityStore(fresh, hllStore)
      TextOps.appendToTokenCountStore(fresh, tcStore)
      accepted = accepted.unionByName(fresh)
      // the incremental index update: ONLY the fresh docs are shingled
      // (the indexed corpus is never re-read), and the triage filter
      // refreshes from the STORE, sized by distinct shingles
      SpanOps.appendToShingleStore(fresh, shStore, K)
      TextOps.appendToWinnowStore(fresh, wnStore)
      SpanOps.writeBloomStoreFromShingles(spark, shStore, blStore, K,
        nBits = 1 << 12)
    }

    // the per-crawl bloom refreshes hit a LIVE store: they must have gone
    // through staging + swap (never a direct overwrite) and left no residue
    assert(!new java.io.File(blStore + ".merging").exists)
    assert(!new java.io.File(blStore + ".old").exists)

    // ---- end-state == one-shot batch answers --------------------------
    val everything = docsDf(corpus0 ++ crawl1 ++ crawl2)
    // 1. admitted doc set == quality gate + exact dedup (min-id
    // representative), one-shot — the gate composes identically in both
    val oneShotIds = TextOps.withQualityLogit(everything)
      .filter(col("keep"))
      .withColumn("norm", DedupOps.normText)
      .groupBy("norm").agg(min("doc_id").as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val acceptedIds = accepted.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(acceptedIds === oneShotIds)
    assert(acceptedIds === Set(0L, 1L, 11L, 13L, 21L, 22L))
    // 2. incrementally-appended fingerprint store == one-shot rebuild
    val oneShotFp = s"$root/fingerprints_oneshot"
    CurationOps.writeFingerprintStore(accepted, oneShotFp)
    def fps(p: String) = spark.read.parquet(p).select("fp").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(fps(fpStore) === fps(oneShotFp))
    // 3. merged HLL cardinality == one-shot sketch build
    val oneShotHll = s"$root/cardinality_oneshot"
    CurationOps.writeCardinalityStore(accepted, oneShotHll)
    def card(p: String) = CurationOps.cardinalityFromStore(spark, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card(hllStore) === card(oneShotHll))
    // 4. appended token counts == raw drift over the accepted corpus
    assert(TextOps.sourceDriftFromStore(spark, tcStore).collect()
      .map(_.toSeq).toSeq
      === TextOps.sourceDriftOn(accepted).collect().map(_.toSeq).toSeq)
    // 4b. incrementally-appended shingle store == one-shot rebuild (as
    // key sets — appends may leave duplicate rows), the compacted form is
    // row-identical, and the bloom rebuilt from the store byte-equals a
    // bloom built from the corpus (insertion is idempotent + commutative)
    val oneShotSh = s"$root/shingles_oneshot"
    SpanOps.writeShingleStore(accepted, oneShotSh, K)
    def keys(p: String) = spark.read.parquet(p).select("h")
      .collect().map(r => r.getAs[Array[Byte]](0).toSeq).toSet
    assert(keys(shStore) === keys(oneShotSh))
    SpanOps.compactShingleStore(spark, shStore)
    assert(spark.read.parquet(shStore).count()
      === spark.read.parquet(oneShotSh).count())
    val (bloomInc, kInc) = SpanOps.readBloomStore(spark, blStore)
    assert(kInc === K)
    assert(bloomInc.toSeq
      === SpanOps.bloomFilterBytes(accepted, K, 1 << 12).toSeq)
    // 5. span evidence: fully-dup docs never reached the probe (triage
    // dropped 10 and 20), genuinely fresh docs flagged nothing, and the
    // partially-overlapping doc 22 was flagged on exactly one span — the
    // "one two three" opening it shares with indexed doc 1
    assert(spanEvidence === Map(22L -> 1L), s"span evidence: $spanEvidence")
    // 6. winnow evidence: the cross-crawl exact dups surfaced from the
    // persisted index BEFORE triage dropped them (10 == indexed 0;
    // 20 == doc 11, indexed in round 1); the genuinely fresh docs paired
    // with nothing; short doc 13 is unfingerprintable (below k tokens)
    assert(matchEvidence.contains((10L, 0L)), s"matches: $matchEvidence")
    assert(matchEvidence.contains((20L, 11L)), s"matches: $matchEvidence")
    assert(!matchEvidence.exists(_._1 == 21L), s"matches: $matchEvidence")
    assert(!matchEvidence.exists(_._1 == 11L), s"matches: $matchEvidence")
    // 7. incrementally-appended winnow store == one-shot rebuild
    val oneShotWn = s"$root/winnow_oneshot"
    TextOps.writeWinnowStore(accepted, oneShotWn)
    TextOps.compactWinnowStore(spark, wnStore)
    def wnRows(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getAs[Long]("fp"), r.getAs[Long]("doc_id")))
      .toSet
    assert(wnRows(wnStore) === wnRows(oneShotWn))
  }

  test("media/vector crawl faces: phash screen gates each batch against " +
      "the index, PQ appends keep store search == in-plan search") {
    import graft.ops.{MultimodalOps, SimilarityOps}
    val root = tmpDir("crawl-mv")
    val phStore = s"$root/phash"
    val pqStore = s"$root/pq_codes"
    val dim = SimilarityOps.Dim

    // deterministic payloads + embeddings per doc id
    def payload(seed: Int): String =
      new scala.util.Random(seed).alphanumeric.take(160).mkString
    def vecOf(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def mediaDf(rows: Seq[(Long, Int)]) =
      rows.map { case (id, s) => (id, payload(s)) }.toDF("doc_id", "text")
    def embOf(rows: Seq[(Long, Int)]) =
      rows.map { case (id, s) => (id, vecOf(s), (id % 3).toInt) }
        .toDF("vec_id", "embedding", "label")

    // round 0: seed both indexes with the already-ingested corpus
    val corpus0 = Seq((0L, 100), (1L, 101))
    var acceptedRows = corpus0
    MultimodalOps.writePhashStore(mediaDf(corpus0), phStore)
    val cbook = SimilarityOps.kmeansCentroids(embOf(corpus0), k = 2,
      iters = 2)
    SimilarityOps.writePqStore(embOf(corpus0), cbook, pqStore)

    // two crawls: each carries one exact media dup of an INDEXED doc
    // (crawl 2's dup targets a doc admitted in crawl 1 — proving the
    // append taught the screen) and one fresh payload
    val crawls = Seq(
      Seq((10L, 100), (11L, 102)), // 10 duplicates indexed doc 0
      Seq((20L, 102), (21L, 103))) // 20 duplicates crawl-1 doc 11
    for (crawl <- crawls) {
      // hash each batch ONCE: the same (doc_id, phash) frame feeds the
      // screen and, filtered to the fresh subset, the append
      val hashed = MultimodalOps.mediaPhashOn(mediaDf(crawl))
        .localCheckpoint(true)
      val hits = MultimodalOps.phashHashedPairsAgainstStore(hashed, spark,
        phStore).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val dupIds = hits.map(_._1).toSet
      val fresh = crawl.filterNot(r => dupIds(r._1))
      // the screen must flag EXACTLY the planted dup, at Hamming 0,
      // against its true original
      assert(hits.count(_._3 == 0) === 1, s"hits: ${hits.toSeq}")
      MultimodalOps.appendHashedToPhashStore(
        hashed.filter(!col("doc_id").isInCollection(dupIds)), phStore)
      SimilarityOps.appendToPqStore(embOf(fresh), cbook, pqStore)
      acceptedRows ++= fresh
    }
    assert(acceptedRows.map(_._1).toSet === Set(0L, 1L, 11L, 21L))

    // end state: incrementally-built indexes equal one-shot builds
    val oneShotPh = s"$root/phash_oneshot"
    MultimodalOps.writePhashStore(mediaDf(acceptedRows), oneShotPh)
    def ph(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ph(phStore) === ph(oneShotPh))
    val fromStore = SimilarityOps.annPqFromStore(spark, pqStore, cbook,
      vecOf(100), excludeId = 0L, k = 3).collect()
    val inline = SimilarityOps.annPqWith(embOf(acceptedRows), cbook, k = 3)
      .collect()
    assert(fromStore.map(r =>
      (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq ===
      inline.map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq)
  }

  test("streaming media triage: store dups and within-batch copies " +
      "quarantine, appends teach the screen across micro-batches") {
    import graft.streaming.MediaTriagePipeline
    import graft.ops.MultimodalOps
    val root = tmpDir("media-stream")
    val (store, sink, quar, ckpt) =
      (s"$root/phash", s"$root/keep", s"$root/quarantine", s"$root/ckpt")
    def payload(seed: Int): String =
      new scala.util.Random(seed).alphanumeric.take(160).mkString

    MediaTriagePipeline.seedStore(
      Seq((0L, payload(100)), (1L, payload(101))).toDF("doc_id", "text"),
      store)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = MediaTriagePipeline.runMediaIngest(
      input.toDS().toDF("doc_id", "text"), store, sink, quar, ckpt)
    // batch 1: a dup of seeded doc 0, a fresh payload, a within-batch
    // copy of that fresh payload, and an empty payload (unhashable)
    input.addData((10L, payload(100)), (11L, payload(102)),
      (12L, payload(102)), (13L, ""))
    q.processAllAvailable()
    // batch 2: a dup of batch-1's admitted doc 11 (the append must have
    // taught the screen) and one more fresh payload
    input.addData((20L, payload(102)), (21L, payload(103)))
    q.processAllAvailable()
    q.stop()

    def ids(p: String) = spark.read.parquet(p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(sink) === Set(11L, 21L))
    assert(ids(quar) === Set(10L, 12L, 13L, 20L))
    // quarantine reasons: near-dups vs the empty-payload reject
    val reasons = spark.read.parquet(quar)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons === Map(10L -> "duplicate", 12L -> "duplicate",
      13L -> "unhashable", 20L -> "duplicate"))
    // end-state store == one-shot fingerprint build over everything kept
    val oneShot = MultimodalOps.mediaPhashOn(
      Seq((0L, payload(100)), (1L, payload(101)), (11L, payload(102)),
        (21L, payload(103))).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = spark.read.parquet(store)
      .select("doc_id", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === oneShot)
    // the per-batch triage report rolls the routing dirs up additively;
    // the unhashable reject is surfaced separately and excluded from
    // dup_rate (batch 0: 4 docs, 1 kept, 3 quarantined of which 1
    // unhashable -> dup_rate (3-1)/4 = 0.5)
    val report = MediaTriagePipeline.triageReport(spark, sink, quar)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(report === Map(0L -> (4L, 1L, 3L, 1L, 0.5),
      1L -> (2L, 1L, 1L, 0L, 0.5)), s"report: $report")
  }

  test("media triage store guard: an absent store reads as an empty " +
      "index; a flat (un-segmented) store layout is rejected") {
    import graft.streaming.MediaTriagePipeline
    import graft.ops.MultimodalOps
    def payload(seed: Int): String =
      new scala.util.Random(seed).alphanumeric.take(160).mkString
    implicit val sqlCtx = spark.sqlContext

    // arm 1: never-seeded store — the first batch must admit everything
    // instead of dying on a path-not-found read
    locally {
      val root = tmpDir("media-unseeded")
      val input = MemoryStream[(Long, String)]
      val q = MediaTriagePipeline.runMediaIngest(
        input.toDS().toDF("doc_id", "text"), s"$root/phash", s"$root/keep",
        s"$root/quarantine", s"$root/ckpt")
      input.addData((1L, payload(300)), (2L, payload(301)))
      q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(s"$root/keep")
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      // and the store segment was still written, teaching future batches
      assert(spark.read.parquet(s"$root/phash")
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    }

    // arm 2: a flat writePhashStore layout (no batch_id partition) must
    // fail loudly, not silently break replay-segment exclusion
    locally {
      val root = tmpDir("media-flat-store")
      MultimodalOps.writePhashStore(
        Seq((0L, payload(310))).toDF("doc_id", "text"), s"$root/phash")
      val input = MemoryStream[(Long, String)]
      val q = MediaTriagePipeline.runMediaIngest(
        input.toDS().toDF("doc_id", "text"), s"$root/phash", s"$root/keep",
        s"$root/quarantine", s"$root/ckpt")
      input.addData((1L, payload(311)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("batch_id partition")),
        s"expected the seedStore guard message, got: ${messages(e)}")
    }
  }

  test("vector ingest: malformed embeddings quarantine with their reason, " +
      "valid rows encode incrementally, store search equals in-plan") {
    import graft.streaming.VectorIngestPipeline
    import graft.ops.SimilarityOps
    val root = tmpDir("vec-ingest")
    val (store, quar, ckpt) = (s"$root/pq", s"$root/quarantine", s"$root/ckpt")
    val dim = SimilarityOps.Dim
    def vecOf(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val seedRows = Seq((0L, vecOf(50), 0), (1L, vecOf(51), 1))
    val cbook = SimilarityOps.kmeansCentroids(
      seedRows.toDF("vec_id", "embedding", "label"), k = 2, iters = 2)
    VectorIngestPipeline.seedStore(
      seedRows.toDF("vec_id", "embedding", "label"), cbook, store)
    // publish the ANALYZE artifact and run the stream FROM THE STORE —
    // the restart-safe lifecycle (train once, publish, every ingest
    // rehydrates the same literal array); the search-vs-inline equality
    // below then proves the rehydrated codebook IS the trained one
    SimilarityOps.writeCodebookStore(spark, cbook, s"$root/codebook", 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[java.lang.Float], Int)]
    val q = VectorIngestPipeline.runVectorIngestFromStore(
      input.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/codebook", store, quar, ckpt)
    def boxed(a: Array[Float]): Array[java.lang.Float] =
      a.map(java.lang.Float.valueOf)
    // batch 1: a valid vector plus every malformation class
    input.addData(
      (10L, boxed(vecOf(52)), 0),
      (11L, null: Array[java.lang.Float], 1), // null vector
      (12L, boxed(vecOf(53)).updated(3, null: java.lang.Float), 0), // null elem
      (13L, boxed(vecOf(54)).take(10), 1), // wrong dim
      (14L, Array.fill(dim)(java.lang.Float.valueOf(0.0f)), 0)) // degenerate
    q.processAllAvailable()
    // batch 2: one more valid vector
    input.addData((20L, boxed(vecOf(55)), 1))
    q.processAllAvailable()
    q.stop()

    val rejects = spark.read.parquet(quar)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rejects === Map(11L -> "null_vector", 12L -> "null_element",
      13L -> "wrong_dim", 14L -> "degenerate_norm"))
    // the incrementally-encoded index answers searches identically to
    // the in-plan form over everything admitted
    val admitted = (seedRows ++ Seq((10L, vecOf(52), 0), (20L, vecOf(55), 1)))
      .toDF("vec_id", "embedding", "label")
    val fromStore = SimilarityOps.annPqFromStore(spark, store, cbook,
      vecOf(50), excludeId = 0L, k = 3).collect()
    val inline = SimilarityOps.annPqWith(admitted, cbook, k = 3).collect()
    assert(fromStore.map(r =>
      (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq ===
      inline.map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq)
  }

  test("vector ingest replay: a stale pre-committed segment is rewritten, " +
      "never appended to") {
    import graft.streaming.VectorIngestPipeline
    import graft.ops.SimilarityOps
    val root = tmpDir("vec-replay")
    val (store, quar, ckpt) = (s"$root/pq", s"$root/quarantine", s"$root/ckpt")
    val dim = SimilarityOps.Dim
    def vecOf(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val seedRows = Seq((0L, vecOf(60), 0), (1L, vecOf(61), 1))
    val cbook = SimilarityOps.kmeansCentroids(
      seedRows.toDF("vec_id", "embedding", "label"), k = 2, iters = 1)
    VectorIngestPipeline.seedStore(
      seedRows.toDF("vec_id", "embedding", "label"), cbook, store)
    // a crashed attempt left batch 0's segment with stale rows (an old
    // doc that the replayed batch no longer admits)
    SimilarityOps.writePqStore(
      Seq((99L, vecOf(62), 0)).toDF("vec_id", "embedding", "label"),
      cbook, s"$store/batch_id=0")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float], Int)]
    val q = VectorIngestPipeline.runVectorIngest(
      input.toDS().toDF("vec_id", "embedding", "label"), cbook, store,
      quar, ckpt)
    input.addData((10L, vecOf(63), 0))
    q.processAllAvailable()
    q.stop()

    val seg0 = spark.read.parquet(store)
      .filter(col("batch_id") === 0).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(seg0 === Set(10L),
      s"the replayed segment must hold exactly the batch's rows: $seg0")
  }

  test("vector ingest generation guard: a restart fed a codebook that " +
      "isn't the store's encoding generation fails the stream loud") {
    import graft.streaming.VectorIngestPipeline
    import graft.ops.SimilarityOps
    val root = tmpDir("vec-gen-guard")
    val (store, quar) = (s"$root/pq", s"$root/quarantine")
    val dim = SimilarityOps.Dim
    def vecOf(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val seedRows = Seq((0L, vecOf(70), 0), (1L, vecOf(71), 1))
      .toDF("vec_id", "embedding", "label")
    val cbook = SimilarityOps.kmeansCentroids(seedRows, k = 2, iters = 2)
    VectorIngestPipeline.seedStore(seedRows, cbook, store)

    // the hand-passed-array drift the pipeline scaladoc warns about:
    // same shape, different values — its codes would be unsearchable
    // alongside the seeded segments
    val drifted = cbook.map(_.map(_ * 1.5))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float], Int)]
    val q = VectorIngestPipeline.runVectorIngest(
      input.toDS().toDF("vec_id", "embedding", "label"), drifted, store,
      quar, s"$root/ckpt-bad")
    input.addData((10L, vecOf(72), 0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("DIFFERENT codebook generation")),
      s"expected the generation-guard message, got: ${messages(e)}")
    // and nothing was written: the guard ran before the segment write
    assert(!new java.io.File(s"$store/batch_id=0").exists,
      "the drifted batch must not leave a segment")

    // the matching codebook restarts cleanly from a fresh checkpoint
    val q2 = VectorIngestPipeline.runVectorIngest(
      input.toDS().toDF("vec_id", "embedding", "label"), cbook, store,
      quar, s"$root/ckpt-good")
    input.addData((11L, vecOf(73), 1))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(store).select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 1L, 10L, 11L))
  }

  test("vector and IVF-PQ ingest stamp _graft_meta at the keyed store " +
      "root only, and a drifted restart is still refused") {
    import graft.streaming.VectorIngestPipeline
    import graft.ops.{ScaleOps, SimilarityOps}
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("vec-root-meta")
    val r = new scala.util.Random(9)
    def vec(): Array[Float] =
      Array.fill(SimilarityOps.Dim)(r.nextGaussian().toFloat)
    val rows = (0L until 12L).map(i => (i, vec(), (i % 2).toInt))
    val seedRows = rows.toDF("vec_id", "embedding", "label")
    val valid = seedRows.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("embedding"))
    val cbook = SimilarityOps.kmeansCentroids(valid, k = 2, iters = 1)
    val rcb = SimilarityOps.pqResidualCodebook(valid, cbook, k = 2,
      iters = 1)
    val (pq, ivf) = (s"$root/pq", s"$root/ivf")
    VectorIngestPipeline.seedStore(seedRows, cbook, pq)
    VectorIngestPipeline.seedIvfPqStore(valid, cbook, rcb, ivf)
    // one input per query: a MemoryStream trims what a reader commits
    val ins = Seq.fill(3)(MemoryStream[(Long, Array[Float], Int)])
    def stream(i: Int) = ins(i).toDS().toDF("vec_id", "embedding", "label")
    val q1 = VectorIngestPipeline.runVectorIngest(stream(0), cbook, pq,
      s"$root/q1", s"$root/c1")
    val q2 = VectorIngestPipeline.runIvfPqIngest(stream(1), cbook, rcb, ivf,
      s"$root/q2", s"$root/c2")
    val v = vec()
    ins.take(2).foreach(_.addData((20L, v, 0)))
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }
    def exists(p: String) = new java.io.File(p).exists
    for (store <- Seq(pq, ivf)) {
      assert(exists(ScaleOps.metaPath(store)), s"$store: root stamp")
      for (id <- Seq(-1L, 0L)) {
        val seg = graft.streaming.BatchDirs.segment(store, id)
        assert(exists(seg), s"$seg: segment written")
        assert(!exists(ScaleOps.metaPath(seg)), s"$seg: no segment stamp")
      }
    }
    // the root stamp alone still refuses a drifted codebook at restart
    val bad = VectorIngestPipeline.runVectorIngest(stream(2),
      cbook.map(_.map(_ * 1.5)), pq, s"$root/q3", s"$root/c3")
    ins(2).addData((21L, vec(), 1))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.processAllAvailable()
    }
    bad.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("DIFFERENT codebook generation")),
      s"expected the generation-guard message, got: ${messages(e)}")
  }

  test("IVF-PQ ingest: malformed vectors quarantine, valid rows land " +
      "residual codes in cell-partitioned segments, keyed-root search " +
      "equals the batch encode, and a drifted artifact fails the " +
      "stream loud") {
    import graft.streaming.VectorIngestPipeline
    import graft.ops.SimilarityOps
    val root = tmpDir("ivfpq-ingest")
    val (store, quar) = (s"$root/index", s"$root/quarantine")
    val dim = SimilarityOps.Dim
    def vecOf(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def valid(rows: Seq[(Long, Array[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("embedding"))
    val seedRows = (0L until 40L).map(i => (i, vecOf(80 + i.toInt), (i % 2).toInt))
    val cells = SimilarityOps.kmeansCentroids(valid(seedRows), k = 3,
      iters = 2)
    val rcb = SimilarityOps.pqResidualCodebook(valid(seedRows), cells,
      k = 3, iters = 2)
    VectorIngestPipeline.seedIvfPqStore(valid(seedRows), cells, rcb, store)
    // one ANALYZE publishes both artifacts; the stream rehydrates them
    SimilarityOps.writeCodebookStore(spark, cells, s"$root/cells", 2)
    SimilarityOps.writeCodebookStore(spark, rcb, s"$root/rcb", 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[java.lang.Float], Int)]
    val q = VectorIngestPipeline.runIvfPqIngestFromStores(
      input.toDS().toDF("vec_id", "embedding", "label"),
      s"$root/cells", s"$root/rcb", store, quar, s"$root/ckpt")
    def boxed(a: Array[Float]): Array[java.lang.Float] =
      a.map(java.lang.Float.valueOf)
    input.addData(
      (100L, boxed(vecOf(200)), 0),
      (101L, null: Array[java.lang.Float], 1), // null vector
      (102L, boxed(vecOf(201)).take(7), 0)) // wrong dim
    q.processAllAvailable()
    input.addData((110L, boxed(vecOf(202)), 1))
    q.processAllAvailable()
    q.stop()

    assert(spark.read.parquet(quar).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(101L -> "null_vector", 102L -> "wrong_dim"))
    // segments are cell-partitioned inside their batch dir
    assert(new java.io.File(s"$store/batch_id=0").listFiles()
      .exists(_.getName.startsWith("cell=")), "inverted-list layout")
    // keyed-root search == the batch face over everything admitted
    val admitted = valid(seedRows ++
      Seq((100L, vecOf(200), 0), (110L, vecOf(202), 1)))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(2), r.getString(3), r.getDouble(4))
    val fromStore = SimilarityOps.annIvfPqFromStore(spark, store, cells,
      rcb, vecOf(80), excludeId = 0L).collect().map(key).toSeq
    assert(fromStore === SimilarityOps.annIvfPqWith(admitted, cells, rcb)
      .collect().map(key).toSeq,
      "keyed-root search must equal the batch encode of the same rows")

    // a restart fed a drifted RESIDUAL codebook fails loud pre-write
    val q2 = VectorIngestPipeline.runIvfPqIngest(
      input.toDS().toDF("vec_id", "embedding", "label"),
      cells, rcb.map(_.map(_ * 1.5)), store, quar, s"$root/ckpt-bad")
    input.addData((120L, boxed(vecOf(203)), 0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("DIFFERENT residual codebook")),
      s"expected the residual generation-guard message: ${messages(e)}")
  }

  test("media triage replay: a batch's own pre-committed store segment " +
      "never self-quarantines its keeps") {
    import graft.streaming.MediaTriagePipeline
    import graft.ops.MultimodalOps
    val root = tmpDir("media-replay")
    val (store, sink, quar, ckpt) =
      (s"$root/phash", s"$root/keep", s"$root/quarantine", s"$root/ckpt")
    def payload(seed: Int): String =
      new scala.util.Random(seed).alphanumeric.take(160).mkString
    MediaTriagePipeline.seedStore(
      Seq((0L, payload(100))).toDF("doc_id", "text"), store)
    // simulate a crashed first attempt of batch 0 that committed its
    // store segment (doc 11 admitted) but not the checkpoint: the
    // replay must NOT match doc 11 against its own stale fingerprint
    MultimodalOps.mediaPhashOn(
      Seq((11L, payload(102))).toDF("doc_id", "text"))
      .write.parquet(s"$store/batch_id=0")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = MediaTriagePipeline.runMediaIngest(
      input.toDS().toDF("doc_id", "text"), store, sink, quar, ckpt)
    input.addData((10L, payload(100)), (11L, payload(102)))
    q.processAllAvailable()
    q.stop()

    def ids(p: String) = spark.read.parquet(p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(sink) === Set(11L),
      "the replayed keep must survive its own stale store segment")
    assert(ids(quar) === Set(10L))
    // the rewritten segment still carries exactly the admitted doc
    assert(spark.read.parquet(store)
      .filter(col("batch_id") === 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(11L))
  }
}
