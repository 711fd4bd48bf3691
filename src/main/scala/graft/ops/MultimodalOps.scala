package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decode input row (top-level, non-private: Spark's codegen'd encoders
  * need JVM-visible accessors — an object-private case class compiles to a
  * private member that generated code cannot touch).
  */
private[ops] case class MediaIn(doc_id: Long, payload: Array[Byte])

/** Multimodal-column plumbing: opaque `binary` payloads with typed metadata
  * and a batched decode/feature-extract stage.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked deterministic stub (byte statistics standing in for pixel
  * statistics) — but the Spark-side plumbing is real: binary columns, typed
  * metadata projection, and a batched `mapPartitions` decode whose shape
  * (iterator → fixed-size batches → per-record features) is exactly how a
  * real decoder (or a Pandas-UDF `mapInPandas` twin) plugs in at scale.
  * Payloads derive deterministically from `documents.text` since the
  * testdata ships no real media bytes.
  */
object MultimodalOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** Typed metadata over binary payloads: modality routing, byte length,
    * stub-decoded dimensions, content digest. Fully relational (no UDF) —
    * metadata extraction must not break codegen or pushdown.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaMetaOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def mediaMetaOn(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("n_bytes", length(col("payload")))
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("n_bytes"),
        (lit(64) + (col("n_bytes") % 8) * 16).as("width"),
        (lit(64) + (col("n_bytes") % 5) * 16).as("height"),
        expr("n_bytes div 64 + 1").as("n_frames"),
        substring(md5(col("payload")), 1, 16).as("digest"))
      .orderBy("doc_id")

  /** Batched decode + feature extraction over the binary column.
    *
    * STUB KERNEL: a real deployment decodes image/audio frames here (or in a
    * `mapInPandas` Python twin); this container has no codecs, so the kernel
    * computes deterministic byte statistics with the same batch shape: the
    * partition iterator is consumed in fixed-size batches (as a vectorized
    * decoder would), each record yielding a fixed-width feature row.
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    mediaFeaturesOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def mediaFeaturesOn(docsDf: DataFrame): DataFrame = {
    val session = docsDf.sparkSession
    import session.implicits._
    val BatchSize = 32
    docsDf
      // an identity-less row cannot ride the typed kernel (MediaIn.doc_id
      // is a primitive Long — the encoder's null assert would kill the
      // whole scan on ONE corrupt row); the q50 meta audit is where
      // null-id media rows surface
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.map { m =>
            val bytes = m.payload
            // null payload (null text upstream) folds into the empty arm —
            // the mediaPhashOn twin's guard, mirrored
            val n = if (bytes == null) 0 else bytes.length
            // empty payload mirrors the oracle's NULL propagation exactly:
            // list_sum([]) = NULL mean, all-zero histogram argmax = bin 0,
            // 0 frames, and an all-NULL thumb joins to the empty string
            if (n == 0) (m.doc_id, 0, None: Option[Double], 0, 0, "")
            else {
            var sum = 0L
            val hist = new Array[Long](8)
            var i = 0
            while (i < n) {
              val b = bytes(i) & 0xFF
              sum += b
              hist(b >> 5) += 1
              i += 1
            }
            val meanByte = math.round(sum * 10000.0 / n) / 10000.0
            val dominantBin = hist.indices.maxBy(j => (hist(j), -j))
            val sampled = (n + 1023) / 1024
            // "resize": fixed-size downsample of the payload — 8 equal-width
            // buckets of byte means (the thumbnail analogue of the stubbed
            // pixel decode; fixed output width regardless of input size).
            // Serialized as a comma-joined string: a scalar column keeps the
            // result sortable/hashable by any downstream engine.
            val thumb = Array.tabulate(8) { k =>
              // Long bucket math like the phash twin: k * n wraps Int
              // past ~307 MB payloads (negative lo → AIOOBE)
              val lo = (k.toLong * n / 8).toInt
              val hi = math.max(lo + 1, ((k + 1).toLong * n / 8).toInt)
              var s = 0L
              var j = lo
              while (j < hi) { s += bytes(j) & 0xFF; j += 1 }
              (s / (hi - lo)).toInt
            }
            (m.doc_id, n, Some(meanByte): Option[Double], dominantBin,
              sampled, thumb.mkString(","))
            }
          }
        }
      }
      .toDF("doc_id", "n_bytes", "mean_byte", "dominant_bin", "frames_sampled",
        "thumb8")
      .orderBy("doc_id")
  }

  /** Frame sampling: every 4th fixed-size frame of each payload, with
    * per-frame digest and length — the "decode every k-th video frame"
    * access pattern as pure relational plumbing (explode a stride sequence,
    * slice, digest; no shuffle until the output sort). Frames are 64-unit
    * chunks of the text payload standing in for fixed-byte media frames,
    * like q50/q51's stub payloads.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    frameSampleOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def frameSampleOn(docsDf: DataFrame): DataFrame = {
    val FrameLen = 64
    val Stride = 4
    docsDf
      .withColumn("max_frame",
        floor((greatest(length(col("text")), lit(1)) - 1) / FrameLen))
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0L, max_frame, $Stride)")).as("frame_idx"))
      .withColumn("frame",
        expr(s"substring(text, CAST(frame_idx * $FrameLen + 1 AS INT), $FrameLen)"))
      .select(
        col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_len"),
        substring(md5(encode(col("frame"), "UTF-8")), 1, 16).as("frame_digest"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Cross-modality reconciliation report — the feature-store drift check a
    * multimodal pipeline runs before training: which documents have an
    * embedding, which embeddings have a document, per stratum. Two
    * left-join coverage counts, unioned with a `side` discriminator (the
    * testdata is fully covered docs-side at sf0.01 and embedding-heavy at
    * sf0.1, so both directions carry signal).
    *
    * Scale: each direction is one id-keyed equi-join whose aggregation
    * contracts map-side to |sources| / |labels| rows; at production scale
    * the id join is where bucketing both tables by id
    * ([[ScaleOps.writeBucketed]]) removes the exchanges entirely.
    */
  def modalityCoverage(s: SparkSession, dir: String): DataFrame =
    modalityCoverageOn(docs(s, dir), Tables.t(s, dir, "embeddings"))

  /** `docsDf` needs (doc_id, source); `embDf` needs (vec_id, label). */
  def modalityCoverageOn(docsDf: DataFrame, embDf: DataFrame): DataFrame = {
    def cover(left: DataFrame, leftKey: String, right: DataFrame,
        rightKey: String, keyCol: org.apache.spark.sql.Column,
        side: String): DataFrame =
      left
        .join(right.select(col(rightKey).as(leftKey), lit(1).as("m")),
          Seq(leftKey), "left")
        .groupBy(keyCol.cast("string").as("key"))
        .agg(count(lit(1)).as("n_rows"), count(col("m")).as("n_matched"))
        .select(lit(side).as("side"), col("key"), col("n_rows"),
          col("n_matched"),
          round(col("n_matched") * lit(100.0) / col("n_rows"), 2).as("pct"))
    cover(docsDf.select("doc_id", "source"), "doc_id",
      embDf, "vec_id", col("source"), "docs_by_source")
      .unionAll(cover(embDf.select("vec_id", "label"), "vec_id",
        docsDf, "doc_id", col("label"), "vecs_by_label"))
      .orderBy("side", "key")
  }

  // ---- q125: perceptual-hash media near-dup pairs --------------------------

  /** q125: perceptual-hash media fingerprints — the index-build half of
    * image dedup in a multimodal training pipeline (re-encoded/resized
    * copies of one image share no byte-level digest, but their
    * downsampled gradient hash is nearly identical). dHash construction
    * over the stub decode: 64 equal-width bucket byte-means of the payload
    * (the q51 thumbnail at hash resolution), bit k = mean[k] > mean[k+1],
    * folded MSB-first into a 63-bit BIGINT. A real pixel decoder slots
    * into the same kernel without touching anything downstream.
    *
    * The mining half is [[mediaPhashPairsOn]] (the q39 SimHash banding
    * discipline on these fingerprints); the catalog pins the fingerprint
    * build because the testdata's payloads are all ≥ Hamming 12 apart —
    * the pair miner is spec-pinned against brute force on corpora that DO
    * carry near-dup media (DuckDB confirms this one doesn't).
    *
    * Scale: the hash is a map-only per-row kernel pass — one row in, one
    * 8-byte fingerprint out, no shuffle until the output sort; persist it
    * beside the corpus like the text fingerprint store and incremental
    * crawls only hash NEW media. Empty payloads have no gradient to hash
    * and are excluded (the oracle filters identically).
    */
  def mediaPhash(s: SparkSession, dir: String): DataFrame =
    mediaPhashOn(docs(s, dir)).orderBy("doc_id")

  /** `docsDf` needs (doc_id, text); payload = UTF-8 bytes of `text` like
    * every stub-media operator. Returns (doc_id, phash), unsorted (the
    * catalog binding sorts; pipeline consumers shouldn't pay for it).
    */
  def mediaPhashOn(docsDf: DataFrame): DataFrame = {
    val session = docsDf.sparkSession
    import session.implicits._
    docsDf
      // null-id guard: the mediaFeaturesOn rationale, same kernel seam
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
      .mapPartitions { it =>
        // per-row kernel: one payload in, one 8-byte fingerprint out (no
        // cross-row state, so no batching layer — a vectorized pixel
        // decoder that needs one would slot in at this seam)
        it.flatMap { m =>
          val bytes = m.payload
          val n = if (bytes == null) 0 else bytes.length
          if (n == 0) Iterator.empty
          else {
            // 64 equal-width bucket means (q51 thumbnail arithmetic at
            // hash width), then the 63-bit MSB-first gradient fold
            val mu = Array.tabulate(64) { k =>
              val lo = (k.toLong * n / 64).toInt
              val hi = math.max(lo + 1, ((k + 1).toLong * n / 64).toInt)
              var s = 0L
              var j = lo
              while (j < hi) { s += bytes(j) & 0xFF; j += 1 }
              s / (hi - lo)
            }
            var h = 0L
            var k = 0
            while (k < 63) {
              h = h * 2 + (if (mu(k) > mu(k + 1)) 1L else 0L)
              k += 1
            }
            Iterator.single((m.doc_id, h))
          }
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Near-duplicate media pairs over [[mediaPhashOn]] fingerprints — the
    * shared [[HammingBands]] discipline (q39's banding): 4×16-bit chunk
    * blocking, in-join verify, first-shared-chunk emission. The corpus
    * never forms a cross product: candidates are hash-bucket collisions
    * only.
    *
    * Density-GATED like every sibling pair lister (the q37/q38/q39
    * evidence ladder): identical payloads hash identically, so the
    * exact-duplicate pair floor bounds this listing's output from below —
    * past `maxListedPairs` the call fails fast. `fullPairs = true` forces
    * the listing; the bounded production form for dup-dense media is the
    * store screen ([[phashPairsAgainstStore]]: batch × index, never
    * corpus × corpus).
    */
  def mediaPhashPairsOn(docsDf: DataFrame, maxHamming: Int = 3,
      fullPairs: Boolean = false,
      maxListedPairs: Long = DedupOps.MaxListedPairs): DataFrame = {
    if (!fullPairs)
      // the floor must count only payloads that HASH: empty/null payloads
      // produce no fingerprint and no pairs, so a clique of empty rows
      // (a common scraper failure) must not trip the gate for a listing
      // it cannot inflate
      DedupOps.pairFloorIfExceeds(
        docsDf.filter(col("text").isNotNull && length(col("text")) > 0),
        maxListedPairs, None)
        .foreach { floor =>
          throw new IllegalArgumentException(
            s"mediaPhashPairsOn: the corpus's exact-duplicate pair floor " +
              s"($floor) exceeds maxListedPairs ($maxListedPairs) — " +
              "identical payloads share a fingerprint, so the listing is " +
              "output-bound by duplicate cliques alone. Pass fullPairs = " +
              "true to force it, or screen incrementally with " +
              "phashPairsAgainstStore.")
        }
    val chunked = HammingBands.chunked(mediaPhashOn(docsDf), "doc_id", "phash")
    HammingBands.pairs(chunked, chunked, "phash", maxHamming,
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .orderBy("a_id", "b_id")
  }

  // ---- persisted phash fingerprint store -----------------------------------

  /** Materialize the media fingerprint index: (doc_id, phash), 8 bytes per
    * payload — the media face of the fingerprint-store family. Incremental
    * crawls hash only NEW media ([[appendToPhashStore]], admit a batch
    * exactly once) and screen against the index
    * ([[phashPairsAgainstStore]]) without ever re-decoding the corpus.
    */
  def writePhashStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(mediaPhashOn(docsDf), path)

  def appendToPhashStore(batch: DataFrame, path: String): Unit =
    appendHashedToPhashStore(mediaPhashOn(batch), path)

  /** Append a PRE-HASHED (doc_id, phash) frame — the screen-then-append
    * crawl loop hashes each batch once ([[mediaPhashOn]]), screens with
    * [[phashHashedPairsAgainstStore]], and appends the fresh subset of
    * the same frame; re-deriving the hashes here would double the
    * dominant per-crawl cost.
    */
  def appendHashedToPhashStore(hashed: DataFrame, path: String): Unit =
    hashed.select("doc_id", "phash").write.mode("append").parquet(path)

  /** Re-contract accumulated append segments (a replayed append leaves
    * duplicate (doc_id, phash) rows, which duplicate screen pairs) to
    * distinct rows, publishing via staging + atomic swap — durable state,
    * never `mode("overwrite")` on the live path.
    *
    * FLAT stores only ([[appendToPhashStore]]'s layout). The streaming
    * triage store (`MediaTriagePipeline`, `batch_id=N`-partitioned) is
    * rejected loudly — projecting it to (doc_id, phash) would silently
    * convert it to the flat layout `runMediaIngest` refuses, bricking the
    * stream until the store is re-seeded (the inverse of the pipeline's
    * own layout guard).
    */
  def compactPhashStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _.select("doc_id", "phash").distinct())

  /** Near-dup screen of an incoming batch AGAINST the persisted index —
    * [[HammingBands]] between the batch's fresh hashes and the stored
    * ones (never pairwise within the corpus): (doc_id, dup_of, hamming),
    * one row per (batch doc, indexed doc) pair within `maxHamming`. The
    * incremental-media-dedup gate: reject or canonicalize before append.
    */
  def phashPairsAgainstStore(batch: DataFrame, path: String,
      maxHamming: Int = 3): DataFrame =
    phashHashedPairsAgainstStore(mediaPhashOn(batch),
      batch.sparkSession, path, maxHamming = maxHamming)

  /** [[phashPairsAgainstStore]] over a pre-hashed (doc_id, phash) batch.
    * `index` overrides the store read with a caller-filtered view of the
    * same table (the streaming replay path must exclude the batch's own
    * previously-committed segment).
    */
  def phashHashedPairsAgainstStore(hashed: DataFrame, s: SparkSession,
      path: String, index: Option[DataFrame] = None,
      maxHamming: Int = 3): DataFrame = {
    val fresh = HammingBands.chunked(hashed, "doc_id", "phash")
    val stored = HammingBands.chunked(
      index.getOrElse(s.read.parquet(path)), "doc_id", "phash")
    HammingBands.pairs(fresh, stored, "phash", maxHamming, lit(true))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("dup_of"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .orderBy("doc_id", "dup_of")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_media_meta" -> mediaMeta,
    "q51_media_features" -> mediaFeatures,
    "q52_frame_sample" -> frameSample,
    "q69_modality_coverage" -> modalityCoverage,
    "q125_media_phash" -> mediaPhash)

  val oracle: Map[String, String] = Map(
    // Replays the perceptual hash relationally (q51's unicode()-as-byte
    // trick): 64 bucket byte-means with the kernel's exact floor
    // arithmetic, then the 63-bit MSB-first gradient fold.
    "q125_media_phash" ->
      """WITH b AS (SELECT doc_id, length(text) AS n,
        |    list_transform(generate_series(1, length(text)),
        |      i -> CAST(unicode(text[i]) AS BIGINT)) AS bys
        |  FROM documents WHERE length(text) > 0 AND doc_id IS NOT NULL),
        |mu AS (SELECT doc_id,
        |    list_transform(generate_series(0, 63), k ->
        |      list_sum(list_slice(bys, (k * n) // 64 + 1,
        |          greatest((k * n) // 64 + 1, ((k + 1) * n) // 64)))
        |        // greatest(((k + 1) * n) // 64 - (k * n) // 64, 1)) AS m
        |  FROM b)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(0, 62), k ->
        |      CASE WHEN m[k + 1] > m[k + 2] THEN CAST(1 AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END)),
        |    (a, bit) -> a * 2 + bit) AS phash
        |FROM mu ORDER BY doc_id""".stripMargin,
    // Replays the stub decode kernel relationally: the payload is the
    // UTF-8 encoding of `text`, and the testdata corpus is pure ASCII
    // (octet_length(encode(text)) = length(text) for every row — verified
    // per scale), so per-character `unicode()` IS the byte value. The SQL
    // re-derives byte sum / 8-bin histogram argmax (first-max tie = lowest
    // bin, like the kernel's maxBy on (count, -j)) / 1024-byte frame count
    // / the 8-bucket integer-mean thumbnail with the kernel's exact floor
    // arithmetic (lo = k·n/8, hi = max(lo+1, (k+1)·n/8), mean = sum//(hi−lo)).
    "q51_media_features" ->
      """WITH b AS (SELECT doc_id, length(text) AS n,
        |  list_transform(generate_series(1, length(text)),
        |    i -> CAST(unicode(text[i]) AS BIGINT)) AS bys
        |  FROM documents WHERE doc_id IS NOT NULL),
        |h AS (SELECT doc_id, n, bys,
        |  list_transform(generate_series(0, 7), j ->
        |    len(list_filter(bys, x -> x // 32 = j))) AS hist
        |  FROM b)
        |SELECT doc_id,
        |  CAST(n AS INT) AS n_bytes,
        |  floor((CAST(list_sum(bys) AS DOUBLE) * 10000 / n) + 0.5) / 10000
        |    AS mean_byte,
        |  CAST(list_position(hist, list_max(hist)) - 1 AS INT)
        |    AS dominant_bin,
        |  CAST((n + 1023) // 1024 AS INT) AS frames_sampled,
        |  array_to_string(list_transform(generate_series(0, 7), k ->
        |    CAST(list_sum(list_slice(bys, (k * n) // 8 + 1,
        |        greatest((k * n) // 8 + 1, ((k + 1) * n) // 8)))
        |      // greatest(((k + 1) * n) // 8 - (k * n) // 8, 1) AS VARCHAR)),
        |    ',') AS thumb8
        |FROM h ORDER BY doc_id""".stripMargin,
    "q69_modality_coverage" ->
      """WITH ds AS (SELECT d.source AS key, count(*) AS n_rows,
        |  count(e.vec_id) AS n_matched
        |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |  GROUP BY 1),
        |vs AS (SELECT CAST(e.label AS VARCHAR) AS key, count(*) AS n_rows,
        |  count(d.doc_id) AS n_matched
        |  FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'docs_by_source' AS side, key, n_rows, n_matched,
        |    round(n_matched * 100.0e0 / n_rows, 2) AS pct FROM ds
        |  UNION ALL
        |  SELECT 'vecs_by_label', key, n_rows, n_matched,
        |    round(n_matched * 100.0e0 / n_rows, 2) FROM vs)
        |ORDER BY side, key""".stripMargin,
    "q50_media_meta" ->
      """SELECT doc_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  64 + (octet_length(encode(text)) % 8) * 16 AS width,
        |  64 + (octet_length(encode(text)) % 5) * 16 AS height,
        |  octet_length(encode(text)) // 64 + 1 AS n_frames,
        |  substring(md5(text), 1, 16) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q52_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |  CAST(floor((greatest(length(text), 1) - 1) / 64) AS BIGINT)
        |    AS max_frame
        |  FROM documents)
        |SELECT doc_id, s.i AS frame_idx,
        |  length(substring(text, CAST(s.i * 64 + 1 AS INT), 64)) AS frame_len,
        |  substring(md5(substring(text, CAST(s.i * 64 + 1 AS INT), 64)), 1, 16)
        |    AS frame_digest
        |FROM f, unnest(generate_series(0, f.max_frame, 4)) AS s(i)
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
