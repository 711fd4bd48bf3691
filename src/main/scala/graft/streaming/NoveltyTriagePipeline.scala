package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming crawl triage: per-document K-shingle novelty against the
  * indexed corpus with ZERO stream-side shuffle — the streaming face of
  * `SpanOps.noveltyAgainstOn` / q111, built the `freshDocsBloom` way.
  *
  * The corpus's distinct shingle keys fold into one bloom filter at stream
  * start (a bounded byte array riding the plan as a literal); each incoming
  * document then scores ROW-LOCALLY: its own distinct shingle hashes fold
  * through `graft_bloom_contains` — no join, no state, no watermark, so a
  * crawl frontier can gate on novelty at wire speed.
  *
  * Bloom false positives only UNDERCOUNT novelty (a genuinely novel shingle
  * read as already-indexed) — the conservative direction for a
  * keep-if-novel gate: nothing stale is ever scored novel. Size `nBits` to
  * the indexed corpus's distinct-shingle count for the usual FP math; the
  * exact offline answer is `noveltyAgainstStore`.
  */
object NoveltyTriagePipeline {

  /** 64-bit shingle keys — `SpanOps.shingleHash64Expr` is the ONE
    * hash-domain definition (xxhash64 over the md5 keys the span family
    * shuffles on), so batch-built filters and stream probes can never
    * silently diverge.
    */
  private def shingleHashExpr(k: Int, toks: String): String =
    graft.ops.SpanOps.shingleHash64Expr(k, toks)

  /** Build the corpus filter and return the scored stream. `docStream`
    * needs (doc_id, text); appends n_shingles / n_novel / novelty_ratio
    * (null ratio for docs shorter than K words, which emit no shingles).
    * The filter fold and its empty-corpus guard (all-zero filter =
    * everything novel) live in `SpanOps.bloomFilterBytes`.
    */
  def scoredDocs(docStream: DataFrame, corpus: DataFrame, k: Int = 8,
      nBits: Int = 1 << 20, kHashes: Int = 7): DataFrame =
    scoredAgainstFilter(docStream,
      graft.ops.SpanOps.bloomFilterBytes(corpus, k, nBits, kHashes), k)

  /** Score against a PERSISTED bloom store (`SpanOps.writeBloomStore`,
    * refreshed by the same maintenance job as the shingle store): stream
    * startup reads one bounded row instead of folding the corpus. k rides
    * in the store row — a probe with a mismatched shingle size would be
    * silently meaningless, so it is not a caller parameter here.
    */
  def scoredAgainstStore(docStream: DataFrame, storePath: String): DataFrame = {
    val (filterBytes, k) = graft.ops.SpanOps.readBloomStore(
      docStream.sparkSession, storePath)
    scoredAgainstFilter(docStream, filterBytes, k)
  }

  /** Score against pre-built filter bytes (persist them once beside the
    * shingle store and every consumer skips the build pass).
    */
  def scoredAgainstFilter(docStream: DataFrame, filterBytes: Array[Byte],
      k: Int = 8): DataFrame = {
    require(filterBytes != null && filterBytes.nonEmpty,
      "scoredAgainstFilter: filterBytes must be a non-empty bloom byte " +
        "array (for an empty corpus pass an all-zero array of nBits/8 " +
        "bytes — every shingle then scores novel)")
    docStream
      .withColumn("toks", graft.Tables.tokens(col("text")))
      .withColumn("shs",
        when(size(col("toks")) >= k,
          array_distinct(expr(shingleHashExpr(k, "toks"))))
          .otherwise(typedLit(Seq.empty[Long])))
      .withColumn("bf", lit(filterBytes))
      .withColumn("n_shingles", size(col("shs")).cast("long"))
      .withColumn("n_novel", aggregate(col("shs"), lit(0L), (acc, h) =>
        acc + when(GraftFunctions.bloomContains(col("bf"), h), 0L)
          .otherwise(1L)))
      .withColumn("novelty_ratio",
        when(col("n_shingles") > 0,
          round(col("n_novel") / col("n_shingles"), 6)))
      .drop("toks", "shs", "bf")
  }
}
