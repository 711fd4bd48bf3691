package graft.streaming

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of q62's incremental delta dedup: a document stream is
  * admitted only if it is (a) new versus the EXISTING corpus and (b) the
  * first occurrence within the stream itself — the continuous form of the
  * per-crawl batch gate (`ops.CurationOps.deltaDedupOn`), sharing the same
  * normalizer so "duplicate" agrees across the batch and streaming paths.
  *
  * Scale: the corpus probe is a stream-STATIC left-anti join — stateless on
  * the streaming side (no state store growth; the static side is re-read
  * per micro-batch, so at production scale it is the stored distinct-
  * fingerprint table, partition-pruned / bucketed by the normalized-text
  * hash, not a re-scan of the raw corpus). Within-stream duplicates then
  * collapse via `dropDuplicatesWithinWatermark` on the normalized text, so
  * dedup state evicts with the watermark instead of growing with history.
  */
object DeltaDedupPipeline {

  /** `docStream` needs (doc_id, text, event_ts: timestamp); `corpus` needs
    * a `text` column. Emits the admitted (fresh, first-seen) documents.
    */
  def freshDocs(docStream: DataFrame, corpus: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val corpusNorms = corpus
      .select(graft.ops.DedupOps.normText.as("norm"))
      .distinct()
    docStream
      .withColumn("norm", graft.ops.DedupOps.normText)
      .withWatermark("event_ts", watermarkDelay)
      .join(corpusNorms, Seq("norm"), "left_anti")
      .dropDuplicatesWithinWatermark("norm")
      .drop("norm")
  }

  /** Bloom-accelerated [[freshDocs]] (the streaming face of q90): the
    * corpus's distinct norms fold ONCE, at stream build time, into a
    * [[graft.functions.BloomLongs]] filter (bounded bytes — the same
    * setup-scale step as loading a codebook), which then rides every
    * micro-batch as a literal. Rows the filter rejects are DEFINITELY
    * fresh (no false negatives) and skip the corpus probe entirely; only
    * the "maybe known" candidates — true dups plus ~1% false positives —
    * pay the exact stream-static anti-join. Same admissions as
    * [[freshDocs]] row-for-row (StreamingSpec), but the per-batch join
    * input shrinks from the whole stream to the candidate sliver, and
    * the filter bytes can be persisted and shared by every consumer of
    * the corpus.
    */
  def freshDocsBloom(docStream: DataFrame, corpus: DataFrame,
      nBits: Int = 1 << 17, k: Int = 7,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val corpusNorms = corpus
      .select(graft.ops.DedupOps.normText.as("norm"))
      .distinct()
    val filterBytes = corpusNorms
      .agg(GraftFunctions.bloomAgg(xxhash64(col("norm")), nBits, k).as("b"))
      .head().getAs[Array[Byte]]("b")
    val flagged = docStream
      .withColumn("norm", graft.ops.DedupOps.normText)
      .withWatermark("event_ts", watermarkDelay)
      .withColumn("bf", lit(filterBytes))
      .withColumn("maybe_known",
        GraftFunctions.bloomContains(col("bf"), xxhash64(col("norm"))))
      .drop("bf")
    val definitelyFresh = flagged.filter(!col("maybe_known"))
    val confirmedFresh = flagged.filter(col("maybe_known"))
      .join(corpusNorms, Seq("norm"), "left_anti")
    definitelyFresh.unionByName(confirmedFresh)
      .dropDuplicatesWithinWatermark("norm")
      .drop("norm", "maybe_known")
  }
}
