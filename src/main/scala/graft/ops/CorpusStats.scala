package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level statistics backing the cost-based dispatch in the dedup /
  * curation family (q37/q38/q39 density gate, q46's prefix-branch gate,
  * q56/q63's duplicate-fraction gate). A real engine ANALYZEs a table once
  * and reuses the stats at plan time; this is that object, made explicit:
  * compute it in one pass, keep it memoized per corpus directory (or persist
  * it beside the fingerprint store) and hand it to the dispatched operators,
  * which then decide their plan without re-probing the corpus per call.
  *
  * `distinctTexts` counts distinct 64-bit text hashes, so a hash collision
  * undercounts by one — irrelevant to a 0.5-fraction gate. The same caveat
  * makes `exactDupPairFloor` an estimate that can only OVERcount (colliding
  * groups merge, inflating m·(m−1)/2); it drives a dispatch threshold, never
  * result rows, and an overcount only moves work to the bounded arm.
  */
final case class CorpusStats(rows: Long, distinctTexts: Long,
    exactDupPairFloor: Long) {

  /** Fraction of documents that are exact-text duplicates of another. */
  def dupFraction: Double =
    if (rows == 0L) 0.0 else 1.0 - distinctTexts.toDouble / rows
}

object CorpusStats {

  /** One aggregation pass over the corpus: group text hashes, then fold the
    * group sizes into (row count, distinct count, exact-dup pair floor
    * Σ m·(m−1)/2). Both stages keep map-side partials; the driver receives
    * a single row. This is the union of the former per-query probes
    * (`estExactDupPairs` + `dupFraction`), paid once instead of per call.
    */
  def compute(docsDf: DataFrame): CorpusStats = {
    val r = docsDf.select(xxhash64(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("m"))
      .agg(
        coalesce(sum(col("m")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("floor"))
      .head()
    CorpusStats(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // Memoized per corpus SNAPSHOT — every catalog query in a JVM shares
  // ONE stats job per directory state. Keyed on the shared
  // Tables.pathSnapshotKey fold over BOTH inputs the answer derives from
  // (the documents part files and the persisted corpus_stats table), NOT
  // the raw dir string: a directory regenerated in place (ScaleUp rerun,
  // in-place corpus rewrite) or an aliasing relative path would otherwise
  // serve stale stats and steer the stats-dispatched operators onto the
  // arm calibrated for the OLD corpus — the dupMultCache hazard class,
  // fixed with the same mechanism.
  private val dirCache =
    scala.collection.concurrent.TrieMap.empty[String, CorpusStats]

  private def snapshotKey(dir: String): String =
    graft.Tables.tableSnapshotKey(dir, "documents") + "|" +
      graft.Tables.pathSnapshotKey(s"$dir/corpus_stats")

  /** Stats for `dir`'s documents table, resolved at most once per JVM and
    * directory snapshot: first from the persisted `<dir>/corpus_stats`
    * table if an ANALYZE pass ([[analyze]] / `CurationOps.analyzeCorpus`)
    * left one — so a FRESH JVM over an analyzed corpus never pays the
    * probe aggregation — falling back to [[compute]] otherwise.
    */
  def forDir(s: SparkSession, dir: String): CorpusStats =
    graft.Tables.snapshotMemo(dirCache, graft.Tables.memoGroup(dir),
      snapshotKey(dir))(
      read(s, s"$dir/corpus_stats")
        .getOrElse(compute(graft.Tables.t(s, dir, "documents"))))

  def invalidate(dir: String): Unit =
    graft.Tables.snapshotMemoEvict(dirCache, graft.Tables.memoGroup(dir))

  private[graft] def clearCache(): Unit = dirCache.clear()

  /** Persist stats as a single-row parquet table (the convention: a
    * `corpus_stats` directory beside the fingerprint store, written by the
    * same ANALYZE-style maintenance job that refreshes the store).
    */
  def write(stats: CorpusStats, s: SparkSession, path: String): Unit = {
    import s.implicits._
    Seq((stats.rows, stats.distinctTexts, stats.exactDupPairFloor))
      .toDF("n_rows", "n_distinct", "exact_dup_pair_floor")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read previously-persisted stats; None if absent/unreadable (callers
    * fall back to [[compute]] or let the operators probe). Absence is the
    * normal case for an un-ANALYZEd corpus, so it is checked on the file
    * system first instead of letting the parquet reader log a failed read.
    */
  def read(s: SparkSession, path: String): Option[CorpusStats] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) None
      else {
        val r = s.read.parquet(path)
          .select("n_rows", "n_distinct", "exact_dup_pair_floor").head()
        Some(CorpusStats(r.getLong(0), r.getLong(1), r.getLong(2)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ANALYZE: compute and persist in one step. Also refreshes the in-JVM
    * memo for the owning directory — without this, a crawl-loop JVM that
    * re-ANALYZEs a rewritten corpus would keep dispatching on the
    * pre-rewrite cached stats (the persisted row is only consulted on a
    * cache MISS).
    */
  def analyze(docsDf: DataFrame, path: String): CorpusStats = {
    val st = compute(docsDf)
    write(st, docsDf.sparkSession, path)
    val suffix = "/corpus_stats"
    // seed the memo under the POST-write snapshot key (the key includes
    // the corpus_stats listing this write just changed), saving the next
    // forDir the re-read; a later in-place corpus rewrite changes the key
    // again and re-probes regardless
    if (path.endsWith(suffix)) {
      val dir = path.dropRight(suffix.length)
      graft.Tables.snapshotMemoPut(dirCache, graft.Tables.memoGroup(dir),
        snapshotKey(dir), st)
    }
    st
  }
}
