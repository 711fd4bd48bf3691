package graft.ops

import graft.Tables
import graft.Tables.tokens
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text-search building blocks over the documents corpus: the inverted
  * index (token → document-frequency, collection-frequency, posting list)
  * and the within-document co-occurrence matrix — the two structures every
  * corpus-scale search / phrase-mining pipeline materializes first.
  *
  * Scale discipline: per-token posting lists are the canonical unbounded-
  * group hazard (a stopword's postings = the whole corpus). Nothing here
  * collects an uncapped group: posting lists go through the two-phase
  * salted top-k (bounded buffer per task at every stage), and lexicon
  * statistics are plain keyed aggregations with map-side partials.
  */
object SearchOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** How many (smallest) doc ids a q79 posting row carries. */
  private[ops] val PostingCap = 10

  /** q79: inverted index lexicon — one row per token with document
    * frequency, collection frequency, and the first [[PostingCap]] doc ids
    * (ascending, comma-joined; the head of the full posting list a search
    * engine would shard by term).
    *
    * Scale: tokens first contract to (token, doc_id, tf) — keyed by the
    * (token, doc) pair, so even a stopword's rows spread across the
    * cluster. Everything else is ONE token-keyed aggregation: the posting
    * head rides the native bounded top-k aggregate
    * ([[graft.functions.MinKLongs]] — O(cap) heap per group, associative
    * partial merge, ObjectHashAggregate with map-side combine), so a
    * stopword's corpus-sized posting group never exceeds `cap` values in
    * any buffer and the df/cf stats come for free in the same pass.
    * [[invertedIndexWindowedOn]] is the built-ins-only twin (two-phase
    * salted top-k window); SearchSpec pins the two equal.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndexOn(docs(s, dir), PostingCap)

  /** `docsDf` needs (doc_id, text). */
  def invertedIndexOn(docsDf: DataFrame, cap: Int): DataFrame = {
    docsDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(transform(GraftFunctions.minK(col("doc_id"), cap),
          x => x.cast("string")), ",").as("postings"))
      .orderBy("token")
  }

  /** Built-ins-only formulation of [[invertedIndexOn]]: posting heads via
    * the two-phase salted top-k window ([[ScaleOps.topKPerGroup]] — every
    * task buffers at most `cap · salts` rows per token), then a join back
    * onto the lexicon stats. Same output; one extra exchange + window pass
    * vs the native aggregate.
    */
  def invertedIndexWindowedOn(docsDf: DataFrame, cap: Int): DataFrame = {
    val perDoc = docsDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
    val lexicon = perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val postings = ScaleOps
      .topKPerGroup(perDoc, Seq("token"), Seq(col("doc_id").asc), cap,
        salt = xxhash64(col("doc_id")))
      .groupBy("token")
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("postings"))
    lexicon.join(postings, "token") // both sides already keyed by token
      .orderBy("token")
  }

  /** q80: token co-occurrence — the top-50 pairs of distinct tokens by the
    * number of documents containing both (the first step of phrase mining,
    * PMI scoring, and related-term suggestion). Pair order is normalized
    * (t1 < t2) and ties break lexicographically, so the top-k cut is a
    * deterministic total order.
    *
    * Scale: pairs are generated per document from its DISTINCT token set —
    * cost is quadratic in per-document vocabulary (bounded by document
    * length) and linear in corpus size, never corpus-quadratic. The
    * generation is a self-equi-join on doc_id (one co-partitioned shuffle);
    * the count aggregates with map-side partials and the final cut plans
    * as TakeOrderedAndProject, not a global sort. At real corpus scale,
    * prune ubiquitous tokens first (df above ~50% of documents carries no
    * signal and dominates the quadratic term) — compose with
    * [[invertedIndexOn]]'s lexicon as the df side.
    */
  def tokenCooccurrence(s: SparkSession, dir: String): DataFrame =
    tokenCooccurrenceOn(docs(s, dir), 50)

  /** `docsDf` needs (doc_id, text). */
  def tokenCooccurrenceOn(docsDf: DataFrame, topK: Int): DataFrame = {
    val tok = docsDf
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("t"))
    val a = tok.toDF("doc_id", "t1")
    val b = tok.toDF("doc_id", "t2")
    a.join(b, Seq("doc_id"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("t1").asc, col("t2").asc)
      .limit(topK)
  }

  // ---- q81: BM25 ranked retrieval ------------------------------------------

  /** The pinned q81 query — three corpus terms with distinct tf patterns. */
  private[ops] val Q81Terms = Seq("table", "vector", "spark")
  private val K1 = "1.2"
  private val B = "0.75"

  /** Per-term BM25 partial (Lucene's +1 idf variant, k1/b pinned above), as
    * ONE expression string both Spark and the DuckDB oracle evaluate — like
    * TemporalOps.ZExpr, the only float math is a fixed tree over exact
    * integer aggregates, so scores agree bit-for-bit before the final
    * 6 dp round. `tf` is 0 (not null) for a missing term: the whole term
    * drops to exactly 0.0 without a CASE.
    */
  private[ops] def bm25TermExpr(i: Int): String =
    s"""ln((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
       |    / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)
       |  * (CAST(tf$i AS DOUBLE) * ($K1 + 1.0))
       |  / (CAST(tf$i AS DOUBLE) + $K1 * (1.0 - $B + $B * CAST(dl AS DOUBLE)
       |     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
      .stripMargin

  /** Fixed-order sum over the query terms, 6 dp rounded: addition order is
    * part of the expression (never a shuffle-order-dependent double sum).
    */
  private[ops] def bm25Expr(nTerms: Int): String =
    s"round(${(1 to nTerms).map(i => s"(${bm25TermExpr(i)})")
      .mkString(" + ")}, 6)"

  /** q81: BM25 ranked retrieval — top-20 documents for a pinned 3-term
    * query, scored with the standard BM25 saturation (k1=1.2) and length
    * normalization (b=0.75), Lucene's always-positive idf.
    *
    * Scale: the corpus-sized legs are one filtered explode (only query-term
    * tokens survive the scan — the posting fetch) aggregated per (doc, dl),
    * and two single-row broadcast sides (per-term document frequencies,
    * corpus length stats). Scoring is per-row arithmetic; the cut plans as
    * TakeOrderedAndProject on the ROUNDED score (so the top-k boundary is
    * decided by engine-identical values), tie-broken by doc_id.
    */
  def bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25SearchOn(docs(s, dir), Q81Terms, 20)

  /** `docsDf` needs (doc_id, text); `terms` must be distinct. */
  def bm25SearchOn(docsDf: DataFrame, terms: Seq[String],
      topK: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct: $terms")
    // null-text dl must be NULL, not the legacy conf's -1 (the TextOps
    // sizeOrNull discipline): a -1 would pollute sum_dl where the
    // oracle's len(NULL) skips the row in its sum
    val d = docsDf.withColumn("dl", Tables.sizeOrNull(tokens(col("text"))))
    val hits = d
      .select(col("doc_id"), col("dl"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf${i + 1}")
    }
    val perDoc = hits.groupBy("doc_id", "dl")
      .agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df${i + 1}")
    }
    val dfRow = d
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .filter(col("term").isin(terms: _*))
      .agg(dfAggs.head, dfAggs.tail: _*)
    val stats = d.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    perDoc
      .crossJoin(broadcast(dfRow))
      .crossJoin(broadcast(stats))
      .withColumn("bm25", expr(bm25Expr(terms.size)))
      .select(Seq(col("doc_id")) ++
        terms.indices.map(i => col(s"tf${i + 1}")) :+ col("bm25"): _*)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  // ---- q120: hybrid retrieval (BM25 + embedding cosine, RRF-fused) ---------

  /** q120: hybrid search — reciprocal-rank fusion of the lexical BM25 leg
    * (q81's pinned 3-term query) and the semantic embedding-cosine leg
    * (q40's pinned query vector, vec_id 0), the standard two-tower
    * retrieval composition: `rrf = Σ 1/(60 + rank_leg)` over the legs a
    * document appears in, ranks taken inside each leg's top-[[RrfLegK]].
    *
    * Scale: each leg is the already-scale-audited operator (BM25's
    * posting-fetch explode + broadcast stats; the cosine leg a broadcast-
    * query scan planned as TakeOrderedAndProject) cut to k rows BEFORE
    * fusion — the full-outer fuse joins two k-row frames, so everything
    * past the legs is bounded by 2k regardless of corpus size. The
    * single-partition rank windows run on k rows, never on the corpus.
    *
    * Determinism: ranks are exact integers off engine-identical rounded
    * leg scores (both legs tie-break on doc_id); each RRF term is one
    * double division of exact integers, summed lex-then-sem and rounded
    * to 6 dp; absent-leg ranks surface as 0 (not null) so the output
    * schema is null-free.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    hybridRrfOn(docs(s, dir), Tables.t(s, dir, "embeddings"), Q81Terms)
  }

  private[ops] val RrfLegK = 50
  private[ops] val RrfTopK = 20
  private[ops] val RrfC = 60

  /** `docsDf` needs (doc_id, text); `embDf` needs (vec_id, embedding) with
    * vec_id aligned to doc_id; `terms` as in [[bm25SearchOn]].
    */
  def hybridRrfOn(docsDf: DataFrame, embDf: DataFrame, terms: Seq[String],
      queryId: Long = 0L, legK: Int = RrfLegK,
      topK: Int = RrfTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25SearchOn(docsDf, terms, legK)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc,
          col("doc_id").asc)).cast("long").as("lex_rank"))
    val q = embDf.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val sem = embDf.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(SimilarityOps.cosine(col("embedding"), col("q_emb")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc).limit(legK)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("cos_sim").desc,
          col("doc_id").asc)).cast("long").as("sem_rank"))
    fuseRrf(lex, sem, topK)
  }

  /** The pure fusion, leg-agnostic: `lex` is (doc_id, lex_rank) and `sem`
    * is (doc_id, sem_rank), ranks ≥ 1 from ANY ranked retriever — swap
    * the brute cosine leg for q42/q45/q113 (LSH/IVF/RP) at real scale and
    * the fusion is unchanged (RRF consumes ranks, not scores). Both legs
    * are expected top-k-cut already; the fuse is k-bounded.
    */
  def fuseRrf(lex: DataFrame, sem: DataFrame,
      topK: Int = RrfTopK): DataFrame = {
    val c = lit(RrfC.toDouble)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        when(col("lex_rank").isNotNull, lit(1.0) / (c + col("lex_rank")))
          .otherwise(0.0)
          + when(col("sem_rank").isNotNull, lit(1.0) / (c + col("sem_rank")))
            .otherwise(0.0), 6))
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
      .withColumn("sem_rank", coalesce(col("sem_rank"), lit(0L)))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }

  // ---- q83: bigram language-model counts -----------------------------------

  /** q83: bigram language-model table — adjacent token pairs with counts
    * and the conditional next-token probability P(to|from), the classic
    * n-gram LM / autocomplete / perplexity-filter primitive. Top-100 by
    * count, deterministically tie-broken.
    *
    * Determinism: P(to|from) is ONE division of two exact integer counts —
    * no accumulated float math anywhere, so no rounding shim is needed.
    *
    * Scale: bigrams are generated per row with `zip_with` over the token
    * array (shuffle-free; no positional self-join), so the only shuffled
    * data is the contracted (from, to) count table; the denominator
    * attaches with a window over `from_tok` — group sizes bounded by
    * vocabulary, never by corpus. The cut is TakeOrderedAndProject.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLmOn(docs(s, dir), 100)

  /** `docsDf` needs (text). */
  def bigramLmOn(docsDf: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = size(col("toks"))
    val bg = docsDf.withColumn("toks", tokens(col("text")))
      .filter(n >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), n - 1),
        slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("from_tok"), b.as("to_tok")))).as("p"))
      .select(col("p.from_tok"), col("p.to_tok"))
    val counts = bg.groupBy("from_tok", "to_tok")
      .agg(count(lit(1)).as("n_pairs"))
    counts
      .withColumn("from_total",
        sum("n_pairs").over(Window.partitionBy("from_tok")))
      .withColumn("p_next", col("n_pairs") / col("from_total"))
      .orderBy(col("n_pairs").desc, col("from_tok").asc, col("to_tok").asc)
      .limit(topK)
  }

  // ---- q108: bigram-LM perplexity scoring ----------------------------------

  /** q108: per-document LM perplexity under the corpus's own bigram model
    * (q83's table, unsmoothed — every doc bigram is in the model by
    * construction) — the CCNet-style "LM quality filter" signal: low
    * perplexity = the doc looks like the corpus, high = outlier.
    *
    * Determinism: P(to|from) is one exact-integer division; per-doc ln
    * sums go through the decimal accumulator ([[graft.Tables.davg]]) so
    * they're order-independent, and `ppl` exponentiates the already-
    * rounded average so both engines exp identical inputs.
    *
    * Scale: the bigram join is keyed on (from, to) — data-sized but
    * linear, map-side combined on the count side; the denominator window
    * is vocabulary-bounded; the per-doc agg is doc-keyed. Docs with < 2
    * tokens have no bigrams and are dropped (no model to score them).
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame =
    lmPerplexityOn(docs(s, dir))

  /** Per-doc adjacent token pairs, generated row-locally with `zip_with`
    * (shuffle-free) — shared by q108's raw path, the bigram store writer
    * and the from-store scorer, so all three provably use one bigram
    * definition.
    */
  private def docBigramsOn(docsDf: DataFrame): DataFrame = {
    val n = size(col("toks"))
    docsDf.withColumn("toks", tokens(col("text")))
      .filter(n >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), n - 1),
        slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("from_tok"), b.as("to_tok")))).as("p"))
      .select(col("doc_id"), col("p.from_tok").as("from_tok"),
        col("p.to_tok").as("to_tok"))
  }

  /** Attach the conditional-probability model to a contracted
    * (from_tok, to_tok, n_pairs) table: the denominator rides a
    * vocabulary-bounded window, never a corpus-sized one.
    */
  private def withFromTotals(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts.withColumn("from_total",
      sum("n_pairs").over(Window.partitionBy("from_tok")))
  }

  /** `docsDf` needs (doc_id, text). */
  def lmPerplexityOn(docsDf: DataFrame): DataFrame = {
    val bg = docBigramsOn(docsDf)
    val probs = withFromTotals(
      bg.groupBy("from_tok", "to_tok").agg(count(lit(1)).as("n_pairs")))
    bg.join(probs, Seq("from_tok", "to_tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.Tables.davg(log(col("n_pairs") / col("from_total")), 6)
          .as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 4))
      .orderBy("doc_id")
  }

  // ---- persisted bigram-count store ----------------------------------------

  /** Materialize the bigram LM count table: one (from_tok, to_tok,
    * n_pairs) row per distinct pair — the language-model face of the
    * token-count store (`TextOps.writeTokenCountStore`), ≤|vocab|² rows
    * and in practice vastly fewer, independent of corpus row count. Like
    * all count stores it merges by ADDITION: append a crawl's counts and
    * every reader sums across segments, so incremental perplexity scoring
    * ([[lmPerplexityFromStore]]) never re-reads the indexed corpus.
    * Published through [[ScaleOps.publishStore]], so it also seeds a path
    * that LIVE READERS may already be polling (the mix governor's
    * mid-crawl LM seed): a reader sees the path absent (the governor's
    * null-columns arm) or fully written, never footer-less mid-job.
    */
  def writeBigramStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(docBigramsOn(docsDf)
      .groupBy("from_tok", "to_tok").agg(count(lit(1)).as("n_pairs"))
      .repartition(col("from_tok")), path)

  /** Fold a new batch's bigram counts into the store, append-only
    * (sum-on-read merges segments; replaying an append double-counts that
    * batch — admit exactly once, compact with [[compactBigramStore]]).
    */
  def appendToBigramStore(batch: DataFrame, path: String): Unit =
    docBigramsOn(batch)
      .groupBy("from_tok", "to_tok").agg(count(lit(1)).as("n_pairs"))
      .repartition(col("from_tok"))
      .write.mode("append").parquet(path)

  /** Re-contract accumulated append segments to one row per
    * (from_tok, to_tok), publishing via staging + atomic swap — durable
    * state, never `mode("overwrite")` on the live path (the token-store
    * compactor's contract, on this store's own schema).
    */
  def compactBigramStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .groupBy("from_tok", "to_tok").agg(sum("n_pairs").as("n_pairs"))
      .repartition(col("from_tok")))

  /** Score `docsDf` against the PERSISTED bigram model instead of the
    * corpus that trained it — the per-ingest quality gate: the indexed
    * corpus is never re-read, only the vocabulary-bounded count table.
    * Bigrams absent from the model (possible only when scoring docs the
    * model never saw — the store-trained twin of q108 is unsmoothed by
    * construction) are counted in `n_oov` and excluded from the average,
    * so `n_bigrams` keeps meaning "bigrams actually scored" and equals the
    * raw path's count whenever the model covers the docs (store ≡ raw is
    * spec-pinned on exactly that case).
    *
    * A FULLY-novel document (every bigram OOV, n_bigrams = 0) reports
    * null avg_logp/ppl — there is nothing to average. Quality gates must
    * branch on `n_bigrams = 0` (or `n_oov`) EXPLICITLY before thresholding
    * ppl: a bare `ppl <= T` (and its negation) both evaluate null on such
    * a row, silently dropping the most-novel documents from both the
    * accept and reject sets.
    */
  def lmPerplexityFromStore(docsDf: DataFrame, path: String): DataFrame = {
    val probs = withFromTotals(
      docsDf.sparkSession.read.parquet(path)
        .groupBy("from_tok", "to_tok").agg(sum("n_pairs").as("n_pairs")))
    docBigramsOn(docsDf)
      .join(probs, Seq("from_tok", "to_tok"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(col("n_pairs").isNotNull, 1L).otherwise(0L))
          .as("n_bigrams"),
        sum(when(col("n_pairs").isNull, 1L).otherwise(0L)).as("n_oov"),
        graft.Tables.davg(log(col("n_pairs") / col("from_total")), 6)
          .as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 4))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_lm_perplexity" -> lmPerplexity,
    "q79_inverted_index" -> invertedIndex,
    "q80_token_cooccurrence" -> tokenCooccurrence,
    "q81_bm25_search" -> bm25Search,
    "q83_bigram_lm" -> bigramLm,
    "q120_hybrid_rrf" -> hybridRrf)

  /** The q108 per-doc bigram-NLL CTE chain (ending at `a`:
    * (doc_id, n_bigrams, avg_logp)) — shared with q131's DoReMi oracle so
    * both replay ONE LM/scoring definition, the sqlDsirCte convention.
    * Declared ABOVE `oracle`: object vals initialize in declaration order,
    * and the r07 regression was exactly this val forward-referenced as null.
    */
  private[ops] val sqlPerDocNllCte: String =
    s"""d AS (SELECT doc_id,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |bg AS (SELECT doc_id, p[1] AS from_tok, p[2] AS to_tok
       |  FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1],
       |      toks[2:len(toks)])) AS p FROM d WHERE len(toks) >= 2)),
       |c AS (SELECT from_tok, to_tok, count(*) AS n_pairs
       |  FROM bg GROUP BY 1, 2),
       |ct AS (SELECT *, CAST(sum(n_pairs) OVER (PARTITION BY from_tok)
       |    AS BIGINT) AS from_total FROM c),
       |j AS (SELECT doc_id,
       |    ln(CAST(n_pairs AS DOUBLE) / from_total) AS lp
       |  FROM bg JOIN ct USING (from_tok, to_tok)),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    ${graft.Tables.sqlDavg("lp", 6)} AS avg_logp
       |  FROM j GROUP BY doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q120_hybrid_rrf" -> {
      val inList = Q81Terms.map(t => s"'$t'").mkString(", ")
      val tfCols = Q81Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS tf${i + 1}"
      }.mkString(",\n    ")
      val dfCols = Q81Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS df${i + 1}"
      }.mkString(",\n    ")
      val cosExpr = s"(${SimilarityOps.sqlDot("e.embedding", "q.q_emb")})" +
        s"\n    / nullif(${SimilarityOps.sqlNorm("e.embedding")}" +
        s"\n       * ${SimilarityOps.sqlNorm("q.q_emb")}, 0)"
      s"""WITH d AS (SELECT doc_id,
         |    len(string_split(trim(text), ' ')) AS dl, text FROM documents),
         |hits AS (SELECT doc_id, dl,
         |    unnest(string_split(trim(text), ' ')) AS term FROM d),
         |per_doc AS (SELECT doc_id, dl,
         |    $tfCols
         |  FROM hits WHERE term IN ($inList) GROUP BY doc_id, dl),
         |dfs AS (SELECT
         |    $dfCols
         |  FROM (SELECT DISTINCT * FROM (SELECT doc_id,
         |      unnest(string_split(trim(text), ' ')) AS term
         |    FROM documents)) WHERE term IN ($inList)),
         |stats AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |bm AS (SELECT doc_id, ${bm25Expr(Q81Terms.size)} AS bm25
         |  FROM per_doc, dfs, stats
         |  ORDER BY bm25 DESC, doc_id LIMIT $RrfLegK),
         |lex AS (SELECT doc_id, row_number()
         |    OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM bm),
         |cs AS (SELECT e.vec_id AS doc_id,
         |    round($cosExpr, 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN (SELECT embedding AS q_emb
         |    FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0
         |  ORDER BY cos_sim DESC, doc_id LIMIT $RrfLegK),
         |sem AS (SELECT doc_id, row_number()
         |    OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank FROM cs),
         |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         |    lex_rank, sem_rank
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id,
         |  coalesce(lex_rank, 0) AS lex_rank,
         |  coalesce(sem_rank, 0) AS sem_rank,
         |  round(coalesce(1.0e0 / ($RrfC.0e0 + lex_rank), 0.0e0)
         |    + coalesce(1.0e0 / ($RrfC.0e0 + sem_rank), 0.0e0), 6) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT $RrfTopK""".stripMargin
    },
    "q79_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(string_split(trim(text), ' ')) AS token FROM documents),
         |per_doc AS (SELECT token, doc_id, count(*) AS tf
         |  FROM tok GROUP BY token, doc_id)
         |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         |  array_to_string(list_sort(list(doc_id))[1:$PostingCap], ',')
         |    AS postings
         |FROM per_doc GROUP BY token ORDER BY token""".stripMargin,
    "q80_token_cooccurrence" ->
      """WITH tok AS (SELECT DISTINCT * FROM (SELECT doc_id,
        |    unnest(string_split(trim(text), ' ')) AS t FROM documents))
        |SELECT a.t AS t1, b.t AS t2, count(*) AS n_docs
        |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
        |GROUP BY t1, t2
        |ORDER BY n_docs DESC, t1, t2 LIMIT 50""".stripMargin,
    "q81_bm25_search" -> {
      val inList = Q81Terms.map(t => s"'$t'").mkString(", ")
      val tfCols = Q81Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS tf${i + 1}"
      }.mkString(",\n    ")
      val dfCols = Q81Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS df${i + 1}"
      }.mkString(",\n    ")
      val tfNames = Q81Terms.indices.map(i => s"tf${i + 1}").mkString(", ")
      s"""WITH d AS (SELECT doc_id,
         |    len(string_split(trim(text), ' ')) AS dl, text FROM documents),
         |hits AS (SELECT doc_id, dl,
         |    unnest(string_split(trim(text), ' ')) AS term FROM d),
         |per_doc AS (SELECT doc_id, dl,
         |    $tfCols
         |  FROM hits WHERE term IN ($inList) GROUP BY doc_id, dl),
         |dfs AS (SELECT
         |    $dfCols
         |  FROM (SELECT DISTINCT * FROM (SELECT doc_id,
         |      unnest(string_split(trim(text), ' ')) AS term
         |    FROM documents)) WHERE term IN ($inList)),
         |stats AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d)
         |SELECT doc_id, $tfNames, ${bm25Expr(Q81Terms.size)} AS bm25
         |FROM per_doc, dfs, stats
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    },
    "q83_bigram_lm" ->
      """WITH d AS (SELECT string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |bg AS (SELECT unnest(list_zip(toks[1:len(toks)-1],
        |    toks[2:len(toks)])) AS p FROM d WHERE len(toks) >= 2),
        |counts AS (SELECT p[1] AS from_tok, p[2] AS to_tok,
        |    count(*) AS n_pairs FROM bg GROUP BY from_tok, to_tok)
        |SELECT from_tok, to_tok, n_pairs,
        |  CAST(sum(n_pairs) OVER (PARTITION BY from_tok) AS BIGINT)
        |    AS from_total,
        |  n_pairs / CAST(sum(n_pairs) OVER (PARTITION BY from_tok)
        |    AS BIGINT) AS p_next
        |FROM counts
        |ORDER BY n_pairs DESC, from_tok, to_tok LIMIT 100""".stripMargin,
    "q108_lm_perplexity" ->
      s"""WITH $sqlPerDocNllCte
         |SELECT doc_id, n_bigrams, avg_logp,
         |  round(exp(-avg_logp), 4) AS ppl
         |FROM a ORDER BY doc_id""".stripMargin)
}
