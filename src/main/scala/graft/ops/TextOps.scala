package graft.ops

import graft.Tables
import graft.Tables.tokens
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language ID, quality scoring, token counting, document
  * fingerprinting, shingle profiles).
  *
  * All computation stays inside codegen'd built-in expressions (split /
  * higher-order array functions / regexp), no UDFs; each op has an exact
  * DuckDB oracle twin. Scale note: every query here is embarrassingly
  * parallel per-document (no shuffle except the final order for the dump),
  * so the plans survive arbitrary scale-up.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** `size` with EXPLICIT null propagation: under
    * `spark.sql.legacy.sizeOfNull` a null token array reads as −1, which
    * silently poisons every downstream ratio (en_ratio = −1/−1 = 1.0
    * labels an EMPTY doc 'en') where the oracle propagates NULL — the
    * SimilarityOps q110 guard, applied to the token-count family. Under
    * the default conf this is identical to bare `size`.
    */
  private def sizeOrNull(c: Column): Column = Tables.sizeOrNull(c)

  /** The exact alphabet of `[a-zA-Z0-9 ]` for regex-free `translate`
    * deletion (see the scoring-hygiene note on [[scoredDocsOn]]).
    */
  private[ops] val AlnumSpace: String =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString + " "

  /** English function-word list for the stopword heuristics (public-domain
    * frequency-list prefix; matches the oracle SQL verbatim).
    */
  private val enStops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val enStopsSql = enStops.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Token counting: whitespace tokens, regex (BPE-ish) tokens, distinct
    * tokens, average token length.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    tokenStatsOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang, text, n_chars). */
  def tokenStatsOn(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        sizeOrNull(col("toks")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).as("re_tokens"),
        size(array_distinct(col("toks"))).as("distinct_tokens"),
        round(length(translate(col("text"), " ", ""))
          / sizeOrNull(col("toks")), 4).as("avg_token_len"))
      .orderBy("doc_id")

  /** Language ID via stopword-hit heuristic: ratio of English function words
    * to total tokens; threshold labels the document.
    */
  def langProfile(s: SparkSession, dir: String): DataFrame =
    langProfileOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang, text). */
  def langProfileOn(docsDf: DataFrame): DataFrame = {
    val stopArr = array(enStops.map(lit): _*)
    docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      .withColumn("en_hits",
        sizeOrNull(filter(col("toks"), t => array_contains(stopArr, t))))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"), col("en_hits"),
        round(col("en_hits") / col("n_tokens"), 6).as("en_ratio"),
        when(col("en_hits") / col("n_tokens") >= 0.08, "en")
          .otherwise("unknown").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Shared q33/q48/q60 quality composite: adds n_tokens, distinct_ratio,
    * avg_len, n_punct, and the rounded 0.4/0.3/0.3 `score` column — ONE
    * definition so retention (q48) and dedup canonical-keep (q60) provably
    * rank by the same score q33 reports.
    *
    * Counting hygiene (this runs over every document of the corpus): both
    * character counts are regex-free `translate` passes — measured at the
    * 100× corpus, a Java-regex scan with the negated char class
    * `[^a-zA-Z0-9 ]` costs 17s where `translate` costs 0.6s, so the punct
    * count deletes the alphanumeric+space alphabet and takes the length
    * delta. Values are identical (same chars counted), so the oracle SQL
    * twins (which keep the regex formulation — RE2 doesn't share the
    * pathology) are unchanged.
    */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    scoredDocsOn(docs(s, dir))

  private[ops] def scoredDocsOn(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      .withColumn("distinct_ratio",
        size(array_distinct(col("toks"))) / col("n_tokens"))
      .withColumn("avg_len",
        length(translate(col("text"), " ", "")) / col("n_tokens"))
      // deleting the alphabet leaves exactly the punct chars
      .withColumn("n_punct",
        length(translate(col("text"), TextOps.AlnumSpace, "")))
      .withColumn("score", round(
        lit(0.4) * col("distinct_ratio")
          + lit(0.3) * least(col("avg_len") / 10.0, lit(1.0))
          + lit(0.3) * (lit(1.0) - col("n_punct") / col("n_tokens")), 6))

  /** Quality scoring: lexical-diversity + length + punctuation composite. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScoreOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def qualityScoreOn(docsDf: DataFrame): DataFrame =
    scoredDocsOn(docsDf)
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("distinct_ratio"), 6).as("distinct_ratio"),
        round(col("avg_len"), 6).as("avg_len"),
        col("n_punct"), col("score"),
        when(col("score") >= 0.55, "good")
          .when(col("score") >= 0.45, "fair")
          .otherwise("poor").as("bucket"))
      .orderBy("doc_id")

  /** Document fingerprinting: 31-polynomial rolling hash over the Unicode
    * code-point stream, mod 1e9+7 — deterministic and engine-portable
    * (unlike xxhash64/murmur, which differ between Spark and DuckDB). Code
    * points come from the native graft_code_points kernel: Spark's `ascii()`
    * collapses every non-ASCII character to '?', which would silently
    * diverge from the oracle's `unicode()` on non-ASCII text.
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    docFingerprintOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text, n_chars). */
  def docFingerprintOn(docsDf: DataFrame): DataFrame = {
    docsDf
      .select(
        col("doc_id"),
        aggregate(
          GraftFunctions.codePoints(col("text")),
          lit(0L),
          (acc, x) => (acc * lit(31L) + x) % lit(1000000007L)).as("fingerprint"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Word-3-shingles over the prepared (`toks`, `n_tokens`) columns — the
    * ONE definition shared by the shingle profile (q35) and the novelty
    * curve (q111), so a width or tokenization change cannot silently
    * diverge the two reports (the same single-definition rule as
    * `SpanOps.shingleKeysExpr` for the span family).
    */
  private def shingles3: Column =
    transform(sequence(lit(1), col("n_tokens") - 2), i =>
      concat_ws(" ",
        element_at(col("toks"), i),
        element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2)))

  /** Word-level 3-shingle profile: shingle count, distinct shingles,
    * internal-repetition ratio (the MinHash front-end, measured exactly).
    */
  def shingleProfile(s: SparkSession, dir: String): DataFrame =
    shingleProfileOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def shingleProfileOn(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      .filter(col("n_tokens") >= 3)
      .withColumn("shingles",
        shingles3)
      .select(
        col("doc_id"), col("n_tokens"),
        size(col("shingles")).as("n_shingles"),
        size(array_distinct(col("shingles"))).as("n_distinct_shingles"),
        round(lit(1.0) - size(array_distinct(col("shingles")))
          / size(col("shingles")), 6).as("repetition_ratio"))
      .orderBy("doc_id")

  /** Per-language quotas for the stratified sample (percent to keep) —
    * rebalances the en-heavy corpus, the standard training-mix operation.
    */
  private val quotas = Seq("en" -> 40, "de" -> 80, "es" -> 80, "fr" -> 80,
    "zh" -> 80)

  /** Deterministic stratified sampling: keep a per-language fraction chosen
    * by an arithmetic hash of doc_id ((id·48271+7) mod 100 — exact integer
    * math, portable to any engine, reproducible on any cluster; `rand()`
    * would be neither). The same primitive with a 90/10 split is the
    * train/validation splitter. Output: per-language kept/total accounting.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSampleOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang). */
  def stratifiedSampleOn(docsDf: DataFrame): DataFrame = {
    val quotaCol = quotas.tail.foldLeft(
      when(col("lang") === quotas.head._1, quotas.head._2)) {
      case (acc, (l, p)) => acc.when(col("lang") === l, p)
    }.otherwise(0)
    docsDf
      .withColumn("keep",
        Tables.lcgBucket(col("doc_id"), 48271L, 7L, 100L) < quotaCol)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        round(sum(col("keep").cast("long")) * lit(100.0) / count(lit(1)), 2)
          .as("kept_pct"))
      .orderBy("lang")
  }

  /** Quality-based retention: the top-20 documents per language by the q33
    * composite score (the "keep the best k per stratum" curation op).
    * Deterministic tie-break on doc_id. Uses the score-carrying
    * bounded-heap top-k aggregate ([[ScaleOps.topKPairsPerGroup]]): a
    * plain rank window partitioned by the ~5-valued `lang` would sort
    * the whole corpus in 5 tasks at any scale, and even the salted
    * two-window form shuffles the whole (lang, doc_id, score) projection
    * once — the aggregate consumes it map-side and the winners' scores
    * ride the buffer out, so the corpus is scored exactly once.
    */
  def qualityTopK(s: SparkSession, dir: String): DataFrame =
    qualityTopKOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang, text). A null-scoring (e.g.
    * null-text) document never ranks — the heap's null-skip, mirrored
    * by the oracle's null filter; the window form it replaced parked
    * such rows at the rank tail instead, a slot a quality cut has no
    * use for.
    */
  def qualityTopKOn(docsDf: DataFrame): DataFrame =
    // score-carrying bounded-heap top-k: the winners' scores ride the
    // aggregation buffer out, so the re-score join-back the ids-only
    // form paid (a second scoredDocsOn scan over the corpus for
    // ≤ langs·20 winners — and its duplicated-id join subtleties) is
    // gone; the corpus is scored exactly once
    ScaleOps.topKPairsPerGroup(
        scoredDocsOn(docsDf).select("lang", "doc_id", "score"),
        Seq("lang"),
        col("score"), col("doc_id"), 20, "doc_id", "score")
      .select("lang", "rank", "doc_id", "score")
      .orderBy("lang", "rank")

  /** q150's registration pins the per-source cap at 10 (the sf fixtures
    * hold ~25 docs per source, so the cap genuinely cuts); production
    * passes its own.
    */
  val SourceCap = 10

  def sourceCap(s: SparkSession, dir: String): DataFrame =
    sourceCapOn(docs(s, dir))

  /** q150: per-source document caps — the Common Crawl curation step
    * "cap documents per registered domain, keep the best": per source,
    * the top `cap` documents by the q33 quality score, each arriving
    * with its lang and token count. The quality-ranked twin of q58's
    * rebalance: q58 trims an over-represented source by a deterministic
    * hash (any doc as good as any other), this keeps the BEST documents
    * when a boilerplate-heavy domain must shrink.
    *
    * Scale: ONE corpus scan — the scorer feeds the payload-carrying
    * bounded-heap aggregate ([[graft.functions.TopKRowsByScore]] via
    * [[ScaleOps.topKRowsPerGroup]]), so per (task, source) only the
    * O(k log n) admitted rows ever evaluate or copy the (lang, n_toks)
    * cargo struct (`admits()` rejects the rest in one compare), state is
    * O(cap) per source, partials combine map-side, and only
    * ≤ |sources|·cap survivor rows shuffle — at 100 TB that is the
    * difference between shuffling kilobytes and sorting the corpus by a
    * registered-domain key (the window form: one task per domain sorting
    * that domain's full document set). Ties break on the lower doc_id; a
    * null-scoring (null-text) document never ranks (heap null-skip ≡ the
    * oracle's null filter); a null lang/n_toks rides as NULL cargo.
    */
  def sourceCapOn(docsDf: DataFrame, cap: Int = SourceCap): DataFrame =
    ScaleOps.topKRowsPerGroup(
        scoredDocsOn(docsDf).select(col("source"), col("doc_id"),
          col("score"),
          struct(col("lang"), col("n_tokens").as("n_toks")).as("cargo")),
        Seq("source"), col("score"), col("doc_id"), col("cargo"), cap,
        "doc_id", "score", "cargo")
      .select(col("source"), col("rank"), col("doc_id"), col("score"),
        col("cargo.lang").as("lang"), col("cargo.n_toks").as("n_toks"))
      .orderBy("source", "rank")

  /** Corpus mixture report: per (source, lang) document and token counts
    * plus each cell's share of all corpus tokens — the numbers behind every
    * training-mix / up-sampling decision. One aggregation plus an
    * unpartitioned window over the (small) group table; the full-corpus
    * token total never reshuffles the documents themselves.
    */
  def sourceMix(s: SparkSession, dir: String): DataFrame =
    sourceMixOn(docs(s, dir))

  /** `docsDf` needs (source, lang, text). */
  def sourceMixOn(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docsDf
      .withColumn("n_toks", sizeOrNull(tokens(col("text"))))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
      .withColumn("token_share_pct",
        round(col("n_tokens") * lit(100.0)
          / sum(col("n_tokens")).over(Window.partitionBy()), 4))
      .orderBy("source", "lang")
  }

  /** q146's registration pins T = 2, i.e. exponent α = 1/T = 0.5 —
    * deliberately, because share^0.5 IS sqrt, which both engines compute
    * IEEE-identically (a general pow() drifts libm-to-libm and would
    * break the cross-engine digest; other temperatures are a caller knob
    * on [[temperatureMixOn]], outside the oracle's scope).
    */
  val MixTemperature = 2.0

  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixOn(docs(s, dir))

  /** q146: temperature-scaled sampling weights per (source, lang) cell —
    * the third standard training-mix scheme alongside natural sampling
    * (q53's raw shares) and learned weights (q131 DoReMi): wᵢ ∝ pᵢ^(1/T)
    * flattens the corpus distribution so low-resource cells are
    * up-sampled without memorizing them (the mT5/XLM-R recipe). Reports,
    * per cell: token count, raw share, the tempered sampling weight, and
    * the up-sampling factor (weight / raw share — the number a data
    * loader actually applies; > 1 = boosted tail, < 1 = trimmed head).
    *
    * Scale: ONE q53-shape corpus contraction to ≤ |sources|·|langs|
    * cells; both normalizers are windows over that cell table, never the
    * corpus. Determinism: raw shares round to 6 dp, the tempered values
    * (sqrt of a 6-dp double — bit-identical cross-engine) round to 6 dp
    * BEFORE normalizing, and the normalizer sums them as exact decimals
    * (a double window-sum would be partition-order dependent). A cell
    * with no measurable tokens (all-null text) carries NULL share and
    * weight and stays OUT of both normalizers — in both engines. A
    * positive-mass cell whose share rounds to 0 at 6 dp reads the
    * minimum representable 1e-6 instead (so the deepest tail keeps a
    * finite up-sample factor and q148 keeps rather than drops it); a
    * zero-token cell keeps its honest 0 share and NULL up-sample.
    */
  def temperatureMixOn(docsDf: DataFrame,
      temperature: Double = MixTemperature): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(temperature > 0, s"temperatureMixOn: temperature must be " +
      s"positive, got $temperature")
    val w = Window.partitionBy()
    val cells = docsDf
      .withColumn("n_toks", sizeOrNull(tokens(col("text"))))
      .groupBy("source", "lang")
      .agg(sum(col("n_toks")).as("n_tokens"))
      .withColumn("raw_share", round(
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(w), 6))
      // a POSITIVE-mass cell whose true share rounds to 0 at 6 dp
      // (share < 5e-7: the deepest tail, the cell temperature sampling
      // exists to boost) clamps to the minimum representable 1e-6 —
      // otherwise its up-sample factor divides by zero and the q148
      // plan silently DROPS the cell, the opposite of the intent. A
      // zero-token cell keeps its honest 0; an unmeasurable (all-null
      // text) cell keeps NULL.
      .withColumn("raw_share",
        when(col("n_tokens") > 0, greatest(col("raw_share"), lit(1e-6)))
          .otherwise(col("raw_share")))
      .withColumn("tempered", round(
        // T = 2 routes through sqrt EXPLICITLY: IEEE-754 requires sqrt
        // to be correctly rounded, but pow(x, 0.5) only promises ~1 ulp
        // — libm-dependent bits the oracle cannot replay. Other
        // temperatures (production knob) take the pow path.
        if (temperature == 2.0) sqrt(col("raw_share"))
        else pow(col("raw_share"), lit(1.0 / temperature)), 6))
    cells
      .withColumn("sampling_weight", round(
        col("tempered") /
          sum(col("tempered").cast("decimal(38,10)")).over(w)
            .cast("double"), 6))
      .withColumn("upsample", round(
        try_divide(col("sampling_weight"), col("raw_share")), 4))
      .select("source", "lang", "n_tokens", "raw_share",
        "sampling_weight", "upsample")
      .orderBy("source", "lang")
  }

  def temperedSample(s: SparkSession, dir: String): DataFrame =
    temperedSampleOn(docs(s, dir))

  /** q148: the q146 mix report turned into an EXECUTABLE epoch plan —
    * per (source, lang) cell, a deterministic document sample whose kept
    * token mass approaches the tempered target shares: each cell's keep
    * fraction is its q146 up-sampling factor normalized so the
    * most-boosted cell keeps everything (pure filtering cannot duplicate
    * documents, so the plan realizes the tempered RATIOS at the largest
    * corpus size filtering allows; true up-sampling repeats the epoch).
    * Reports, per cell: docs/tokens before and after, the keep fraction,
    * the tempered target share, the ACHIEVED share of kept tokens, and
    * the deviation — the honest gap between the doc-level sample and the
    * token-level target (big docs make cells granular).
    *
    * Determinism (the q47 sampling discipline): membership is
    * `lcgBucket(doc_id) < floor(keep_frac · 10⁶)` — explicit floor, NOT
    * a long cast (Spark truncates, DuckDB rounds — a cast would admit a
    * different document set per engine); every share/fraction rounds to
    * 6 dp before use. A cell with no measurable tokens (q146's NULL
    * weight) keeps nothing: achieved share 0, NULL target and deviation.
    *
    * Scale: q146's cell contraction + ONE broadcast join of the ≤
    * |sources|·|langs| plan onto the corpus + one aggregation back to
    * cells. The corpus never shuffles; the keep decision is per-row
    * arithmetic.
    */
  def temperedSampleOn(docsDf: DataFrame,
      temperature: Double = MixTemperature): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val plan = temperatureMixOn(docsDf, temperature)
      .withColumn("keep_frac", round(
        try_divide(col("upsample"), max(col("upsample")).over(w)), 6))
      .select(col("source"), col("lang"),
        col("sampling_weight").as("target_share"), col("keep_frac"))
    docsDf
      .withColumn("n_toks", sizeOrNull(tokens(col("text"))))
      .join(broadcast(plan), Seq("source", "lang"), "left")
      .withColumn("keep",
        coalesce(Tables.lcgBucket(col("doc_id"), 48271L, 13L, 1000000L) <
          floor(col("keep_frac") * lit(1e6)), lit(false)))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum("n_toks").as("n_tokens"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("kept_tokens"),
        first(col("target_share")).as("target_share"),
        first(col("keep_frac")).as("keep_frac"))
      .withColumn("achieved_share", round(try_divide(
        col("kept_tokens").cast("double"),
        sum(col("kept_tokens")).over(w)), 6))
      .withColumn("deviation",
        round(col("achieved_share") - col("target_share"), 6))
      .select("source", "lang", "n_docs", "n_kept", "n_tokens",
        "kept_tokens", "keep_frac", "target_share", "achieved_share",
        "deviation")
      .orderBy("source", "lang")
  }

  /** Context-length budget the q147 registration pins — tokens per
    * training sequence the truncation/packing planner targets (64 sits
    * inside this corpus's 10–99 token range, so the report carries real
    * mass on both sides; production passes its own).
    */
  val ContextBudget = 64

  def contextBudget(s: SparkSession, dir: String): DataFrame =
    contextBudgetOn(docs(s, dir), ContextBudget)

  /** q147: context-length planning — per language: document-length
    * percentiles (p50/p95/p99 token counts, the q14 exact-percentile
    * machinery pointed at lengths), the share of documents exceeding the
    * training context budget, and the fraction of corpus TOKENS lost if
    * those documents are truncated at the budget. These are the numbers
    * behind choosing a context length and a packing strategy before a
    * training run: a high over-share with a low lost-token fraction says
    * "truncate", the reverse says "split or raise the context".
    *
    * Scale: one corpus pass — per-row token counts feed a single
    * aggregation (the array-argument percentile keeps ONE sorted buffer
    * per language for all three ranks); output is ≤ |langs| rows. A
    * null-text document carries a NULL count: out of the percentile
    * buffer and the over-budget census in both engines, but still in
    * `n_docs` (it is a document; it just has no measurable length).
    */
  def contextBudgetOn(docsDf: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1,
      s"contextBudgetOn: budget must be >= 1, got $budget")
    docsDf
      .withColumn("n_toks", sizeOrNull(tokens(col("text"))))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        expr("percentile(n_toks, array(0.5D, 0.95D, 0.99D))").as("ps"),
        sum(when(col("n_toks") > budget, 1L).otherwise(0L)).as("n_over"),
        sum(when(col("n_toks") > budget, col("n_toks") - budget)
          .otherwise(0L)).as("toks_lost"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(element_at(col("ps"), 1), 4).as("p50_toks"),
        round(element_at(col("ps"), 2), 4).as("p95_toks"),
        round(element_at(col("ps"), 3), 4).as("p99_toks"),
        col("n_over"),
        round(col("n_over") * lit(100.0).cast("double") / col("n_docs"), 4)
          .as("over_pct"),
        round(try_divide(col("toks_lost") * lit(100.0).cast("double"),
          col("n_tokens")), 4).as("tokens_lost_pct"))
      .orderBy("lang")
  }

  /** Packing-stream count the q152 registration pins — deterministic
    * parallel packing streams per language (production sets this to its
    * worker count; 8 exercises multi-stream accounting on the test
    * corpus).
    */
  val PackShards = 8

  def packingPlan(s: SparkSession, dir: String): DataFrame =
    packingPlanOn(docs(s, dir), ContextBudget, PackShards)

  /** q152: the q147 report turned into an EXECUTABLE sequence-packing
    * plan (the q146→q148 pattern): documents are concatenated in
    * deterministic doc_id order within (lang, shard) packing streams and
    * chunked into fixed `budget`-token training sequences — the
    * GPT-style pack-and-chunk a data loader actually runs. Reports, per
    * language: total and packable docs, token mass, the number of
    * training sequences produced, how many documents straddle a sequence
    * boundary (they arrive split across two contexts — the cost of
    * chunk-packing vs the padding it saves), the padding tokens lost in
    * each stream's final partial sequence, and the realized fill rate.
    *
    * Packing is order-DEFINED, so the shard is part of the plan's
    * identity: each (lang, shard) stream packs independently (shard =
    * lcgBucket(doc_id) — deterministic, rebuild-anywhere), which is
    * exactly how a multi-worker loader packs; one global stream would
    * serialize the epoch behind a single cursor.
    *
    * Scale: ONE corpus pass; the only shuffle is the (lang, shard)
    * window sort that DEFINES packing order — |langs|·|shards| bounded
    * partitions, shards being the parallelism knob (production uses
    * thousands); everything after contracts to ≤ |langs|·|shards| cells.
    * Determinism: all counters are integer arithmetic (`DIV`, never a
    * float division or long cast — Spark DIV and DuckDB // agree on
    * non-negative operands); a doc straddles a boundary iff its first
    * and last token land in different chunks: (cum_before DIV budget) ≠
    * ((cum_after − 1) DIV budget). A null-text doc is in `n_docs` but
    * out of the pack (q147's census convention); a language with no
    * measurable text reads 0 sequences and NULL token mass / fill.
    */
  def packingPlanOn(docsDf: DataFrame, budget: Int,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"packingPlanOn: budget must be >= 1, got $budget")
    require(shards >= 1, s"packingPlanOn: shards must be >= 1, got $shards")
    val d = docsDf.withColumn("n_toks", sizeOrNull(tokens(col("text"))))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    val packed = d.filter(col("n_toks").isNotNull)
      .withColumn("shard",
        Tables.lcgBucket(col("doc_id"), 48271L, 17L, shards))
      .withColumn("cum_after", sum("n_toks").over(w))
      .withColumn("split",
        (expr(s"(cum_after - n_toks) DIV $budget") =!=
          expr(s"(cum_after - 1) DIV $budget")).cast("long"))
    val perStream = packed.groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_packable"),
        sum("n_toks").as("s_tokens"),
        sum("split").as("n_split"))
      .withColumn("n_seqs", expr(s"(s_tokens + ${budget - 1}) DIV $budget"))
    val perLang = perStream.groupBy("lang")
      .agg(sum("n_packable").as("n_packable"),
        sum("s_tokens").as("n_tokens"),
        sum("n_seqs").as("n_sequences"),
        sum("n_split").as("n_split_docs"))
      .withColumn("padding_tokens",
        col("n_sequences") * budget - col("n_tokens"))
      .withColumn("fill_pct", round(
        col("n_tokens") * lit(100.0).cast("double") /
          (col("n_sequences") * lit(budget.toDouble)), 4))
    d.groupBy("lang").agg(count(lit(1)).as("n_docs")).as("t")
      .join(perLang.as("p"), col("t.lang") <=> col("p.lang"), "left")
      .select(col("t.lang").as("lang"), col("n_docs"),
        coalesce(col("n_packable"), lit(0L)).as("n_packable"),
        col("n_tokens"),
        coalesce(col("n_sequences"), lit(0L)).as("n_sequences"),
        coalesce(col("n_split_docs"), lit(0L)).as("n_split_docs"),
        coalesce(col("padding_tokens"), lit(0L)).as("padding_tokens"),
        col("fill_pct"))
      .orderBy("lang")
  }

  /** Repetition profile — the Gopher-style repetition filters: per document,
    * the most-frequent-token share and bigram-duplication stats that flag
    * boilerplate / degenerate text before training (Rae et al. 2021 §A1.1
    * filter on "fraction of tokens in the most common n-gram").
    *
    * Scale: entirely per-row higher-order array functions — no shuffle, no
    * explode (an explode + groupBy(doc_id, token) formulation would shuffle
    * one row per TOKEN of the corpus; this keeps each document's counting
    * inside its own array). The nested filter-count is O(distinct·n) per
    * document, bounded by document length, embarrassingly parallel.
    */
  def repetitionProfile(s: SparkSession, dir: String): DataFrame =
    // per-directory memoized stats: the dup-fraction gate reads a cached
    // single row; one ANALYZE job per corpus per JVM, shared with q46/q56
    repetitionProfileOn(docs(s, dir),
      stats = Some(graft.ops.CorpusStats.forDir(s, dir)))

  /** `docsDf` needs (doc_id, text).
    *
    * Density-dispatched like q56: the whole profile is a pure function of
    * the text, so past a duplicate-fraction probe each DISTINCT text is
    * profiled once and rows attach back to members through the md5 text
    * key — the per-row token/bigram folds run |distinct| times instead of
    * |corpus| times (100× dup-dense corpus: 10.1 s → profile work ÷ ~100).
    * Below the probe the straight per-row form wins (no text shuffle).
    *
    * Gate evidence, cheapest first: explicit `contractDuplicates`, then a
    * caller-provided [[CorpusStats]] (no job — the ANALYZE-once path),
    * then the per-call dup-fraction probe as the last resort.
    */
  def repetitionProfileOn(docsDf: DataFrame,
      contractDuplicates: Option[Boolean] = None,
      stats: Option[CorpusStats] = None): DataFrame = {
    val contracted = contractDuplicates
      .orElse(stats.map(_.dupFraction > 0.5))
      .getOrElse(DedupOps.dupFraction(docsDf) > 0.5)
    if (!contracted)
      repetitionProfileRows(docsDf, col("doc_id").as("doc_id"))
        .orderBy("doc_id")
    else {
      val keyed = docsDf.withColumn("__tk",
        coalesce(md5(col("text")), lit("")))
      val perText = repetitionProfileRows(
        keyed.select(col("__tk"), col("text"))
          .groupBy("__tk").agg(first(col("text")).as("text")),
        col("__tk").as("__tk"))
      keyed.select(col("doc_id"), col("__tk"))
        .join(perText, "__tk")
        .select(col("doc_id"), col("n_tokens"), col("top_tok_count"),
          col("top_tok_ratio"), col("n_bigrams"), col("dup_bigrams"),
          col("top_bigram_count"), col("flagged"))
        .orderBy("doc_id")
    }
  }

  private def repetitionProfileRows(df: DataFrame, idCol: Column): DataFrame = {
    // count of the most frequent element = longest run in the sorted array,
    // via a single fold — O(n log n) per doc vs O(distinct·n) for the naive
    // nested filter-count (measured 6.4s → 2.9s warm for the full profile
    // at the 100× corpus; the DuckDB oracle keeps the nested-lambda form,
    // values are identical). Run starts at 0, so the "" init can never
    // overcount: the first element always begins run 1. Empty array → 0.
    def topCount(xs: Column): Column =
      aggregate(
        array_sort(xs),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
    df
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      // guard: sequence(1, 0) would DESCEND ([1, 0]); emit [] for 1-token docs
      .withColumn("bigrams",
        when(col("n_tokens") >= 2,
          transform(sequence(lit(1), col("n_tokens") - 1), i =>
            concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>")))
      .withColumn("top_tok_count", topCount(col("toks")))
      .withColumn("n_bigrams", size(col("bigrams")))
      .withColumn("top_bigram_count", topCount(col("bigrams")))
      .select(
        idCol, col("n_tokens"), col("top_tok_count"),
        round(col("top_tok_count") / col("n_tokens"), 6).as("top_tok_ratio"),
        col("n_bigrams"),
        (col("n_bigrams") - size(array_distinct(col("bigrams"))))
          .as("dup_bigrams"),
        col("top_bigram_count"),
        (col("top_tok_count") / col("n_tokens") > 0.2 ||
          (col("n_bigrams") > 0 &&
            col("top_bigram_count") / col("n_bigrams") > 0.18))
          .as("flagged"))
  }

  /** Corpus vocabulary statistics — the inverted-index / IDF primitive: per
    * token, document frequency (docs containing it), collection frequency
    * (total occurrences), and corpus share; top-100 by df. The df table IS
    * the posting-list length column of an inverted index, and the standard
    * input to IDF weighting, stopword induction, and vocab pruning.
    *
    * Scale: two explode → hash-agg passes (cf over raw tokens, df over
    * per-doc distinct tokens). Each aggregation partial-aggregates map-side,
    * so the shuffle carries ~|vocab| rows per partition, not the corpus's
    * token stream; the final top-100 is TakeOrderedAndProject (no global
    * sort). A (doc_id, token) pair shuffle — the naive formulation of df —
    * never happens.
    */
  def vocabStats(s: SparkSession, dir: String): DataFrame =
    vocabStatsOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def vocabStatsOn(docsDf: DataFrame): DataFrame = {
    val d = docsDf.withColumn("toks", tokens(col("text")))
    val total = d.agg(count(lit(1)).as("n_docs"))
    val cf = d.select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cf"))
    val df = d.select(explode(array_distinct(col("toks"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    df.join(cf, "token")
      .crossJoin(broadcast(total))
      .select(col("token"), col("df"), col("cf"),
        round(col("df") * lit(100.0) / col("n_docs"), 4).as("df_pct"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(100)
  }

  /** Approximate heavy-hitters vocabulary (Misra–Gries 1982) — the
    * bounded-memory twin of q66's exact cf table. Each partition keeps at
    * most `capacity` counters over its token stream (decrement-all when
    * full), partial summaries merge by token sum. Guarantee (survives the
    * merge): every token with true collection frequency > N/capacity is
    * present, with its estimate underestimating by at most N/capacity and
    * never overestimating.
    *
    * Why it exists: q66's exact shuffle carries ~|vocab| rows — fine for a
    * word vocabulary, unbounded for URL / n-gram / id-like token spaces at
    * 100 TB. This path shuffles ≤ capacity rows per partition no matter
    * what the data does, the same exact→sketch handoff as q14→q15's
    * percentile sketch. OpsSpec pins exactness when capacity exceeds the
    * vocabulary and the survival guarantee under heavy skew.
    */
  def vocabHeavyHittersOn(docsDf: DataFrame, capacity: Int = 4096,
      k: Int = 100): DataFrame = {
    val session = docsDf.sparkSession
    import session.implicits._
    docsDf.select(col("text")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { text =>
          // Spark's trim() strips ASCII spaces ONLY — match it exactly
          // (Java String.trim also strips tabs/newlines, so the sketch
          // would count different tokens than the exact q66 twin it is
          // pinned against); null text contributes nothing, like the
          // declarative explode
          val toks =
            if (text == null) Array.empty[String]
            else {
              var lo = 0
              var hi = text.length
              while (lo < hi && text.charAt(lo) == ' ') lo += 1
              while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
              text.substring(lo, hi).split(" ", -1)
            }
          var i = 0
          while (i < toks.length) {
            val t = toks(i)
            counts.get(t) match {
              case Some(c) => counts.update(t, c + 1)
              case None if counts.size < capacity => counts.update(t, 1L)
              case None => // decrement-all, dropping zeroed counters
                counts.keysIterator.toArray.foreach { key =>
                  val c = counts(key) - 1
                  if (c == 0) counts.remove(key) else counts.update(key, c)
                }
            }
            i += 1
          }
        }
        counts.iterator
      }
      .toDF("token", "cf_est")
      .groupBy("token").agg(sum("cf_est").as("cf_est"))
      .orderBy(col("cf_est").desc, col("token").asc)
      .limit(k)
  }

  /** Fixed-size overlapping token-window chunking — the document→
    * training-sample step of every LLM data pipeline (context packing,
    * RAG indexing, long-doc splitting). Each document yields
    * `1 + ceil(max(n-window,0)/stride)` chunks of up to `window` tokens
    * starting every `stride` tokens, so consecutive chunks overlap by
    * `window - stride` tokens and every token is covered.
    *
    * Scale: chunk boundaries are computed per-row from the token array
    * (transform over a sequence), then a single generator explode — no
    * shuffle at all; output size is corpus tokens × window/stride, the
    * same linear blow-up any chunker pays.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    docChunksOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). `window` > `stride` > 0. */
  def docChunksOn(docsDf: DataFrame, window: Int = 32,
      stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window)
    val d = docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      // 1 + ceil((n - window)/stride) via integer-exact floor arithmetic
      .withColumn("n_chunks",
        when(col("n_tokens") > window,
          floor((col("n_tokens") - window + stride - 1)
            / lit(stride.toDouble)) + 1L)
          .otherwise(1L))
    d.select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        posexplode(transform(
          sequence(lit(0), (col("n_chunks") - 1).cast("int")), i =>
          struct(
            (i * stride + 1).as("start_tok"),
            size(slice(col("toks"), i * stride + 1, lit(window)))
              .as("n_chunk_toks"),
            array_join(slice(col("toks"), i * stride + 1, lit(window)), " ")
              .as("chunk_text")))))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("pos").as("chunk_id"), col("col.start_tok"),
        col("col.n_chunk_toks"), col("col.chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-document top-k TF-IDF keywords — the standard keyword-extraction /
    * relevance primitive built on q66's df table (IDF weighting over the
    * corpus posting lists).
    *
    * Scale: term frequencies come from an in-row run-length encode of the
    * SORTED token array (starts/ends of equal runs via two filters + one
    * zip_with), so the explode emits one row per DISTINCT (doc, term) —
    * never the raw token stream — and there is no (doc_id, token) groupBy
    * shuffle. The df side contracts to ~|vocab| rows (map-side partial agg)
    * and AQE broadcasts it; the final top-k rank windows over doc_id —
    * millions of partitions, full parallelism.
    */
  def tfidfKeywords(s: SparkSession, dir: String): DataFrame =
    tfidfKeywordsOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def tfidfKeywordsOn(docsDf: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
    // run-length encode the sorted tokens: run starts / run ends by index
    // (indexes clamped: ANSI element_at faults on out-of-range)
    val n = col("n_tokens")
    val st = col("sorted")
    val rle = d
      .withColumn("sorted", array_sort(col("toks")))
      .withColumn("starts", filter(sequence(lit(1), n), i =>
        (i === 1) ||
          element_at(st, greatest(i - 1, lit(1))) =!= element_at(st, i)))
      .withColumn("ends", filter(sequence(lit(1), n), i =>
        (i === n) ||
          element_at(st, least(i + 1, n)) =!= element_at(st, i)))
      .select(col("doc_id"), n,
        explode(zip_with(col("starts"), col("ends"), (s0, e0) =>
          struct(element_at(st, s0).as("term"),
            (e0 - s0 + 1).as("tf")))).as("t"))
      .select(col("doc_id"), n, col("t.term"), col("t.tf"))
    // r16 (guide §2.4/§6): df via a count window over the rle stream's
    // term key instead of a second scan+tokenize+distinct-explode+agg
    // branch — rle emits EXACTLY one row per distinct (doc, term) (runs
    // of the sorted token array), so its per-term row count IS the
    // document frequency the old dfTab aggregation computed. Kills the
    // duplicate tokenize pass AND the df-table materialization (which a
    // billion-term vocabulary could never broadcast anyway) for one
    // term-keyed exchange — the q111/q121 one-shuffle df pattern.
    val nDocs = docsDf.agg(count(lit(1)).as("n_docs"))
    val scored = rle
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") / col("n_tokens") * log(col("n_docs") / col("df")))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** q97: deterministic k-per-stratum sample — the bounded-memory way to
    * draw a reproducible uniform sample from every group: rank rows by a
    * portable arithmetic hash of the id and keep the k smallest, with
    * the selection running through the native bounded top-k aggregate
    * ([[graft.functions.MinKLongs]] — O(k) buffer per stratum, map-side
    * combined). The window-rank formulation sorts every stratum; a
    * `TABLESAMPLE`/`rand()` draw is neither per-stratum-exact nor
    * reproducible across runs/engines. The hash and doc id pack into one
    * long (hash · 2³¹ + id, exact while ids < 2³¹), so ranking and
    * recovery ride a single aggregate column.
    */
  def groupSample(s: SparkSession, dir: String): DataFrame =
    groupSampleOn(docs(s, dir), k = 3)

  /** `docsDf` needs (doc_id, source) with doc_id ∈ [0, 2^31) — the pack
    * below is only injective on that range, and the guard is EXECUTABLE:
    * an out-of-range id fails loud with a named error. ANSI overflow only
    * catches large POSITIVE ids; a negative id packs without overflowing
    * into a key that unpacks to a WRONG doc_id — a silently biased,
    * misattributed sample, which is worse than stopping.
    */
  def groupSampleOn(docsDf: DataFrame, k: Int): DataFrame = {
    docsDf
      .select(col("source"),
        when(col("doc_id") >= 0L && col("doc_id") < 2147483648L,
          Tables.lcgBucket(col("doc_id"), 48271L, 11L, 1000000007L)
            * 2147483648L + col("doc_id"))
          .otherwise(raise_error(concat(
            lit("groupSampleOn: doc_id outside [0, 2^31) cannot ride the "),
            lit("packed sample key: "), col("doc_id").cast("string"))))
          .as("e"))
      .groupBy("source")
      .agg(GraftFunctions.minK(col("e"), k).as("es"))
      .select(col("source"), posexplode(col("es")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        (col("e") % 2147483648L).as("doc_id"))
      .orderBy("source", "rank")
  }

  // ---------------------------------------------------------------- q109

  /** q109: Zipf rank-frequency fit — the corpus-health regression a
    * training-mix report carries: token frequencies follow freq ∝ rank^s
    * with s ≈ −1 for natural text, and the fitted log-log slope flags
    * template-heavy or truncated-vocabulary corpora at a glance.
    *
    * Plan shape: one explode+agg builds the vocabulary (token, freq); the
    * global frequency rank comes from [[ScaleOps.withGlobalRowNumber]]
    * (range-repartition + parallel local ranks + an offset ladder — a bare
    * `Window.orderBy` would sort the ~10M-word vocabulary of a real corpus
    * in ONE task); the OLS slope/intercept then folds the (x, y) rows into
    * five order-independent sums, so the fit itself is a 1-row aggregate.
    *
    * Determinism: log(rank)/log(freq) round to 9 dp before summing (libm
    * may differ across engines in the last ulp; 9-dp rounding erases it),
    * the sums run through DECIMAL(38,12) (order-independent), and the
    * closed-form OLS arithmetic is double over those identical decimals,
    * rounded to 6 dp.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFitOn(docs(s, dir))

  /** `docsDf` needs (text). */
  def zipfFitOn(docsDf: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val freqs = docsDf
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val ranked = ScaleOps.withGlobalRowNumber(
      freqs, Seq(col("freq").desc, col("token").asc), out = "rank")
    val slope =
      (col("vocab_size") * col("sxy") - col("sx") * col("sy")) /
        (col("vocab_size") * col("sxx") - col("sx") * col("sx"))
    ranked
      .select(col("freq"),
        round(log(col("rank").cast("double")), 9).as("x"),
        round(log(col("freq").cast("double")), 9).as("y"))
      .agg(
        count(lit(1)).as("vocab_size"),
        sum("freq").as("total_tokens"),
        sum(col("x").cast(Dec)).cast("double").as("sx"),
        sum(col("y").cast(Dec)).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(Dec)).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(Dec)).cast("double").as("sxy"))
      .select(col("vocab_size"), col("total_tokens"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("vocab_size"), 6)
          .as("intercept"))
  }

  // ---------------------------------------------------------------- q111

  /** q111: shingle novelty — per document, the fraction of its DISTINCT
    * 3-shingles whose global first occurrence (minimum doc_id) is this
    * document. The redundancy-growth curve for corpus curation: ingesting
    * in doc_id order, novelty ≈ 1 means fresh content, novelty ≈ 0 means
    * the document only restates earlier shingles — a down-weight or dedup
    * candidate even when no single pair crosses a near-dup threshold.
    *
    * Plan shape: per-doc distinct shingles explode ONCE; `min(doc_id)`
    * over a shingle-partitioned window (the q102 one-shuffle pattern —
    * sort-free partitioning, no per-shingle agg + join-back that would
    * re-explode and re-shuffle the stream) tags each occurrence with its
    * shingle's first document; one ≤|docs|-row aggregation then counts
    * distinct shingles and novel shingles per document in the same pass.
    * Linear in total shingles, exactly two data-sized shuffles.
    */
  def shingleNovelty(s: SparkSession, dir: String): DataFrame =
    shingleNoveltyOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def shingleNoveltyOn(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      .filter(col("n_tokens") >= 3)
      .withColumn("shingles", array_distinct(
        shingles3))
      // 16-byte md5 key (the q102 convention): the window partitions and
      // sorts on fixed-width binary, never on the raw shingle strings; a
      // 128-bit collision (2^-128 per pair) is the only way two distinct
      // shingles could share a first_doc slot
      .select(col("doc_id"),
        explode(transform(col("shingles"), s => unhex(md5(s)))).as("shk"))
    sh.withColumn("first_doc", min("doc_id").over(Window.partitionBy("shk")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ratio",
        round(col("n_novel") / col("n_distinct_shingles"), 6))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q114

  /** q114: per-source distribution drift — KL(source ‖ corpus) over unigram
    * token distributions, the mix-governance check a training-data report
    * runs per ingest: a source whose token distribution diverges hard from
    * the corpus (template spam, wrong language, boilerplate dumps) shows a
    * large KL before any quality heuristic fires.
    *
    * Plan shape: the corpus shuffles ONCE into the (source, token, count)
    * contraction; the corpus-wide token totals derive from that contracted
    * table (never from the raw corpus), the per-source totals broadcast
    * (≤|sources| rows), the grand total rides as a broadcast single-row
    * frame. The KL fold is one ≤|sources|-row aggregation over the
    * token-keyed join of two vocabulary-sized tables — everything past the
    * first explode is bounded by |vocab|·|sources|, independent of corpus
    * row count.
    *
    * Determinism: P ratios are double divisions of exact integer counts in
    * a fixed operation order, ln rounds to 9 dp before the product (libm
    * last-ulp insurance), the per-source sum rides DECIMAL(38,12), and the
    * final KL rounds to 6 dp — the full q108/q109 float discipline.
    */
  def sourceDrift(s: SparkSession, dir: String): DataFrame =
    sourceDriftOn(docs(s, dir))

  /** `docsDf` needs (source, text). */
  def sourceDriftOn(docsDf: DataFrame): DataFrame =
    sourceDriftFromCounts(tokenCountsOn(docsDf))

  /** The (source, token, count) unigram contraction q114 reduces the
    * corpus to — ALSO the persisted token-count store's row format, so the
    * store path and the raw path provably share one definition.
    */
  private def tokenCountsOn(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("c"))

  // ---- persisted token-count store ----------------------------------------

  /** Materialize the unigram count store: one (source, token, c) row per
    * distinct pair, hash-laid-out on token for balanced probes. The
    * count-table face of the fingerprint/shingle/bloom/HLL store family —
    * and the simplest member, because exact integer counts are already
    * mergeable: a new crawl's counts just ADD ([[appendToTokenCountStore]]
    * + sum-on-read), no sketch needed. Size ≤ |sources|·|vocab| rows —
    * independent of corpus row count, the thing that doesn't fit at
    * 100 TB. Drift ([[sourceDriftFromStore]]) then answers per crawl
    * without ever re-reading the corpus.
    */
  def writeTokenCountStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(tokenCountsOn(docsDf).repartition(col("token")),
      path)

  /** Fold a new crawl batch into the store, append-only: duplicate
    * (source, token) rows across segments are summed by every reader, so
    * a replayed append only double-counts that batch — compact with
    * [[compactTokenCountStore]] after admitting batches exactly once.
    * Append never rewrites existing segments (crash-safe without a swap:
    * an uncommitted task's files stay in _temporary and are never read).
    */
  def appendToTokenCountStore(batch: DataFrame, path: String): Unit =
    tokenCountsOn(batch)
      .repartition(col("token"))
      .write.mode("append").parquet(path)

  /** Re-contract accumulated append segments to one row per
    * (source, token), publishing via staging + atomic swap (the store is
    * durable state — `mode("overwrite")` on the live path would lose it
    * on a mid-write crash).
    */
  def compactTokenCountStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .groupBy("source", "token").agg(sum("c").as("c"))
      .repartition(col("token")))

  /** Replay-idempotent keyed variant of [[appendToTokenCountStore]] for
    * streaming ingest ([[graft.streaming.DriftMonitorPipeline]]): the
    * batch's contraction lands under `path/batch_id=N`, and a replayed
    * micro-batch OVERWRITES its own directory (IngestPipeline's sink
    * convention) — crash-and-replay converges instead of double-counting
    * the batch. Hive partition discovery keeps the keyed store readable by
    * the same consumers as the flat one ([[sourceDriftFromStore]]'s
    * contraction ignores the extra `batch_id` column); compact with
    * [[compactKeyedTokenCountStore]], not the flat compactor (flat files
    * at the root of a partitioned layout break directory discovery).
    */
  def writeTokenCountBatch(batch: DataFrame, path: String,
      batchId: Long): Unit =
    tokenCountsOn(batch)
      .repartition(col("token"))
      .write.mode("overwrite")
      .parquet(graft.streaming.BatchDirs.segment(path, batchId))

  /** Re-contract a keyed store's accumulated batch segments into one
    * `batch_id=-1` segment (checkpointed batch ids are non-negative, so
    * the slot never collides with a live batch), publishing via staging +
    * atomic swap like [[compactTokenCountStore]].
    *
    * ONLY compact while the owning stream is STOPPED with its checkpoint
    * committed: counts are not duplicate-safe (unlike the semi-join-probed
    * shingle store), so if batch N's segment is folded into `batch_id=-1`
    * while the stream could still REPLAY batch N (crash between the
    * segment write and the checkpoint commit), the replayed write
    * re-creates `batch_id=N` alongside the folded copy and the batch is
    * permanently double-counted.
    */
  def compactKeyedTokenCountStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .groupBy("source", "token").agg(sum("c").as("c"))
      .repartition(col("token")), batchSlot = true)

  /** q114's drift report off the persisted store — no corpus access at
    * all: read ≤|sources|·|vocab| count rows, sum across append segments,
    * and run the identical KL fold. Per-crawl incremental drift =
    * appendToTokenCountStore(batch) + this.
    */
  def sourceDriftFromStore(s: SparkSession, path: String): DataFrame =
    sourceDriftFromCounts(
      s.read.parquet(path).groupBy("source", "token").agg(sum("c").as("c")))

  /** The KL fold over an already-contracted (source, token, c) table —
    * shared verbatim by the raw and store paths (store ≡ raw is pinned by
    * spec, not by hope).
    */
  private def sourceDriftFromCounts(st: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val tok = st.groupBy("token").agg(sum("c").as("ct"))

    val src = st.groupBy("source").agg(sum("c").as("ns"),
      count(lit(1)).as("vocab_size"))
    val nn = broadcast(st.agg(sum("c").cast("double").as("nn")))
    val ps = col("c").cast("double") / col("ns").cast("double")
    val ratio = (col("c").cast("double") * col("nn")) /
      (col("ct").cast("double") * col("ns").cast("double"))
    st.join(tok, "token")
      .join(broadcast(src), "source")
      .crossJoin(nn)
      .withColumn("term", ps * round(log(ratio), 9))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"), max("vocab_size").as("vocab_size"),
        round(sum(col("term").cast(Dec)).cast("double"), 6).as("kl_nats"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q119

  /** Winnowing parameters: k-gram width (word shingles) and window size.
    * Any shared run of ≥ WinnowW + WinnowK - 1 = 6 consecutive tokens is
    * guaranteed to surface at least one shared fingerprint.
    */
  private[ops] val WinnowK = 3
  private[ops] val WinnowW = 4

  /** q119: winnowing fingerprints — the local-sampling document
    * fingerprint of Schleimer/Wilkerson/Aiken (the MOSS algorithm): hash
    * every word [[WinnowK]]-gram with the portable 31-polynomial (q34's
    * hash, per shingle), slide a [[WinnowW]]-wide window over the hash
    * sequence, and keep the window minimum (leftmost on ties — pinned so
    * the oracle twin is deterministic; classic winnowing's rightmost rule
    * only shifts the density constant). The selected (position, hash)
    * set is the fingerprint: unlike q34's whole-doc hash it is robust to
    * local edits, and unlike the full shingle set it samples ~2/(w+1) of
    * the k-grams while still GUARANTEEING any match of ≥ w+k-1 tokens
    * shares a fingerprint — the property plagiarism/near-dup detectors
    * index on.
    *
    * Scale: entirely row-local (higher-order array functions over each
    * doc; the only shuffle is the presentation sort) — the fingerprint
    * inversion that follows at 100 TB is exactly q102's shingle-keyed
    * pattern with a w+1-times-smaller key stream.
    *
    * Determinism: integer hashes, integer positions, one double division
    * for the density, rounded to 6 dp.
    */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOn(docs(s, dir))

  /** The library face: (doc_id, m, sel, fps) with the full selected
    * position and fingerprint-hash arrays — what a near-dup indexer
    * explodes and shuffles on (q102's pattern over a ~2/(w+1)-sampled
    * stream). `docsDf` needs (doc_id, text).
    */
  def winnowSetsOn(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", sizeOrNull(col("toks")))
      .filter(col("n_tokens") >= WinnowK)
      // ONE pass over the text: prefix hashes + O(1) per shingle span
      // (graft_shingle_hashes ≡ the composed per-shingle code-point fold,
      // value-for-value — pinned by FunctionsSpec and the DuckDB oracle,
      // which keeps the naive per-shingle formulation)
      .withColumn("hs",
        GraftFunctions.shingleHashes(col("text"), WinnowK))
      .withColumn("m", size(col("hs")))
      // monotonic-deque sliding minimum: O(m), zero per-window allocation
      // (vs two slices + two walks per window in the composed form —
      // identical selection incl. the leftmost tie rule, spec-pinned)
      .withColumn("sel",
        GraftFunctions.winnowPositions(col("hs"), WinnowW))
      .withColumn("fps", array_distinct(
        transform(col("sel"), p => element_at(col("hs"), p.cast("int")))))
  }

  // ---------------------------------------------------------------- q121

  /** q121 parameters: fingerprints shared by more than MaxDf documents are
    * dropped before the pair join (boilerplate phrases carry no dup
    * signal and are the join's quadratic hazard — the q80 df-prune
    * argument); candidate pairs need ≥ MinShared surviving shared
    * fingerprints; the report keeps the top [[MatchTopK]].
    */
  private[ops] val WinnowMaxDf = 20
  private[ops] val WinnowMinShared = 2
  private[ops] val MatchTopK = 100

  /** q121: winnowing near-dup candidates — the indexing step q119's
    * fingerprints exist for: explode each doc's selected fingerprint set,
    * drop ubiquitous fingerprints (document frequency > maxDf — a
    * common-phrase fingerprint joins every pair of its documents, the
    * classic quadratic hot key; dropping it loses no signal a MinShared
    * threshold would keep), self-join on the fingerprint, and count
    * shared fingerprints per ordered pair.
    *
    * Scale: the fingerprint stream is the ~2/(w+1)-SAMPLED shingle
    * stream (the winnowing payoff — q37's shingle join at a fraction of
    * the key volume); the df prune is one fp-keyed aggregation reused as
    * a semi-join filter; the pair join is fp-keyed (hot keys capped at
    * maxDf docs → ≤ maxDf² rows per fingerprint); the cut plans as
    * TakeOrderedAndProject on the deterministic (n_shared desc, ids)
    * order. Same dispatch family as q37: at real scale the density gate
    * applies before any pair listing.
    */
  def winnowMatches(s: SparkSession, dir: String): DataFrame =
    winnowMatchesOn(docs(s, dir), WinnowMaxDf, WinnowMinShared, MatchTopK)

  /** `docsDf` needs (doc_id, text). */
  def winnowMatchesOn(docsDf: DataFrame, maxDf: Int = WinnowMaxDf,
      minShared: Int = WinnowMinShared, topK: Int = MatchTopK): DataFrame =
    winnowEdgesOn(docsDf, maxDf, minShared)
      .orderBy(col("n_shared").desc, col("a_id").asc, col("b_id").asc)
      .limit(topK)

  /** The UN-CUT (a_id, b_id, n_shared) winnow edge list the q121 listing
    * cuts to top-k — also the edge miner behind
    * `DedupOps.dedupDecision(method = "winnow")`, where the decision
    * dispatch has already contracted exact duplicates so the quadratic
    * df-pruned key bound (≤ maxDf² rows per fingerprint) is the only pair
    * volume left.
    */
  private[ops] def winnowEdgesOn(docsDf: DataFrame,
      maxDf: Int = WinnowMaxDf, minShared: Int = WinnowMinShared)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df via a count window over the fp key (q111's one-shuffle pattern:
    // no agg + join-back), so the SAME fp-keyed exchange under the window
    // serves the prune AND both self-join sides via runtime exchange
    // reuse — the winnowing kernels run over the corpus ONCE, not four
    // times (a groupBy-and-join prune re-derived the fingerprint stream
    // per branch: measured 2.4 s → 0.6 s at sf0.1)
    val pruned = winnowSetsOn(docsDf)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxDf)
      .drop("df")
    // r16 NOTE (measured, kept as-is): an in-row pair expansion
    // (groupBy(fp) + sort_array(collect_list) riding the window's own fp
    // partitioning + ordered-pair explode — the q67 bitmask-pair idiom)
    // removes the second scan subtree and both join sorts ON PAPER, but
    // interleaved A/B at sf0.1 measured it 5–10 % SLOWER warm:
    // collect_list plans as ObjectHashAggregate, whose 128-key
    // sort-based fallback re-sorts the stream the window just sorted,
    // costing more than the SMJ's second sort ever did (the scan itself
    // is already deduplicated at runtime as a reused shuffle stage).
    // Reverted; the join form stays the shipped shape.
    val a = pruned.toDF("a_id", "fp")
    val b = pruned.toDF("b_id", "fp")
    // merge hint: a broadcast arm would rebuild the fingerprint stream
    // under a BroadcastExchange (not reusable against the hash exchange)
    // AND ship a corpus-derived stream to every task — wrong at any real
    // scale; with both sides sort-merge the two hash exchanges are
    // canonically identical and the second reads as ReusedExchange
    a.hint("merge").join(b.hint("merge"), "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ---- persisted winnow-fingerprint store ---------------------------------

  /** Materialize the winnowing fingerprint index: one (fp, doc_id) row per
    * selected fingerprint per document, fp-laid-out for balanced probes —
    * the near-dup-candidate face of the fingerprint/shingle/bloom/count
    * store family. Size is the ~2/(w+1)-sampled shingle stream (the
    * winnowing payoff persisted), independent of how often the corpus is
    * probed: incremental crawls match against the store
    * ([[matchesAgainstStore]]) without ever re-reading the indexed corpus.
    */
  def writeWinnowStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(winnowSetsOn(docsDf)
      .select(explode(col("fps")).as("fp"), col("doc_id"))
      .repartition(col("fp")), path)

  /** Fold an ADMITTED crawl batch into the store, append-only (the
    * shingle-store convention: never rewrite existing segments; a
    * replayed append lands duplicate rows, which the consumers tolerate —
    * [[matchesAgainstStore]] counts DISTINCT shared fingerprints, and an
    * inflated df only prunes more aggressively, the conservative
    * direction). Compact via the staging+swap pattern when bloat matters.
    */
  def appendToWinnowStore(admitted: DataFrame, path: String): Unit =
    winnowSetsOn(admitted)
      .select(explode(col("fps")).as("fp"), col("doc_id"))
      .repartition(col("fp"))
      .write.mode("append").parquet(path)

  /** Re-contract accumulated append segments to distinct (fp, doc_id)
    * rows, publishing via staging + atomic swap (durable state — never
    * overwrite the live path in place).
    */
  def compactWinnowStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .select("fp", "doc_id").distinct()
      .repartition(col("fp")))

  /** q121's cross-crawl face: match an incoming batch against the INDEXED
    * corpus via the persisted store — the batch fingerprints row-locally,
    * the df prune and the pair join read only the store's sampled key
    * table, and the indexed corpus text is never touched. Emits
    * (batch_id, corpus_id, n_shared) pairs, the same contract as
    * [[winnowMatchesOn]].
    */
  def matchesAgainstStore(incoming: DataFrame, storePath: String,
      maxDf: Int = WinnowMaxDf, minShared: Int = WinnowMinShared,
      topK: Int = MatchTopK): DataFrame = {
    val s = incoming.sparkSession
    val batchFp = winnowSetsOn(incoming)
      .select(col("doc_id").as("batch_id"), explode(col("fps")).as("fp"))
    val store = s.read.parquet(storePath)
    val rare = store.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("fp")
    batchFp
      .join(rare, "fp")
      .join(store.withColumnRenamed("doc_id", "corpus_id"), "fp")
      .groupBy("batch_id", "corpus_id")
      .agg(countDistinct("fp").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("batch_id").asc,
        col("corpus_id").asc)
      .limit(topK)
  }

  /** q119's registered report over [[winnowSetsOn]]. */
  def winnowFingerprintsOn(docsDf: DataFrame): DataFrame =
    winnowSetsOn(docsDf)
      .select(col("doc_id"), col("m").as("n_kgrams"),
        size(col("sel")).as("n_fingerprints"),
        round(size(col("sel")).cast("double") / col("m"), 6).as("density"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q118

  /** The rank checkpoints q118 reports coverage at. */
  private[ops] val CoverageRanks = Seq(10, 100, 1000, 10000)

  /** q118: vocabulary coverage curve — what fraction of all corpus tokens
    * the top-k most frequent types cover, at k ∈ [[CoverageRanks]]. The
    * tokenizer-design / vocab-sizing report: where the Zipf mass actually
    * sits decides how large a subword vocabulary needs to be and how much
    * of the stream OOV-falls-back at each candidate size.
    *
    * Scale: the corpus contracts to the (token, freq) vocabulary in its
    * single data-sized shuffle; ranking the vocab table rides
    * [[ScaleOps.withGlobalRowNumber]] (range repartition + local ranks +
    * broadcast offset ladder — NO single-task global sort), and the curve
    * is one ≤1-row aggregation of conditional sums. Everything past the
    * first groupBy is vocab-bounded.
    *
    * Determinism: conditional sums are exact longs; each coverage is ONE
    * double division of two exact integers, rounded to 6 dp.
    */
  def tokenCoverage(s: SparkSession, dir: String): DataFrame =
    tokenCoverageOn(docs(s, dir))

  /** `docsDf` needs (text). */
  def tokenCoverageOn(docsDf: DataFrame): DataFrame = {
    val freqs = docsDf
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val ranked = ScaleOps.withGlobalRowNumber(
      freqs, Seq(col("freq").desc, col("token").asc), "rank")
    val covs = CoverageRanks.map { k =>
      round(sum(when(col("rank") <= k, col("freq")).otherwise(0L))
        .cast("double") / sum("freq").cast("double"), 6).as(s"cov_$k")
    }
    ranked.agg(
      count(lit(1)).as("vocab_size"),
      sum("freq").as("total_tokens") +: covs: _*)
  }

  // ---------------------------------------------------------------- q117

  /** q117: quality-classifier logit — a pinned linear model (the distilled
    * form of a fasttext-style quality classifier: cheap per-doc features ×
    * frozen weights) scoring every document, with the keep decision taken
    * on the rounded logit. This is the shape CCNet/Gopher-style pipelines
    * deploy at corpus scale: the expensive model trains offline, and the
    * corpus pass is pure per-row arithmetic over features the engine
    * already computes ([[scoredDocsOn]] + the q32 stopword ratio).
    *
    * Features: lexical diversity, capped average token length, punctuation
    * cleanliness, stopword ratio, log document length. Weights are part of
    * the operator contract (a trained model would inject its own).
    *
    * Determinism: every feature is a division of exact integer counts
    * except log-length, which rounds to 9 dp before its weight (the q108/
    * q114 libm discipline); the weighted sum is one fixed left-associated
    * expression tree, rounded to 6 dp, and `keep` compares the ROUNDED
    * logit so the decision boundary is engine-identical.
    *
    * Scale: map-side only — no shuffle anywhere (the dump's order-by is
    * presentation). Compose with [[ScaleOps]] partition sizing and the
    * filter pushes into whatever scan feeds it.
    */
  def qualityLogit(s: SparkSession, dir: String): DataFrame =
    qualityLogitOn(docs(s, dir))

  /** The column-appending, stream-safe form (no sort): every input column
    * survives, plus (n_tokens, en_hits, logit, keep) — what an ingest
    * pipeline slots between parse and sink
    * ([[graft.streaming.QualityGatePipeline]]). `docsDf` needs (text).
    */
  def withQualityLogit(docsDf: DataFrame): DataFrame = {
    val stopArr = array(enStops.map(lit): _*)
    scoredDocsOn(docsDf)
      .withColumn("en_hits",
        sizeOrNull(filter(col("toks"), t => array_contains(stopArr, t))))
      .withColumn("logit", round(
        lit(-3.1)
          + lit(1.6) * col("distinct_ratio")
          + lit(0.8) * least(col("avg_len") / 10.0, lit(1.0))
          + lit(1.2) * (lit(1.0) - col("n_punct") / col("n_tokens"))
          + lit(2.0) * (col("en_hits") / col("n_tokens"))
          + lit(0.35) * round(log(col("n_tokens")), 9), 6))
      .withColumn("keep", col("logit") > 0.0)
      .drop("toks", "distinct_ratio", "avg_len", "n_punct", "score")
  }

  /** `docsDf` needs (doc_id, text). */
  def qualityLogitOn(docsDf: DataFrame): DataFrame =
    withQualityLogit(docsDf)
      .select(col("doc_id"), col("n_tokens"), col("en_hits"),
        col("logit"), col("keep"))
      .orderBy("doc_id")

  // ---- q133: n-gram entropy -------------------------------------------

  /** q133: per-source Shannon entropy of the unigram and bigram token
    * distributions — the corpus-diversity signal curation pipelines watch
    * alongside Zipf fit (q109) and repetition (q63): entropy CRASHES when
    * a source degenerates to boilerplate (templated spam repeats the same
    * grams) and saturates toward log2(vocab) when token use is uniform.
    * `h_cond = h_bigram − h_unigram` approximates the conditional
    * next-token entropy — the bits a bigram LM still has to guess given
    * the previous token, the per-source compressibility axis a mixing
    * governor reads next to perplexity (q108).
    *
    * Identity used: H = −Σ (c/n)·log2(c/n) = log2(n) − (Σ c·log2 c)/n —
    * one fold over the contracted (source, gram, c) table, no per-row
    * probability column and no second pass for n. Scale: unigrams and
    * bigrams contract to ≤ |sources|·|vocab| rows with map-side partial
    * aggregation before the only shuffle (the q114 contraction); each
    * per-term c·log2(c) is decimal-cast before summation (the dsum/davg
    * discipline) so the fold is order-independent and the oracle twin
    * lands on identical decimals in any partition order.
    */
  def ngramEntropy(s: SparkSession, dir: String): DataFrame =
    ngramEntropyOn(docs(s, dir))

  /** `docsDf` needs (source, text). */
  def ngramEntropyOn(docsDf: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    // (source, gram, c) -> one row per source: total, vocab, entropy
    def entropyOf(counts: DataFrame, nName: String, vName: String,
        hName: String): DataFrame =
      counts
        .groupBy("source")
        .agg(sum("c").as(nName), count(lit(1)).as(vName),
          sum((col("c") * log2(col("c"))).cast(Dec)).as("_clc"))
        .select(col("source"), col(nName), col(vName),
          round(log2(col(nName)) -
            col("_clc").cast("double") / col(nName), 6).as(hName))
    val d = docsDf.select(col("source"), tokens(col("text")).as("toks"))
    val uni = d.select(col("source"), explode(col("toks")).as("g"))
      .groupBy("source", "g").agg(count(lit(1)).as("c"))
    val n = size(col("toks"))
    // q83's zip_with bigram construction, keyed by source instead of doc
    val bi = d.filter(n >= 2)
      .select(col("source"), explode(zip_with(
        slice(col("toks"), lit(1), n - 1),
        slice(col("toks"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).as("g"))
      .groupBy("source", "g").agg(count(lit(1)).as("c"))
    entropyOf(uni, "n_tokens", "vocab", "h_unigram")
      // left join: a source whose every doc is a single token has no
      // bigrams at all — its bigram stats are NULL, not 0 (no model to
      // measure), mirroring q108's no-bigrams discipline
      .join(entropyOf(bi, "n_bigrams", "bigram_vocab", "h_bigram"),
        Seq("source"), "left")
      .withColumn("h_cond", round(col("h_bigram") - col("h_unigram"), 6))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q133_ngram_entropy" -> ngramEntropy,
    "q121_winnow_matches" -> winnowMatches,
    "q119_winnow_fingerprints" -> winnowFingerprints,
    "q118_token_coverage" -> tokenCoverage,
    "q117_quality_logit" -> qualityLogit,
    "q31_token_stats" -> tokenStats,
    "q32_lang_profile" -> langProfile,
    "q33_quality_score" -> qualityScore,
    "q34_doc_fingerprint" -> docFingerprint,
    "q35_shingle_profile" -> shingleProfile,
    "q47_stratified_sample" -> stratifiedSample,
    "q48_quality_topk" -> qualityTopK,
    "q53_source_mix" -> sourceMix,
    "q146_temperature_mix" -> temperatureMix,
    "q147_context_budget" -> contextBudget,
    "q148_tempered_sample" -> temperedSample,
    "q152_packing_plan" -> packingPlan,
    "q150_source_cap" -> sourceCap,
    "q63_repetition_profile" -> repetitionProfile,
    "q66_vocab_stats" -> vocabStats,
    "q71_doc_chunks" -> docChunks,
    "q72_tfidf_keywords" -> tfidfKeywords,
    "q97_group_sample" -> groupSample,
    "q109_zipf_fit" -> zipfFit,
    "q111_shingle_novelty" -> shingleNovelty,
    "q114_source_drift" -> sourceDrift)

  /** The shared winnowing CTE chain (through per-doc fingerprint sets) —
    * the q119 and q121 oracles both replay it verbatim, in the NAIVE
    * per-shingle formulation (the native kernels are pinned
    * value-identical to it by FunctionsSpec).
    */
  private val winnowCtes: String =
    s"""WITH d AS (SELECT doc_id,
       |    string_split(trim(text), ' ') AS toks FROM documents),
       |f AS (SELECT doc_id,
       |    list_transform(generate_series(1, len(toks) - 2),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      AS shingles
       |  FROM d WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, list_transform(shingles, s ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, length(s)),
       |        i -> CAST(unicode(s[i]) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs
       |  FROM f),
       |m AS (SELECT doc_id, hs, len(hs) AS m,
       |    greatest(len(hs) - ${WinnowW - 1}, 1) AS n_win FROM h),
       |sel AS (SELECT doc_id, hs, m, list_distinct(
       |    list_transform(generate_series(1, n_win),
       |      i -> i - 1 + list_position(hs[i:i+${WinnowW - 1}],
       |        list_min(hs[i:i+${WinnowW - 1}])))) AS sel
       |  FROM m),
       |fp AS (SELECT doc_id, m, sel,
       |    list_distinct(list_transform(sel, p -> hs[p])) AS fps
       |  FROM sel)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q133_ngram_entropy" ->
      """WITH d AS (SELECT source,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |uc AS (SELECT source, g, count(*) AS c
        |  FROM (SELECT source, unnest(toks) AS g FROM d) GROUP BY 1, 2),
        |ue AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab,
        |    round(log2(CAST(sum(c) AS BIGINT))
        |      - CAST(sum(CAST(c * log2(c) AS DECIMAL(38,10))) AS DOUBLE)
        |        / CAST(sum(c) AS BIGINT), 6) AS h_unigram
        |  FROM uc GROUP BY source),
        |bc AS (SELECT source, g, count(*) AS c
        |  FROM (SELECT source, unnest(list_transform(
        |      generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1])) AS g
        |    FROM d WHERE len(toks) >= 2) GROUP BY 1, 2),
        |be AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    count(*) AS bigram_vocab,
        |    round(log2(CAST(sum(c) AS BIGINT))
        |      - CAST(sum(CAST(c * log2(c) AS DECIMAL(38,10))) AS DOUBLE)
        |        / CAST(sum(c) AS BIGINT), 6) AS h_bigram
        |  FROM bc GROUP BY source)
        |SELECT ue.source, ue.n_tokens, ue.vocab, ue.h_unigram,
        |  be.n_bigrams, be.bigram_vocab, be.h_bigram,
        |  round(be.h_bigram - ue.h_unigram, 6) AS h_cond
        |FROM ue LEFT JOIN be ON ue.source = be.source
        |ORDER BY ue.source""".stripMargin,
    "q121_winnow_matches" ->
      s"""$winnowCtes,
         |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |rare AS (SELECT f FROM (SELECT f, count(*) AS df FROM e
         |    GROUP BY f) WHERE df <= $WinnowMaxDf),
         |p AS (SELECT doc_id, f FROM e JOIN rare USING (f)),
         |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n_shared
         |  FROM p a JOIN p b ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY a_id, b_id)
         |SELECT a_id, b_id, n_shared FROM pr
         |WHERE n_shared >= $WinnowMinShared
         |ORDER BY n_shared DESC, a_id, b_id LIMIT $MatchTopK""".stripMargin,
    "q119_winnow_fingerprints" ->
      s"""$winnowCtes
         |SELECT doc_id, m AS n_kgrams,
         |  len(sel) AS n_fingerprints,
         |  round(CAST(len(sel) AS DOUBLE) / CAST(m AS DOUBLE), 6)
         |    AS density,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM fp ORDER BY doc_id""".stripMargin,
    "q118_token_coverage" -> {
      val covCols = CoverageRanks.map { k =>
        s"""round(CAST(sum(CASE WHEN rank <= $k THEN freq ELSE 0 END)
           |      AS DOUBLE) / CAST(sum(freq) AS DOUBLE), 6) AS cov_$k"""
          .stripMargin
      }.mkString(",\n  ")
      s"""WITH toks AS (SELECT unnest(string_split(trim(text), ' '))
         |    AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM toks
         |  WHERE len(token) > 0 GROUP BY token),
         |r AS (SELECT freq,
         |    row_number() OVER (ORDER BY freq DESC, token) AS rank FROM f)
         |SELECT count(*) AS vocab_size,
         |  CAST(sum(freq) AS BIGINT) AS total_tokens,
         |  $covCols
         |FROM r""".stripMargin
    },
    "q117_quality_logit" ->
      s"""WITH d AS (SELECT doc_id, text,
         |  string_split(trim(text), ' ') AS toks FROM documents),
         |m AS (SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) / len(toks) AS distinct_ratio,
         |  length(regexp_replace(text, ' ', '', 'g')) / len(toks)
         |    AS avg_len,
         |  len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |  len(list_filter(toks, t -> list_contains($enStopsSql, t)))
         |    AS en_hits
         |  FROM d),
         |sc AS (SELECT doc_id, n_tokens, en_hits,
         |  round(-3.1e0 + 1.6e0 * distinct_ratio
         |    + 0.8e0 * least(avg_len / 10.0e0, 1.0e0)
         |    + 1.2e0 * (1.0e0 - n_punct / n_tokens)
         |    + 2.0e0 * (en_hits / n_tokens)
         |    + 0.35e0 * round(ln(n_tokens), 9), 6) AS logit FROM m)
         |SELECT doc_id, n_tokens, en_hits, logit,
         |  logit > 0.0e0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q114_source_drift" ->
      """WITH st AS (SELECT source, token, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(trim(text), ' '))
        |      AS token FROM documents)
        |  WHERE len(token) > 0 GROUP BY source, token),
        |tok AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct
        |  FROM st GROUP BY token),
        |src AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
        |    count(*) AS vocab_size FROM st GROUP BY source),
        |nn AS (SELECT CAST(sum(c) AS DOUBLE) AS nn FROM st),
        |j AS (SELECT st.source,
        |    (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
        |      * round(ln((CAST(c AS DOUBLE) * nn)
        |        / (CAST(ct AS DOUBLE) * CAST(ns AS DOUBLE))), 9) AS term
        |  FROM st JOIN tok USING (token) JOIN src USING (source)
        |    CROSS JOIN nn),
        |a AS (SELECT source,
        |    round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)
        |      AS kl_nats
        |  FROM j GROUP BY source)
        |SELECT source, ns AS n_tokens,
        |  CAST(vocab_size AS BIGINT) AS vocab_size, kl_nats
        |FROM a JOIN src USING (source) ORDER BY source""".stripMargin,
    "q109_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(trim(text), ' '))
        |    AS token FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM toks
        |  WHERE len(token) > 0 GROUP BY token),
        |r AS (SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, token) AS rank FROM f),
        |xy AS (SELECT freq, round(ln(rank), 9) AS x,
        |    round(ln(freq), 9) AS y FROM r),
        |s AS (SELECT count(*) AS vocab_size,
        |  CAST(sum(freq) AS BIGINT) AS total_tokens,
        |  CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM xy)
        |SELECT vocab_size, total_tokens,
        |  round((vocab_size * sxy - sx * sy)
        |    / (vocab_size * sxx - sx * sx), 6) AS slope,
        |  round((sy - (vocab_size * sxy - sx * sy)
        |    / (vocab_size * sxx - sx * sx) * sx) / vocab_size, 6)
        |    AS intercept
        |FROM s""".stripMargin,
    "q111_shingle_novelty" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(trim(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
        |  FROM d WHERE len(toks) >= 3),
        |e AS (SELECT doc_id, unnest(shs) AS sh FROM f),
        |nv AS (SELECT doc_id, count(*) AS n_novel FROM
        |    (SELECT sh, min(doc_id) AS doc_id FROM e GROUP BY sh)
        |  GROUP BY doc_id),
        |pd AS (SELECT doc_id, count(*) AS n_distinct_shingles FROM e
        |  GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_distinct_shingles,
        |  coalesce(nv.n_novel, 0) AS n_novel,
        |  round(coalesce(nv.n_novel, 0) / pd.n_distinct_shingles, 6)
        |    AS novelty_ratio
        |FROM pd LEFT JOIN nv USING (doc_id) ORDER BY pd.doc_id""".stripMargin,
    "q97_group_sample" ->
      """WITH enc AS (SELECT source,
        |    ((doc_id % 1000000007 + 1000000007) % 1000000007
        |      * 48271 + 11) % 1000000007
        |      * 2147483648 + doc_id AS e
        |  FROM documents),
        |s AS (SELECT source, list_sort(list(e))[1:3] AS es
        |  FROM enc GROUP BY source)
        |SELECT source, CAST(g.i AS BIGINT) AS rank,
        |  es[g.i] % 2147483648 AS doc_id
        |FROM s CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS i) g
        |WHERE g.i <= len(es)
        |ORDER BY source, rank""".stripMargin,
    "q71_doc_chunks" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) > 32
        |    THEN CAST(floor((len(toks) - 32 + 23) / 24.0) AS BIGINT) + 1
        |    ELSE 1 END AS n_chunks FROM d),
        |e AS (SELECT doc_id, n_tokens, n_chunks, toks,
        |  unnest(range(0, n_chunks)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, n_chunks,
        |  CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(chunk_id * 24 + 1 AS INT) AS start_tok,
        |  CAST(len(toks[chunk_id*24+1 : chunk_id*24+32]) AS INT)
        |    AS n_chunk_toks,
        |  array_to_string(toks[chunk_id*24+1 : chunk_id*24+32], ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "q72_tfidf_keywords" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM d),
        |tf AS (SELECT doc_id, len(toks) AS n_tokens, term, count(*) AS tf
        |  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM d)
        |  GROUP BY doc_id, len(toks), term),
        |df AS (SELECT term, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d)
        |  GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  (tf.tf / tf.n_tokens) * ln(n.n_docs / df.df) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term ASC) AS rank FROM sc)
        |SELECT doc_id, rank, term, CAST(tf AS INT) AS tf, df,
        |  round(score, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q66_vocab_stats" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM d),
        |cf AS (SELECT tok AS token, count(*) AS cf
        |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |df AS (SELECT tok AS token, count(*) AS df
        |  FROM (SELECT unnest(list_distinct(toks)) AS tok FROM d)
        |  GROUP BY tok)
        |SELECT token, df.df, cf.cf,
        |  round(df.df * CAST(100 AS DOUBLE) / n.n_docs, 4) AS df_pct
        |FROM df JOIN cf USING (token) CROSS JOIN n
        |ORDER BY df.df DESC, token ASC LIMIT 100""".stripMargin,
    "q63_repetition_profile" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n_tokens,
        |  list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1]) AS bigrams FROM d),
        |m AS (SELECT doc_id, n_tokens,
        |  coalesce(list_max(list_transform(list_distinct(toks),
        |    v -> len(list_filter(toks, y -> y = v)))), 0) AS top_tok_count,
        |  len(bigrams) AS n_bigrams,
        |  len(bigrams) - len(list_distinct(bigrams)) AS dup_bigrams,
        |  coalesce(list_max(list_transform(list_distinct(bigrams),
        |    v -> len(list_filter(bigrams, y -> y = v)))), 0)
        |    AS top_bigram_count
        |  FROM b)
        |SELECT doc_id, n_tokens, top_tok_count,
        |  round(top_tok_count / n_tokens, 6) AS top_tok_ratio,
        |  n_bigrams, dup_bigrams, top_bigram_count,
        |  (top_tok_count / n_tokens > 0.2e0 OR
        |   (n_bigrams > 0 AND top_bigram_count / n_bigrams > 0.18e0))
        |    AS flagged
        |FROM m ORDER BY doc_id""".stripMargin,
    "q53_source_mix" ->
      """WITH d AS (SELECT source, lang,
        |  len(string_split(trim(text), ' ')) AS n_toks FROM documents),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  round(n_tokens * CAST(100 AS DOUBLE)
        |    / sum(n_tokens) OVER (), 4) AS token_share_pct
        |FROM g ORDER BY source, lang""".stripMargin,
    // Replays the tempered mix: raw shares → sqrt (T = 2; IEEE
    // correctly-rounded, unlike pow) rounded 6 dp → decimal-exact
    // normalizer → weight and up-sample factor.
    "q146_temperature_mix" ->
      """WITH d AS (SELECT source, lang,
        |  len(string_split(trim(text), ' ')) AS n_toks FROM documents),
        |g AS (SELECT source, lang, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY source, lang),
        |r AS (SELECT source, lang, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN greatest(
        |      round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6),
        |      0.000001)
        |    ELSE round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
        |  END AS raw_share FROM g),
        |t AS (SELECT source, lang, n_tokens, raw_share,
        |  round(sqrt(raw_share), 6) AS tempered FROM r),
        |wt AS (SELECT source, lang, n_tokens, raw_share,
        |  round(tempered / CAST(sum(CAST(tempered AS DECIMAL(38,10)))
        |    OVER () AS DOUBLE), 6) AS sampling_weight FROM t)
        |SELECT source, lang, n_tokens, raw_share, sampling_weight,
        |  round(sampling_weight / nullif(raw_share, 0), 4) AS upsample
        |FROM wt ORDER BY source, lang""".stripMargin,
    // Replays the truncation planner: exact interpolated percentiles
    // (quantile_cont ≡ Spark's percentile — the q14-proven pairing) over
    // per-doc token counts, plus the over-budget census and lost-token
    // fraction in long arithmetic until the final rounded divisions.
    "q147_context_budget" ->
      s"""WITH d AS (SELECT lang,
         |  len(string_split(trim(text), ' ')) AS n_toks FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  round(quantile_cont(n_toks, 0.5), 4) AS p50_toks,
         |  round(quantile_cont(n_toks, 0.95), 4) AS p95_toks,
         |  round(quantile_cont(n_toks, 0.99), 4) AS p99_toks,
         |  CAST(sum(CASE WHEN n_toks > $ContextBudget THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_over,
         |  round(CAST(sum(CASE WHEN n_toks > $ContextBudget
         |      THEN 1 ELSE 0 END) AS BIGINT) * CAST(100 AS DOUBLE)
         |    / count(*), 4) AS over_pct,
         |  round(CAST(sum(CASE WHEN n_toks > $ContextBudget
         |      THEN n_toks - $ContextBudget ELSE 0 END) AS BIGINT)
         |      * CAST(100 AS DOUBLE)
         |    / nullif(CAST(sum(n_toks) AS BIGINT), 0), 4)
         |    AS tokens_lost_pct
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // Replays pack-and-chunk: per-(lang, shard) running token sums in
    // doc_id order, integer chunk ids (// on both engines — never a
    // float division or long cast), the straddle test on first-vs-last
    // token chunk, and the per-language rollup with the null-safe join
    // that keeps unmeasurable languages at 0 sequences.
    "q152_packing_plan" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    len(string_split(trim(text), ' ')) AS n_toks FROM documents),
         |m AS (SELECT doc_id, lang, n_toks,
         |    ((doc_id % $PackShards + $PackShards) % $PackShards
         |      * 48271 + 17) % $PackShards AS shard
         |  FROM d WHERE n_toks IS NOT NULL),
         |c AS (SELECT lang, shard, n_toks,
         |    sum(n_toks) OVER (PARTITION BY lang, shard
         |      ORDER BY doc_id) AS cum_after
         |  FROM m),
         |s AS (SELECT lang, shard, count(*) AS n_packable,
         |    CAST(sum(n_toks) AS BIGINT) AS s_tokens,
         |    CAST(sum(CASE WHEN (cum_after - n_toks) // $ContextBudget
         |        <> (cum_after - 1) // $ContextBudget
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split
         |  FROM c GROUP BY lang, shard),
         |p AS (SELECT lang,
         |    CAST(sum(n_packable) AS BIGINT) AS n_packable,
         |    CAST(sum(s_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum((s_tokens + ${ContextBudget - 1}) // $ContextBudget)
         |      AS BIGINT) AS n_sequences,
         |    CAST(sum(n_split) AS BIGINT) AS n_split_docs
         |  FROM s GROUP BY lang)
         |SELECT t.lang, t.n_docs,
         |  coalesce(p.n_packable, 0) AS n_packable, p.n_tokens,
         |  coalesce(p.n_sequences, 0) AS n_sequences,
         |  coalesce(p.n_split_docs, 0) AS n_split_docs,
         |  coalesce(p.n_sequences * $ContextBudget - p.n_tokens, 0)
         |    AS padding_tokens,
         |  round(p.n_tokens * CAST(100 AS DOUBLE)
         |    / (p.n_sequences * $ContextBudget), 4) AS fill_pct
         |FROM (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang) t
         |LEFT JOIN p ON t.lang IS NOT DISTINCT FROM p.lang
         |ORDER BY t.lang""".stripMargin,
    // Replays the epoch plan: the q146 chain through up-sampling factors
    // → keep fractions (normalized to the most-boosted cell) → the
    // deterministic lcg keep per document (explicit floor — a long CAST
    // rounds in DuckDB and truncates in Spark) → the achieved-vs-target
    // rollup.
    "q148_tempered_sample" ->
      """WITH d0 AS (SELECT source, lang, doc_id,
        |  len(string_split(trim(text), ' ')) AS n_toks FROM documents),
        |g0 AS (SELECT source, lang, CAST(sum(n_toks) AS BIGINT)
        |    AS n_tokens
        |  FROM d0 GROUP BY source, lang),
        |r AS (SELECT source, lang, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN greatest(
        |      round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6),
        |      0.000001)
        |    ELSE round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
        |  END AS raw_share FROM g0),
        |t AS (SELECT source, lang, raw_share,
        |  round(sqrt(raw_share), 6) AS tempered FROM r),
        |wt AS (SELECT source, lang, raw_share,
        |  round(tempered / CAST(sum(CAST(tempered AS DECIMAL(38,10)))
        |    OVER () AS DOUBLE), 6) AS sampling_weight FROM t),
        |up AS (SELECT source, lang, sampling_weight,
        |  round(sampling_weight / nullif(raw_share, 0), 4) AS upsample
        |  FROM wt),
        |p AS (SELECT source, lang, sampling_weight AS target_share,
        |  round(upsample / max(upsample) OVER (), 6) AS keep_frac
        |  FROM up),
        |j AS (SELECT d.source, d.lang, d.n_toks,
        |  coalesce(((d.doc_id % 1000000 + 1000000) % 1000000 * 48271 + 13)
        |      % 1000000 < floor(p.keep_frac * 1e6), false) AS keep,
        |  p.target_share, p.keep_frac
        |  FROM d0 d LEFT JOIN p ON d.source = p.source
        |    AND d.lang = p.lang),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN keep THEN n_toks ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  any_value(keep_frac) AS keep_frac,
        |  any_value(target_share) AS target_share
        |  FROM j GROUP BY 1, 2),
        |a AS (SELECT source, lang, n_docs, n_kept, n_tokens, kept_tokens,
        |  keep_frac, target_share,
        |  round(CAST(kept_tokens AS DOUBLE)
        |    / nullif(sum(kept_tokens) OVER (), 0), 6) AS achieved_share
        |  FROM g)
        |SELECT source, lang, n_docs, n_kept, n_tokens, kept_tokens,
        |  keep_frac, target_share, achieved_share,
        |  round(achieved_share - target_share, 6) AS deviation
        |FROM a ORDER BY source, lang""".stripMargin,
    "q47_stratified_sample" ->
      """WITH k AS (SELECT lang,
        |  ((doc_id % 100 + 100) % 100 * 48271 + 7) % 100 <
        |    (CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 80 WHEN 'es' THEN 80
        |               WHEN 'fr' THEN 80 WHEN 'zh' THEN 80 ELSE 0 END) AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(keep AS BIGINT)) AS BIGINT) AS n_kept,
        |  round(sum(CAST(keep AS BIGINT)) * CAST(100 AS DOUBLE) / count(*), 2)
        |    AS kept_pct
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q48_quality_topk" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  round(0.4e0 * (len(list_distinct(toks)) / len(toks))
        |    + 0.3e0 * least(
        |        length(regexp_replace(text, ' ', '', 'g')) / len(toks) / 10.0e0,
        |        1.0e0)
        |    + 0.3e0 * (1.0e0 - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
        |        / len(toks)), 6) AS score
        |  FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |  ORDER BY score DESC, doc_id ASC) AS rank FROM sc
        |  WHERE score IS NOT NULL AND doc_id IS NOT NULL)
        |SELECT lang, rank, doc_id, score FROM r WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,
    // Replays the per-source cap: the q33 scoring chain, then the
    // rank-per-source window cut at the cap — the semantic twin of the
    // bounded-heap aggregate (same (score DESC, doc_id ASC) order, same
    // null filter), carrying lang and token count like the payload slot.
    "q150_source_cap" ->
      s"""WITH d AS (SELECT doc_id, source, lang, text,
         |  string_split(trim(text), ' ') AS toks FROM documents),
         |sc AS (SELECT doc_id, source, lang, len(toks) AS n_toks,
         |  round(0.4e0 * (len(list_distinct(toks)) / len(toks))
         |    + 0.3e0 * least(
         |        length(regexp_replace(text, ' ', '', 'g')) / len(toks)
         |          / 10.0e0,
         |        1.0e0)
         |    + 0.3e0 * (1.0e0 - len(regexp_extract_all(text,
         |        '[^a-zA-Z0-9 ]')) / len(toks)), 6) AS score
         |  FROM d),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |  ORDER BY score DESC, doc_id ASC) AS rank FROM sc
         |  WHERE score IS NOT NULL AND doc_id IS NOT NULL)
         |SELECT source, rank, doc_id, score, lang, n_toks FROM r
         |WHERE rank <= $SourceCap
         |ORDER BY source, rank""".stripMargin,
    "q31_token_stats" ->
      """SELECT doc_id, lang, n_chars,
        |  len(string_split(trim(text), ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |    AS re_tokens,
        |  len(list_distinct(string_split(trim(text), ' '))) AS distinct_tokens,
        |  round(length(regexp_replace(text, ' ', '', 'g'))
        |    / len(string_split(trim(text), ' ')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_lang_profile" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  string_split(trim(text), ' ') AS toks FROM documents),
         |h AS (SELECT doc_id, lang, len(toks) AS n_tokens,
         |  len(list_filter(toks, t -> list_contains($enStopsSql, t)))
         |    AS en_hits FROM d)
         |SELECT doc_id, lang, n_tokens, en_hits,
         |  round(en_hits / n_tokens, 6) AS en_ratio,
         |  CASE WHEN en_hits / n_tokens >= 0.08e0 THEN 'en'
         |       ELSE 'unknown' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin,
    "q33_quality_score" ->
      """WITH d AS (SELECT doc_id, text,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) / len(toks) AS distinct_ratio,
        |  length(regexp_replace(text, ' ', '', 'g')) / len(toks) AS avg_len,
        |  len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
        |  FROM d),
        |sc AS (SELECT *,
        |  round(0.4e0 * distinct_ratio
        |    + 0.3e0 * least(avg_len / 10.0e0, 1.0e0)
        |    + 0.3e0 * (1.0e0 - n_punct / n_tokens), 6) AS score FROM m)
        |SELECT doc_id, n_tokens,
        |  round(distinct_ratio, 6) AS distinct_ratio,
        |  round(avg_len, 6) AS avg_len, n_punct, score,
        |  CASE WHEN score >= 0.55e0 THEN 'good'
        |       WHEN score >= 0.45e0 THEN 'fair'
        |       ELSE 'poor' END AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q34_doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |        i -> CAST(unicode(text[i]) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_shingle_profile" ->
      """WITH d AS (SELECT doc_id,
        |  string_split(trim(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, len(toks) AS n_tokens,
        |  list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |  FROM d WHERE len(toks) >= 3)
        |SELECT doc_id, n_tokens, len(shingles) AS n_shingles,
        |  len(list_distinct(shingles)) AS n_distinct_shingles,
        |  round(1.0e0 - len(list_distinct(shingles)) / len(shingles), 6)
        |    AS repetition_ratio
        |FROM f ORDER BY doc_id""".stripMargin)
}
