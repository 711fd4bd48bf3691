package graft.ops

import graft.Tables
import graft.Tables.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the training-data-pipeline steps that sit
  * between raw ingestion (TextOps profiling) and the final training mix:
  * benchmark decontamination by n-gram overlap, denylist term scrubbing,
  * deterministic mixture rebalancing, and embedding scalar quantization.
  *
  * Scale discipline shared by all four: the only shuffles are keyed by
  * document / vector id (millions of groups at 100 TB — full parallelism),
  * every dimension-stats or benchmark side is contracted to a small frame
  * first and broadcast, and all text math stays inside codegen'd built-in
  * expressions with exact DuckDB oracle twins.
  */
object CurationOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  // ---- q56: n-gram decontamination ----------------------------------------

  /** Word-5-gram shingles of `text` (empty if fewer than 5 tokens). */
  private def shingles5(t: Column): Column = {
    val n = size(t)
    when(n >= 5,
      transform(sequence(lit(1), n - 4), i =>
        concat_ws(" ", (0 to 4).map(o => element_at(t, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination by n-gram overlap (the GPT-3-style 13-gram
    * check, at word-5-gram granularity for this corpus): every training
    * document is scored by how many of its distinct 5-grams also appear in
    * the held-out benchmark set, and flagged if any do. Exact-text
    * decontamination (q49) misses paraphrased or partially-quoted leakage;
    * n-gram overlap is the standard stronger test.
    *
    * Scale: the benchmark set is tiny next to the corpus (here: the `src9`
    * slice), so its distinct n-gram table is contracted first and BROADCAST —
    * the 100 TB training side never shuffles for the probe; the only
    * exchange is the per-doc_id count aggregation (map-side partial).
    */
  def ngramDecontamination(s: SparkSession, dir: String): DataFrame =
    // per-directory memoized stats: the dup-fraction gate reads a cached
    // single row; one ANALYZE job per corpus per JVM, shared with q46/q63
    ngramDecontaminationOn(docs(s, dir), col("source") === "src9",
      stats = Some(CorpusStats.forDir(s, dir)))

  /** `docsDf` needs (doc_id, source, text); `isBenchmark` splits it into the
    * held-out benchmark slice vs the training corpus.
    *
    * DENSITY-DISPATCHED like the q37/q38/q39 family: the shingle scores
    * depend only on the TEXT, so a duplicate-dense corpus recomputing the
    * identical (doc, shingle) explode once per copy wastes exactly the
    * duplication factor (the round-3 100× sweep's 119 s entry). Past a
    * duplicate-fraction probe (one countDistinct agg) the contracted arm
    * scores each DISTINCT text once and attaches the counts back to
    * members through a text-key join — identical rows at any density
    * (CurationSpec pins both arms). Below the probe the single-pass
    * explode wins (contracting shuffles distinct texts once; pointless
    * when nearly all texts are unique). The text key is md5 (128-bit):
    * at 10^11 documents a 64-bit key would expect hundreds of colliding
    * text pairs, silently cross-wiring scores; 2^-128 per pair never
    * fires.
    *
    * Gate evidence, cheapest first: explicit `contractDuplicates`, then a
    * caller-provided [[CorpusStats]] (no job — the ANALYZE-once path),
    * then the per-call dup-fraction probe as the last resort.
    */
  def ngramDecontaminationOn(docsDf: DataFrame, isBenchmark: Column,
      contractDuplicates: Option[Boolean] = None,
      stats: Option[CorpusStats] = None): DataFrame = {
    val contracted = contractDuplicates
      .orElse(stats.map(_.dupFraction > 0.5))
      .getOrElse(DedupOps.dupFraction(docsDf) > 0.5)
    if (!contracted) {
      val withSh = docsDf.withColumn("sh",
        array_distinct(shingles5(tokens(col("text")))))
      val benchNgrams = broadcast(
        withSh.filter(isBenchmark)
          .select(explode(col("sh")).as("ngram")).distinct())
      val train = withSh.filter(!isBenchmark)
        .select(col("doc_id"), col("source"),
          Tables.sizeOrNull(col("sh")).as("n_5grams"),
          col("sh"))
      val shared = train
        .select(col("doc_id"), explode(col("sh")).as("ngram"))
        .join(benchNgrams, "ngram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
      decontaminationRows(train.drop("sh").join(shared, Seq("doc_id"), "left"))
    } else {
      val keyed = docsDf.withColumn("__tk",
        coalesce(md5(col("text")), lit("")))
      def distinctTexts(df: DataFrame): DataFrame = df
        .select(col("__tk"), col("text"))
        .groupBy("__tk").agg(first(col("text")).as("text"))
        .withColumn("sh", array_distinct(shingles5(tokens(col("text")))))
      val benchNgrams = broadcast(
        distinctTexts(keyed.filter(isBenchmark))
          .select(explode(col("sh")).as("ngram")).distinct())
      val train = keyed.filter(!isBenchmark)
      val perText = distinctTexts(train)
        .select(col("__tk"), Tables.sizeOrNull(col("sh")).as("n_5grams"),
          col("sh"))
      val sharedPerText = perText
        .select(col("__tk"), explode(col("sh")).as("ngram"))
        .join(benchNgrams, "ngram")
        .groupBy("__tk")
        .agg(count(lit(1)).as("n_shared"))
      decontaminationRows(
        train.select(col("doc_id"), col("source"), col("__tk"))
          .join(perText.select("__tk", "n_5grams"), "__tk")
          .join(sharedPerText, Seq("__tk"), "left"))
    }
  }

  /** Shared closing projection of both q56 dispatch arms — one definition
    * so the arms CurationSpec pins as equal cannot drift apart.
    */
  private def decontaminationRows(joined: DataFrame): DataFrame =
    joined.select(col("doc_id"), col("source"), col("n_5grams"),
      coalesce(col("n_shared"), lit(0L)).as("n_shared_5grams"),
      (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")

  // ---- q65: substring-containment decontamination -------------------------

  /** Substring-containment decontamination — the third leakage test next to
    * exact match (q49) and n-gram overlap (q56): each benchmark document
    * contributes a probe needle (its first 8 normalized tokens), and a
    * training document is a hit if the needle occurs VERBATIM anywhere
    * inside it — catching quoted spans that token-shingle overlap dilutes
    * and exact match misses entirely.
    *
    * Scale: the probe set is the benchmark slice (small, fixed), so the
    * training corpus never shuffles — the only exchange is the per-needle
    * hit count (map-side partial). Cost-based dispatch on the needle count
    * (the q37 pattern): up to [[AcThreshold]] needles, a BROADCAST
    * nested-loop `contains` that stays inside whole-stage codegen; beyond
    * it, ONE Aho–Corasick automaton pass per document (built per partition
    * from the broadcast needle array), O(|doc| + matches) per document
    * instead of O(|needles|·|doc|) — measured at the 100× corpus
    * (500k docs × 25k needles): ~110 s naive → ~1 s automaton, identical
    * output. The dispatch itself reads only a capped COUNT of the probe
    * side; needle strings reach the driver only on the automaton arm,
    * where the AC build requires them.
    */
  def substringContamination(s: SparkSession, dir: String): DataFrame =
    substringContaminationOn(docs(s, dir), col("source") === "src9")

  /** Needle counts above this leave the codegen'd contains loop for the
    * automaton kernel (crossover measured well past it; the gate's sf0.01
    * and the bench's sf0.1 slices stay declarative and oracle-checked, the
    * kernel path is pinned equal by CurationSpec).
    */
  private[ops] val AcThreshold = 1024

  /** `docsDf` needs (doc_id, source, text); `isBenchmark` splits it into
    * the held-out benchmark slice vs the training corpus.
    */
  def substringContaminationOn(docsDf: DataFrame, isBenchmark: Column,
      acThreshold: Int = AcThreshold): DataFrame = {
    val session = docsDf.sparkSession
    import session.implicits._
    val d = docsDf.withColumn("norm", DedupOps.normText)
    val probesDf =
      d.filter(isBenchmark)
        .withColumn("ntoks", split(col("norm"), " "))
        .filter(size(col("ntoks")) >= 8)
        .select(col("doc_id").as("eval_id"),
          array_join(slice(col("ntoks"), 1, 8), " ").as("needle"))
    val train = d.filter(!isBenchmark)
    // the dispatch probe is a COUNT, capped at threshold+1 — the needle
    // strings only ever reach the driver on the automaton arm (where the
    // AC build genuinely needs them); the declarative arm broadcasts
    // probesDf executor-side and the driver materializes nothing, so an
    // unexpectedly huge benchmark slice cannot OOM the driver before the
    // dispatch even decides
    val nProbes = probesDf
      .limit(if (acThreshold >= Int.MaxValue) Int.MaxValue else acThreshold + 1)
      .count()
    val (hits, probesForJoin) =
      if (nProbes <= acThreshold)
        (train
          .crossJoin(broadcast(probesDf))
          .filter(col("norm").contains(col("needle")))
          .groupBy("eval_id")
          .agg(count(lit(1)).as("n_hits")), probesDf)
      else {
        // the automaton arm genuinely needs every needle on the driver
        // (the AC trie is built there); the cap is the same 4M-row class
        // as DriverCcMaxEdges — a benchmark slice past it should shard
        // the automaton, not silently OOM the driver
        val probes = Tables.boundedCollect(probesDf.as[(Long, String)],
          4 << 20, "decontamination needles (AC build)").sortBy(_._1)
        val bcNeedles =
          session.sparkContext.broadcast(probes.map(_._2))
        val evalIds = probes.map(_._1)
        val acHits = train.select(col("norm")).as[String]
          .mapPartitions { it =>
            val needles = bcNeedles.value
            val ac = AhoCorasick.build(needles)
            // null norm (null training text) matches nothing — the
            // declarative arm's contains(null) → null → filtered
            // semantics; the kernel must not NPE where its twin survives
            it.flatMap(text =>
              if (text == null) Iterator.empty
              else AhoCorasick.matchedIds(ac, text, needles.length))
          }
          .toDF("needle_idx")
          .groupBy("needle_idx")
          .agg(count(lit(1)).as("n_hits"))
          .select(element_at(typedLit(evalIds.toSeq),
            col("needle_idx") + 1).as("eval_id"), col("n_hits"))
        // the collected probes already hold (eval_id, needle) — seed the
        // presentation join locally instead of re-running the benchmark
        // slice scan a third time over the corpus
        (acHits, probes.toSeq.toDF("eval_id", "needle"))
      }
    // no broadcast hint on the probes: they are the preserved side of the
    // left join, which Spark cannot build, so a hint there is dropped with
    // a HintErrorLogger warning; `hits` (one row per matched probe) is
    // already small enough for the planner's own size-based choice
    probesForJoin
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("needle"),
        coalesce(col("n_hits"), lit(0L)).as("n_train_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("eval_id")
  }

  // ---- q67: cross-source n-gram overlap matrix ----------------------------

  /** Cross-source 5-gram overlap matrix — the provenance-dedup question
    * ("which crawls/sources repeat each other?") that decides whether two
    * sources should be deduplicated jointly or kept independent. Per source
    * pair: distinct-5-gram set sizes, shared count, and Jaccard.
    *
    * Scale (three designs measured at the 100× corpus, identical rows):
    * a self-join on the distinct (source, shingle) table pushes every
    * shared pair through a join exchange — ~60 s; collect_set of sources
    * per shingle halves that (~28 s) but still shuffles 25M ~100-byte
    * shingle STRINGS into an object-hash aggregate. The shipped plan keys
    * everything on integers: shingles become packed double mod-p hashes
    * (the engine-portable q38 scheme — a false merge needs both 30-bit
    * hashes to collide), sources become BITS of a ≤62-bit mask, and the
    * corpus does ONE codegen'd `bit_or` long aggregation; per-mask counts
    * then contract to ≤ 2^S tiny rows whose in-row bit-pair expansion
    * yields the matrix — **5.4 s** (remaining cost is the per-character
    * token fingerprinting itself). The source→bit table is a bounded
    * optimizer-style probe (sources are finite by design, like q37's
    * vocab probe).
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(docs(s, dir))

  /** `docsDf` needs (source, text). Requires ≤ 62 distinct sources (chunk
    * the mask for more).
    */
  def sourceOverlapOn(docsDf0: DataFrame): DataFrame = {
    // a NULL source has no overlap identity: it cannot name a bitmask
    // slot (and would NPE the driver-side sort below) — drop such rows
    // up front; provenance-less docs are a q53/q84 audit concern, not an
    // overlap cell
    val docsDf = docsDf0.filter(col("source").isNotNull)
    // cap 63: the bitmask require below rejects 63+ anyway — boundedCollect
    // just makes the failure fire before materializing an unbounded
    // source column (a corrupt corpus with per-doc "sources")
    val sources = Tables.boundedCollect(docsDf.select("source").distinct(),
      63, "source-overlap bitmask sources").map(_.getString(0)).sorted
    require(sources.length <= 62,
      s"source bitmask supports <= 62 sources, got ${sources.length}")
    if (sources.length < 2) {
      // overlap is pairwise — an empty or single-source corpus has no
      // pairs (and the bitmask fold below needs a head + tail); emit the
      // zero-row frame with the exact report schema
      import docsDf0.sparkSession.implicits._
      return Seq.empty[(String, String, Long, Long, Long, Double)]
        .toDF("src_a", "src_b", "n_a", "n_b", "n_shared", "jaccard")
    }
    // one 5-token polynomial fold per base over the token fingerprints
    def fold(tfs: Column, i: Column): Column =
      (1 until 5).foldLeft(element_at(tfs, i): Column)((acc, o) =>
        (acc * lit(DedupOps.FB) + element_at(tfs, i + o)) % lit(DedupOps.P))
    val bitCol = sources.zipWithIndex.tail.foldLeft(
      when(col("source") === sources.head, lit(1L))) {
      case (acc, (s2, i)) => acc.when(col("source") === s2, lit(1L << i))
    }
    val masks = docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 5)
      .withColumn("tf31",
        transform(col("toks"), t => DedupOps.tokFp(t, 31L, 987654321L)))
      .withColumn("tf37",
        transform(col("toks"), t => DedupOps.tokFp(t, 37L, 123456789L)))
      .select(explode(array_distinct(
        transform(sequence(lit(1), col("n") - 4), i =>
          fold(col("tf31"), i) * lit(2147483648L) + fold(col("tf37"), i))))
        .as("h"), bitCol.as("bit"))
      .groupBy("h").agg(expr("bit_or(bit)").as("mask"))
    // r16 (guide §5): combos feeds BOTH the per-source sizes and the
    // pair-shared counts — without a materialization the whole corpus
    // pipeline above (tokenize → two mod-p transforms → 5-gram explode →
    // h-keyed bit_or) appears three times in the plan (sizes is joined
    // twice), deduped only if AQE happens to reuse the shuffle stages.
    // combos is tiny (one row per distinct source bitmask), so pin it
    // once; Tables.releaseCheckpoints frees the blocks at the harness
    // loop points.
    val combos = Tables.pin(masks.groupBy("mask").agg(count(lit(1)).as("cnt")))
    // bit i set → source index i (plan-time literals; S is known and tiny)
    val bitsArr = filter(
      array(sources.indices.map(i =>
        when(col("mask").bitwiseAND(lit(1L << i)) =!= 0L, lit(i))
          .otherwise(lit(-1))): _*),
      x => x =!= -1)
    val srcName = (i: Column) => element_at(typedLit(sources.toSeq), i + 1)
    val sizes = combos
      .select(explode(bitsArr).as("idx"), col("cnt"))
      .groupBy("idx").agg(sum("cnt").as("n"))
    val shared = combos
      .select(bitsArr.as("bs"), col("cnt"))
      .select(explode(flatten(transform(col("bs"), (a, i) =>
        transform(
          slice(col("bs"), i + lit(2), size(col("bs")) - i - lit(1)),
          b => struct(a.as("ia"), b.as("ib")))))).as("p"), col("cnt"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(sum("cnt").as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("idx").as("ia"), col("n").as("n_a"))),
        "ia")
      .join(broadcast(sizes.select(col("idx").as("ib"), col("n").as("n_b"))),
        "ib")
      .select(srcName(col("ia")).as("src_a"), srcName(col("ib")).as("src_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared")
          / (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ---- q57: embedding scalar quantization ---------------------------------

  private val Dim = SimilarityOps.Dim

  /** Int8 scalar quantization of the embedding column (the standard vector
    * compression before ANN serving / training shards): per-dimension
    * [min, max] over the corpus maps each float to a code in [-127, 127];
    * the report grades reconstruction per vector (distinct codes, max
    * absolute error, MSE).
    *
    * Scale: pass one computes per-dimension stats via posexplode + hash
    * aggregation (map-side partial — the shuffle carries `dim` rows per
    * partition, not the corpus) and contracts them to a SINGLE broadcast row
    * of [mn, mx] arrays; pass two is per-row arithmetic, shuffle-free.
    * Error sums run in index order over the array (lambda `aggregate`), the
    * same left-fold the DuckDB oracle's `list_reduce` computes, so the
    * float math is bit-identical — no order-dependent double shuffle sums.
    */
  def embeddingQuantization(s: SparkSession, dir: String): DataFrame =
    embeddingQuantizationOn(emb(s, dir))

  /** `embDf` needs (vec_id, label, embedding: array<float|double>). */
  def embeddingQuantizationOn(embDf: DataFrame): DataFrame = {
    val stats = embDf
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .groupBy()
      .agg(collect_list(struct(col("dim"), col("mn"), col("mx"))).as("sts"))
      .select(
        transform(array_sort(col("sts")), s => s("mn")).as("mn_arr"),
        transform(array_sort(col("sts")), s => s("mx")).as("mx_arr"))
    val mn = (i: Column) => element_at(col("mn_arr"), i + 1)
    val mx = (i: Column) => element_at(col("mx_arr"), i + 1)
    // code_i in [-127,127]; degenerate dims (mx==mn) pin to code 0, err 0.
    // The scaled value is guarded BEFORE the int cast: a NaN/Inf element
    // (or a NaN-poisoned dim max — Spark orders NaN above everything, so
    // one NaN in a dim makes mx NaN and mx > mn TRUE) would otherwise be
    // an ANSI CAST_OVERFLOW killing the scan on one corrupt row; such
    // elements quantize to a NULL code (the vec_dot corrupt-input
    // discipline), which NULLs that vector's reconstruction stats.
    val codes = transform(col("embedding"), (e, i) => {
      val scaled = round((e.cast("double") - mn(i)) * 254.0 / (mx(i) - mn(i)))
      when(mx(i) > mn(i),
        when(scaled.between(-2147483647.0, 2147483647.0),
          scaled.cast("int") - 127))
        .otherwise(0)
    })
    val errs = transform(col("embedding"), (e, i) =>
      when(mx(i) > mn(i),
        abs(e.cast("double") -
          ((element_at(col("codes"), i + 1) + 127).cast("double")
            * (mx(i) - mn(i)) / 254.0 + mn(i))))
        .otherwise(lit(0.0)))
    embDf.crossJoin(broadcast(stats))
      .withColumn("codes", codes)
      .withColumn("errs", errs)
      .select(col("vec_id"), col("label"),
        size(array_distinct(col("codes"))).as("n_distinct_codes"),
        round(array_max(col("errs")), 9).as("max_abs_err"),
        round(
          aggregate(col("errs"), lit(0.0), (a, e) => a + e * e) / Dim,
          12).as("mse"))
      .orderBy("vec_id")
  }

  // ---- q58: deterministic mixture rebalance -------------------------------

  /** Per-source up/down-sampling factors for the target training mix:
    * fractional factors take floor(f) full copies plus one more for a
    * deterministic hash-chosen fraction of docs; factors < 1 down-sample.
    */
  private val mixFactors: Seq[(String, Double)] =
    Seq("src0" -> 3.0, "src3" -> 2.5, "src7" -> 0.5)

  /** Deterministic corpus rebalancing to a target mixture ("up-sample wiki
    * 3x, halve low-quality crawl"): each document is replicated
    * floor(f) times, plus one extra copy when an arithmetic doc_id hash
    * falls under the fractional part — exact integer math, so the sample is
    * reproducible on any cluster and engine (`rand()` would be neither; see
    * q47). Output is the per-source in/out accounting a mixture report
    * needs.
    *
    * Scale: replication is a per-row `explode` (linear, shuffle-free); the
    * only exchange aggregates the ~|sources| accounting rows. The exploded
    * stream itself is what a real pipeline writes to training shards.
    */
  def corpusRebalance(s: SparkSession, dir: String): DataFrame =
    corpusRebalanceOn(docs(s, dir))

  /** `docsDf` needs (doc_id, source, text). */
  def corpusRebalanceOn(docsDf: DataFrame,
      factors: Seq[(String, Double)] = mixFactors): DataFrame = {
    val factor = factors.tail.foldLeft(
      when(col("source") === factors.head._1, factors.head._2)) {
      case (acc, (src, f)) => acc.when(col("source") === src, f)
    }.otherwise(1.0)
    val out = docsDf
      .select(col("doc_id"), col("source"),
        Tables.sizeOrNull(tokens(col("text"))).as("n_toks"),
        factor.as("f"))
      // integer centi-copies: base = cents div 100 whole copies + 1 when
      // hash(doc_id) < cents % 100. Deriving the base from the SAME
      // rounded cents as the fractional test (not floor(f)) keeps the two
      // consistent when the fractional part rounds up to a whole copy:
      // f = 0.999 → 100 cents → exactly 1 copy, where floor(f) = 0 with
      // a wrapped 0-cent remainder would silently DROP the whole source
      .withColumn("__cents", round(col("f") * 100).cast("long"))
      .withColumn("replicas",
        expr("__cents div 100") +
          when(Tables.lcgBucket(col("doc_id"), 48271L, 11L, 100L)
            < col("__cents") % 100L, 1L).otherwise(0L))
      .filter(col("replicas") >= 1)
      // the training-shard stream: one row per replica
      .select(col("doc_id"), col("source"), col("n_toks"),
        explode(sequence(lit(1L), col("replicas"))).as("replica_idx"))
    out.groupBy("source")
      .agg(count_distinct(col("doc_id")).as("n_docs_kept"),
        count(lit(1)).as("n_docs_out"),
        sum(col("n_toks")).as("n_tokens_out"))
      .orderBy("source")
  }

  // ---- q59: denylist term scrubbing ---------------------------------------

  private val denylist = Seq("table", "value", "key")

  /** Word-boundary regex over the denylist — identical syntax/semantics in
    * Java regex (Spark) and RE2 (DuckDB): alternation, `\b`, no lookaround.
    */
  private val denyPattern = s"\\b(${denylist.mkString("|")})\\b"

  /** Denylist term scrubbing (PII/bad-word masking): replace every
    * word-boundary occurrence of a denylist term with `[MASKED]` and account
    * per document. The same `regexp_replace` with PII patterns (emails,
    * phone numbers) is the redaction pass of a real pipeline — patterns stay
    * within the Java-regex ∩ RE2 dialect so any engine replays them.
    *
    * Scale: per-row regex inside whole-stage codegen, shuffle-free.
    */
  def termScrub(s: SparkSession, dir: String): DataFrame =
    termScrubOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text). */
  def termScrubOn(docsDf: DataFrame,
      pattern: String = denyPattern): DataFrame =
    docsDf
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .as("n_masked"),
        length(col("text")).as("len_before"),
        length(regexp_replace(col("text"), pattern, "[MASKED]"))
          .as("len_after"))
      .withColumn("clean", col("n_masked") === 0)
      .orderBy("doc_id")

  // ---- q60: canonical keep after near-dup clustering ----------------------

  /** The dedup DECISION: near-dup clusters (q46's connected components over
    * the exact-Jaccard pair graph) each keep their highest-quality member by
    * the q33 composite score (tie → lowest doc_id) and drop the rest — the
    * step that turns pair mining into the list of documents that actually
    * survive into training. Composes the library's own operators
    * ([[DedupOps.dedupClustersOn]] × [[TextOps.qualityScoreOn]]), so the
    * keep rule provably ranks by the same score q33 reports.
    *
    * Scale: clusters are small (near-dup groups), so the per-cluster
    * row_number window shuffles by `rep` with full parallelism across
    * millions of clusters; the quality join is doc_id-keyed.
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    // per-directory memoized stats — q46's gate evidence, shared with
    // q46/q56/q63 (one ANALYZE job per corpus per JVM)
    dedupCanonicalOn(docs(s, dir), stats = Some(CorpusStats.forDir(s, dir)))

  /** `docsDf` needs (doc_id, lang, text). `stats` feeds the clustering
    * gate's evidence ladder (see [[DedupOps.dedupClustersOn]]).
    */
  def dedupCanonicalOn(docsDf: DataFrame,
      stats: Option[CorpusStats] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin (r15): the (doc_id, rep) frame is consumed THREE times below
    // (membership join, score join, per-rep sizes) — without the
    // truncation each consumer re-executes the clustering's post-pin
    // label-expansion join. Bounded: two longs per doc.
    val clusters = Tables.pin(DedupOps.dedupClustersOn(docsDf, stats = stats))
    // score only cluster MEMBERS: the quality pass is the expensive leg
    // (regex + tokenization over text) and non-clustered docs — most of a
    // real corpus — never need a score here
    val members = docsDf.join(clusters.select("doc_id"), "doc_id")
    val scored = clusters.join(
      TextOps.scoredDocsOn(members).select("doc_id", "score"), "doc_id")
    val w = Window.partitionBy("rep")
      .orderBy(col("score").desc, col("doc_id").asc)
    val kept = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("rep"), col("doc_id").as("kept_doc_id"),
        col("score").as("kept_score"))
    clusters.groupBy("rep").agg(count(lit(1)).as("n_members"))
      .join(kept, "rep")
      .select(col("rep"), col("n_members"), col("kept_doc_id"),
        col("kept_score"), (col("n_members") - 1).as("n_dropped"))
      .orderBy("rep")
  }

  // ---- q61: token-budget packing ------------------------------------------

  private val PackBudget = 512L

  /** Token-budget packing: assign documents, in deterministic doc_id order
    * within each source, to consecutive training shards of ~`PackBudget`
    * tokens (a document starts a new pack when the running total crosses the
    * budget — the contiguous sharding a sequence-packing writer performs).
    * Output is the per-pack manifest (doc count, token count).
    *
    * Scale: one running-sum window per source — parallelism is the source
    * (or at 100 TB: source × shard-range) partition key, and only
    * (doc_id, n_toks) pairs shuffle, never text. The pack assignment is
    * pure arithmetic on the running sum, so any engine reproduces the same
    * shard layout.
    */
  def tokenPacking(s: SparkSession, dir: String): DataFrame =
    tokenPackingOn(docs(s, dir))

  /** `docsDf` needs (doc_id, source, text). */
  def tokenPackingOn(docsDf: DataFrame,
      budget: Long = PackBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDf
      .select(col("doc_id"), col("source"),
        Tables.sizeOrNull(tokens(col("text"))).as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      // the pack a doc STARTS in: floor(preceding-tokens / budget)
      .withColumn("pack_id",
        floor((col("cum") - col("n_toks")) / lit(budget)).cast("long"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy("source", "pack_id")
  }

  // ---- q115: temperature-scaled source mixture ----------------------------

  /** q115: α-temperature source sampling (the mT5/XLM-R mixing rule) —
    * sampling share q_s ∝ n_s^α flattens the natural size distribution:
    * α = 1 keeps natural shares, α = 0 samples sources uniformly, α ≈ 0.3
    * (the published default, pinned for the oracle) upsamples small
    * sources. Per source: token count, natural share, temperature share,
    * the up/down-sampling factor q_s/p_s a sampler must apply, and the
    * expected tokens drawn per epoch of corpus size.
    *
    * Scale: one corpus-sized agg contracts to ≤|sources| rows; totals ride
    * a broadcast single-row frame; everything after the contraction is
    * |sources|-bounded. Float discipline: `pow` rounds to 6 dp (libm
    * insurance), the weight total sums the ROUNDED weights through
    * DECIMAL(38,10) (exact, order-independent), and every share/factor
    * divides identically-rounded doubles — full oracle hash-match.
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixOn(docs(s, dir))

  /** `docsDf` needs (source, text). */
  def temperatureMixOn(docsDf: DataFrame, alpha: Double = 0.3): DataFrame =
    temperatureMixFromCounts(
      docsDf.groupBy("source")
        .agg(sum(Tables.sizeOrNull(tokens(col("text")))).as("n_tokens")), alpha)

  /** The update half of q115 over any (source, n_tokens) contraction —
    * one definition for the raw face and the streaming governor (which
    * feeds its already-opened token-count store frame here so each
    * trigger lists the store once).
    */
  private[graft] def temperatureMixFromCounts(counts: DataFrame,
      alpha: Double): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val base = counts
      .withColumn("w",
        round(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
    val tot = broadcast(base.agg(
      sum("n_tokens").cast("double").as("nn"),
      sum(col("w").cast(Dec)).cast("double").as("wsum")))
    // factor and expected tokens derive from the UNROUNDED shares: the
    // display shares quantize at 6 dp, and a tail source below ~5e-7 of
    // the corpus would round its natural share to 0.0 — nulling the very
    // upsampling factor the alpha rule exists to report
    val rawNatural = col("n_tokens").cast("double") / col("nn")
    val rawTemp = col("w") / col("wsum")
    base.crossJoin(tot)
      .withColumn("natural_share", round(rawNatural, 6))
      .withColumn("temp_share", round(rawTemp, 6))
      .withColumn("sample_factor", round(rawTemp / rawNatural, 6))
      .withColumn("expected_tokens",
        round(rawTemp * col("nn"), 0).cast("long"))
      .select("source", "n_tokens", "natural_share", "temp_share",
        "sample_factor", "expected_tokens")
      .orderBy("source")
  }

  // ---- q131: DoReMi-style domain reweighting -------------------------------

  /** q131: one multiplicative-weights step of domain reweighting (DoReMi —
    * Xie et al., "Doremi: Optimizing Data Mixtures Speeds Up Language
    * Model Pretraining", NeurIPS 2023): score every document under the
    * corpus's own bigram LM (q108's per-doc NLL — the reference-model
    * loss), roll the token-weighted mean NLL up per source, take each
    * source's clipped EXCESS over the corpus mean, and update the natural
    * mix multiplicatively: w_s ∝ p_s · exp(η · excess_s), η = 1 pinned.
    * Hard-for-the-LM domains get upsampled — DoReMi's update direction
    * with the corpus LM standing in for the proxy/reference pair (a
    * second per-doc loss column slots into the same rollup).
    * Complements q115 (size-only temperature flattening) with a
    * LOSS-aware mix — the two tables a data-mix owner reads side by side.
    *
    * Scale: q108's scoring shapes (bigram join linear and map-side
    * combined, vocabulary-bounded denominator window), then ONE doc-keyed
    * join to attach sources and a contraction to ≤|sources| rows; corpus
    * totals ride a window OVER that contraction (the q108 denominator
    * discipline). Determinism: per-source Σ(n_bigrams·avg_logp) rides
    * DECIMAL(38,10) (order-independent; each term is an exact int × a
    * 6dp-rounded double), NLLs round 6 dp before the subtraction, exp
    * sees identical doubles in both engines, and the weight normalizer
    * sums 6dp-rounded scores through DECIMAL(38,6).
    */
  def doremiWeights(s: SparkSession, dir: String): DataFrame =
    doremiWeightsOn(docs(s, dir))

  /** `docsDf` needs (doc_id, source, text). Docs with < 2 tokens have no
    * bigrams and drop from the scoring (q108's contract); a source of
    * ONLY such docs is absent from the table.
    */
  def doremiWeightsOn(docsDf: DataFrame): DataFrame =
    doremiRollup(
      SearchOps.lmPerplexityOn(docsDf)
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp")),
      docsDf)

  /** Incremental DoReMi face off the persisted bigram store
    * ([[graft.ops.SearchOps.writeBigramStore]]): per-doc NLL comes from
    * [[graft.ops.SearchOps.lmPerplexityFromStore]] (the vocabulary-bounded
    * count table — the indexed corpus is never re-read), then the same
    * source rollup as [[doremiWeightsOn]] — per-crawl mix updates cost one
    * batch scan, the `dsirWeightsFromStore` convention completed for the
    * mix-weight side.
    *
    * Semantics vs the raw face: identical LM and identical weights when
    * the batch IS the store's corpus (spec-pinned). On a genuinely new
    * batch, OOV bigrams are excluded from the average (the store scorer's
    * unsmoothed contract) and a FULLY-novel doc (n_bigrams = 0, null
    * avg_logp) drops from the rollup like a < 2-token doc does on the raw
    * face — there is no model evidence to weight it by.
    *
    * Scale: the LM read is ≤|vocab|² count rows summed across append
    * segments; the batch pays one bigram explode + count-table join +
    * doc-keyed agg + the ≤|sources| contraction — cost proportional to
    * the BATCH, zero `documents` scans (plan-probed in PLANS.md).
    */
  def doremiFromStore(batchDf: DataFrame, storePath: String): DataFrame =
    doremiFromPartials(doremiBatchPartials(batchDf, storePath))

  /** Shared rollup: per-doc (doc_id, n_bigrams, avg_logp) + a
    * (doc_id, source) attachment → one DoReMi multiplicative-weights row
    * per source. Every face replays ONE update definition, decomposed as
    * contraction ([[doremiPartials]]) + update ([[doremiFromPartials]]) so
    * the streaming governor can persist per-batch partials and re-derive
    * cumulative weights without re-scoring earlier batches.
    */
  private def doremiRollup(perDoc: DataFrame, docsDf: DataFrame): DataFrame =
    doremiFromPartials(doremiPartials(perDoc, docsDf))

  /** The per-source sufficient statistics of the DoReMi update —
    * (source, n_docs, n_bigrams, sum_lp) with sum_lp in exact
    * DECIMAL(38,10): additive across disjoint doc sets, so per-batch
    * partial rows summed over any segmentation reproduce the one-shot
    * contraction exactly (the token-count store's sum-on-read law, for
    * mix weights).
    */
  private[graft] def doremiPartials(perDoc: DataFrame,
      docsDf: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 10)
    perDoc
      .join(docsDf.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum((col("n_bigrams") * col("avg_logp")).cast(Dec)).as("sum_lp"))
  }

  /** Per-source partials of a crawl batch scored against the PERSISTED
    * bigram LM — what the streaming mix governor appends per micro-batch
    * (frozen-reference semantics: the stored LM is DoReMi's fixed
    * reference model; OOV bigrams are excluded and fully-novel docs drop,
    * [[doremiFromStore]]'s contract).
    */
  def doremiBatchPartials(batchDf: DataFrame,
      lmStorePath: String): DataFrame =
    doremiPartials(
      SearchOps.lmPerplexityFromStore(batchDf, lmStorePath)
        .filter(col("n_bigrams") > 0)
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp")),
      batchDf)

  /** Re-contract a batch-id-keyed DoReMi-partials store
    * (`MixGovernorPipeline`'s layout) into one `batch_id=-1` segment —
    * the additive-statistics contraction is exact (decimal sums), so the
    * mix report is unchanged. Staging + atomic swap; and like the keyed
    * token-count compactor, ONLY compact while the owning stream is
    * STOPPED with its checkpoint committed — a replayed batch would
    * re-create its segment alongside the folded copy and double-count.
    */
  def compactDoremiPartials(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum("sum_lp").cast(org.apache.spark.sql.types.DecimalType(38, 10))
          .as("sum_lp"))
      .coalesce(1), batchSlot = true)

  /** The zero-row partials frame with the exact [[doremiPartials]]
    * schema — what a batch contributes when no reference LM exists yet
    * (the mix governor's absent-store arm), and the "no batches yet"
    * base of every partials consumer.
    */
  def emptyDoremiPartials(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, Long, Long, BigDecimal)]
      .toDF("source", "n_docs", "n_bigrams", "sum_lp")
      .withColumn("sum_lp",
        col("sum_lp").cast(org.apache.spark.sql.types.DecimalType(38, 10)))
  }

  /** One DoReMi multiplicative-weights step over accumulated partial
    * rows (multiple rows per source are summed — exact, the decimal
    * accumulator). ≤|sources|·|segments| input rows, never corpus-sized.
    */
  def doremiFromPartials(partials: DataFrame): DataFrame = {
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val bySrc = partials
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum("sum_lp").as("sum_lp"))
    val scored = bySrc
      .withColumn("nll",
        round(-col("sum_lp").cast("double") / col("n_bigrams"), 6))
      .withColumn("nn", sum("n_bigrams").over(w).cast("double"))
      .withColumn("nll_c",
        round(-sum(col("sum_lp")).over(w).cast("double")
          / sum(col("n_bigrams")).over(w), 6))
      .withColumn("excess",
        greatest(lit(0.0), round(col("nll") - col("nll_c"), 6)))
      .withColumn("u",
        round((col("n_bigrams") / col("nn")) * exp(col("excess")), 6))
    scored
      .withColumn("natural_share", round(col("n_bigrams") / col("nn"), 6))
      .withColumn("doremi_weight",
        round(col("u") / sum(col("u").cast(Dec6)).over(w).cast("double"),
          6))
      .select("source", "n_docs", "n_bigrams", "nll", "excess",
        "natural_share", "doremi_weight")
      .orderBy("source")
  }

  // ---- q62: incremental delta dedup ---------------------------------------

  /** Incremental (delta) dedup: an incoming snapshot is deduplicated against
    * the already-ingested corpus by normalized text — the every-crawl
    * operation of a continuously-fed pipeline (full re-clustering of 100 TB
    * per increment would be absurd; the increment only probes the existing
    * key set). Here the corpus splits deterministically into "existing"
    * (80%, by the q47-style arithmetic doc_id hash) and "incoming"; output
    * is the per-source accounting: rows that collide with the existing
    * corpus, distinct new texts, and the within-batch duplicate remainder.
    *
    * Scale: one hash shuffle on the normalized-text key (the existing side
    * contracts to distinct norms first — in production that's the stored
    * fingerprint table, not a re-scan); count aggregates are map-side
    * partial. Uses the SAME normalizer as exact dedup (q36) so "duplicate"
    * means the same thing across batch and incremental paths.
    */
  def deltaDedup(s: SparkSession, dir: String): DataFrame =
    deltaDedupOn(docs(s, dir),
      Tables.lcgBucket(col("doc_id"), 48271L, 23L, 100L) < 80L)

  /** `docsDf` needs (doc_id, source, text); `isExisting` marks the
    * already-ingested slice.
    */
  def deltaDedupOn(docsDf: DataFrame, isExisting: Column): DataFrame = {
    val normed = docsDf.withColumn("norm", DedupOps.normText)
    val existing = normed.filter(isExisting).select("norm").distinct()
    val incoming = normed.filter(!isExisting)
      .select(col("doc_id"), col("source"), col("norm"))
    val fresh = incoming.join(existing, Seq("norm"), "left_anti")
    incoming.groupBy("source").agg(count(lit(1)).as("n_incoming"))
      .join(fresh.groupBy("source")
          .agg(count(lit(1)).as("n_fresh"),
            countDistinct(col("norm")).as("n_new_unique")),
        Seq("source"), "left")
      .select(col("source"), col("n_incoming"),
        (col("n_incoming") - coalesce(col("n_fresh"), lit(0L)))
          .as("n_dup_vs_existing"),
        coalesce(col("n_new_unique"), lit(0L)).as("n_new_unique"),
        (coalesce(col("n_fresh"), lit(0L))
          - coalesce(col("n_new_unique"), lit(0L))).as("n_dup_within_batch"))
      .orderBy("source")
  }

  // ---- q100: the curation funnel ------------------------------------------

  /** q100: the end-to-end curation funnel — the whole training-data
    * pipeline as ONE declarative plan, reporting document/token survivors
    * after each stage:
    *
    *   raw → exact dedup (first-write-wins by normalized text)
    *       → quality gate (q33 score ≥ 0.45, i.e. not 'poor')
    *       → decontamination (drop train docs whose norm appears in the
    *         held-out 10% eval split — the q49/q90 convention)
    *       → 50% stratified keep (independent arithmetic hash)
    *
    * This is the composition proof for the whole library: every stage is
    * a primitive that is individually oracle-checked (q36's normalizer,
    * q33's score, q49's split, q47's hash sampling), chained without any
    * imperative glue; Catalyst sees one tree per stage report and shares
    * the scan. Each stage is norm-/id-keyed (dedup window parallelism =
    * |distinct norms|; the decontamination probe anti-joins a contracted
    * norm set), so the funnel scales exactly as its parts do.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    curationFunnelOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang, text).
    *
    * ONE corpus pass (r15 optimization round): the stage filters are
    * strictly nested, so instead of one union branch per stage — which
    * re-executes the whole prefix chain per branch (5 scans of the corpus,
    * the dedup window 4×, the quality regexes 3×) — each document computes
    * its deepest surviving stage from per-row flags plus two windows over
    * the SAME norm partitioning (one exchange), and the report aggregates
    * the exploded stage prefix. The eval-norm anti-join becomes a window
    * too: "norm ∈ evalNorms" ≡ "some doc in my norm partition sits in the
    * eval bucket" (evalNorms is built from this very frame), so the
    * contraction + join disappear outright. A stage no document reaches
    * still reports (0, NULL) via the literal stage list — the df.agg
    * contract of the original shape. Results pinned identical by the
    * oracle and CurationSpec; the per-stage FRAMES live on in
    * [[crawlFunnelStages]] for the streaming funnel.
    */
  def curationFunnelOn(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docsDf.sparkSession
    import spark.implicits._
    val d = docsDf
      .withColumn("norm", DedupOps.normText)
      .withColumn("n_toks", Tables.sizeOrNull(tokens(col("text"))))
    val byNorm = Window.partitionBy("norm")
    val evalLcg = Tables.lcgBucket(col("doc_id"), 48271L, 7L, 100L)
    val scored = TextOps.scoredDocsOn(d) // per-row arithmetic only
      .withColumn("rn", row_number().over(byNorm.orderBy("doc_id")))
      .withColumn("eval_hit",
        max(when(evalLcg >= 90L, 1).otherwise(0)).over(byNorm))
    val s1 = col("rn") === 1
    val s2 = s1 && col("score") >= 0.45
    // null-norm guard: an anti-join never matches a NULL key, so a
    // null-norm doc is never decontaminated away (unreachable anyway —
    // null text has no score — but the semantics must not depend on that)
    val s3 = s2 && evalLcg < 90L &&
      (col("eval_hit") === 0 || col("norm").isNull)
    val s4 = s3 && Tables.lcgBucket(col("doc_id"), 9301L, 49297L, 100L) < 50L
    val reach = when(s4, 4).when(s3, 3).when(s2, 2).when(s1, 1).otherwise(0)
    val names = Seq("0_raw", "1_dedup", "2_quality", "3_decontaminated",
      "4_sampled")
    val agg = scored
      .select(col("n_toks"), explode(sequence(lit(0), reach)).as("si"))
      .groupBy("si")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"))
    names.zipWithIndex.toDF("stage", "si")
      .join(agg, Seq("si"), "left")
      .select(col("stage"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("n_tokens"))
      .orderBy("stage")
  }

  // ---- q149: the per-crawl funnel (incoming vs the existing corpus) -------

  /** The funnel's shingle width — 3 (q111's novelty measure), NOT
    * [[SpanOps.DefaultK]]'s 8: the gate asks "is this document mostly
    * restating indexed content", and the finer shingle catches rephrased
    * near-copies an 8-word exact window misses. One value, pinned here,
    * shared by q149 and the streaming funnel's store segments.
    */
  val FunnelShingleK = 3

  /** The q149 release bar: only 'good'-bucket documents (q33 score ≥
    * 0.55) ship from a crawl — stricter than q100's keep-not-poor 0.45,
    * because q100 curates an already-owned corpus (trimming is loss)
    * while a crawl funnel ADMITS new liability (admitting junk is loss).
    */
  val FunnelQualityBar = 0.55

  /** The per-crawl routing core shared by q149 and the streaming funnel
    * ([[graft.streaming.CurationFunnelPipeline]]): route an incoming
    * crawl through the five production gates and return every stage's
    * surviving frame in funnel order. Each reference side arrives as a
    * bounded contracted frame — in batch, the prior crawl's contractions;
    * in streaming, the persisted stores — so the core itself never
    * decides WHERE reference state lives, only what the gates mean
    * (stream and batch decisions provably agree; the spec pins them
    * doc-for-doc).
    *
    *   0_arrived        the incoming crawl
    *   1_quality        q33 composite score ≥ [[FunnelQualityBar]]
    *                    (per-row arithmetic — runs FIRST so every keyed
    *                    stage below only sees documents that could ship;
    *                    null text never ships)
    *   2_fresh          norm absent from the corpus fingerprint set
    *                    (q62's store probe) AND first occurrence within
    *                    the crawl itself (first-write-wins by doc_id)
    *   3_novel          span-level near-copy gate: at least half the
    *                    doc's distinct 3-shingles unseen in the reference
    *                    keys (q111's measure against the shingle store);
    *                    the compare is integer — 2·n_novel ≥ n_shingles —
    *                    so no float threshold can drift cross-engine;
    *                    docs too short to shingle pass (nothing measured,
    *                    nothing to overlap)
    *   4_decontaminated norm absent from the held-out benchmark set (the
    *                    q49/q90 convention: a re-crawled eval document
    *                    must never ship as training data)
    *   5_released       zero PII hits across all four q104 families
    *                    ([[ScrubOps.anyPii]] — the document-side privacy
    *                    gate)
    *
    * Scale: the quality gate is shuffle-free row arithmetic; stages 2/4
    * are anti-joins against contracted norm sets (broadcast when small,
    * shuffled-hash otherwise — AQE's call); stage 3 explodes shingles for
    * the ALREADY-GATED sliver only and contracts per doc_id; the PII gate
    * is row-local regex. Nothing downstream of the incoming crawl is ever
    * reference-corpus-sized.
    */
  private[graft] def crawlFunnelStages(incoming: DataFrame,
      corpusNorms: DataFrame, refShingleKeys: DataFrame,
      evalNorms: DataFrame, pin: Boolean = false): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    // pin = true (the streaming funnel): Tables.pin each stage so
    // the four sinks a micro-batch materializes (report union + keep +
    // two store folds) run every gate ONCE instead of re-executing the
    // whole chain per consumer — the MediaTriagePipeline convention;
    // bounded, the frames are micro-batch-sized. The batch face keeps
    // the pure declarative chain (one consumer, oracle-replayed plan).
    def staged(df: DataFrame): DataFrame =
      if (pin) Tables.pin(df) else df
    val d = staged(incoming
      .withColumn("norm", DedupOps.normText)
      // sizeOrNull, not raw size: a null-text doc must count NULL toks
      // in the oracle-compared stage sums under EVERY conf (legacy
      // sizeOfNull would read -1 — the r15 self-review finding)
      .withColumn("n_toks", Tables.sizeOrNull(tokens(col("text")))))
    val quality = staged(TextOps.scoredDocsOn(d)
      .filter(col("score") >= FunnelQualityBar)
      .select(d.columns.map(col): _*))
    val fresh = staged(quality
      .join(corpusNorms.select("norm"), Seq("norm"), "left_anti")
      .withColumn("rn",
        row_number().over(Window.partitionBy("norm").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("rn"))
    val nov = SpanOps.noveltyAgainstKeys(fresh, refShingleKeys,
        FunnelShingleK)
      .select(col("doc_id"), col("n_distinct_shingles"), col("n_novel"))
    val novel = staged(fresh.join(nov, Seq("doc_id"), "left")
      .filter(col("n_distinct_shingles").isNull ||
        col("n_novel") * 2 >= col("n_distinct_shingles"))
      .select(fresh.columns.map(col): _*))
    val clean = staged(novel.join(evalNorms.select("norm"), Seq("norm"),
      "left_anti"))
    val released = staged(clean.filter(!ScrubOps.anyPii(col("text"))))
    Seq("0_arrived" -> d, "1_quality" -> quality, "2_fresh" -> fresh,
      "3_novel" -> novel, "4_decontaminated" -> clean,
      "5_released" -> released)
  }

  /** Per-(stage, source) survivor counts over [[crawlFunnelStages]]'
    * frames — the funnel's mix accounting (which sources the gates eat
    * from is exactly what a mix owner watches during a crawl). Shared by
    * the q149 face and the streaming funnel's per-batch report.
    */
  private[graft] def crawlFunnelReport(
      stages: Seq[(String, DataFrame)]): DataFrame =
    stages.map { case (name, df) =>
      df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("n_tokens"))
        .select(lit(name).as("stage"), col("source"), col("n_docs"),
          col("n_tokens"))
    }.reduce(_ unionAll _).orderBy("stage", "source")

  /** q149: the per-crawl curation funnel over a two-crawl fixture — the
    * incremental twin of q100's whole-corpus sweep: crawl 1 (80% of docs
    * by the q107 split) is the EXISTING indexed corpus, crawl 2 the
    * incoming one, and the incoming side additionally carries re-fetches
    * (~5% of all pages re-crawled verbatim under fresh doc_ids — the q92
    * synthesis convention; a real crawler re-fetches unchanged pages
    * constantly, and a fixture with zero exact dups would never exercise
    * the freshness gate). The held-out benchmark is an independent 10%
    * norm sample (a DIFFERENT lcg multiplier than the crawl split — with
    * the same multiplier the two buckets are affinely locked and no eval
    * doc could ever land in crawl 2, silencing the decontamination gate
    * structurally). Reports per-(stage, source) surviving docs/tokens.
    */
  def crawlFunnel(s: SparkSession, dir: String): DataFrame =
    crawlFunnelOn(docs(s, dir))

  /** The one-pass twin of [[crawlFunnelReport]]∘[[crawlFunnelStages]] for
    * the BATCH face (r15 optimization round): the six stage filters are
    * strictly nested, so the per-stage union — which re-executed the whole
    * gate-chain prefix per branch (74 parquet scans in the q149 plan: the
    * quality regexes 5×, the reference shingle contraction 3×, …) —
    * collapses into per-document flags + one deepest-stage explode:
    *
    *   - quality: per-row score (unchanged expression);
    *   - fresh: the corpus-norm anti-join becomes a left-join flag
    *     (NULL-key semantics identical: a left join misses exactly where
    *     an anti-join survives), and first-write-wins becomes a
    *     cumulative count of QUALITY docs per norm — the anti-join only
    *     ever removes whole norm groups, so ranks within surviving
    *     groups are unchanged;
    *   - novel: [[SpanOps.noveltyAgainstKeys]] is per-doc independent
    *     (distinct own-shingles probed against the reference keys), so it
    *     computes over ALL incoming docs once and joins back by doc_id —
    *     the values for gated docs are identical, and the reference
    *     contraction now runs ONCE instead of three times;
    *   - decontaminated / released: left-join flag + per-row regex.
    *
    * Every reference side executes once; stage membership is decided
    * per row; the report aggregates the exploded stage prefix. Cell
    * existence semantics match the staged shape exactly (a (stage,
    * source) cell exists iff ≥ 1 doc of that source survived that
    * stage). CurationSpec pins this one-pass report row-identical to
    * [[crawlFunnelReport]] over [[crawlFunnelStages]] on the same
    * inputs; the staged frames remain the streaming funnel's routing
    * core.
    */
  private[graft] def crawlFunnelOnePass(incoming: DataFrame,
      corpusNorms: DataFrame, refShingleKeys: DataFrame,
      evalNorms: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = incoming
      .withColumn("norm", DedupOps.normText)
      .withColumn("n_toks", Tables.sizeOrNull(tokens(col("text"))))
    val nov = SpanOps.noveltyAgainstKeys(
      incoming.select("doc_id", "text"), refShingleKeys, FunnelShingleK)
      .select(col("doc_id"), col("n_distinct_shingles"), col("n_novel"))
    val full = TextOps.scoredDocsOn(d) // per-row arithmetic only
      .join(corpusNorms.select(col("norm")).withColumn("_corpus", lit(1))
        .distinct(), Seq("norm"), "left")
      .join(evalNorms.select(col("norm")).withColumn("_eval", lit(1))
        .distinct(), Seq("norm"), "left")
      .join(nov, Seq("doc_id"), "left")
    val s1 = col("score") >= FunnelQualityBar
    val ranked = full.withColumn("_qrank",
      sum(when(s1, 1).otherwise(0)).over(
        Window.partitionBy("norm").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val s2 = s1 && col("_corpus").isNull && col("_qrank") === 1
    val s3 = s2 && (col("n_distinct_shingles").isNull ||
      col("n_novel") * 2 >= col("n_distinct_shingles"))
    val s4 = s3 && col("_eval").isNull
    val s5 = s4 && !ScrubOps.anyPii(col("text"))
    val reach = when(s5, 5).when(s4, 4).when(s3, 3).when(s2, 2)
      .when(s1, 1).otherwise(0)
    val names = Seq("0_arrived", "1_quality", "2_fresh", "3_novel",
      "4_decontaminated", "5_released")
    ranked
      .select(col("source"), col("n_toks"),
        explode(sequence(lit(0), reach)).as("si"))
      .groupBy("si", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"))
      .select(element_at(typedLit(names), col("si") + 1).as("stage"),
        col("source"), col("n_docs"), col("n_tokens"))
      .orderBy("stage", "source")
  }

  /** `docsDf` needs (doc_id, source, text). */
  def crawlFunnelOn(docsDf: DataFrame): DataFrame = {
    // r16 (guide §5/§6): the five split sides below (crawl half, re-fetch
    // sample, existing half ×2 reference contractions, eval sample) each
    // re-scanned the parquet — seven full text decodes per run in the
    // static plan, plus three separate normText passes. ONE scan computes
    // the split flags and the norm per row and pins them; every side
    // filters the in-memory blocks instead (Tables.releaseCheckpoints
    // frees them at the harness loop points, the q67 convention).
    // Row/flag semantics are identical — the filters are the same
    // expressions, just evaluated once into columns.
    val crawl2 = Tables.lcgBucket(col("doc_id"), 48271L, 23L, 100L) >= 80L
    // the synthetic-id shift must not overflow ANSI arithmetic: a
    // sentinel id near Long.MaxValue is simply never synthesized into a
    // re-fetch (both engines pin the same bound, so the fixture stays
    // replayable)
    val base = Tables.pin(docsDf
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("_norm", DedupOps.normText)
      .withColumn("_crawl2", crawl2)
      .withColumn("_refetch",
        Tables.lcgBucket(col("doc_id"), 9301L, 11L, 100L) < 5L &&
          col("doc_id") <= lit(Long.MaxValue - 1000000000L))
      .withColumn("_eval",
        Tables.lcgBucket(col("doc_id"), 9301L, 49297L, 100L) >= 90L))
    val refetch = base.filter(col("_refetch"))
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    val incoming = base.filter(col("_crawl2")).unionByName(refetch)
      .select("doc_id", "source", "text")
    val existing = base.filter(!col("_crawl2"))
    val corpusNorms = existing.select(col("_norm").as("norm")).distinct()
    val refKeys = SpanOps.distinctShingleKeys(
      existing.select("doc_id", "text"), FunnelShingleK)
    val evalNorms = base.filter(col("_eval"))
      .select(col("_norm").as("norm")).distinct()
    crawlFunnelOnePass(incoming, corpusNorms, refKeys, evalNorms)
  }

  // ---- fingerprint store: the persisted face of delta dedup ---------------

  /** Materialize the corpus's distinct normalized-text fingerprint table —
    * the table production delta dedup probes instead of re-scanning the
    * raw corpus (the promise in q62's and `freshDocs`'s scaladoc, made
    * concrete). Rows are (norm, fp = xxhash64(norm)), laid out
    * hash-partitioned on fp so a fingerprint-keyed probe reads a balanced
    * store. The store is tiny relative to the corpus (norms only, no
    * doc payload) and append-only across crawls.
    */
  def writeFingerprintStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(docsDf.select(DedupOps.normText.as("norm"))
      .distinct()
      .withColumn("fp", xxhash64(col("norm")))
      .repartition(col("fp")), path)

  /** Admit only the incoming docs whose normalized text is absent from
    * the stored fingerprint table — q62's probe against the STORE rather
    * than the corpus (the raw corpus is never re-read). One anti-join
    * keyed on the norm; the store side scans two thin columns.
    */
  def freshAgainstStore(incoming: DataFrame, storePath: String): DataFrame = {
    val store = incoming.sparkSession.read.parquet(storePath)
      .select("norm")
    incoming.withColumn("norm", DedupOps.normText)
      .join(store, Seq("norm"), "left_anti")
      .drop("norm")
  }

  /** Fold a batch of ADMITTED docs (output of [[freshAgainstStore]], so
    * their norms are disjoint from the store) into the store. Append-only:
    * replaying the same batch adds duplicate norms, which keeps probes
    * correct (anti-join semantics) at the cost of store bloat — compact
    * with [[compactFingerprintStore]] when it matters (or rebuild from
    * the corpus with [[writeFingerprintStore]] at ANALYZE cadence).
    */
  def appendToFingerprintStore(admitted: DataFrame, path: String): Unit =
    admitted.select(DedupOps.normText.as("norm")).distinct()
      .withColumn("fp", xxhash64(col("norm")))
      // hash layout on fp like every other appender in the store family —
      // segments inheriting the batch's arbitrary upstream partitioning
      // would skew fingerprint-keyed probes more with each crawl
      .repartition(col("fp"))
      .write.mode("append").parquet(path)

  /** Re-contract accumulated append segments (replayed appends leave
    * duplicate norms) to distinct rows, publishing via staging + atomic
    * swap — durable state, never `mode("overwrite")` on the live path
    * (the token/shingle/winnow-store compactor contract on this store's
    * schema).
    */
  def compactFingerprintStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _
      .select("norm").distinct()
      .withColumn("fp", xxhash64(col("norm")))
      .repartition(col("fp")))

  // ---- persisted cardinality store (mergeable HLL sketches) ---------------

  /** Write the per-source token-cardinality SKETCH store: one
    * Datasketches HLL byte blob per source (`hll_sketch_agg`,
    * lgConfigK 14 ≈ ±0.8 % standard error, ~16 KB each). The cardinality
    * face of the fingerprint/shingle/bloom store family: distinct-token
    * counts keep answering at any corpus size from bounded bytes, and —
    * unlike a stored NUMBER — sketches MERGE, so per-crawl updates union
    * in ([[mergeIntoCardinalityStore]]) without ever re-reading the
    * corpus. Exact distinct would need the full token set per source
    * (the thing that does not fit at 100 TB); the sketch trades ~1 %
    * error for O(1) storage and associative updates.
    */
  def writeCardinalityStore(docsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(sourceSketches(docsDf), path)

  /** One (source, sketch) row per source — the store's row format. */
  private def sourceSketches(docsDf: DataFrame): DataFrame =
    docsDf.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source")
      .agg(expr("hll_sketch_agg(token, 14)").as("sketch"))

  /** Union a new batch's sketches into the store (full-outer on source:
    * new sources appear, existing ones merge via `hll_union`). The merge
    * reads the live store inside the write job: [[ScaleOps.publishStore]]
    * stages beside the live path and swaps only after the write commits,
    * so the read never races the rewrite, and never `mode("overwrite")`
    * on the live path: this state is BY DESIGN unrebuildable without
    * re-reading every past crawl, so a crash between overwrite's delete
    * and its commit would be permanent sketch loss.
    */
  def mergeIntoCardinalityStore(batch: DataFrame, path: String): Unit = {
    val s = batch.sparkSession
    // first crawl of a fresh corpus: nothing to merge into — bootstrap
    // the store from the batch (every sibling store's merge/append entry
    // point creates its path; the one BY-DESIGN-unrebuildable artifact
    // must not be the only family member that hard-fails on first contact)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      writeCardinalityStore(batch, path)
      return
    }
    ScaleOps.publishStore(s.read.parquet(path)
      .withColumnRenamed("sketch", "old")
      .join(sourceSketches(batch).withColumnRenamed("sketch", "new"),
        Seq("source"), "full_outer")
      .select(col("source"), expr(
        "CASE WHEN old IS NULL THEN new WHEN new IS NULL THEN old " +
          "ELSE hll_union(old, new) END").as("sketch")), path)
  }

  /** Estimated distinct tokens per source from the store — no corpus
    * access at all. */
  def cardinalityFromStore(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .select(col("source"),
        expr("hll_sketch_estimate(sketch)").as("est_distinct_tokens"))
      .orderBy("source")

  /** The ANALYZE-style maintenance entry, run whenever the corpus snapshot
    * changes (the same cadence as a fingerprint-store rebuild): refreshes
    * BOTH persisted artifacts under one root — `<root>/fingerprints` (the
    * delta-dedup probe table) and `<root>/corpus_stats` (the dispatch-gate
    * evidence every density/duplicate-fraction gate reads instead of
    * probing per call). Returns the stats so a caller can thread them into
    * the dispatched operators in the same job.
    */
  def analyzeCorpus(docsDf: DataFrame, root: String): CorpusStats = {
    writeFingerprintStore(docsDf, s"$root/fingerprints")
    CorpusStats.analyze(docsDf, s"$root/corpus_stats")
  }

  /** The FULL ANALYZE: refresh every persisted store family under one
    * root in one maintenance job — the complete "index this corpus
    * snapshot" entry a crawl scheduler calls between rounds:
    *
    *   - `fingerprints`  — distinct normalized-text fps (exact-dup probes)
    *   - `shingles`      — distinct K-shingle md5 keys (span dedup /
    *                       decontamination / exact novelty)
    *   - `bloom`         — the shingle bloom filter (wire-speed streaming
    *                       triage, one bounded row)
    *   - `cardinality`   — per-source HLL sketches (distinct-token counts)
    *   - `token_counts`  — (source, token, c) exact counts (drift)
    *   - `bigrams`       — (from, to, n) LM counts (perplexity scoring)
    *   - `winnow`        — sampled winnowing fingerprints (near-dup match)
    *   - `phash`         — 8 B perceptual media fingerprints (near-dup
    *                       media screen)
    *   - `corpus_stats`  — the dispatch-gate ANALYZE row
    *
    * Each artifact is bounded by vocabulary/shingle/source cardinality,
    * never by corpus row count; afterwards every incremental operator
    * (`freshAgainstStore`, `dupSpansAgainstStore`, `noveltyAgainstStore`,
    * `scoredAgainstStore`, `cardinalityFromStore`, `sourceDriftFromStore`,
    * `lmPerplexityFromStore`, `matchesAgainstStore`,
    * `phashPairsAgainstStore`, the stats-driven dispatch gates) answers
    * without touching the corpus again. Nine single-pass jobs — a
    * maintenance-window batch, deliberately not micro-optimized into one
    * shared scan (at 100 TB each pass wants its own shuffle shape). The
    * vector-side PQ code index ([[SimilarityOps.writePqStore]]) stays a
    * separate job: it reads the embeddings table and needs a trained
    * codebook, not the document corpus. `docsDf` needs
    * (doc_id, source, text).
    */
  def analyzeCorpusStores(docsDf: DataFrame, root: String,
      k: Int = SpanOps.DefaultK, nBits: Int = 1 << 20): CorpusStats = {
    writeFingerprintStore(docsDf, s"$root/fingerprints")
    SpanOps.writeShingleStore(docsDf, s"$root/shingles", k)
    SpanOps.writeBloomStore(docsDf, s"$root/bloom", k, nBits)
    writeCardinalityStore(docsDf, s"$root/cardinality")
    TextOps.writeTokenCountStore(docsDf, s"$root/token_counts")
    SearchOps.writeBigramStore(docsDf, s"$root/bigrams")
    TextOps.writeWinnowStore(docsDf, s"$root/winnow")
    MultimodalOps.writePhashStore(docsDf, s"$root/phash")
    CorpusStats.analyze(docsDf, s"$root/corpus_stats")
  }

  // ---- registration -------------------------------------------------------

  // ---- q84: per-source dataset card ----------------------------------------

  /** q84: the dataset card — the one report a curator runs before signing
    * off a training mix: per source, document and token volume, language
    * spread, quality profile (q33's composite, the same definition q48
    * retains by and q60 keeps by), and exact-duplicate exposure (q36's
    * normalization) with global duplicates attributed to every source that
    * carries a copy.
    *
    * Scale: three corpus passes, each already scale-shaped — the per-row
    * quality scoring (regex-free), a norm-keyed count window for duplicate
    * flags (full key parallelism; text itself never shuffles twice — the
    * flag join is doc_id-keyed), and the final ≤|sources| aggregation with
    * map-side partials. Quality average rides the decimal-exact `davg`;
    * dup_share is one integer division.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame =
    datasetCardOn(docs(s, dir))

  /** `docsDf` needs (doc_id, source, lang, text). */
  def datasetCardOn(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextOps.scoredDocsOn(docsDf)
      .select("doc_id", "source", "lang", "n_tokens", "score")
    val dupFlags = docsDf
      .withColumn("norm", DedupOps.normText)
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("norm")))
      .select(col("doc_id"), (col("n_same") > 1).as("is_dup"))
    scored.join(dupFlags, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("score") >= 0.55, 1L).otherwise(0L)).as("n_good"),
        graft.Tables.davg(col("score")).as("avg_quality"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_share", col("n_dup_docs") / col("n_docs"))
      .orderBy("source")
  }

  // ---- q92: corpus version diff -------------------------------------------

  /** q92: corpus snapshot diff — the governance report run whenever a new
    * corpus version lands: how many documents were added, removed,
    * modified, or untouched versus the previous version. The registered
    * query derives v2 from v1 with pinned deterministic edits (drop
    * id%7=0, revise id%11=0, add a shifted-id doc per id%13=0) so the
    * oracle can rebuild the identical pair; [[corpusDiffOn]] is the
    * general two-snapshot library form.
    *
    * Scale: ONE full-outer equi-join on the document id (both snapshots
    * id-keyed — bucket both by id at 100 TB and the join is
    * exchange-free), per-row classification, ≤4-row final agg with
    * map-side partials. Text crosses the wire once per side.
    */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = docs(s, dir).select(col("doc_id"), col("text"))
    val id = col("doc_id")
    val revised = v1.filter(id % 7 =!= 0 && id % 11 === 0)
      .select(id, concat(col("text"), lit(" (rev2)")).as("text"))
    val untouched = v1.filter(id % 7 =!= 0 && id % 11 =!= 0)
    val added = v1.filter(id % 13 === 0)
      .select((id + 1000000000L).as("doc_id"),
        concat(lit("added doc "), id.cast("string")).as("text"))
    corpusDiffOn(v1, revised.unionByName(untouched).unionByName(added))
  }

  /** Both snapshots need (doc_id, text). Emits (status, n_docs). */
  def corpusDiffOn(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), col("text").as("t1"))
    val b = v2.select(col("doc_id"), col("text").as("t2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(when(col("t1").isNull, "added")
        .when(col("t2").isNull, "removed")
        .when(col("t1") =!= col("t2"), "modified")
        .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  // ---- q116: deterministic hash split -------------------------------------

  /** Assign each document to a named split by thresholding the first 16
    * bits of `md5(salt || ':' || doc_id)` against the cumulative split
    * weights — the standard deterministic train/valid/test assignment for
    * a corpus that keeps growing: membership depends only on (salt,
    * doc_id), so re-running the pipeline, adding a crawl, or recomputing
    * on a different cluster never migrates an existing document across
    * splits (no global sort, no sampling state to persist).
    *
    * The 16-bit threshold compares the 4-char hex PREFIX of the digest as
    * a string — md5 hex is lowercase in both Spark and DuckDB, so the
    * lexicographic compare is exactly the numeric compare and the oracle
    * twin is a verbatim restatement. Granularity is 1/65536 ≈ 0.0015%,
    * plenty for split weights.
    *
    * Scale: ONE map-side projection — no shuffle at all until whatever
    * consumes the split column aggregates it. Appends `split`.
    */
  def withHashSplit(docsDf: DataFrame, salt: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val h4 = substring(
      md5(concat(lit(salt + ":"), col("doc_id").cast("string"))), 1, 4)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    // last arm is the unconditional otherwise — weights already sum to 1.
    // A non-final cumulative weight can still reach 1.0 (trailing
    // zero-weight splits): formatted naively that is the 5-char "10000",
    // which sorts BEFORE most 4-char digests ('1' < '8'…) and would
    // misroute half the corpus into the zero-weight arm. 'g' sorts after
    // every hex digit, so the arm matches every document — exact.
    val thresholds = cum.init.map { c =>
      val t = (c * 65536).toInt
      if (t >= 65536) "g" else f"$t%04x"
    }
    val arms = splits.init.map(_._1).zip(thresholds)
    val assigned =
      if (arms.isEmpty) lit(splits.head._1)
      else arms.tail.foldLeft(
        when(h4 < arms.head._2, arms.head._1)) { case (acc, (name, t)) =>
        acc.when(h4 < t, name)
      }.otherwise(splits.last._1)
    docsDf.withColumn("split", assigned)
  }

  /** The hex thresholds q116 pins (80/10/10 of 65536): shared with the
    * oracle SQL so both engines compare against the identical literals.
    */
  private val Q116Splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)

  /** q116: deterministic train/valid/test split report — per-split document
    * count, token count, char count, and document share, after assigning
    * every document via [[withHashSplit]] (salt "graft-split", 80/10/10).
    * The audit a pipeline runs right after splitting: are the realized
    * shares near the nominal weights, and how many tokens does each split
    * actually hold?
    *
    * Scale: classification is map-side; the only shuffle is the ≤|splits|-
    * row aggregation (map-side partials), and the share denominator rides
    * a broadcast single-row frame — corpus row count never concentrates
    * anywhere.
    */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    hashSplitOn(docs(s, dir))

  /** `docsDf` needs (doc_id, text, n_chars). */
  def hashSplitOn(docsDf: DataFrame): DataFrame = {
    val agg = withHashSplit(docsDf, "graft-split", Q116Splits)
      .select(col("split"), Tables.sizeOrNull(tokens(col("text"))).as("n_toks"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("n_chars"))
    val tot = agg.agg(sum("n_docs").cast("double").as("tot"))
    agg.crossJoin(broadcast(tot))
      .withColumn("doc_share", round(col("n_docs") / col("tot"), 6))
      .drop("tot")
      .orderBy("split")
  }

  // ---- q122: training-order manifest --------------------------------------

  /** The shard width q122 pins (documents per training shard). */
  private val Q122ShardSize = 64

  /** q122: deterministic training-order manifest — the export-time global
    * pseudo-shuffle every trainer needs: documents ordered by
    * `md5('graft-order:' || doc_id)` (a keyed hash, so the permutation is
    * reproducible on any cluster, any partitioning, any rerun — no RNG
    * state to persist), each assigned its exact 1-based global position and
    * a fixed-width shard id. Hash order makes every shard an unbiased
    * sample of the corpus, so the per-shard source/language mixture tracks
    * the global mixture without a true random shuffle — the property that
    * keeps SGD batches i.i.d.-ish when shards are consumed sequentially.
    *
    * Split membership (q116 [[withHashSplit]]) is stable under corpus
    * growth; positions deliberately are NOT (inserting a document shifts
    * everything after it) — a manifest describes one frozen snapshot, and
    * is regenerated per export.
    *
    * Scale: the global position comes from
    * [[ScaleOps.withGlobalRowNumber]]'s distributed-ranking decomposition
    * (range repartition → parallel local ranks → broadcast offset ladder) —
    * no single-task `Window.orderBy` sort at any corpus size; everything
    * else is map-side arithmetic. When the trainer wants the BYTES in this
    * order rather than the rank column, [[ScaleOps.writeOrdered]] with the
    * same `(hash, doc_id)` sort key lays the shards on disk directly.
    */
  def trainingManifest(s: SparkSession, dir: String): DataFrame =
    trainingManifestOn(docs(s, dir), Q122ShardSize)

  /** `docsDf` needs (doc_id, source). Emits (doc_id, source, pos, shard),
    * pos 1-based in hash order, shard = (pos-1) / shardSize.
    */
  def trainingManifestOn(docsDf: DataFrame, shardSize: Int): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive: $shardSize")
    val keyed = docsDf.select(col("doc_id"), col("source"))
      .withColumn("_h",
        md5(concat(lit("graft-order:"), col("doc_id").cast("string"))))
    ScaleOps.withGlobalRowNumber(keyed, Seq(col("_h"), col("doc_id")), "pos")
      .withColumn("shard",
        floor((col("pos") - 1) / shardSize).cast("int"))
      .drop("_h")
      .orderBy("pos")
  }

  // ---- q124: DSIR importance weights --------------------------------------

  /** q124: data-selection importance weights (DSIR — Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023): score every raw document by the log-likelihood ratio of a
    * target-domain unigram LM over the raw-corpus unigram LM, the signal
    * DSIR resamples by to tilt a web-scale crawl toward a target domain.
    * Target here: the `lang = 'en'` slice (the formatted-domain stand-in);
    * any predicate slots in — the two LMs come from ONE shared token
    * contraction with a conditional count.
    *
    * Laplace-smoothed over the raw vocabulary V: p(w) = (n_w + 1)/(T + |V|)
    * per side, so target-absent tokens score a finite negative ratio
    * instead of -∞. logw(doc) = Σ_w c_doc(w) · ln(p_t(w)/p_r(w)) — DSIR's
    * hashed-ngram features exist to BOUND the feature table when the
    * vocabulary is open; this corpus's vocab is already table-sized, and
    * at 100 TB the same plan holds by hashing tokens into B buckets first
    * (one extra per-row map; the contraction stays ≤ B rows).
    *
    * Scale: the LM side is a map-side-combined contraction to ≤|V| rows
    * (the shuffle ships vocabulary-bounded partials, not tokens), totals
    * ride a window over that contraction (the q108 denominator
    * discipline — never a second corpus branch), and scoring is one
    * broadcast join + ONE doc-keyed aggregation over token instances
    * (Σ llr per instance ≡ Σ c·llr over any contraction — same decimal
    * multiset — so no corpus-sized intermediate aggregate exists).
    * Determinism: each ratio is one ln of a quotient of
    * exact integers (both engines ln identical doubles — the q108
    * discipline), rounded to 6 dp and multiplied by integer counts in
    * exact decimal, so the per-doc sum is order-independent.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsOn(docs(s, dir), col("lang") === "en")

  /** `docsDf` needs (doc_id, text) plus whatever `isTarget` reads.
    * Documents with no tokens (null/empty text) have no features and are
    * absent from the output, like every token-explode consumer.
    */
  def dsirWeightsOn(docsDf: DataFrame, isTarget: Column): DataFrame =
    dsirCore(docsDf, isTarget, identity)

  /** Open-vocabulary scale face: the same pipeline with tokens hashed
    * into `buckets` features first (DSIR's hashed-feature device) — the
    * LM contraction is ≤ `buckets` rows however large the live
    * vocabulary grows; colliding tokens pool their counts (the paper's
    * accepted bias). When the hash is injective on the corpus vocabulary
    * the output is IDENTICAL to [[dsirWeightsOn]] (spec-pinned — the
    * smoothing V is the count of occupied features, which then equals
    * |vocab|). Library-only face; the oracle-checked catalog form is the
    * raw-token one.
    */
  def dsirWeightsHashedOn(docsDf: DataFrame, isTarget: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    dsirCore(docsDf, isTarget, t => pmod(xxhash64(t), lit(buckets.toLong)))
  }

  /** Incremental DSIR face off the persisted token-count store
    * ([[graft.ops.TextOps.writeTokenCountStore]] — the (source, token, c)
    * contraction IS the DSIR LM input): build both unigram LMs from the
    * store's vocabulary-bounded count rows and score only the NEW batch —
    * per-crawl importance scoring never re-reads the corpus, the
    * `sourceDriftFromStore`/`lmPerplexityFromStore` convention completed
    * for the curation side. The target slice is a predicate over the
    * store's `source` key (DSIR's actual deployment shape: tilt toward
    * named target sources); build the store with `source := lang` to
    * replay the q124 language target.
    *
    * Semantics vs [[dsirWeightsOn]]: identical llr table and identical
    * scores when the batch IS the store's corpus (spec-pinned). On a
    * genuinely new batch, tokens outside the store vocabulary have no LM
    * feature and contribute nothing (DSIR's fixed feature space — the
    * historical LM doesn't grow mid-score), and `n_tokens` counts in-vocab
    * instances only. Empty tokens (consecutive spaces) are dropped on
    * BOTH faces — store contraction, batch side, and [[dsirWeightsOn]]'s
    * raw explode all apply the same `length > 0` filter.
    *
    * Scale: the LM read is ≤|sources|·|vocab| count rows summed across
    * append segments (no corpus access), llr broadcasts like the raw
    * face, and the batch pays one explode + broadcast join + doc-keyed
    * agg — cost proportional to the BATCH, not the corpus.
    */
  def dsirWeightsFromStore(batchDf: DataFrame, s: SparkSession,
      storePath: String, isTargetSource: Column): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val counts = s.read.parquet(storePath)
      .groupBy("token")
      .agg(sum("c").as("n_raw"),
        sum(when(isTargetSource, col("c")).otherwise(lit(0L))).as("n_tgt"))
    val llr = dsirLlr(counts)
    batchDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .join(llr, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("llr").cast(Dec)), 6).cast("double")
          .as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** The Laplace-smoothed per-token log-likelihood-ratio table from a
    * (token, n_raw, n_tgt) contraction — ONE definition shared by the raw
    * face ([[dsirCore]]) and the store face ([[dsirWeightsFromStore]]),
    * so "identical llr table when the batch IS the store's corpus" holds
    * by construction, not by parallel edits. Totals ride a window OVER
    * the vocab-bounded contraction (the q108 denominator discipline);
    * ratios round 6 dp; the result broadcasts (≤|vocab| rows).
    */
  private def dsirLlr(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    broadcast(counts
      .withColumn("t_raw", sum("n_raw").over(w))
      .withColumn("t_tgt", sum("n_tgt").over(w))
      .withColumn("v", count(lit(1)).over(w))
      .select(col("token"),
        round(
          log((col("n_tgt") + 1) / (col("t_tgt") + col("v")))
            - log((col("n_raw") + 1) / (col("t_raw") + col("v"))), 6)
          .as("llr")))
  }

  private def dsirCore(docsDf: DataFrame, isTarget: Column,
      featOf: Column => Column): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 6)
    // empty tokens (consecutive spaces in `split`) are not features — the
    // same filter the token-count store contraction and the store-scoring
    // batch side apply, so raw ≡ store holds on multi-spaced text too
    val tok = docsDf
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(tokens(col("text"))).as("tok0"))
      .filter(length(col("tok0")) > 0)
      .select(col("doc_id"), col("is_target"), featOf(col("tok0")).as("token"))
    val counts = tok.groupBy("token")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("n_tgt"))
    // totals via a window OVER the vocab-bounded contraction (the q108
    // denominator discipline) — a separate `counts.agg` branch would be a
    // second consumer of the counts subtree and re-run the corpus explode
    // a third time in the static plan
    val llr = dsirLlr(counts)
    // score per token INSTANCE: Σ llr over instances ≡ Σ c·llr over the
    // (doc, token) contraction — same decimal multiset, so skipping the
    // corpus-sized intermediate aggregate changes nothing but the plan
    // (one broadcast join + ONE doc-keyed agg, no 15M-group middle stage)
    tok.join(llr, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("llr").cast(Dec)), 6).cast("double")
          .as("dsir_logw"))
      .orderBy("doc_id")
  }

  // ---- q129: weighted sampling without replacement (E-S) ------------------

  /** q129: deterministic weighted sampling without replacement
    * (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    * reservoir") — THE resampling half of DSIR: q124 scores documents,
    * this draws the training subset with probability proportional to
    * weight. Each doc gets key = ln(u)/w with u a seeded-hash uniform in
    * (0, 1); the top-k keys ARE a weight-proportional sample without
    * replacement (the E-S theorem, via the monotone ln transform of
    * u^(1/w)), and because u derives from md5(seed, doc_id) the draw is
    * reproducible on any cluster and re-derivable by the oracle — no
    * rand(), the q116/q122 keyed-hash discipline.
    *
    * The catalog binding weights by the per-token DSIR ratio
    * exp(dsir_logw / n_tokens) (bounded, positive — the raw exp(logw)
    * over/underflows on long docs); any positive weight column drops in.
    *
    * Scale: one map pass to key every row + a global top-k
    * (TakeOrderedAndProject — never a full sort); non-positive weights
    * are excluded (they have zero selection probability by definition).
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    weightedSampleOn(
      dsirWeightsOn(docs(s, dir), col("lang") === "en")
        .withColumn("w", exp(col("dsir_logw") / col("n_tokens"))),
      col("w"), k = 20, seed = "graft-ws")

  /** `df` needs (doc_id) plus whatever `weightCol` reads. */
  def weightedSampleOn(df: DataFrame, weightCol: Column, k: Int,
      seed: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // seeded uniform in (0, 1): first 8 md5 hex chars → [0, 2^32) → +1
    // over 2^32+1 (never 0, so ln(u) is finite; never 1 either — max is
    // 2^32/(2^32+1))
    val u = (conv(substring(md5(concat(lit(seed), lit(":"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double")
      + 1.0) / 4294967297.0
    // the cut orders on the ROUNDED key (the bm25SearchOn discipline):
    // ln(u)/w chains two transcendental calls whose last ulp can differ
    // between JVM Math and the oracle's libm, and an unrounded boundary
    // would let two docs swap across the k cut on exactly that ulp
    df.filter(weightCol > 0)
      .withColumn("es_key", round(log(u) / weightCol, 6))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), round(weightCol, 6).as("weight"),
        col("es_key"))
  }

  // ---- q130: train/held-out split-leakage audit ---------------------------

  /** q130: the pre-training leakage sign-off — compose the q116
    * deterministic hash split with q56's 5-gram decontamination: assign
    * every document its split (salt "graft-split", 80/10/10), treat
    * valid ∪ test as the held-out benchmark, flag train documents
    * sharing any distinct 5-gram with it, and roll the evidence up per
    * source (train volume, leaky docs, shared-5-gram mass, leak rate).
    * A non-zero rate on a hash-split corpus means duplicated or
    * near-duplicated text STRADDLES the split boundary — the failure
    * mode document-level splitting cannot prevent and dedup-before-split
    * (q101) exists to fix; this audit quantifies exactly how much of it
    * a mix carries, per source, before anyone trains on it.
    *
    * Scale: split assignment is map-side; the decontamination inherits
    * q56's shape (held-out distinct 5-grams contract and broadcast, one
    * doc-keyed overlap count, the dup-density dispatch included); the
    * rollup is ≤|sources| rows.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakageOn(docs(s, dir),
      stats = Some(CorpusStats.forDir(s, dir)))

  /** `docsDf` needs (doc_id, source, text). */
  def splitLeakageOn(docsDf: DataFrame,
      stats: Option[CorpusStats] = None): DataFrame =
    leakageRollup(ngramDecontaminationOn(
      withHashSplit(docsDf, "graft-split", Q116Splits),
      col("split") =!= "train", stats = stats))

  /** q130's per-source rollup of per-doc decontamination rows — ONE
    * definition shared by the batch face and the streaming split-audit
    * reports, so the two cannot drift.
    */
  private[graft] def leakageRollup(rows: DataFrame): DataFrame = rows
    .groupBy("source")
    .agg(count(lit(1)).as("n_train"),
      sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_leaky"),
      sum("n_shared_5grams").as("n_shared_5grams"))
    .withColumn("leak_rate", round(col("n_leaky") / col("n_train"), 6))
    .orderBy("source")

  /** The q116/q130 split assignment (salt "graft-split", 80/10/10) as a
    * public face — the streaming split audit must route every document
    * through the IDENTICAL assignment the batch audit uses.
    */
  def withDefaultSplit(docsDf: DataFrame): DataFrame =
    withHashSplit(docsDf, "graft-split", Q116Splits)

  /** Distinct word-5-grams of `docsDf` — the held-out segment a split
    * audit persists per ingest batch ([[graft.streaming.SplitAuditPipeline]]).
    * Stored as the ngram STRINGS (the exact q56/q130 join domain, not a
    * 64-bit hash): the held-out side is the small split, and exactness
    * here means the streaming audit can be pinned bit-equal to the batch
    * q130, with no collision caveat.
    */
  def heldoutNgramsOn(docsDf: DataFrame): DataFrame =
    docsDf.select(
      explode(array_distinct(shingles5(tokens(col("text"))))).as("ngram"))
      .distinct()

  /** q130's per-doc audit of an EXTERNAL train frame against a reference
    * 5-gram set (column `ngram`; deduplicated here, so accumulated store
    * segments with repeated ngrams are fine): the same shingles5 →
    * explode → overlap-count → [[decontaminationRows]] chain as the q56
    * kernel, against a reference that arrives as data instead of as a
    * predicate over the same frame. No forced broadcast: the reference is
    * an accumulated store that grows with the held-out corpus — AQE picks
    * broadcast vs shuffle join by its actual size.
    */
  def decontaminationAgainstNgrams(trainDf: DataFrame,
      ngrams: DataFrame): DataFrame = {
    val refNgrams = ngrams.select("ngram").distinct()
    val withSh = trainDf.withColumn("sh",
      array_distinct(shingles5(tokens(col("text")))))
    val train = withSh.select(col("doc_id"), col("source"),
      Tables.sizeOrNull(col("sh")).as("n_5grams"), col("sh"))
    val shared = train
      .select(col("doc_id"), explode(col("sh")).as("ngram"))
      .join(refNgrams, "ngram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    decontaminationRows(train.drop("sh").join(shared, Seq("doc_id"), "left"))
  }

  /** [[decontaminationAgainstNgrams]] probing the persisted held-out
    * 5-gram store — the final pre-training sign-off over any train frame
    * with ZERO re-reads of the held-out corpus (only its accumulated
    * distinct-ngram segments). Strict: an absent store is an error here;
    * the streaming pipeline maps absence to the empty reference instead.
    */
  def decontaminationAgainstStore(trainDf: DataFrame,
      storePath: String): DataFrame =
    decontaminationAgainstNgrams(trainDf,
      trainDf.sparkSession.read.parquet(storePath))

  /** Fold the held-out store's batch segments to distinct ngrams under
    * the `batch_id=-1` slot (duplicate-safe store — readers already take
    * distinct, so this only reclaims bytes; the keyed-compactor
    * stream-stopped contract still applies because a replayed batch
    * re-creates its segment beside the folded copy, which here merely
    * re-duplicates rows rather than corrupting anything).
    */
  def compactHeldoutNgramStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, _.select("ngram").distinct()
      .repartition(col("ngram")), batchSlot = true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_split_leakage" -> splitLeakage,
    "q129_weighted_sample" -> weightedSample,
    "q124_dsir_weights" -> dsirWeights,
    "q116_hash_split" -> hashSplit,
    "q122_training_manifest" -> trainingManifest,
    "q100_curation_funnel" -> curationFunnel,
    "q149_crawl_funnel" -> crawlFunnel,
    "q92_corpus_diff" -> corpusDiff,
    "q84_dataset_card" -> datasetCard,
    "q56_ngram_decontamination" -> ngramDecontamination,
    "q57_embedding_quantization" -> embeddingQuantization,
    "q58_corpus_rebalance" -> corpusRebalance,
    "q59_term_scrub" -> termScrub,
    "q60_dedup_canonical" -> dedupCanonical,
    "q61_token_packing" -> tokenPacking,
    "q62_delta_dedup" -> deltaDedup,
    "q65_substring_contamination" -> substringContamination,
    "q67_source_overlap" -> sourceOverlap,
    "q115_temperature_mix" -> temperatureMix,
    "q131_doremi_weights" -> doremiWeights)

  // single line: the enclosing oracle string's stripMargin would otherwise
  // truncate a continuation line starting with the `||` concat operator
  private val sqlShingles5 =
    "list_transform(generate_series(1, len(toks) - 4), i -> " +
      (0 to 4).map(o => s"toks[i+$o]").mkString(" || ' ' || ") + ")"

  /** Full SQL replay of the q67 pipeline: token fingerprints (squaring
    * finish, as tokFp) → packed double mod-p 5-gram hashes → source bitmask
    * `bit_or` per hash → per-mask counts → bit-pair expansion. Bit indexes
    * come from the same sorted-distinct-source order the Spark probe uses.
    */
  private def sqlQ67: String = {
    val P = DedupOps.P
    val FB = DedupOps.FB
    def fp(base: Long, seed: Long): String =
      s"list_transform(list_transform(toks, t -> " +
        s"${DedupOps.sqlTokFpRaw("t", base, seed)}), " +
        s"a -> (a * a + $base) % $P)"
    def fold(arr: String): String =
      (1 until 5).foldLeft(s"$arr[i]")((acc, o) =>
        s"(($acc) * $FB + $arr[i+$o]) % $P")
    s"""WITH d AS (SELECT doc_id, source,
       |  string_split(trim(text), ' ') AS toks FROM documents),
       |f AS (SELECT doc_id, source, len(toks) AS n,
       |  ${fp(31, 987654321L)} AS f31,
       |  ${fp(37, 123456789L)} AS f37
       |  FROM d WHERE len(toks) >= 5),
       |hs AS (SELECT source, unnest(list_distinct(
       |    list_transform(generate_series(1, n - 4), i ->
       |      (${fold("f31")}) * 2147483648 + (${fold("f37")})))) AS h
       |  FROM f),
       |idx AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS i
       |  FROM (SELECT DISTINCT source FROM documents)),
       |b AS (SELECT h, bit_or(CAST(1 AS BIGINT) << idx.i) AS mask
       |  FROM hs JOIN idx USING (source) GROUP BY h),
       |c AS (SELECT mask, count(*) AS cnt FROM b GROUP BY mask),
       |sz AS (SELECT i.source, CAST(sum(c.cnt) AS BIGINT) AS n
       |  FROM c JOIN idx i ON (c.mask >> i.i) & 1 = 1 GROUP BY i.source),
       |p AS (SELECT a.source AS src_a, b2.source AS src_b,
       |    CAST(sum(c.cnt) AS BIGINT) AS n_shared
       |  FROM c JOIN idx a ON (c.mask >> a.i) & 1 = 1
       |  JOIN idx b2 ON (c.mask >> b2.i) & 1 = 1 AND a.i < b2.i
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       |  round(n_shared / (sa.n + sb.n - n_shared), 6) AS jaccard
       |FROM p JOIN sz sa ON p.src_a = sa.source
       |  JOIN sz sb ON p.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Shared DSIR CTE body (per-doc n_tokens + dsir_logw as `dsir`):
    * smoothed per-side unigram LMs from one token table, per-token ln
    * ratio rounded 6 dp, per-doc exact-decimal sum of count × ratio —
    * consumed by the q124 listing and q129's weight derivation so both
    * oracles provably score identically.
    */
  private val sqlDsirCte =
    """tok AS (SELECT * FROM (SELECT doc_id, (lang = 'en') AS is_target,
      |      unnest(string_split(trim(text), ' ')) AS token FROM documents)
      |  WHERE len(token) > 0),
      |counts AS (SELECT token, count(*) AS n_raw,
      |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
      |  FROM tok GROUP BY token),
      |totals AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt,
      |    count(*) AS v
      |  FROM counts),
      |llr AS (SELECT token,
      |    round(ln((n_tgt + 1) / (t_tgt + v))
      |      - ln((n_raw + 1) / (t_raw + v)), 6) AS llr
      |  FROM counts CROSS JOIN totals),
      |dc AS (SELECT doc_id, token, count(*) AS c FROM tok
      |  GROUP BY doc_id, token),
      |dsir AS (SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_tokens,
      |    CAST(round(sum(CAST(dc.c * llr.llr AS DECIMAL(38,6))), 6)
      |      AS DOUBLE) AS dsir_logw
      |  FROM dc JOIN llr USING (token)
      |  GROUP BY dc.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Replays the composition: q116's md5 hex-threshold split → q56's
    // distinct-5-gram overlap of train vs the held-out union → per-source
    // rollup.
    "q130_split_leakage" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      AS h4,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |sp AS (SELECT doc_id, source,
         |    CASE WHEN h4 < 'cccc' THEN 'train'
         |         WHEN h4 < 'e666' THEN 'valid' ELSE 'test' END AS split,
         |    CASE WHEN len(toks) >= 5 THEN list_distinct($sqlShingles5)
         |         ELSE [] END AS sh
         |  FROM d),
         |bench AS (SELECT DISTINCT unnest(sh) AS ngram FROM sp
         |  WHERE split <> 'train'),
         |train AS (SELECT doc_id, source, sh FROM sp WHERE split = 'train'),
         |m AS (SELECT t.doc_id, count(*) AS n_shared
         |  FROM (SELECT doc_id, unnest(sh) AS ngram FROM train) t
         |  JOIN bench USING (ngram) GROUP BY t.doc_id)
         |SELECT tr.source, count(*) AS n_train,
         |  CAST(sum(CASE WHEN coalesce(m.n_shared, 0) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_leaky,
         |  CAST(sum(coalesce(m.n_shared, 0)) AS BIGINT) AS n_shared_5grams,
         |  round(CAST(sum(CASE WHEN coalesce(m.n_shared, 0) > 0
         |        THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS leak_rate
         |FROM train tr LEFT JOIN m ON tr.doc_id = m.doc_id
         |GROUP BY tr.source ORDER BY tr.source""".stripMargin,
    "q124_dsir_weights" ->
      s"""WITH $sqlDsirCte
         |SELECT doc_id, n_tokens, dsir_logw FROM dsir
         |ORDER BY doc_id""".stripMargin,
    // Replays E-S sampling over the DSIR weights: seeded md5 uniform in
    // (0, 1], key = ln(u)/w, top-k by key (the ln transform preserves
    // the u^(1/w) order).
    "q129_weighted_sample" ->
      s"""WITH $sqlDsirCte,
         |w AS (SELECT doc_id,
         |    exp(dsir_logw / n_tokens) AS w,
         |    (CAST(concat('0x', substring(
         |        md5('graft-ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) + 1) / 4294967297.0 AS u
         |  FROM dsir)
         |SELECT doc_id, round(w, 6) AS weight,
         |  round(ln(u) / w, 6) AS es_key
         |FROM w WHERE w > 0
         |ORDER BY round(ln(u) / w, 6) DESC, doc_id LIMIT 20""".stripMargin,
    "q122_training_manifest" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (
        |      ORDER BY md5('graft-order:' || CAST(doc_id AS VARCHAR)),
        |        doc_id) AS pos
        |  FROM documents)
        |SELECT doc_id, source, pos,
        |  CAST(floor((pos - 1) / 64) AS INT) AS shard
        |FROM r ORDER BY pos""".stripMargin,
    "q116_hash_split" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |    len(string_split(trim(text), ' ')) AS n_toks,
        |    substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |      AS h4
        |  FROM documents),
        |a AS (SELECT CASE WHEN h4 < 'cccc' THEN 'train'
        |      WHEN h4 < 'e666' THEN 'valid' ELSE 'test' END AS split,
        |    count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM h GROUP BY 1)
        |SELECT split, n_docs, n_tokens, n_chars,
        |  round(CAST(n_docs AS DOUBLE)
        |    / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS doc_share
        |FROM a ORDER BY split""".stripMargin,
    // Replays DoReMi: the shared q108 per-doc NLL CTE, source rollup via
    // DECIMAL(38,10), window totals, clipped excess, multiplicative
    // update with the DECIMAL(38,6) normalizer.
    "q131_doremi_weights" ->
      s"""WITH ${SearchOps.sqlPerDocNllCte},
         |s AS (SELECT d2.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(a.n_bigrams) AS BIGINT) AS n_bigrams,
         |    sum(CAST(a.n_bigrams * a.avg_logp AS DECIMAL(38,10)))
         |      AS sum_lp
         |  FROM a JOIN documents d2 ON a.doc_id = d2.doc_id
         |  GROUP BY d2.source),
         |t AS (SELECT *,
         |    round(-CAST(sum_lp AS DOUBLE) / n_bigrams, 6) AS nll,
         |    CAST(sum(n_bigrams) OVER () AS DOUBLE) AS nn,
         |    round(-CAST(sum(sum_lp) OVER () AS DOUBLE)
         |      / sum(n_bigrams) OVER (), 6) AS nll_c
         |  FROM s),
         |u AS (SELECT *,
         |    greatest(0e0, round(nll - nll_c, 6)) AS excess,
         |    round((n_bigrams / nn)
         |      * exp(greatest(0e0, round(nll - nll_c, 6))), 6) AS u
         |  FROM t)
         |SELECT source, n_docs, n_bigrams, nll, excess,
         |  round(n_bigrams / nn, 6) AS natural_share,
         |  round(u / CAST(sum(CAST(u AS DECIMAL(38,6))) OVER ()
         |    AS DOUBLE), 6) AS doremi_weight
         |FROM u ORDER BY source""".stripMargin,
    "q115_temperature_mix" ->
      """WITH b AS (SELECT source,
        |    CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |    round(pow(CAST(n_tokens AS DOUBLE), 0.3), 6) AS w FROM b),
        |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS nn,
        |    CAST(sum(CAST(w AS DECIMAL(38,10))) AS DOUBLE) AS wsum FROM w)
        |SELECT source, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / nn, 6) AS natural_share,
        |  round(w / wsum, 6) AS temp_share,
        |  round((w / wsum)
        |    / (CAST(n_tokens AS DOUBLE) / nn), 6) AS sample_factor,
        |  CAST(round((w / wsum) * nn, 0) AS BIGINT)
        |    AS expected_tokens
        |FROM w, t ORDER BY source""".stripMargin,
    // Replays the funnel stage by stage: q36's normalizer, q33's score
    // expression (raw components, rounded once), the q49 split, and the
    // independent sampling hash.
    "q100_curation_funnel" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |    string_split(trim(text), ' ') AS toks,
        |    len(string_split(trim(text), ' ')) AS n_toks
        |  FROM documents),
        |dd AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        |  FROM d) WHERE rn = 1),
        |q AS (SELECT * FROM dd WHERE
        |    round(0.4e0 * (len(list_distinct(toks)) / len(toks))
        |      + 0.3e0 * least((length(regexp_replace(text, ' ', '', 'g'))
        |          / len(toks)) / 10.0e0, 1.0e0)
        |      + 0.3e0 * (1.0e0 - len(regexp_extract_all(text,
        |          '[^a-zA-Z0-9 ]')) / len(toks)), 6) >= 0.45e0),
        |ev AS (SELECT DISTINCT norm FROM d
        |  WHERE ((doc_id % 100 + 100) % 100 * 48271 + 7) % 100 >= 90),
        |cl AS (SELECT * FROM q
        |  WHERE ((doc_id % 100 + 100) % 100 * 48271 + 7) % 100 < 90
        |    AND NOT EXISTS (SELECT 1 FROM ev WHERE ev.norm = q.norm)),
        |sm AS (SELECT * FROM cl
        |  WHERE ((doc_id % 100 + 100) % 100 * 9301 + 49297) % 100 < 50)
        |SELECT '0_raw' AS stage, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM d
        |UNION ALL SELECT '1_dedup', count(*),
        |  CAST(sum(n_toks) AS BIGINT) FROM dd
        |UNION ALL SELECT '2_quality', count(*),
        |  CAST(sum(n_toks) AS BIGINT) FROM q
        |UNION ALL SELECT '3_decontaminated', count(*),
        |  CAST(sum(n_toks) AS BIGINT) FROM cl
        |UNION ALL SELECT '4_sampled', count(*),
        |  CAST(sum(n_toks) AS BIGINT) FROM sm
        |ORDER BY stage""".stripMargin,
    // Replays the per-crawl funnel: the two-crawl + re-fetch fixture,
    // then the five gates — q33 score bar, anti-join freshness with
    // first-write-wins, the integer 2·novel ≥ shingles novelty cut,
    // benchmark-norm decontamination, and the q104-pattern PII gate.
    "q149_crawl_funnel" ->
      s"""WITH raw AS (SELECT doc_id, source, text FROM documents),
         |refetch AS (SELECT doc_id + 1000000000 AS doc_id, source, text
         |  FROM raw WHERE ((doc_id % 100 + 100) % 100 * 9301 + 11)
         |    % 100 < 5 AND doc_id <= 9223372035854775807),
         |inc0 AS (SELECT * FROM raw
         |    WHERE ((doc_id % 100 + 100) % 100 * 48271 + 23) % 100 >= 80
         |  UNION ALL SELECT * FROM refetch),
         |d0 AS (SELECT doc_id, source, text,
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
         |    string_split(trim(text), ' ') AS toks,
         |    len(string_split(trim(text), ' ')) AS n_toks
         |  FROM inc0),
         |ex AS (SELECT *,
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
         |    string_split(trim(text), ' ') AS toks FROM raw
         |  WHERE ((doc_id % 100 + 100) % 100 * 48271 + 23) % 100 < 80),
         |q AS (SELECT * FROM d0 WHERE
         |    round(0.4e0 * (len(list_distinct(toks)) / len(toks))
         |      + 0.3e0 * least((length(regexp_replace(text, ' ', '', 'g'))
         |          / len(toks)) / 10.0e0, 1.0e0)
         |      + 0.3e0 * (1.0e0 - len(regexp_extract_all(text,
         |          '[^a-zA-Z0-9 ]')) / len(toks)), 6)
         |      >= ${FunnelQualityBar}e0),
         |exn AS (SELECT DISTINCT norm FROM ex),
         |f AS (SELECT * FROM (SELECT q.*, row_number() OVER (
         |    PARTITION BY norm ORDER BY doc_id) AS rn FROM q
         |  WHERE NOT EXISTS (SELECT 1 FROM exn WHERE exn.norm = q.norm))
         |  WHERE rn = 1),
         |exsh AS (SELECT DISTINCT sh FROM (SELECT
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, len(toks) - 2),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         |    AS sh
         |  FROM ex WHERE len(toks) >= 3)),
         |fsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
         |  FROM f WHERE len(toks) >= 3),
         |nv AS (SELECT doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN e.sh IS NULL THEN 1 ELSE 0 END) AS n_novel
         |  FROM fsh LEFT JOIN exsh e USING (sh) GROUP BY doc_id),
         |n AS (SELECT f.* FROM f LEFT JOIN nv USING (doc_id)
         |  WHERE nv.doc_id IS NULL OR 2 * nv.n_novel >= nv.n_sh),
         |ev AS (SELECT DISTINCT
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM raw WHERE ((doc_id % 100 + 100) % 100 * 9301 + 49297)
         |    % 100 >= 90),
         |c AS (SELECT * FROM n WHERE NOT EXISTS
         |  (SELECT 1 FROM ev WHERE ev.norm = n.norm)),
         |r AS (SELECT * FROM c
         |  WHERE NOT (${ScrubOps.anyPiiSql("text")}))
         |SELECT * FROM (
         |  SELECT '0_arrived' AS stage, source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM d0
         |    GROUP BY source
         |  UNION ALL SELECT '1_quality', source, count(*),
         |    CAST(sum(n_toks) AS BIGINT) FROM q GROUP BY source
         |  UNION ALL SELECT '2_fresh', source, count(*),
         |    CAST(sum(n_toks) AS BIGINT) FROM f GROUP BY source
         |  UNION ALL SELECT '3_novel', source, count(*),
         |    CAST(sum(n_toks) AS BIGINT) FROM n GROUP BY source
         |  UNION ALL SELECT '4_decontaminated', source, count(*),
         |    CAST(sum(n_toks) AS BIGINT) FROM c GROUP BY source
         |  UNION ALL SELECT '5_released', source, count(*),
         |    CAST(sum(n_toks) AS BIGINT) FROM r GROUP BY source
         |) ORDER BY stage, source""".stripMargin,
    "q92_corpus_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id, text || ' (rev2)' AS text FROM documents
        |    WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |    WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |      'added doc ' || CAST(doc_id AS VARCHAR) FROM documents
        |    WHERE doc_id % 13 = 0),
        |j AS (SELECT a.text AS t1, b.text AS t2
        |  FROM documents a FULL JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN t1 IS NULL THEN 'added'
        |            WHEN t2 IS NULL THEN 'removed'
        |            WHEN t1 <> t2 THEN 'modified'
        |            ELSE 'unchanged' END AS status,
        |  count(*) AS n_docs
        |FROM j GROUP BY status ORDER BY status""".stripMargin,
    "q84_dataset_card" ->
      s"""WITH d AS (SELECT doc_id, source, lang, text,
         |    string_split(trim(text), ' ') AS toks FROM documents),
         |m AS (SELECT doc_id, source, lang, len(toks) AS n_tokens,
         |    len(list_distinct(toks)) / len(toks) AS distinct_ratio,
         |    length(regexp_replace(text, ' ', '', 'g')) / len(toks)
         |      AS avg_len,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
         |  FROM d),
         |sc AS (SELECT doc_id, source, lang, n_tokens,
         |    round(0.4e0 * distinct_ratio
         |      + 0.3e0 * least(avg_len / 10.0e0, 1.0e0)
         |      + 0.3e0 * (1.0e0 - n_punct / n_tokens), 6) AS score FROM m),
         |norms AS (SELECT doc_id,
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM documents),
         |dupn AS (SELECT norm, count(*) AS n_same FROM norms GROUP BY norm),
         |flags AS (SELECT n.doc_id, (dupn.n_same > 1) AS is_dup
         |  FROM norms n JOIN dupn USING (norm))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(CASE WHEN score >= 0.55e0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_good,
         |  ${graft.Tables.sqlDavg("score")} AS avg_quality,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    / count(*) AS dup_share
         |FROM sc JOIN flags USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q67_source_overlap" -> sqlQ67,
    "q65_substring_contamination" ->
      """WITH d AS (SELECT doc_id, source,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |p AS (SELECT doc_id AS eval_id,
        |  array_to_string((string_split(norm, ' '))[1:8], ' ') AS needle
        |  FROM d WHERE source = 'src9'
        |    AND len(string_split(norm, ' ')) >= 8),
        |h AS (SELECT p.eval_id, count(*) AS n_hits
        |  FROM p JOIN d ON d.source <> 'src9'
        |    AND contains(d.norm, p.needle)
        |  GROUP BY p.eval_id)
        |SELECT p.eval_id, p.needle,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_train_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM p LEFT JOIN h USING (eval_id) ORDER BY eval_id""".stripMargin,
    "q56_ngram_decontamination" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  string_split(trim(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, source,
         |  CASE WHEN len(toks) >= 5 THEN list_distinct($sqlShingles5)
         |       ELSE [] END AS sh FROM d),
         |bench AS (SELECT DISTINCT unnest(sh) AS ngram FROM sh
         |  WHERE source = 'src9'),
         |train AS (SELECT doc_id, source, len(sh) AS n_5grams, sh FROM sh
         |  WHERE source <> 'src9'),
         |m AS (SELECT t.doc_id, count(*) AS n_shared
         |  FROM (SELECT doc_id, unnest(sh) AS ngram FROM train) t
         |  JOIN bench USING (ngram) GROUP BY t.doc_id)
         |SELECT tr.doc_id, tr.source, tr.n_5grams,
         |  coalesce(m.n_shared, 0) AS n_shared_5grams,
         |  coalesce(m.n_shared, 0) > 0 AS contaminated
         |FROM train tr LEFT JOIN m ON tr.doc_id = m.doc_id
         |ORDER BY tr.doc_id""".stripMargin,
    "q57_embedding_quantization" ->
      s"""WITH st AS (SELECT i AS dim,
         |    min(CAST(e.embedding[i] AS DOUBLE)) AS mn,
         |    max(CAST(e.embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings e, generate_series(1, $Dim) AS g(i) GROUP BY i),
         |arrs AS (SELECT list(mn ORDER BY dim) AS mn_arr,
         |    list(mx ORDER BY dim) AS mx_arr FROM st),
         |q AS (SELECT vec_id, label,
         |  list_transform(generate_series(1, $Dim), i ->
         |    CASE WHEN mx_arr[i] > mn_arr[i] THEN
         |      CAST(round((CAST(embedding[i] AS DOUBLE) - mn_arr[i]) * 254
         |        / (mx_arr[i] - mn_arr[i])) AS INT) - 127
         |    ELSE 0 END) AS codes,
         |  embedding, mn_arr, mx_arr FROM embeddings, arrs),
         |er AS (SELECT vec_id, label, codes,
         |  list_transform(generate_series(1, $Dim), i ->
         |    CASE WHEN mx_arr[i] > mn_arr[i] THEN
         |      abs(CAST(embedding[i] AS DOUBLE)
         |        - (CAST(codes[i] + 127 AS DOUBLE)
         |           * (mx_arr[i] - mn_arr[i]) / 254 + mn_arr[i]))
         |    ELSE 0.0 END) AS errs FROM q)
         |SELECT vec_id, label,
         |  len(list_distinct(codes)) AS n_distinct_codes,
         |  round(list_max(errs), 9) AS max_abs_err,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(errs, e -> e * e)), (a, b) -> a + b) / $Dim, 12)
         |    AS mse
         |FROM er ORDER BY vec_id""".stripMargin,
    "q58_corpus_rebalance" ->
      """WITH d AS (SELECT doc_id, source,
        |  len(string_split(trim(text), ' ')) AS n_toks,
        |  CASE source WHEN 'src0' THEN 3.0 WHEN 'src3' THEN 2.5
        |              WHEN 'src7' THEN 0.5 ELSE 1.0 END AS f
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_toks,
        |  CAST(round(f * 100) AS BIGINT) // 100 +
        |    CASE WHEN ((doc_id % 100 + 100) % 100 * 48271 + 11) % 100
        |      < CAST(round(f * 100) AS BIGINT) % 100 THEN 1 ELSE 0 END
        |    AS replicas FROM d),
        |o AS (SELECT doc_id, source, n_toks,
        |  unnest(generate_series(1, replicas)) AS replica_idx
        |  FROM r WHERE replicas >= 1)
        |SELECT source, count(DISTINCT doc_id) AS n_docs_kept,
        |  count(*) AS n_docs_out,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens_out
        |FROM o GROUP BY source ORDER BY source""".stripMargin,
    "q60_dedup_canonical" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, lang,
        |  list_distinct(string_split(trim(text), ' ')) AS toks
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.toks, b.toks)) AS inter,
        |  len(a.toks) AS a_n, len(b.toks) AS b_n
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND len(a.toks) * 10 >= len(b.toks) * 9
        |    AND len(b.toks) * 10 >= len(a.toks) * 9),
        |pr AS (SELECT a_id, b_id FROM p
        |  WHERE inter / (a_n + b_n - inter) >= 0.9e0),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pr
        |  UNION ALL SELECT b_id, a_id FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
        |  FROM reach GROUP BY src),
        |sc AS (SELECT doc_id,
        |  round(0.4e0 * (len(list_distinct(toks)) / len(toks))
        |    + 0.3e0 * least(
        |        length(regexp_replace(text, ' ', '', 'g')) / len(toks) / 10.0e0,
        |        1.0e0)
        |    + 0.3e0 * (1.0e0 - len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
        |        / len(toks)), 6) AS score
        |  FROM (SELECT doc_id, text,
        |    string_split(trim(text), ' ') AS toks FROM documents)),
        |r AS (SELECT cl.rep, cl.doc_id, sc.score,
        |  row_number() OVER (PARTITION BY cl.rep
        |    ORDER BY sc.score DESC, cl.doc_id ASC) AS rn
        |  FROM cl JOIN sc USING (doc_id)),
        |m AS (SELECT rep, count(*) AS n_members FROM cl GROUP BY rep)
        |SELECT m.rep, m.n_members, r.doc_id AS kept_doc_id,
        |  r.score AS kept_score, m.n_members - 1 AS n_dropped
        |FROM m JOIN r ON m.rep = r.rep AND r.rn = 1
        |ORDER BY m.rep""".stripMargin,
    "q61_token_packing" ->
      """WITH d AS (SELECT doc_id, source,
        |  len(string_split(trim(text), ' ')) AS n_toks FROM documents),
        |c AS (SELECT doc_id, source, n_toks,
        |  sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        |SELECT source, CAST(floor((cum - n_toks) / 512) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM c GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin,
    "q62_delta_dedup" ->
      """WITH d AS (SELECT doc_id, source,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |  ((doc_id % 100 + 100) % 100 * 48271 + 23) % 100 < 80 AS existing FROM documents),
        |ex AS (SELECT DISTINCT norm FROM d WHERE existing),
        |inc AS (SELECT doc_id, source, norm FROM d WHERE NOT existing),
        |fr AS (SELECT * FROM inc
        |  WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.norm = inc.norm)),
        |i AS (SELECT source, count(*) AS n_incoming FROM inc GROUP BY source),
        |f AS (SELECT source, count(*) AS n_fresh,
        |  count(DISTINCT norm) AS n_new_unique FROM fr GROUP BY source)
        |SELECT i.source, i.n_incoming,
        |  i.n_incoming - coalesce(f.n_fresh, 0) AS n_dup_vs_existing,
        |  coalesce(f.n_new_unique, 0) AS n_new_unique,
        |  coalesce(f.n_fresh, 0) - coalesce(f.n_new_unique, 0)
        |    AS n_dup_within_batch
        |FROM i LEFT JOIN f ON i.source = f.source
        |ORDER BY i.source""".stripMargin,
    "q59_term_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(table|value|key)\b'))
        |    AS n_masked,
        |  length(text) AS len_before,
        |  length(regexp_replace(text, '\b(table|value|key)\b',
        |    '[MASKED]', 'g')) AS len_after,
        |  len(regexp_extract_all(text, '\b(table|value|key)\b')) = 0
        |    AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)
}
