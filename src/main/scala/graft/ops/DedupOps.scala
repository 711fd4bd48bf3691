package graft.ops

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core training-data-pipeline
  * capability set: exact (normalized-hash) dedup, exact n-gram Jaccard
  * near-dup pairs, and the two sub-quadratic scale paths (MinHash+LSH banding
  * and SimHash chunk blocking).
  *
  * Scale design: the exact-pair queries block on `lang` (dedup within
  * language — the realistic corpus partitioning), bounding the quadratic
  * term; the LSH/SimHash paths never form the full cross product at all —
  * candidates come from shuffling on (band, signature) keys, so cost tracks
  * the true duplicate density rather than n².
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private[graft] val normText: Column =
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  /** Exact dedup summary after whitespace/case normalization.
    * `docsDf` needs a `text` column (the `On` variants form the
    * DataFrame-in/DataFrame-out library API; the `(session, dir)` twins are
    * the testdata-bound query catalog).
    */
  def exactDedupOn(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("norm", normText)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("norm")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("norm"))).as("n_dupes"))

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    exactDedupOn(docs(s, dir))

  /** Tokenized docs + the ≤65-token vocabulary probe that drives the plan
    * dispatch (shared by q37 and q46 so both branch identically).
    */
  private def tokenizedDocs(docsDf: DataFrame): (DataFrame, Array[String]) =
    (tokenizedFrame(docsDf),
      Tables.boundedCollect(
        tokenizedFrame(docsDf).select(explode(col("toks")).as("tok"))
          .distinct().orderBy("tok").limit(65),
        65, "vocabulary dispatch probe").map(_.getString(0)))

  /** The tokenized frame WITHOUT the ≤65-token vocabulary probe — for
    * callers already committed to the general-vocab prefix plan (the
    * dup-dense clustering arm), where running the probe job only to
    * discard its result would cost a full corpus scan per call.
    */
  private def tokenizedFrame(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("lang"),
        array_distinct(Tables.tokens(col("text"))).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** Exact distinct-word Jaccard near-dup pairs (J ≥ 0.9), with a one-probe
    * cost-based plan choice (the kind of stats-driven dispatch a real engine
    * makes at optimize time):
    *
    *  - **small vocabulary** (≤ 64 distinct tokens corpus-wide — true of
    *    template-generated corpora like this testdata): dictionary-encode
    *    every token set as ONE 64-bit mask; Jaccard becomes two popcounts,
    *    so the within-language pair scan is a pure codegen'd bit-op loop
    *    (~100× cheaper per pair than array_intersect on string arrays).
    *  - **general vocabulary**: PPJoin-style prefix filtering — index only
    *    each doc's ⌊(1−t)·n⌋+1 globally-rarest tokens (prefix-filter
    *    theorem: J ≥ t ⇒ |A∩B| ≥ t·max(|A|,|B|), so a qualifying pair must
    *    share a prefix token under any common total order); candidates come
    *    from an equi-join on prefix tokens (shuffle sized by near-dup
    *    density, not n²), then are verified exactly.
    *
    * Ground truth for the approximate paths below; the DuckDB oracle
    * computes the identical pair set via the quadratic formulation (fine at
    * oracle scale).
    */
  /** `docsDf` needs (doc_id, lang, text).
    *
    * Default entry point is DENSITY-GATED (the executable form of the
    * "listing is Ω(output)" caveat), with a SCHEMA-STABLE contract: the
    * exact-duplicate pair floor Σ m·(m−1)/2 over RAW-text multiplicity
    * groups (the q93 diagnostic) bounds the listing from below; corpora
    * whose floor exceeds `maxListedPairs` would emit billions of
    * (a, b, 1.0) rows from the duplicate cliques alone, so the call FAILS
    * FAST with an error naming the floor and the two escapes — rather than
    * silently switching output shape under a consumer pointed at a growing
    * corpus. `fullPairs = true` skips the gate and forces the listing (the
    * caller accepts the output volume); [[dedupDecision]] is the bounded
    * (doc_id, rep) keep/drop entry point a dedup pass actually consumes.
    *
    * Gate evidence, cheapest first: caller-provided [[CorpusStats]] (no
    * job — the ANALYZE-once path), then a capped row count (a corpus of
    * n ≤ [[maxRowsListable]] rows cannot trip the floor at all, decided by
    * scanning at most n+1 rows of no columns), then the one-agg floor
    * probe as the last resort.
    */
  def jaccardPairsOn(docsDf: DataFrame, fullPairs: Boolean = false,
      maxListedPairs: Long = MaxListedPairs,
      stats: Option[CorpusStats] = None): DataFrame = {
    if (!fullPairs)
      requirePairFloorBelow(docsDf, maxListedPairs, stats, "jaccardPairsOn")
    val (d, vocab) = tokenizedDocs(docsDf)
    // presentation sort lives HERE, not in the miners: the clustering /
    // decision arms consume the listings as edge sets, where a global
    // sort is a pure wasted range shuffle (editPairsList's convention)
    (if (vocab.length <= 64) jaccardPairsMask(d, vocab)
     else jaccardPairsPrefix(d)).orderBy("a_id", "b_id")
  }

  /** Catalog binding: `fullPairs = true` pins the oracle-checked listing
    * unconditionally (the registered DuckDB SQL always computes the
    * listing, so the catalog entry must too) — and skips the gate probe,
    * so the catalog pays zero dispatch overhead per invocation.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsOn(docs(s, dir), fullPairs = true)

  /** Listed pair counts above this (by the exact-dup floor probe) leave
    * the Ω(output) pair listing for the cluster→canonical decision. Both
    * harness scales sit far below it (sf0.01: 0, sf0.1: 8 — the corpus is
    * near-unique), so the oracle-checked arm is the listing; the 100×
    * dup-dense sweep (~25M floor) dispatches.
    */
  private[ops] val MaxListedPairs = 2L * 1000 * 1000

  /** The duplicate-density probe: Σ m·(m−1)/2 over RAW-text multiplicity
    * groups — a lower bound on any near-dup pair listing (byte-equal
    * texts have identical token streams, so they pair at every threshold;
    * a normalized key would count case-variant pairs the listings might
    * not emit). One hash aggregation over text hashes; the driver receives
    * a single long. Grouping on xxhash64 means a 64-bit collision between
    * distinct texts merges their groups and OVERcounts the floor — so
    * "lower bound" holds modulo collisions; the value only drives a
    * dispatch threshold (never result rows), and an overcount only moves
    * work to the bounded arm.
    */
  private[ops] def estExactDupPairs(docsDf: DataFrame): Long =
    docsDf.select(xxhash64(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("p"))
      .head().getLong(0)

  /** Fraction of documents that are exact-text duplicates of another — the
    * q56-style dispatch probe. Uses approx_count_distinct, NOT exact
    * countDistinct: mixing an exact distinct with count(*) plans the
    * multi-distinct Expand (2× row replay through the probe's shuffle —
    * the q15 trap), while the HLL sketch aggregates in one plain pass;
    * a ±2% cardinality error cannot matter to a 0.5-fraction gate (and
    * the 64-bit hash input only biases the estimate, never correctness).
    */
  private[graft] def dupFraction(docsDf: DataFrame): Double = {
    val r = docsDf.agg(count(lit(1)).as("n"),
      approx_count_distinct(xxhash64(col("text")), 0.02).as("d")).head()
    if (r.getLong(0) == 0L) 0.0
    else 1.0 - r.getLong(1).toDouble / r.getLong(0)
  }

  /** Largest row count n whose COMPLETE pair listing n·(n−1)/2 still fits
    * in `maxListedPairs`. The exact-dup floor is bounded above by the full
    * listing, so a corpus at or below this many rows provably cannot trip
    * the density gate — the short-circuit that spares small corpora (the
    * oracle harness among them) the full-corpus floor probe.
    */
  private[graft] def maxRowsListable(maxListedPairs: Long): Long = {
    // past this, (n+1)·n/2 overflows Long before exceeding any threshold
    if (maxListedPairs >= Long.MaxValue / 2 - 1) return 3037000499L
    var n = ((1.0 + math.sqrt(1.0 + 8.0 * maxListedPairs.toDouble)) / 2.0)
      .toLong
    // the sqrt can land a few off at the far end of the double range; walk
    // to the exact integer boundary from either side
    while (n > 0 && n * (n - 1) / 2 > maxListedPairs) n -= 1
    while ((n + 1) * n / 2 <= maxListedPairs) n += 1
    n
  }

  /** Density-gate decision, cheapest evidence first: caller-provided stats
    * (no job), then a capped count (LocalLimit stops each scan task at
    * n_max + 1 rows of no columns), then the full floor probe. Returns the
    * floor when it exceeds `maxListedPairs`, None when the listing is safe.
    */
  private[graft] def pairFloorIfExceeds(docsDf: DataFrame, maxListedPairs: Long,
      stats: Option[CorpusStats]): Option[Long] = stats match {
    case Some(st) =>
      Some(st.exactDupPairFloor).filter(_ > maxListedPairs)
    case None =>
      val nMax = maxRowsListable(maxListedPairs)
      val cap = math.min(nMax, Int.MaxValue.toLong - 1L).toInt
      val counted = docsDf.select(lit(1)).limit(cap + 1).count()
      if (counted <= cap) None
      else Some(estExactDupPairs(docsDf)).filter(_ > maxListedPairs)
  }

  private def requirePairFloorBelow(docsDf: DataFrame, maxListedPairs: Long,
      stats: Option[CorpusStats], op: String): Unit =
    pairFloorIfExceeds(docsDf, maxListedPairs, stats).foreach { floor =>
      throw new IllegalArgumentException(
        s"$op: the corpus's exact-duplicate pair floor ($floor) exceeds " +
          s"maxListedPairs ($maxListedPairs) — the full pair listing is " +
          "output-bound by duplicate cliques alone. Pass fullPairs = true " +
          "to force the listing anyway, or call dedupDecision(...) for " +
          "the bounded (doc_id, rep) keep/drop decision.")
    }

  /** Per-document (doc_id, lang, mask): the token set dictionary-encoded
    * into one 64-bit mask. The vocab rides in as a typed array literal and
    * the mask fold uses Column-level functions — no SQL-text embedding, so
    * tokens containing quotes/backslashes/control characters need no
    * escaping at all.
    */
  private def maskedDocs(d: DataFrame, vocab: Array[String]): DataFrame = {
    val vocabLit = typedLit(vocab.toSeq)
    d.withColumn("mask",
        aggregate(col("toks"), lit(0L), (acc, t) =>
          acc.bitwiseOR(call_function("shiftleft", lit(1L),
            (call_function("array_position", vocabLit, t) - 1).cast("int")))))
      .select(col("doc_id"), col("lang"), col("mask"))
  }

  /** Distinct (lang, token-set-mask) groups, CONTRACTED to bounded-width
    * rows: representative (minimum member id) + member count. Membership
    * stays in the per-doc [[maskedDocs]] frame and is joined back lazily —
    * a pathological mask duplicated millions of times contributes one
    * (rep, n) row here, never a million-element array in a single row
    * (the round-3 `collect_list` would).
    */
  private def maskGroups(md: DataFrame): DataFrame =
    md.groupBy(col("lang"), col("mask"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))

  /** Qualifying group pairs (same-mask groups join themselves once, when
    * they have ≥ 2 members) with the group Jaccard.
    * Output: lang, a_mask, a_rep, b_mask, b_rep, jaccard.
    */
  private def maskGroupEdges(groups: DataFrame): DataFrame = {
    val a = groups.select(col("lang"), col("mask").as("a_mask"),
      col("rep").as("a_rep"), col("n").as("a_n"))
    val b = groups.select(col("lang").as("b_lang"), col("mask").as("b_mask"),
      col("rep").as("b_rep"))
    val inter = bit_count(col("a_mask").bitwiseAND(col("b_mask")))
    val uni = bit_count(col("a_mask").bitwiseOR(col("b_mask")))
    a.join(b, col("lang") === col("b_lang") &&
        col("a_mask") <= col("b_mask") && inter * 10 >= uni * 9)
      .filter(col("a_mask") < col("b_mask") || col("a_n") >= 2)
      .select(col("lang"), col("a_mask"), col("a_rep"), col("b_mask"),
        col("b_rep"), round(inter.cast("double") / uni, 6).as("jaccard"))
  }

  /** Small-vocab plan: token set → 64-bit mask, Jaccard via popcounts.
    * `10·inter ≥ 9·union` is the exact integer form of J ≥ 0.9 (and agrees
    * bit-for-bit with the oracle's double compare: for denominators ≤ 64
    * the only boundary fraction is 9/10, whose IEEE quotient equals the
    * 0.9 literal exactly).
    *
    * The pair scan runs over DISTINCT (lang, mask) groups, not documents —
    * a ≤64-token vocabulary admits at most 2^|V| distinct token sets, and
    * dense corpora collapse far below that, so the quadratic term is M²
    * over distinct sets while everything per-document stays linear.
    * Same-mask groups short-circuit as J = 1 exactly.
    *
    * Expansion from group edges to document pairs is JOIN-based: the edge
    * table joins back to the per-doc mask frame on (lang, mask) for each
    * side. Row width stays constant however dense a mask group is (no
    * membership arrays anywhere), and the output-bound work distributes
    * across tasks keyed by (lang, mask) instead of |lang|-way or
    * one-giant-row-per-group-pair.
    */
  private def jaccardPairsMask(d: DataFrame, vocab: Array[String]): DataFrame = {
    // pin (r15): this one plan consumes md FIVE times (the
    // group-edge contraction plus xs/ys on both the cross and same-mask
    // branches) — without truncation each consumer re-runs tokenize +
    // mask-encode (+ the q101 arm's contraction join upstream).
    // dedupClustersOn already pins its own mask frame for exactly this
    // reason; the listing/decision path now matches it.
    val md = Tables.pin(maskedDocs(d, vocab))
    val edges = maskGroupEdges(maskGroups(md))
    val xs = md.select(col("lang").as("x_lang"), col("mask").as("x_mask"),
      col("doc_id").as("x_id"))
    val ys = md.select(col("lang").as("y_lang"), col("mask").as("y_mask"),
      col("doc_id").as("y_id"))
    // pairs across two groups: cross of the two memberships, ordered per
    // pair; pairs within a group (same token set, J = 1): ordered
    // combinations via the id inequality in the second join
    val cross = edges.filter(col("a_mask") < col("b_mask"))
      .join(xs, col("lang") === col("x_lang") && col("a_mask") === col("x_mask"))
      .join(ys, col("lang") === col("y_lang") && col("b_mask") === col("y_mask"))
      .select(col("lang"), least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("jaccard"))
    val same = edges.filter(col("a_mask") === col("b_mask"))
      .join(xs, col("lang") === col("x_lang") && col("a_mask") === col("x_mask"))
      .join(ys, col("lang") === col("y_lang") &&
        col("a_mask") === col("y_mask") && col("x_id") < col("y_id"))
      .select(col("lang"), col("x_id").as("a_id"), col("y_id").as("b_id"),
        col("jaccard"))
    cross.unionAll(same)
  }

  /** General-vocab plan: prefix-filtered similarity join (PPJoin-lite) —
    * every stage is a linear scan or key shuffle; no per-language cross
    * product, so the plan survives a 1000× corpus.
    */
  private def jaccardPairsPrefix(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val expl = d.select(col("doc_id"), col("n_toks"),
      explode(col("toks")).as("tok"))
    val vocab = expl.groupBy("tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("doc_id").orderBy("freq", "tok")
    // NO broadcast hint on the frequency table: it is vocabulary-sized,
    // which on a general web corpus is unbounded (10^8 tokens = GBs) — a
    // forced broadcast would blow the driver/broadcast cap on exactly
    // the scale path this plan exists for. AQE broadcasts it anyway when
    // it is actually small; past that a shuffle join on tok is correct.
    val prefix = expl.join(vocab, "tok")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= floor(col("n_toks") * 0.1) + 1)
      .select(col("doc_id"), col("tok"))
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val fa = d.select(col("doc_id").as("a_id"), col("lang"),
      col("toks").as("a_toks"), col("n_toks").as("a_n"))
    val fb = d.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("toks").as("b_toks"), col("n_toks").as("b_n"))
    val inter = size(array_intersect(col("a_toks"), col("b_toks")))
    val jac = inter / (col("a_n") + col("b_n") - inter)
    cands.join(fa, "a_id").join(fb, "b_id")
      .filter(col("lang") === col("b_lang") &&
        col("a_n") * 10 >= col("b_n") * 9 &&
        col("b_n") * 10 >= col("a_n") * 9 &&
        jac >= 0.9)
      .select(col("lang"), col("a_id"), col("b_id"),
        round(jac, 6).as("jaccard"))
  }

  // ---- MinHash + LSH (sub-quadratic scale path) --------------------------

  // signature width (64 minhash values) lives in the kernel:
  // graft.functions.MinHashBandKeys.NumHashes
  private val Bands = 16
  private[ops] val P = graft.functions.MinHashBandKeys.Mod
  private[ops] val FB = graft.functions.MinHashBandKeys.FoldBase

  /** Engine-portable token fingerprint: polynomial rolling hash over the
    * token's Unicode code points mod 1e9+7 (the q34 scheme) — every product
    * stays < 2^63, so DuckDB re-derives identical values in the oracle.
    *
    * Two hardening steps beyond the plain rolling hash, both needed by the
    * SimHash consumer (per-bit votes want iid-looking bits):
    *  - the accumulator starts at a large per-base seed, not 0: an unseeded
    *    hash of a short token never exceeds p, leaving its high bits
    *    structurally zero;
    *  - the finish step squares mod p ((fp² + base) % p): a rolling hash
    *    does not avalanche, so tokens sharing a prefix differ by a SMALL
    *    additive delta (Δcp·baseᵏ, k near 0) and their bits correlate —
    *    squaring turns an additive delta into 2·fp·Δ mod p, pseudo-random.
    *    (Without these, q39's near-pair count inflated ~20×/~4×.)
    */
  private[ops] def tokFp(t: Column, base: Long, seed: Long): Column =
    aggregate(GraftFunctions.codePoints(t), lit(seed),
      (acc, c) => (acc * lit(base) + c) % lit(P),
      a => (a * a + lit(base)) % lit(P))

  /** doc_id, hashed shingle set (word 3-grams → mod-p longs), and the 16
    * per-band LSH keys derived from the 64-value minhash signature.
    *
    * Tokens are fingerprinted ONCE (the only per-character hash); shingle
    * hashes compose the three token fingerprints with a polynomial fold, and
    * the 64 minhash values are affine mod-p permutations of the shingle
    * hash — all arithmetic engine-portable, which is what lets the DuckDB
    * oracle replay the ENTIRE minhash+banding pipeline and hash-check q38.
    * Downstream verification runs on the hashed shingle sets (long arrays
    * intersect far faster than string arrays; a mod-p collision over this
    * corpus only perturbs a Jaccard estimate by one shingle).
    */
  private def signatures(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("toks", Tables.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") >= 3)
      .withColumn("tfs", transform(col("toks"), t =>
        tokFp(t, 31L, 987654321L)))
      .withColumn("shs", array_distinct(
        transform(sequence(lit(1), col("n_tokens") - 2), i =>
          (((element_at(col("tfs"), i) * lit(FB)
            + element_at(col("tfs"), i + 1)) % lit(P)) * lit(FB)
            + element_at(col("tfs"), i + 2)) % lit(P))))
      // native kernel: 64 affine-permutation minima folded to 16 band keys
      // in one primitive pass (graft.functions.MinHashBandKeys)
      .withColumn("bh",
        GraftFunctions.minhashBandKeys(col("shs"), Bands))
      .select("doc_id", "shs", "bh")
  }

  /** MinHash+LSH near-dup pairs: band the signature, shuffle on
    * (band, band-key), emit each candidate pair from its FIRST matching band
    * only (the earlier-band inequality check rides in the join condition, so
    * no distinct() shuffle over the candidate stream is ever needed), then
    * verify candidates with exact shingle Jaccard ≥ 0.8 behind a lossless
    * size-ratio band. No cross join anywhere.
    */
  /** `docsDf` needs (doc_id, text). The reused signature table is pinned
    * ([[Tables.pin]]).
    *
    * Density-GATED like [[jaccardPairsOn]] (same evidence ladder: stats →
    * capped count → floor probe): past `maxListedPairs` the call fails
    * fast naming the exact-dup pair floor and the escapes, because the
    * listing is Ω(output) from duplicate cliques alone. `fullPairs = true`
    * forces the listing; `dedupDecision(docsDf, method = "minhash")` is
    * the bounded (doc_id, rep) form — identical components to clustering
    * the full listing, because exact duplicates share shingle sets and
    * therefore band keys.
    */
  def minhashLshPairsOn(docsDf: DataFrame, fullPairs: Boolean = false,
      maxListedPairs: Long = MaxListedPairs,
      stats: Option[CorpusStats] = None): DataFrame = {
    if (!fullPairs)
      requirePairFloorBelow(docsDf, maxListedPairs, stats, "minhashLshPairsOn")
    minhashLshPairsList(docsDf).orderBy("a_id", "b_id")
  }

  /** First-match-band LSH candidate pairs (a_id < b_id) from a
    * [[signatures]] frame — each pair emitted from its FIRST matching band
    * only (the earlier-band inequality rides in the join condition, so no
    * distinct() shuffle over the candidate stream). Shared by the MinHash
    * listing (Jaccard confirm) and q112's screen arm (Levenshtein confirm).
    */
  private def lshCandidates(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("bh"),
      posexplode(col("bh")).as(Seq("band", "band_key")))
    val firstMatch = expr(
      "!exists(zip_with(slice(x.bh, 1, x.band), slice(y.bh, 1, x.band)," +
        " (p, q) -> p = q), m -> m)")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id") && firstMatch)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
  }

  private def minhashLshPairsList(docsDf: DataFrame): DataFrame = {
    val sigs = Tables.pin(signatures(docsDf))
    val cands = lshCandidates(sigs)
    val sa = sigs.select(col("doc_id").as("a_id"), col("shs").as("a_sh"),
      size(col("shs")).as("a_n"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("shs").as("b_sh"),
      size(col("shs")).as("b_n"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh")))
    val jac = inter / (col("a_n") + col("b_n") - inter)
    cands.join(sa, "a_id").join(sb, "b_id")
      .filter(col("a_n") * 5 >= col("b_n") * 4 &&
        col("b_n") * 5 >= col("a_n") * 4 && jac >= 0.8)
      .select(col("a_id"), col("b_id"), round(jac, 6).as("jaccard"))
  }

  /** Catalog binding: `fullPairs = true` — see [[jaccardPairs]]. */
  def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairsOn(docs(s, dir), fullPairs = true)

  // ---- Edit-distance near-dup (q112) --------------------------------------

  /** q112: edit-distance-confirmed near-dup pairs — `levenshtein ≤ maxDist`
    * over length-banded candidate blocks. Unlike the MinHash/SimHash
    * screens, the banding here is LOSSLESS, not probabilistic:
    * dist(a, b) ≥ |len(a) − len(b)|, so with band width ≥ maxDist any
    * qualifying pair sits at most one band apart. The probe side replicates
    * into its three adjacent bands (ONE equi-join key — the band offset
    * a−b ∈ {−1, 0, +1} picks exactly one matching copy, so each unordered
    * pair survives exactly once with no distinct() over candidates), and
    * every candidate is confirmed by the threshold-capped
    * `levenshtein(a, b, maxDist)` — O(maxDist·min(m,n)) per pair with a
    * banded DP, −1 past the cap, never the full O(m·n) table.
    *
    * Scale: the equi-join shuffles on the band id; the candidate term is
    * quadratic WITHIN a band (a length histogram decides the block sizes —
    * same hazard class as q41's signature blocks). Two gates keep the
    * defaults bounded, mirroring the q37/q41 contracts:
    *
    *   - density: like every pair listing, the output is Ω(floor) from
    *     exact-dup cliques alone (dist = 0 ≤ maxDist), so unless
    *     `fullPairs = true` the exact-dup floor gate rejects dup-dense
    *     corpora loudly and points at `dedupDecision(method = "edit")`,
    *     the O(corpus) keep/drop form;
    *   - band size: when the length histogram (one agg over `n_chars div
    *     band`, short-circuited by a capped count for small corpora) shows
    *     a band above `maxBandRows`, candidates route through the
    *     MinHash-LSH banding instead ([[lshCandidates]] — recall-bounded
    *     like q38: word-shingle screen, so sub-word edits that shred every
    *     shingle can escape it; shuffle on band keys, no quadratic term)
    *     with the same capped-Levenshtein confirm. `screen = true` forces
    *     that arm, `exact = true` forces the lossless banded arm and skips
    *     the histogram probe. DedupSpec pins the arms equal on
    *     word-level-edit corpora either side of the gate.
    */
  def editPairsOn(docsDf: DataFrame, maxDist: Int = 10, band: Int = 16,
      screen: Boolean = false, exact: Boolean = false,
      fullPairs: Boolean = false, maxListedPairs: Long = MaxListedPairs,
      maxBandRows: Int = 4096,
      stats: Option[CorpusStats] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(band >= math.max(maxDist, 1),
      s"band width $band < maxDist $maxDist would split qualifying pairs " +
        "more than one band apart (dist >= |len diff| makes band >= " +
        "maxDist lossless)")
    require(!(screen && exact), "screen and exact are mutually exclusive")
    val d0 =
      if (docsDf.columns.contains("n_chars")) docsDf
      else docsDf.withColumn("n_chars", length(col("text")).cast("long"))
    if (!fullPairs) requirePairFloorBelow(d0, maxListedPairs, stats,
      "editPairsOn")
    val useScreen = screen ||
      (!exact && maxBandSizeExceeds(d0, band, maxBandRows))
    editPairsList(d0, maxDist, band, useScreen).orderBy("a_id", "b_id")
  }

  /** True iff some `n_chars div band` length band holds more than
    * `maxBandRows` documents. A capped count (LocalLimit — each scan task
    * stops at maxBandRows + 1 projected-empty rows) spares corpora that
    * cannot possibly exceed it the histogram aggregation.
    */
  private def maxBandSizeExceeds(d0: DataFrame, band: Int,
      maxBandRows: Int): Boolean = {
    val counted = d0.select(lit(1)).limit(maxBandRows + 1).count()
    counted > maxBandRows && {
      d0.select(expr(s"n_chars div $band").as("bkey"))
        .groupBy("bkey").agg(count(lit(1)).as("m"))
        .agg(coalesce(max("m"), lit(0L))).head().getLong(0) > maxBandRows
    }
  }

  /** The confirm pipeline shared by both arms (no output sort — the
    * catalog wrapper sorts, [[dedupDecision]]'s miner doesn't need to).
    * Candidates pass three filters of increasing cost: the length bound
    * (O(1)), the counting-filter bound `graft_edit_lb` (O(len) histogram
    * L1 — prunes similar-length-but-unrelated texts, the bulk of any
    * length-blocked candidate set), and only then the O(maxDist·len)
    * banded-DP `levenshtein` confirm.
    */
  private def editPairsList(d0: DataFrame, maxDist: Int, band: Int,
      screen: Boolean): DataFrame = {
    // r16 (guide §1.2 "per-task work"): the counting-filter bound used to
    // run as graft_edit_lb(ta, tb) — re-walking BOTH texts' code points
    // per candidate pair (the join's dominant term: ~5·10⁵ length-passing
    // pairs × ~600 code points at sf0.1). Hoist the O(len) half out of
    // the pair loop: one 32-bin histogram per DOCUMENT (graft_edit_hist,
    // +128 B/row through the join), and the per-pair bound becomes the
    // O(32) graft_hist_lb over the precomputed columns — value-identical
    // to edit_lb by construction (FunctionsSpec pins the identity), so
    // the surviving pair set and every dist are unchanged.
    val dh = d0.withColumn("hist",
      GraftFunctions.editHist(col("text")))
    val confirmed =
      if (screen) {
        val cands = lshCandidates(signatures(d0))
        val ta = dh.select(col("doc_id").as("a_id"),
          col("text").as("ta"), col("n_chars").as("ca"),
          col("hist").as("ha"))
        val tb = dh.select(col("doc_id").as("b_id"),
          col("text").as("tb"), col("n_chars").as("cb"),
          col("hist").as("hb"))
        cands.join(ta, "a_id").join(tb, "b_id")
      } else {
        val d = dh.select(col("doc_id"), col("text"), col("n_chars"),
          col("hist"), expr(s"n_chars div $band").as("bkey"))
        val left = d.select(col("doc_id").as("a_id"), col("text").as("ta"),
          col("n_chars").as("ca"), col("hist").as("ha"),
          col("bkey").as("key"))
        val probe = d.select(col("doc_id").as("b_id"), col("text").as("tb"),
          col("n_chars").as("cb"), col("hist").as("hb"),
          explode(array(col("bkey") - 1, col("bkey"), col("bkey") + 1))
            .as("key"))
        left.join(probe, "key").filter(col("a_id") < col("b_id"))
      }
    confirmed
      .filter(abs(col("ca") - col("cb")) <= maxDist)
      .filter(GraftFunctions.histLb(col("ha"), col("hb")) <= maxDist)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
  }

  /** Catalog binding: `fullPairs = true`, `exact = true` — the
    * oracle-checked lossless banded listing, pinned shape (see
    * [[jaccardPairs]] for the family convention).
    */
  def editPairs(s: SparkSession, dir: String): DataFrame =
    editPairsOn(docs(s, dir), fullPairs = true, exact = true)

  // ---- SimHash (Hamming-space scale path) ---------------------------------

  /** SimHash over distinct tokens: per-bit vote from each token's 61-bit
    * portable hash, packed to a long via a bit fold.
    *
    * The token hash pairs two independent mod-p rolling fingerprints
    * (bases 31 and 37): h = fp31·2^31 + fp37 — ~61 well-spread bits from
    * arithmetic DuckDB reproduces exactly, so the q39 oracle re-derives the
    * identical simhash (bits 61-63 are structurally 0 for every document,
    * which cancels in every Hamming distance).
    */
  private def simhashed(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("toks", array_distinct(Tables.tokens(col("text"))))
      // Fingerprint each token once; the 64-bit vote/pack loop is a native
      // kernel (graft.functions.SimHash64) — primitive arrays, no boxed
      // intermediate vote vectors.
      .withColumn("tok_h", transform(col("toks"), t =>
        tokFp(t, 31L, 987654321L) * lit(2147483648L)
          + tokFp(t, 37L, 123456789L)))
      .withColumn("simhash", GraftFunctions.simhash64(col("tok_h")))
      .select("doc_id", "lang", "simhash")
  }

  /** SimHash near-dup pairs: block on 4×16-bit signature chunks (pigeonhole:
    * any pair within Hamming distance 3 shares at least one exact chunk),
    * verify candidates with bit_count(xor) ≤ 3. Each pair is emitted from
    * its FIRST shared chunk only — the earlier-chunk inequality check rides
    * in the join condition, so the verification happens inside the join and
    * no distinct() shuffle over candidates is needed.
    */
  /** `docsDf` needs (doc_id, lang, text). The reused simhash table is
    * pinned ([[Tables.pin]]).
    *
    * Density-GATED like [[jaccardPairsOn]]/[[minhashLshPairsOn]] (same
    * evidence ladder): past `maxListedPairs` the call fails fast naming
    * the floor and the escapes. `fullPairs = true` forces the listing;
    * `dedupDecision(docsDf, method = "simhash")` is the bounded
    * (doc_id, rep) form — identical texts hash to identical simhashes
    * (Hamming 0, same chunks), so contracting exact duplicates before
    * mining preserves the component structure exactly.
    */
  def simhashPairsOn(docsDf: DataFrame, fullPairs: Boolean = false,
      maxListedPairs: Long = MaxListedPairs,
      stats: Option[CorpusStats] = None): DataFrame = {
    if (!fullPairs)
      requirePairFloorBelow(docsDf, maxListedPairs, stats, "simhashPairsOn")
    simhashPairsList(docsDf).orderBy("a_id", "b_id")
  }

  private def simhashPairsList(docsDf: DataFrame): DataFrame = {
    val sh = Tables.pin(simhashed(docsDf))
    val chunked = HammingBands.chunked(sh, "doc_id", "simhash")
    HammingBands.pairs(chunked, chunked, "simhash", HammingBands.MaxHamming,
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
  }

  /** Catalog binding: `fullPairs = true` — see [[jaccardPairs]]. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsOn(docs(s, dir), fullPairs = true)

  /** The schema-stable dedup DECISION — the documented entry point for a
    * consumer pointed at a growing corpus: ALWAYS returns (doc_id, rep),
    * one row per document (singletons label themselves), rep = component
    * minimum — q60-consumable directly, at any duplicate density. The pair
    * listings ([[jaccardPairsOn]] etc.) stay gated validation surfaces;
    * this is the production form whose output is O(corpus), never
    * Ω(pairs).
    *
    * `method` picks the near-dup pair miner that defines the edges:
    * "jaccard" (exact token-set Jaccard ≥ 0.9, mask or prefix plan by
    * vocab size, per-language), "minhash" (MinHash+LSH verified shingle
    * Jaccard ≥ 0.8), "simhash" (Hamming ≤ 3), "edit" (capped Levenshtein
    * ≤ 10 over length bands, LSH-screened past the band-size gate —
    * mining runs over the contracted distinct texts, so the exact-dup
    * cliques that make the q112 listing Ω(pairs) cost one membership join
    * here), "winnow" (≥ `TextOps.WinnowMinShared` shared df-pruned
    * winnowing fingerprints — the q121 MOSS miner as a decision arm;
    * guaranteed to link any pair sharing a run of ≥ w+k-1 tokens whose
    * fingerprints survive the df prune). Every arm contracts exact
    * duplicates first — on a dup-dense corpus mining runs over the small
    * distinct fraction; on a near-unique corpus the contraction is one
    * extra hash aggregation, the flat cost of density-independence. The
    * jaccard arm's contraction key includes lang (its miners only pair
    * within a language, so cross-language identical texts must not
    * force-merge — the 872a352 invariant); minhash/simhash mine over raw
    * text alone and use the raw-text key.
    */
  def dedupDecision(docsDf: DataFrame,
      method: String = "jaccard"): DataFrame = method match {
    case "jaccard" =>
      contractedClusters(docsDf, dd => {
        val (d, vocab) = tokenizedDocs(dd)
        (if (vocab.length <= 64) jaccardPairsMask(d, vocab)
         else jaccardPairsPrefix(d)).select(col("a_id"), col("b_id"))
      }, groupKey = jaccardGroupKey)
    case "minhash" =>
      contractedClusters(docsDf,
        dd => minhashLshPairsList(dd).select(col("a_id"), col("b_id")))
    case "simhash" =>
      contractedClusters(docsDf,
        dd => simhashPairsList(dd).select(col("a_id"), col("b_id")))
    case "edit" =>
      contractedClusters(docsDf, dd => {
        val d0 =
          if (dd.columns.contains("n_chars")) dd
          else dd.withColumn("n_chars", length(col("text")).cast("long"))
        editPairsList(d0, maxDist = 10, band = 16,
            screen = maxBandSizeExceeds(d0, band = 16, maxBandRows = 4096))
          .select(col("a_id"), col("b_id"))
      })
    case "winnow" =>
      // edges = rep pairs sharing ≥ WinnowMinShared df-pruned winnowing
      // fingerprints (the q121 miner, un-cut) — local-edit-robust
      // near-dup clustering over the ~2/(w+1)-sampled shingle stream;
      // exact-dup cliques are contracted away before the pair join like
      // every arm, so the fp-keyed join's ≤ maxDf² per-key bound is the
      // only pair volume
      contractedClusters(docsDf,
        dd => TextOps.winnowEdgesOn(dd).select(col("a_id"), col("b_id")))
    case other => throw new IllegalArgumentException(
      s"dedupDecision: unknown method '$other' " +
        "(expected jaccard | minhash | simhash | edit | winnow)")
  }

  /** The dense-corpus arm shared by the q37/q38/q39 dispatch: contract
    * exact duplicates (group key → min-id representative), mine near-dup
    * pair EDGES over the distinct representatives only with `minePairs`
    * (a listing function returning a_id/b_id columns), run connected
    * components over representatives, and expand labels back through the
    * membership join. Every document gets a row — singleton reps label
    * themselves — so the output is the complete keep/drop decision
    * (doc_id, rep), q60-consumable directly.
    *
    * `groupKey` defaults to md5 of the RAW text — deliberately NOT the
    * normalized text: the pair miners hash the raw token stream, so a
    * normalized key would force-merge case/whitespace variants the full
    * listing never pairs (breaking arm equality). Under-contraction is
    * always safe — two groups whose raw texts differ but whose token
    * streams coincide still merge through the mined rep pair. Callers
    * whose miner blocks on extra columns (q46's per-lang Jaccard) pass a
    * composite key so cross-block identical texts are never merged.
    *
    * Scale shape: the contraction is one hash aggregation; the mining runs
    * over |distinct texts| documents (on a duplicate-dense corpus that is
    * the small fraction); CC is the bounded pointer-jumping loop; the
    * expansion is one key equi-join. Nothing is ever quadratic in
    * duplicate multiplicity. The key is 128-bit (md5): membership rides on
    * key equality, and a 64-bit key at 10^11 documents would expect
    * hundreds of colliding pairs — each one silently merging two unrelated
    * clusters; 2^-128 per pair never fires.
    */
  /** Null-safe exact-text group key: md5(NULL) is NULL, and a NULL key
    * survives the groupBy but never matches itself in the members join —
    * silently DROPPING every null-text document from the output. The
    * empty-string sentinel cannot collide with a real digest (md5 hex is
    * always 32 chars), and it keeps groupBy's own convention: all
    * null-text rows form one exact-duplicate group.
    */
  private def nullSafeTextKey: Column =
    coalesce(md5(col("text")), lit(""))

  /** The jaccard-arm contraction key: (lang, raw-text digest), with a
    * NULL-lang row keyed to ITSELF (doc_id tiebreak) — the per-language
    * miners join on `lang === b_lang` (null-falsy) and the q46/q101
    * oracle on `a.lang = b.lang`, so identical NULL-lang texts pair in
    * NEITHER arm; grouping them in the contraction would force-merge
    * what no miner ever links (the 872a352 cross-block invariant,
    * extended to the null block).
    */
  private def jaccardGroupKey: Column =
    struct(coalesce(col("lang"), lit("\u0000")),
      when(col("lang").isNull,
        concat(lit("\u0000id:"), col("doc_id").cast("string")))
        .otherwise(nullSafeTextKey))

  private def contractedClusters(docsDf: DataFrame,
      minePairs: DataFrame => DataFrame,
      groupKey: Column = nullSafeTextKey): DataFrame = {
    val withKey = docsDf.withColumn("__nh", groupKey)
    val groups = Tables.pin(
      withKey.groupBy(col("__nh")).agg(min(col("doc_id")).as("rep_id")))
    val reps = docsDf.join(groups.select(col("rep_id").as("doc_id")),
      Seq("doc_id"))
    // pin the mined edge set ONCE, before the probe: the probe and
    // the past-cap CC loop both consume it, and without the pin
    // the most expensive path (past DriverCcMaxEdges) would re-execute
    // the entire mining — candidate join plus verification — a second
    // time for the bidirectional frame
    val edges = Tables.pin(minePairs(reps)
      .select(col("a_id").as("src"), col("b_id").as("dst")))
    val members = withKey.join(groups, Seq("__nh"))
    // One probe job fetches the mined rep-pair edge set up to the driver
    // cap. Zero edges (every rep its own component — the common case on a
    // corpus whose near-dups are all EXACT dups): rep_id is already the
    // final label, no CC at all. Within the cap: driver union-find +
    // broadcast label join — no iterative loop, no data-sized identity
    // join. Past the cap: the distributed pointer-jumping loop over the
    // pinned edge frame, the 100 TB arm.
    val (srcs, dsts) = edgesUpToCap(edges)
    val out =
      if (srcs.isEmpty)
        members.select(col("doc_id"), col("rep_id").as("rep"))
      else if (srcs.length <= DriverCcMaxEdges)
        members
          .join(broadcast(unionFindLabels(docsDf.sparkSession, srcs, dsts)
            .withColumnRenamed("id", "rep_id")), Seq("rep_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_uf_rep"), col("rep_id")).as("rep"))
      else {
        // past the cap: go straight to the distributed loop — calling
        // connectedComponents here would re-run the cap probe (a second
        // multi-million-row driver job) and re-pin an already pinned
        // frame, both on precisely the most expensive path
        val nodes = groups.select(col("rep_id").as("id"))
        // edges is already pinned — the union reads its blocks, no
        // re-mining and no second pin of the same data
        val bidir = edges.union(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val cc = connectedComponentsLoop(nodes, bidir)
        members
          .join(cc.select(col("id").as("rep_id"), col("rep")), Seq("rep_id"))
          .select(col("doc_id"), col("rep"))
      }
    out.orderBy("doc_id")
  }

  /** Near-dup clustering: connected components over the exact Jaccard pair
    * graph (q37), each document labeled with its component representative
    * (minimum doc_id) — the step that turns pair mining into an actual
    * keep-one dedup decision.
    *
    * Iterative min-label propagation on DataFrames: every round each node
    * takes the min of its own label and its neighbors' labels; a driver-side
    * convergence check (labels changed == 0) ends the loop. Similarity
    * graphs are clique-dense, so convergence is 1–2 rounds; each round is
    * one shuffle join sized by the edge list (the Hash-to-Min pattern —
    * this is how components are computed at 100 TB, no driver-side graph).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // catalog binding shares the per-directory memoized stats: the dense-
    // branch gate reads a cached single row instead of probing the corpus
    dedupClustersOn(docs(s, dir), stats = Some(CorpusStats.forDir(s, dir)))

  /** `docsDf` needs (doc_id, lang, text). The reused frames and the
    * iterative CC rounds are pinned ([[Tables.pin]]): executor-local
    * blocks, or reliable checkpoints — the 100 TB production mode, where
    * surviving executor loss matters more than the write cost — when the
    * SparkContext has a checkpoint dir.
    *
    * `stats`: optional pre-computed [[CorpusStats]] for the general-vocab
    * dense-branch gate (same evidence ladder as [[jaccardPairsOn]]:
    * stats → capped count → floor probe), so an ANALYZEd corpus never
    * pays a per-call probe job.
    */
  def dedupClustersOn(docsDf: DataFrame,
      stats: Option[CorpusStats] = None): DataFrame = {
    val (d, vocab) = tokenizedDocs(docsDf)
    if (vocab.length <= 64) {
      // contract before CC: all members of one (lang, mask) group are
      // mutually J=1 connected, so the component structure lives entirely
      // on the GROUP graph (one node per distinct token set, node id = min
      // member). CC runs over thousands of supernodes instead of the
      // expanded doc-pair graph; labels then expand to members through a
      // (lang, mask) join against the per-doc frame — bounded row width,
      // no membership arrays (see maskGroups).
      val md = Tables.pin(maskedDocs(d, vocab))
      val groups = maskGroups(md)
      val ge = Tables.pin(maskGroupEdges(groups)
        .select(col("a_mask"), col("b_mask"),
          col("a_rep").as("a0"), col("b_rep").as("b0")))
      val nodes = ge.select(col("a0").as("id"))
        .union(ge.select(col("b0").as("id"))).distinct()
      val edgesU = ge.filter(col("a_mask") < col("b_mask"))
        .select(col("a0").as("src"), col("b0").as("dst"))
      val cc = connectedComponents(nodes, edgesU)
      md.join(groups.select(col("lang"), col("mask"), col("rep").as("id")),
          Seq("lang", "mask"))
        .join(cc, "id")
        .select(col("doc_id"), col("rep"))
        .orderBy("doc_id")
    } else if (pairFloorIfExceeds(docsDf, MaxListedPairs, stats).isDefined) {
      // dup-dense general-vocab corpus: the prefix candidate join is
      // quadratic in duplicate multiplicity (every copy of a hot text
      // joins every copy of its neighbors), so contract exact duplicates
      // first and prefix-mine over the DISTINCT texts only — identical
      // token sets have identical Jaccard relations, so components over
      // (rep pairs ∪ exact-dup groups) equal components over all pairs.
      // Gate = the same pair floor jaccardPairsOn dispatches on (the floor
      // measures the quadratic term directly; a dup FRACTION gate would
      // miss a corpus whose duplicates concentrate in few huge groups).
      // The group key includes lang: the prefix miner only pairs within a
      // language, so cross-language identical texts must stay separate
      // groups (they merge in neither arm). The ≥2-document filter
      // restores q46's exact semantics (only docs that participate in at
      // least one qualifying pair appear).
      val all = contractedClusters(docsDf,
        // tokenizedFrame, not tokenizedDocs: this arm is committed to
        // the prefix plan, so the ≤65-token vocab probe (a full corpus
        // job) would run only to be discarded
        dd => jaccardPairsPrefix(tokenizedFrame(dd))
          .select(col("a_id"), col("b_id")),
        groupKey = jaccardGroupKey)
      val paired = all.groupBy("rep").agg(count(lit(1)).as("_cn"))
        .filter(col("_cn") >= 2).select("rep")
      all.join(paired, "rep")
        .select(col("doc_id"), col("rep"))
        .orderBy("doc_id")
    } else {
      val pairs =
        Tables.pin(jaccardPairsPrefix(d).select(col("a_id"), col("b_id")))
      val nodes = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id"))).distinct()
      connectedComponents(nodes,
        pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }
  }

  /** Undirected-edge-row cap for the driver union-find arm: 4M rows ≈
    * 64 MB of long pairs — a bounded metadata hop in the fingerprint-store
    * / centroid-collect class, NOT a data collect. Above it the
    * distributed pointer-jumping loop runs.
    */
  private[graft] val DriverCcMaxEdges: Int = 4 << 20

  /** Probe an undirected edge frame with ONE job: up to cap+1 edges,
    * returned as two PRIMITIVE long arrays. A result within the cap is
    * the whole edge set (drives the union-find arm, or the zero-edge
    * short-circuit); cap+1 edges means "too big, use the distributed
    * loop". Fusing the emptiness test, the size gate and the edge collect
    * into one action matters because at catalog scale the clustering cost
    * is dominated by the NUMBER of sequential driver-blocking jobs, not
    * by data volume.
    *
    * Executors pack each partition's edges into a primitive array BEFORE
    * the collect, so the driver never materializes millions of Row / boxed
    * objects — at the 4M cap the resident footprint is the stated
    * 2 × 32 MB of longs, not the ~10× a Row-array collect would cost.
    */
  private def edgesUpToCap(
      undirected: DataFrame): (Array[Long], Array[Long]) = {
    val sess = undirected.sparkSession
    import sess.implicits._
    // the row count here is ONE PACKED CHUNK PER PARTITION of an input
    // already cut at DriverCcMaxEdges + 1 — the edge volume is bounded by
    // that limit, the chunk count by the partition count; the cap only
    // backstops a pathological repartitioning
    val chunks = Tables.boundedCollect(undirected
      .select(col("src").cast("long"), col("dst").cast("long"))
      .limit(DriverCcMaxEdges + 1)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { e => buf += e._1; buf += e._2 }
        Iterator.single(buf.result())
      }, 65536, "cc edge chunks (one per partition)")
    val n = chunks.iterator.map(_.length / 2).sum
    val srcs = new Array[Long](n)
    val dsts = new Array[Long](n)
    var o = 0
    chunks.foreach { c =>
      var i = 0
      while (i < c.length) { srcs(o) = c(i); dsts(o) = c(i + 1); o += 1
        i += 2 }
    }
    (srcs, dsts)
  }

  /** Union-find with path compression over collected undirected pairs,
    * union by MIN root: the smaller root always survives, and since every
    * member starts as its own root the final root IS the component
    * minimum — exactly the label min-propagation converges to. All state
    * lives in primitive arrays (sorted-id index + int parent forest), so
    * the 4M-edge worst case stays within the documented tens-of-MB driver
    * budget instead of a boxed-HashMap's hundreds. Returns one (id, rep)
    * row per edge-touched node whose rep differs from itself; callers
    * left-join + coalesce so every other node labels itself.
    */
  private def unionFindLabels(s: SparkSession, srcs: Array[Long],
      dsts: Array[Long]): DataFrame = {
    import s.implicits._
    val n = srcs.length
    val ids = new Array[Long](2 * n)
    System.arraycopy(srcs, 0, ids, 0, n)
    System.arraycopy(dsts, 0, ids, n, n)
    java.util.Arrays.sort(ids)
    var m = 0
    var i = 0
    while (i < ids.length) {
      if (m == 0 || ids(m - 1) != ids(i)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    // parent forest over indices into the sorted-dedup'd id array: ids are
    // sorted, so the min-index root IS the min-id root
    val parent = Array.tabulate(m)(identity)
    def find(p: Int): Int = {
      var r = p
      while (parent(r) != r) r = parent(r)
      var c = p
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < n) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, m, srcs(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, m, dsts(i)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    val out = Vector.newBuilder[(Long, Long)]
    i = 0
    while (i < m) {
      val r = find(i)
      if (r != i) out += ((ids(i), ids(r)))
      i += 1
    }
    out.result().toDF("id", "_uf_rep")
  }

  /** Connected components over an undirected edge list — public library
    * operator (callers supply `nodes(id)` and `undirected(src, dst)`).
    * Min-label propagation with pointer jumping (rep := rep(rep) each round
    * squares the propagation distance — O(log d) rounds instead of
    * O(diameter); a 200-node path converges well inside the cap, asserted
    * in DedupSpec), lineage truncated per round (without it the nested
    * logical plan makes analysis dwarf execution; each round's pin is
    * released once the next supersedes it). Returns (id, rep) for every
    * node, rep = component minimum.
    *
    * Size-dispatched: the label graph is the MINED near-dup edge set —
    * after contraction usually minuscule relative to the corpus — while
    * the pointer-jumping loop pays a fixed ~3-joins+checkpoint+
    * convergence-probe tax PER ROUND regardless of edge count. Up to
    * [[DriverCcMaxEdges]] rows the components come from a driver
    * union-find over the collected pairs — one bounded single-job probe +
    * one broadcast join instead of the loop. Beyond the cap (a genuinely
    * huge mined graph at 100 TB) the distributed loop is the arm that
    * runs; node count never gates anything, so the corpus-sized side
    * stays distributed in both arms.
    */
  def connectedComponents(nodes: DataFrame,
      undirected: DataFrame): DataFrame = {
    val (srcs, dsts) = edgesUpToCap(undirected)
    if (srcs.isEmpty)
      nodes.select(col("id"), col("id").as("rep"))
    else if (srcs.length <= DriverCcMaxEdges)
      nodes.join(broadcast(unionFindLabels(nodes.sparkSession, srcs, dsts)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("_uf_rep"), col("id")).as("rep"))
    else {
      val edges = Tables.pin(undirected.union(
        undirected.select(col("dst").as("src"), col("src").as("dst"))))
      connectedComponentsLoop(nodes, edges)
    }
  }

  /** The distributed arm: min-label propagation with pointer jumping over
    * an ALREADY bidirectional, lineage-truncated edge frame.
    */
  private[graft] def connectedComponentsLoop(nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    // round 0 fused into initialization: label = min(self, neighbors)
    var labels = Tables.pin(nodes
      .join(edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn")),
        Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mn"), col("id")))
        .as("rep")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("rep")).as("n_rep"))
      val prop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("rep").as("old"),
          least(col("rep"), coalesce(col("n_rep"), col("rep"))).as("rep"))
      val next = Tables.pin(prop
        .join(prop.select(col("id").as("rep"), col("rep").as("rep2")),
          Seq("rep"))
        .select(col("id"), least(col("rep"), col("rep2")).as("rep"),
          col("old")))
      // change flag carried through the round: convergence reads pinned
      // data, no extra join against the previous labels
      converged = next.filter(col("rep") < col("old")).isEmpty
      Tables.unpin(labels)
      labels = next.select("id", "rep")
      rounds += 1
    }
    if (!converged)
      // pointer jumping converges in O(log d); 40 rounds covers any graph
      // with diameter < 2^40 — reaching the cap means something is wrong,
      // and labels would be silently incomplete
      throw new IllegalStateException(
        s"connectedComponents did not converge within $rounds rounds")
    labels
  }

  /** Train/eval contamination check: split the corpus deterministically
    * (arithmetic hash, 90/10), then count eval documents whose normalized
    * text also appears in train — the standard decontamination gate before
    * an eval set is trusted. The probe is a left-semi join against the
    * distinct train-side texts: no row data moves for matches, and at scale
    * the train side is the big relation so the shuffle keys on the
    * normalized-text hash (or a bloom-filter pre-pass) rather than
    * broadcasting eval anywhere.
    */
  def contamination(s: SparkSession, dir: String): DataFrame =
    contaminationOn(docs(s, dir))

  /** `docsDf` needs (doc_id, lang, text). */
  def contaminationOn(docsDf: DataFrame): DataFrame = {
    val d = docsDf
      .withColumn("norm", normText)
      .withColumn("split",
        when(Tables.lcgBucket(col("doc_id"), 48271L, 7L, 100L) < 90L, "train")
          .otherwise("eval"))
    val train = d.filter(col("split") === "train").select("norm").distinct()
    val eval = d.filter(col("split") === "eval")
    val contaminated = eval.join(train, Seq("norm"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
    eval.groupBy("lang").agg(count(lit(1)).as("n_eval"))
      .join(contaminated, Seq("lang"), "left")
      .select(col("lang"), col("n_eval"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)) * lit(100.0)
          / col("n_eval"), 2).as("contaminated_pct"))
      .orderBy("lang")
  }

  /** How many bits / probes the q90 registration pins (the function needs
    * literal args). Sizing rule: nBits ≈ 10 bits per expected key gives
    * ~1% false positives at k = 7; FPs only cost confirm-join work, never
    * correctness.
    */
  private[ops] val BloomBits = 1 << 17
  private[ops] val BloomK = 7

  /** Per-source leakage profile, computed through the bloom-pruned
    * decontamination pipeline (the reverse direction of q49: which TRAIN
    * documents also appear in eval — the rows that must be dropped before
    * training). Semantically identical to a plain exact semi-join; the
    * bloom changes WHERE the work happens:
    *
    *   1. one pass over the small (eval) side folds its distinct norm keys
    *      into a [[graft.functions.BloomLongs]] filter — partials are byte
    *      arrays, merged by OR, so the build is one ordinary aggregation;
    *   2. the single-row filter broadcasts (like q40's query vector — it
    *      never lands on the driver) and the big train side keeps only
    *      rows with `bloomContains(filter, xxhash64(norm))` — a
    *      codegen'd per-row bit test;
    *   3. only the surviving candidates (true matches + ~1% false
    *      positives — the filter has NO false negatives) pay the exact
    *      confirm semi-join shuffle.
    *
    * At 100 TB of train data the pre-filter cuts the confirm join's
    * shuffle from the full corpus to just above the true-leak volume, and
    * the filter bytes can be persisted and reused by every later batch
    * (this is Spark's own InjectRuntimeFilter pattern, made explicit and
    * cross-job). DedupSpec pins the result to the bloom-free exact join.
    */
  def bloomLeakProfile(s: SparkSession, dir: String): DataFrame =
    bloomLeakProfileOn(docs(s, dir))

  /** `docsDf` needs (doc_id, source, text). */
  def bloomLeakProfileOn(docsDf: DataFrame,
      nBits: Int = BloomBits, k: Int = BloomK): DataFrame = {
    val d = docsDf
      .withColumn("norm", normText)
      .withColumn("split",
        when(Tables.lcgBucket(col("doc_id"), 48271L, 7L, 100L) < 90L, "train")
          .otherwise("eval"))
    val evalNorms = d.filter(col("split") === "eval")
      .select("norm").distinct()
    val filter = broadcast(evalNorms
      .agg(GraftFunctions.bloomAgg(xxhash64(col("norm")), nBits, k)
        .as("bloom")))
    val train = d.filter(col("split") === "train")
      .select("source", "norm")
    val candidates = train.crossJoin(filter)
      .filter(GraftFunctions.bloomContains(col("bloom"),
        xxhash64(col("norm"))))
      .drop("bloom")
    // the confirm join is INNER against the distinct eval norms (row-
    // count-identical to a semi join here) and deliberately NOT a
    // left-semi: PushDownLeftSemiAntiJoin pushes semi joins through any
    // pushable unary node AND through other joins, which would re-key
    // the confirm onto the FULL train side and hoist the bloom test
    // above it (= dead weight). Inner joins keep their written order
    // (no CBO), so the bloom provably prunes before the confirm
    // shuffle — DedupSpec asserts the plan shape.
    val leaked = candidates.join(evalNorms, Seq("norm"))
      .groupBy("source").agg(count(lit(1)).as("n_leaked"))
    train.groupBy("source").agg(count(lit(1)).as("n_train"))
      .join(leaked, Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        round(coalesce(col("n_leaked"), lit(0L)) * lit(100.0)
          / col("n_train"), 2).as("leak_pct"))
      .orderBy("source")
  }

  /** q93: duplicate multiplicity histogram — how many normalized-text
    * groups occur exactly m times. The shape of the duplication tail
    * decides the dedup strategy (a few giant clusters → canonical-keep
    * with CC; a long tail of pairs → plain first-write-wins), so this is
    * the diagnostic run before q36/q46/q60. Two keyed aggregations, both
    * with map-side partials; output is ≤ max-multiplicity rows.
    */
  def dupMultiplicity(s: SparkSession, dir: String): DataFrame =
    dupMultiplicityOn(docs(s, dir))

  /** `docsDf` needs (text). */
  def dupMultiplicityOn(docsDf: DataFrame): DataFrame =
    docsDf.select(normText.as("norm"))
      .groupBy("norm").agg(count(lit(1)).as("multiplicity"))
      .groupBy("multiplicity")
      .agg(count(lit(1)).as("n_groups"),
        sum("multiplicity").as("n_docs"))
      .orderBy("multiplicity")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_exact_dedup" -> exactDedup,
    "q37_jaccard_pairs" -> jaccardPairs,
    "q38_minhash_lsh_pairs" -> minhashLshPairs,
    "q39_simhash_pairs" -> simhashPairs,
    "q46_dedup_clusters" -> dedupClusters,
    "q49_contamination" -> contamination,
    "q90_bloom_decontamination" -> bloomLeakProfile,
    "q93_dup_multiplicity" -> dupMultiplicity,
    "q101_dedup_decision" ->
      ((s: SparkSession, dir: String) => dedupDecision(docs(s, dir))),
    "q112_edit_pairs" -> editPairs)

  /** Shared SQL fragment: the portable token fingerprint (rolling hash over
    * Unicode code points mod 1e9+7 — DuckDB `unicode()` ≡ graft_code_points).
    */
  /** Raw (un-mixed) rolling fingerprint; callers apply the squaring finish
    * `(x*x + base) % p` via a second list_transform so the reduce runs once.
    */
  private[ops] def sqlTokFpRaw(t: String, base: Long, seed: Long): String =
    s"""list_reduce(list_prepend(CAST($seed AS BIGINT),
       |      list_transform(generate_series(1, length($t)),
       |        i -> CAST(unicode($t[i]) AS BIGINT))),
       |      (a, b) -> (a * $base + b) % $P)""".stripMargin

  /** The kernel's 64 affine mod-p permutation constants as a SQL literal —
    * read from graft.functions.MinHashBandKeys so oracle and kernel cannot
    * drift apart.
    */
  private def sqlPerms: String = {
    import graft.functions.MinHashBandKeys.{permA, permB}
    permA.zip(permB).map { case (a, b) => s"[$a, $b]" }
      .mkString("[", ", ", "]")
  }

  val oracle: Map[String, String] = Map(
    // The length-band prefilter is semantically redundant (dist >= |len
    // diff|) but keeps the oracle's DP calls off the hopeless pairs.
    "q112_edit_pairs" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 10
        |WHERE levenshtein(a.text, b.text) <= 10
        |ORDER BY a_id, b_id""".stripMargin,
    // Replays the ENTIRE minhash pipeline in SQL: token fingerprints →
    // 3-gram shingle hashes → 64 affine mod-p minima → 16 band keys →
    // band-collision candidate pairs → exact-Jaccard verification. Every
    // step is the same 64-bit-safe arithmetic the Spark kernel runs.
    "q38_minhash_lsh_pairs" ->
      s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
         |  FROM documents WHERE len(string_split(trim(text), ' ')) >= 3),
         |tr AS (SELECT doc_id,
         |  list_transform(toks, t -> ${sqlTokFpRaw("t", 31L, 987654321L)})
         |    AS tfs0
         |  FROM d),
         |tf AS (SELECT doc_id,
         |  list_transform(tfs0, x -> (x * x + 31) % $P) AS tfs FROM tr),
         |sg AS (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, len(tfs) - 2),
         |    i -> ((tfs[i] * $FB + tfs[i+1]) % $P * $FB + tfs[i+2]) % $P))
         |    AS shs
         |  FROM tf),
         |mh AS (SELECT doc_id, shs,
         |  list_transform($sqlPerms,
         |    ab -> list_min(list_transform(shs, h -> (ab[1] * h + ab[2]) % $P)))
         |    AS mins
         |  FROM sg),
         |bh AS (SELECT doc_id, shs,
         |  list_transform(generate_series(0, ${Bands - 1}),
         |    b -> list_reduce(
         |      list_prepend(CAST(b AS BIGINT), list_slice(mins, b*4+1, b*4+4)),
         |      (acc, m) -> (acc * $FB + m) % $P)) AS bh
         |  FROM mh),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_intersect(a.shs, b.shs)) AS inter,
         |    len(a.shs) AS a_n, len(b.shs) AS b_n
         |  FROM bh a JOIN bh b ON a.doc_id < b.doc_id
         |    AND len(list_filter(generate_series(1, $Bands),
         |      i -> a.bh[i] = b.bh[i])) > 0
         |    AND len(a.shs) * 5 >= len(b.shs) * 4
         |    AND len(b.shs) * 5 >= len(a.shs) * 4)
         |SELECT a_id, b_id,
         |  round(inter / (a_n + b_n - inter), 6) AS jaccard
         |FROM p WHERE inter / (a_n + b_n - inter) >= 0.8e0
         |ORDER BY a_id, b_id""".stripMargin,
    // Replays the simhash: 61-bit portable token hashes → per-bit majority
    // vote (bits 61-63 structurally zero) → 16-bit-chunk blocking +
    // Hamming ≤ 3 verification. Bit fold via `|` over disjoint bits keeps
    // everything BIGINT (list_sum would widen to HUGEINT).
    "q39_simhash_pairs" ->
      s"""WITH d AS (SELECT doc_id,
         |  list_distinct(string_split(trim(text), ' ')) AS toks
         |  FROM documents),
         |tr AS (SELECT doc_id,
         |  list_transform(toks, t -> ${sqlTokFpRaw("t", 31L, 987654321L)})
         |    AS r31,
         |  list_transform(toks, t -> ${sqlTokFpRaw("t", 37L, 123456789L)})
         |    AS r37
         |  FROM d),
         |tf AS (SELECT doc_id,
         |  list_transform(generate_series(1, len(r31)), i ->
         |    ((r31[i] * r31[i] + 31) % $P) * 2147483648
         |      + ((r37[i] * r37[i] + 37) % $P)) AS th
         |  FROM tr),
         |sh AS (SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(generate_series(0, 60), k ->
         |      CASE WHEN 2 * len(list_filter(th, h -> ((h >> k) & 1) = 1))
         |             > len(th)
         |           THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT)
         |      END)),
         |    (a, b) -> a | b) AS simhash
         |  FROM tf)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
         |  AND len(list_filter(generate_series(0, 3), j ->
         |    ((a.simhash >> (j*16)) & 65535) = ((b.simhash >> (j*16)) & 65535)
         |    )) > 0
         |ORDER BY a_id, b_id""".stripMargin,
    "q49_contamination" ->
      """WITH d AS (SELECT doc_id, lang,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |  CASE WHEN ((doc_id % 100 + 100) % 100 * 48271 + 7) % 100 < 90 THEN 'train'
        |       ELSE 'eval' END AS split
        |  FROM documents),
        |tr AS (SELECT DISTINCT norm FROM d WHERE split = 'train'),
        |ev AS (SELECT lang, norm FROM d WHERE split = 'eval'),
        |c AS (SELECT lang, count(*) AS n_contaminated FROM ev
        |  WHERE EXISTS (SELECT 1 FROM tr WHERE tr.norm = ev.norm)
        |  GROUP BY lang)
        |SELECT ev.lang, count(*) AS n_eval,
        |  coalesce(any_value(c.n_contaminated), 0) AS n_contaminated,
        |  round(coalesce(any_value(c.n_contaminated), 0)
        |    * CAST(100 AS DOUBLE) / count(*), 2) AS contaminated_pct
        |FROM ev LEFT JOIN c ON ev.lang = c.lang
        |GROUP BY ev.lang ORDER BY ev.lang""".stripMargin,
    // the bloom is an executor-side pre-filter with no false negatives, so
    // the reference semantics are the plain exact semi-join below
    "q90_bloom_decontamination" ->
      """WITH d AS (SELECT doc_id, source,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |  CASE WHEN ((doc_id % 100 + 100) % 100 * 48271 + 7) % 100 < 90 THEN 'train'
        |       ELSE 'eval' END AS split
        |  FROM documents),
        |ev AS (SELECT DISTINCT norm FROM d WHERE split = 'eval'),
        |tr AS (SELECT source, norm FROM d WHERE split = 'train'),
        |lk AS (SELECT source, count(*) AS n_leaked FROM tr
        |  WHERE EXISTS (SELECT 1 FROM ev WHERE ev.norm = tr.norm)
        |  GROUP BY source)
        |SELECT tr.source, count(*) AS n_train,
        |  coalesce(any_value(lk.n_leaked), 0) AS n_leaked,
        |  round(coalesce(any_value(lk.n_leaked), 0)
        |    * CAST(100 AS DOUBLE) / count(*), 2) AS leak_pct
        |FROM tr LEFT JOIN lk ON tr.source = lk.source
        |GROUP BY tr.source ORDER BY tr.source""".stripMargin,
    "q93_dup_multiplicity" ->
      """WITH g AS (SELECT
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |    count(*) AS multiplicity
        |  FROM documents GROUP BY norm)
        |SELECT multiplicity, count(*) AS n_groups,
        |  CAST(sum(multiplicity) AS BIGINT) AS n_docs
        |FROM g GROUP BY multiplicity ORDER BY multiplicity""".stripMargin,
    "q36_exact_dedup" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS n_distinct,
        |  count(*) - count(DISTINCT
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_dupes
        |FROM documents""".stripMargin,
    "q37_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, lang,
        |  list_distinct(string_split(trim(text), ' ')) AS toks
        |  FROM documents),
        |p AS (SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.toks, b.toks)) AS inter,
        |  len(a.toks) AS a_n, len(b.toks) AS b_n
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND len(a.toks) * 10 >= len(b.toks) * 9
        |    AND len(b.toks) * 10 >= len(a.toks) * 9)
        |SELECT lang, a_id, b_id,
        |  round(inter / (a_n + b_n - inter), 6) AS jaccard
        |FROM p WHERE inter / (a_n + b_n - inter) >= 0.9e0
        |ORDER BY a_id, b_id""".stripMargin,
    "q46_dedup_clusters" ->
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
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // q46's component CTE, left-joined back to the corpus: every document
    // gets a row, singletons label themselves — the dedupDecision contract
    // (mined-pairs-over-distinct-texts ∪ exact-dup groups has the same
    // components as the full J ≥ 0.9 pair graph: byte-equal texts are J=1
    // pairs of it)
    "q101_dedup_decision" ->
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
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
        |  FROM reach GROUP BY src)
        |SELECT doc.doc_id, COALESCE(comp.rep, doc.doc_id) AS rep
        |FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.doc_id
        |ORDER BY doc.doc_id""".stripMargin)
}
