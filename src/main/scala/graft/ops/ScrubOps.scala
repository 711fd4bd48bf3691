package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection and scrubbing over document text — the compliance pass a
  * training-data pipeline runs before anything else ships. Four pattern
  * families (email, IPv4, US-SSN-shaped ids, international-phone-shaped
  * digit runs), each implemented as a codegen'd `regexp_*` expression —
  * per-row, shuffle-free, so the scan cost is the whole cost at any scale.
  *
  * Pattern dialect note: every regex here is written in the common subset
  * of Java regex (Spark) and RE2 (the DuckDB oracle) — character classes,
  * bounded repetition and `\b` only; no lookaround, no backreferences —
  * so both engines provably match the same spans.
  */
object ScrubOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** (name, pattern, replacement token) per PII family. Order matters for
    * scrubbing: emails first (their local part may contain digits that the
    * phone pattern would otherwise mangle), then IPs (dotted digit runs
    * that the phone pattern could swallow), then SSNs, then phones. */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
      "<IP>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("phone", "\\+[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"))

  /** Match count of `pattern` in a text column; null text counts 0 hits
    * explicitly — relying on size(NULL) would report −1 under the legacy
    * sizeOfNull flag, silently corrupting every audit sum (the q110
    * discipline: never let a session flag change the answer).
    */
  private def hitsIn(c: Column, pattern: String): Column =
    when(c.isNotNull,
      size(regexp_extract_all(c, lit(pattern), lit(0)))).otherwise(0)

  /** True when the text carries ANY family's PII — the release-gate
    * predicate of the curation funnel (q149 /
    * [[graft.streaming.CurationFunnelPipeline]]). Built from the same
    * `patterns` seq as the q104 audit, so the gate and the audit can
    * never disagree on what counts as PII. Null text reads false (0
    * hits everywhere) — a doc with no text has no PII; whether it ships
    * at all is the quality gate's call, not this one's.
    */
  private[graft] def anyPii(c: Column): Column =
    patterns.map { case (_, pat, _) => hitsIn(c, pat) > 0 }.reduce(_ || _)

  /** DuckDB twin of [[anyPii]] over a column reference — emitted into
    * oracle SQL (q104, q149) from the SAME `patterns` seq.
    */
  private[graft] def anyPiiSql(textCol: String): String =
    patterns.map { case (_, pat, _) =>
      s"len(regexp_extract_all($textCol, '${pat.replace("'", "''")}')) > 0"
    }.mkString(" OR ")

  /** q104: per-source PII audit — documents scanned, documents containing
    * any PII, and per-family hit totals. On a clean corpus every counter
    * is 0 — which is exactly what the audit exists to prove. */
  def piiAuditOn(docsDf: DataFrame): DataFrame = {
    val withHits = patterns.foldLeft(docsDf) { case (df, (name, pat, _)) =>
      df.withColumn(s"${name}_hits", hitsIn(col("text"), pat))
    }
    val anyPii = patterns.map { case (n, _, _) => col(s"${n}_hits") > 0 }
      .reduce(_ || _)
    withHits
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(anyPii, 1L).otherwise(0L)).as("n_pii_docs") +:
          patterns.map { case (n, _, _) =>
            sum(col(s"${n}_hits").cast("long")).as(s"n_$n")
          }: _*)
      .orderBy("source")
  }

  def piiAudit(s: SparkSession, dir: String): DataFrame =
    piiAuditOn(docs(s, dir))

  /** Scrub library: replace every PII match with its family token, in the
    * documented pattern order. Returns the input with `text` rewritten and
    * an `n_scrubbed` count of replaced spans.
    *
    * Each family's count is taken on the text AFTER the earlier families
    * already replaced their spans — counting every family against the
    * ORIGINAL text would double-count overlaps (an SSN-shaped run inside a
    * phone match is replaced once but would tally twice), so n_scrubbed
    * is exactly the number of `<TOKEN>` insertions in the output. Audit
    * semantics (what ARRIVED, per family, against the raw text) are
    * [[piiAuditOn]]'s job, deliberately not this one's.
    */
  def scrubOn(docsDf: DataFrame): DataFrame = {
    val (cleaned, total) = patterns
      .foldLeft((col("text"), lit(0): Column)) {
        case ((c, n), (_, pat, token)) =>
          (regexp_replace(c, pat, token), n + hitsIn(c, pat))
      }
    docsDf
      .withColumn("n_scrubbed", total)
      .withColumn("text", cleaned)
  }

  // ---- q134: k-anonymity audit ----------------------------------------

  /** Class-size threshold the q134 registration pins: an equivalence
    * class with fewer than this many DISTINCT users is re-identifying.
    */
  val KAnonK = 5

  def kanonAudit(s: SparkSession, dir: String): DataFrame =
    kanonAuditOn(Tables.t(s, dir, "events"), KAnonK)

  /** q134: k-anonymity audit over the quasi-identifier tuple
    * (event_type, props.k, hour-of-day) against `user_id` — the standard
    * pre-release privacy gate (Sweeney 2002, k-anonymity): a dataset
    * keyed on those three indirect columns re-identifies a user whenever
    * their equivalence class holds fewer than `k` distinct users. Runs
    * AFTER the q104 PII pass: q104 strips direct identifiers; this
    * measures what the remaining indirect ones still leak, per type —
    * n_classes, how many are small, and the fraction of event ROWS
    * sitting in a re-identifying class (`risk_pct`, the number a release
    * gate thresholds).
    *
    * Scale: the corpus contracts immediately to ≤ |types|·|k-values|·24
    * equivalence classes; `countDistinct(user_id)` is the only wide
    * aggregation and plans as two-phase partial-distinct with map-side
    * combine, so no row leaves its scan partition un-aggregated. The
    * per-type rollup then folds ≤ |classes| rows. `try_cast` on props.k,
    * not cast: one malformed payload must not kill the audit scan under
    * ANSI mode (the q10 discipline) — unparseable k forms its own NULL
    * quasi-identifier bucket in both engines.
    */
  def kanonAuditOn(eventsDf: DataFrame, k: Int): DataFrame =
    kanonRollup(quasiClasses(eventsDf)
      .groupBy("event_type", "k_prop", "hod")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")), k)

  /** The quasi-identifier projection shared by the exact audits and the
    * persisted store (one definition, so every path provably classifies
    * identically). Carries BOTH protected attributes: `user_id` (the
    * k-anonymity identity) and `sens_band` (the l-diversity sensitive
    * value — the event's `value` floored to its integer band). The band
    * is range-guarded, not cast-guarded: Spark's `floor(double)` maps
    * NaN to 0 and ±Inf to Long.Min/Max instead of failing, so a bare
    * floor would silently hash garbage values into REAL bands and
    * corrupt the diversity counts. `BETWEEN ±1e15` (inside 2⁵³, where
    * double→long is exact) sends NaN, infinities and astronomically
    * corrupt values to the NULL band on BOTH engines.
    */
  private def quasiClasses(eventsDf: DataFrame): DataFrame =
    eventsDf.select(col("event_type"),
      expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k_prop"),
      hour(col("ts")).as("hod"), col("user_id"),
      when(col("value").between(-1e15, 1e15), floor(col("value")))
        .as("sens_band"))

  /** The per-type rollup over (event_type, n_users, n_events) class rows —
    * shared verbatim by the exact path and the store path (store ≡ exact
    * is pinned by spec over small-cardinality classes, where the HLL
    * estimate is exact).
    */
  private def kanonRollup(classes: DataFrame, k: Int): DataFrame =
    privacyRollup(classes, "n_users", k, "n_small_classes",
      "min_class_users")

  /** ONE per-type privacy rollup serving all three audits: count the
    * flagged classes and the event rows sitting in them. Keeping a
    * single definition is what lets a future risk_pct fix land on
    * q134/q141/q145 together. `flagged` is the audit's own verdict
    * column expression (below-k users, below-l diversity, past-t
    * distance — directions differ, the rollup does not); `worst` its
    * per-type extreme.
    */
  private def privacyRollupBy(classes: DataFrame, flagged: Column,
      worst: Column, flagName: String, worstName: String): DataFrame =
    classes
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(flagged, 1L).otherwise(0L)).as(flagName),
        worst.as(worstName),
        sum("n_events").as("n_events"),
        sum(when(flagged, col("n_events")).otherwise(0L))
          .as("n_events_at_risk"))
      .withColumn("risk_pct",
        round(col("n_events_at_risk") * lit(100.0) / col("n_events"), 4))
      .orderBy("event_type")

  /** The below-threshold form q134/q141 share (small measure = risky). */
  private def privacyRollup(classes: DataFrame, measure: String,
      threshold: Int, smallName: String, minName: String): DataFrame =
    privacyRollupBy(classes, col(measure) < threshold, min(measure),
      smallName, minName)

  // ---- q141: l-diversity audit ----------------------------------------

  /** Distinct-sensitive-value threshold the q141 registration pins: an
    * equivalence class whose members share fewer than this many distinct
    * sensitive values is homogeneity-attack prone.
    */
  val LDivL = 3

  def ldivAudit(s: SparkSession, dir: String): DataFrame =
    ldivAuditOn(Tables.t(s, dir, "events"), LDivL)

  /** q141: l-diversity audit — the standard companion to q134
    * (Machanavajjhala et al. 2007, "l-diversity: privacy beyond
    * k-anonymity"): k-anonymity bounds how well an attacker can SINGLE
    * OUT a user, but a class can pass k and still leak — if every member
    * shares the same sensitive value, knowing someone is IN the class
    * reveals their value (the homogeneity attack). This audit counts,
    * per event type, the equivalence classes (same quasi-identifier
    * tuple as q134 — the one [[quasiClasses]] definition) whose distinct
    * sensitive-value count (`sens_band`) falls below `l`, and the
    * fraction of event rows sitting in such a class.
    *
    * Scale: identical shape to q134 — immediate contraction to
    * ≤ |types|·|k-values|·24 classes, `countDistinct` planning as
    * two-phase partial-distinct, a ≤ |classes| rollup. A class whose
    * every sensitive value is NULL (unparseable) counts 0 distinct —
    * maximally homogeneous, flagged, the safe direction.
    */
  def ldivAuditOn(eventsDf: DataFrame, l: Int): DataFrame =
    ldivRollup(quasiClasses(eventsDf)
      .groupBy("event_type", "k_prop", "hod")
      .agg(countDistinct(col("sens_band")).as("n_sens"),
        count(lit(1)).as("n_events")), l)

  /** The per-type rollup over (event_type, n_sens, n_events) class rows —
    * shared verbatim by the exact path and the store path (the q134
    * rollup-sharing discipline, applied to the diversity measure).
    */
  private def ldivRollup(classes: DataFrame, l: Int): DataFrame =
    privacyRollup(classes, "n_sens", l, "n_low_div_classes",
      "min_class_sens")

  // ---- q145: t-closeness audit ----------------------------------------

  /** Earth-mover's-distance ceiling the q145 registration pins: an
    * equivalence class whose sensitive-value distribution sits further
    * than this from its type's global distribution leaks by skew even
    * when it passes k-anonymity AND l-diversity (on this corpus the
    * class-t median is ~0.17 and p90 ~0.30 — 0.3 flags the skewed tail).
    */
  val TCloseT = 0.3

  def tcloseAudit(s: SparkSession, dir: String): DataFrame =
    tcloseAuditOn(Tables.t(s, dir, "events"), TCloseT)

  /** q145: t-closeness audit — the triad's third member (Li, Li,
    * Venkatasubramanian 2007, "t-closeness: privacy beyond k-anonymity
    * and l-diversity"): q134 bounds singling-out and q141 homogeneity,
    * but a class can pass both and still leak by SKEW — if a class's
    * sensitive values are diverse yet concentrated far from the global
    * distribution (say, all in the top value bands), membership alone
    * shifts an attacker's posterior. Per equivalence class (the one
    * [[quasiClasses]] definition), this computes the paper's ordered
    * earth-mover's distance between the class's `sens_band` distribution
    * and its event type's global one — t = Σᵢ|cumP−cumQ| / (m−1) over
    * the type's m ordered bands — and rolls up per type: classes past
    * `t`, the worst class, and the event rows at risk.
    *
    * Exactness (the cross-engine digest discipline): the EMD is computed
    * in INTEGER arithmetic until one final division — with class counts
    * aᵢ (A total) and type counts bᵢ (B total), |cumP−cumQ| at band i is
    * |B·cumAᵢ − A·cumBᵢ| / (A·B), so t = Σ|B·cumAᵢ − A·cumBᵢ| /
    * (A·B·(m−1)) with an exact decimal numerator (operands cast to
    * DECIMAL(19,0) — a LongType count always fits 19 digits, so the
    * cast cannot overflow, and the product of two Long-ranged counts is
    * < 8.6×10³⁷, inside DECIMAL(38,0), so every PRODUCT is exact for
    * any corpus a Long count can hold), then ONE double division
    * rounded to 6 dp — no float accumulation order to drift between
    * engines. The per-class band SUM of those products is the one spot
    * that can exceed 38 digits (a_tot·btot·m ≳ 10³⁸, i.e. both totals
    * near 2⁶³ across many bands); it then degrades to NULL, so the
    * class reads t = NULL and is FLAGGED — the safe direction — never
    * a silently wrong t.
    *
    * Scale: ONE corpus pass (the (class, band) contraction, map-side
    * partial), localCheckpointed so the three bounded consumers —
    * class totals, type distribution, the class×band grid — share the
    * scan instead of re-reading events; everything after is bounded by
    * |classes|·|bands| (≤ types·k-values·24 classes; bands bound by the
    * VALUE RANGE, not the corpus — floor-banding is the knob if a
    * wild-range attribute ever inflates it). Null bands (unparseable /
    * non-finite values, the [[quasiClasses]] range guard) stay OUT of
    * both distributions but IN `n_events`; a class with no measurable
    * band (all-corrupt, or a type with no bands at all) reads t = NULL
    * and counts as flagged — the safe direction, like q141's 0-distinct.
    * A single-band type (m = 1) reads t = 0 for every measurable class:
    * all mass in one band means every class matches the global
    * distribution exactly.
    */
  def tcloseAuditOn(eventsDf: DataFrame, t: Double): DataFrame = {
    // the one corpus pass: per-(class, band) counts, null bands kept as
    // their own rows (n_events cargo, excluded from the distributions)
    val cb0 = quasiClasses(eventsDf)
      .groupBy("event_type", "k_prop", "hod", "sens_band")
      .agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val cls = cb0.groupBy("event_type", "k_prop", "hod")
      .agg(sum("a").as("n_events"),
        sum(when(col("sens_band").isNotNull, col("a")).otherwise(0L))
          .as("a_tot"))
    tcloseFromClassFrames(cls, cb0.filter(col("sens_band").isNotNull), t)
  }

  /** The q145 EMD tail shared by the exact path and the store path:
    * `cls` = per-class (event_type, k_prop, hod, n_events, a_tot),
    * `cb` = per-(class, non-null band) counts (event_type, k_prop, hod,
    * sens_band, a). Both are bounded frames — everything here is
    * |classes|·|bands| work.
    */
  private def tcloseFromClassFrames(cls: DataFrame, cb: DataFrame,
      t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val wType = Window.partitionBy("event_type")
    val tb = cb.groupBy("event_type", "sens_band")
      .agg(sum("a").as("b"))
      .withColumn("cum_b", sum("b").over(wType.orderBy("sens_band")))
      .withColumn("m", count(lit(1)).over(wType))
      .withColumn("btot", sum("b").over(wType))
      .select(col("event_type"), col("sens_band"), col("cum_b"), col("m"),
        col("btot"))
    // the class×band grid: every class × every band of ITS type (a class
    // absent from a band still contributes |cum| there); bounded rows,
    // null-safe keys (a NULL k_prop/hod is a real class in both engines)
    val grid = cls.as("c").join(tb.as("t"),
        col("c.event_type") === col("t.event_type"))
      .join(cb.as("x"),
        col("x.event_type") === col("c.event_type") &&
          (col("x.k_prop") <=> col("c.k_prop")) &&
          (col("x.hod") <=> col("c.hod")) &&
          col("x.sens_band") === col("t.sens_band"), "left")
      .select(col("c.event_type").as("event_type"),
        col("c.k_prop").as("k_prop"), col("c.hod").as("hod"),
        col("c.a_tot").as("a_tot"), col("t.sens_band").as("sens_band"),
        col("t.cum_b").as("cum_b"), col("t.m").as("m"),
        col("t.btot").as("btot"),
        coalesce(col("x.a"), lit(0L)).as("a"))
    val wClass = Window.partitionBy("event_type", "k_prop", "hod")
      .orderBy("sens_band")
    val num = grid
      .withColumn("cum_a", sum("a").over(wClass))
      .withColumn("contrib", abs(
        col("btot").cast(Dec) * col("cum_a").cast(Dec) -
          col("a_tot").cast(Dec) * col("cum_b").cast(Dec)))
      .groupBy("event_type", "k_prop", "hod")
      .agg(max("a_tot").as("a_tot"), max("m").as("m"),
        max("btot").as("btot"), sum("contrib").as("num"))
      .withColumn("t_dist",
        when(col("a_tot") > 0 && col("m") === 1, lit(0.0))
          .otherwise(round(try_divide(col("num").cast("double"),
            col("a_tot").cast("double") * col("btot") * (col("m") - 1)),
            6)))
    // classes of a bandless type never reach the grid — the left join
    // hands them NULL t (flagged), with n_events intact from cls
    val classes = cls.as("c").join(num.as("n"),
        col("c.event_type") === col("n.event_type") &&
          (col("c.k_prop") <=> col("n.k_prop")) &&
          (col("c.hod") <=> col("n.hod")), "left")
      .select(col("c.event_type").as("event_type"), col("c.n_events"),
        col("n.t_dist").as("t_dist"))
    privacyRollupBy(classes,
      col("t_dist").isNull || col("t_dist") > t, max("t_dist"),
      "n_far_classes", "max_class_t")
  }

  // ---- persisted k-anonymity class store (mergeable HLL user sketches) ----

  /** One row per equivalence class: a Datasketches HLL sketch of the
    * class's DISTINCT users (lgConfigK 14 — exact at small class sizes,
    * the regime the audit cares about; ±0.8 % beyond) plus the exact
    * event count. The privacy face of the store family: sketches MERGE,
    * so a cross-crawl audit ([[kanonAuditFromStore]]) reads bounded class
    * rows and NEVER re-scans past events — exact cross-crawl distinct
    * would need every class's full user set, the thing that does not fit
    * at 100 TB. Append-only like the token-count store: the user sketch
    * is SET-idempotent, so a replayed append cannot inflate the privacy
    * counts — only `n_events` double-counts (admit batches exactly once,
    * or compact); the audit's risk verdicts stay replay-proof.
    */
  private[graft] def classSketches(eventsDf: DataFrame): DataFrame =
    // two-level aggregation: the extra (class, band) level costs nothing
    // the class level didn't already pay (HLL sketches union exactly, so
    // building per band and unioning per class yields the same
    // registers) and is what produces `band_counts` — the per-class
    // sensitive-value HISTOGRAM the q145 store face needs. Sketches
    // cannot serve an EMD (distinct-count structure only, no mass), so
    // the histogram is the feasible store form; it stays bounded because
    // bands are value-range-bounded, and it merges across crawls by
    // per-band SUM (exact, unlike the sketches' estimates).
    quasiClasses(eventsDf)
      .groupBy("event_type", "k_prop", "hod", "sens_band")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("u"),
        expr("hll_sketch_agg(sens_band, 14)").as("s"),
        count(lit(1)).as("n"))
      .groupBy("event_type", "k_prop", "hod")
      .agg(expr("hll_union_agg(u, false)").as("sketch"),
        expr("hll_union_agg(s, false)").as("sens_sketch"),
        map_from_entries(array_sort(collect_list(
          when(col("sens_band").isNotNull,
            struct(col("sens_band"), col("n"))))))
          .as("band_counts"),
        sum(col("n")).as("n_events"))

  /** Build (or rebuild) the store from a full corpus — staged write +
    * atomic swap like every whole-store writer. */
  def writeKanonStore(eventsDf: DataFrame, path: String): Unit =
    ScaleOps.publishStore(classSketches(eventsDf), path)

  /** Fold a crawl batch in, append-only (crash-safe without a swap: an
    * uncommitted task's files stay in _temporary and are never read).
    * Duplicate class rows across segments union on read. */
  def appendToKanonStore(batch: DataFrame, path: String): Unit =
    classSketches(batch).write.mode("append").parquet(path)

  /** Merge segment rows back to one row per class (maintenance — readers
    * do the same union on the fly). Refuses the privacy gate's
    * `batch_id=N` store ([[ScaleOps.compactStore]]'s flat guard): the
    * merge would drop the keyed layout the gate replays into. */
  def compactKanonStore(s: SparkSession, path: String): Unit =
    ScaleOps.compactStore(s, path, mergedKanonSketches)

  /** THE class-merge definition — duplicate class rows across store
    * segments union to one SKETCH row per class (the store's own row
    * format; compaction rewrites exactly this). Shared by the audit,
    * compaction, and the streaming gate's drill-down
    * ([[graft.streaming.PrivacyGatePipeline]]), so the verdict and the
    * per-class view can never diverge.
    */
  private[graft] def mergedKanonSketches(perBatch: DataFrame): DataFrame = {
    // a pre-r13 store (no sens_sketch column) must fail HERE with the
    // rebuild instruction, deterministically — left to spark.read's
    // schema sampling, a MIXED old/new segment set either throws an
    // unresolved-column error or silently nulls the new column depending
    // on which file footer gets sampled
    require(perBatch.columns.contains("sens_sketch"),
      "kanon class store has no sens_sketch column — written by a " +
        "pre-l-diversity release; rebuild it with writeKanonStore " +
        "(stores are crawl artifacts, not versioned contracts)")
    require(perBatch.columns.contains("band_counts"),
      "kanon class store has no band_counts column — written by a " +
        "pre-t-closeness release; rebuild it with writeKanonStore " +
        "(stores are crawl artifacts, not versioned contracts)")
    // MIXED old/new segment sets pass the column check (schema sampling
    // surfaces the new footer) but read the old rows' band_counts as
    // NULL — and collect_list would silently SKIP them, computing the
    // q145 EMD from a partial histogram while n_events still counts both
    // generations. Unlike a dropped sens_sketch (which can only inflate
    // the flagged set — safe), a partial histogram can flip a verdict
    // the UNSAFE way (an old-skewed, new-balanced class reads t ≈ 0), so
    // a NULL row fails LOUD with the same rebuild instruction
    // (r14 self-review finding). classSketches never writes a NULL map
    // (an all-null-band class gets the EMPTY map), so NULL here is
    // always a pre-t-closeness segment or damage.
    val guardedBands = when(col("band_counts").isNotNull, col("band_counts"))
      .otherwise(raise_error(lit(
        "kanon class store mixes pre- and post-t-closeness segments " +
          "(NULL band_counts row) — rebuild it with writeKanonStore " +
          "(stores are crawl artifacts, not versioned contracts)")))
    perBatch
      .groupBy("event_type", "k_prop", "hod")
      .agg(expr("hll_union_agg(sketch, false)").as("sketch"),
        expr("hll_union_agg(sens_sketch, false)").as("sens_sketch"),
        // per-band SUM across segments (exact histogram merge — the
        // fold is bounded by the class's band count)
        aggregate(collect_list(guardedBands),
          typedLit(Map.empty[Long, Long]),
          (acc, m) => map_zip_with(acc, m,
            (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L))))
          .as("band_counts"),
        sum("n_events").as("n_events"))
  }

  /** [[mergedKanonSketches]] with the sketch resolved to its estimate —
    * the (class, n_users, n_events) view both audit faces read.
    * `n_users` is the sketch estimate: exact for small classes (the
    * ones the audit flags), ~1 % for huge ones (nowhere near any sane
    * k threshold).
    */
  private[graft] def kanonClassEstimates(perBatch: DataFrame): DataFrame =
    mergedKanonSketches(perBatch)
      .select(col("event_type"), col("k_prop"), col("hod"),
        expr("hll_sketch_estimate(sketch)").as("n_users"),
        // an all-NULL-band class has a NULL sketch: 0 distinct values
        // (maximally homogeneous), matching the exact countDistinct
        coalesce(expr("hll_sketch_estimate(sens_sketch)"), lit(0L))
          .as("n_sens"),
        col("n_events"))

  /** The q134 rollup over an already-read per-batch class frame — the
    * form a poller that has the frame in hand uses (no second store
    * read).
    */
  private[graft] def kanonAuditFromClasses(perBatch: DataFrame,
      k: Int): DataFrame =
    kanonRollup(kanonClassEstimates(perBatch), k)

  /** The q134 audit from the store alone — zero event scans. */
  def kanonAuditFromStore(s: SparkSession, path: String,
      k: Int = KAnonK): DataFrame =
    kanonAuditFromClasses(s.read.parquet(path), k)

  /** The q141 rollup over an already-read per-batch class frame (the
    * same [[kanonClassEstimates]] view q134's store face rolls up — one
    * store read serves both audits).
    */
  private[graft] def ldivAuditFromClasses(perBatch: DataFrame,
      l: Int): DataFrame =
    ldivRollup(kanonClassEstimates(perBatch), l)

  /** The q141 audit from the store alone — zero event scans. */
  def ldivAuditFromStore(s: SparkSession, path: String,
      l: Int = LDivL): DataFrame =
    ldivAuditFromClasses(s.read.parquet(path), l)

  /** The q145 rollup over an already-read per-batch class frame — the
    * triad's third store face, reading the `band_counts` histograms (the
    * sketches can't serve an EMD: distinct-count structure carries no
    * mass, so the histogram is the feasible store form — exact, not an
    * estimate). One [[mergedKanonSketches]] merge feeds both the class
    * totals and the band rows, localCheckpointed so the store is read
    * once (the q145 exact path's shared-scan discipline). Replay caveat:
    * band counts, like `n_events`, double on a replayed append — admit
    * batches exactly once, or compact.
    */
  private[graft] def tcloseAuditFromClasses(perBatch: DataFrame,
      t: Double): DataFrame = {
    val merged = mergedKanonSketches(perBatch)
      .select(col("event_type"), col("k_prop"), col("hod"),
        col("band_counts"), col("n_events"))
      .localCheckpoint()
    val cls = merged.select(col("event_type"), col("k_prop"), col("hod"),
      col("n_events"),
      aggregate(map_values(col("band_counts")), lit(0L), _ + _)
        .as("a_tot"))
    val cb = merged.select(col("event_type"), col("k_prop"), col("hod"),
      explode(col("band_counts")).as(Seq("sens_band", "a")))
    tcloseFromClassFrames(cls, cb, t)
  }

  /** The q145 audit from the store alone — zero event scans. */
  def tcloseAuditFromStore(s: SparkSession, path: String,
      t: Double = TCloseT): DataFrame =
    tcloseAuditFromClasses(s.read.parquet(path), t)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q104_pii_audit" -> piiAudit,
    "q134_kanon_audit" -> kanonAudit,
    "q141_ldiv_audit" -> ldivAudit,
    "q145_tclose_audit" -> tcloseAudit)

  val oracle: Map[String, String] = Map(
    "q104_pii_audit" -> {
      // DuckDB single-quoted strings are escape-free: emit the pattern's
      // backslashes verbatim, escape only embedded quotes.
      val fams = patterns.map { case (n, pat, _) =>
        val lit = pat.replace("'", "''")
        (n, s"len(regexp_extract_all(text, '$lit'))")
      }
      val any = fams.map { case (_, e) => s"$e > 0" }.mkString(" OR ")
      val sums = fams.map { case (n, e) =>
        s"CAST(sum($e) AS BIGINT) AS n_$n" }.mkString(",\n  ")
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN $any THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pii_docs,
         |  $sums
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "q134_kanon_audit" ->
      s"""WITH c AS (SELECT event_type,
         |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |      AS k_prop,
         |    extract(hour FROM ts) AS hod,
         |    count(DISTINCT user_id) AS n_users, count(*) AS n_events
         |  FROM events GROUP BY 1, 2, 3)
         |SELECT event_type, count(*) AS n_classes,
         |  CAST(sum(CASE WHEN n_users < $KAnonK THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_small_classes,
         |  min(n_users) AS min_class_users,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN n_users < $KAnonK THEN n_events ELSE 0 END)
         |    AS BIGINT) AS n_events_at_risk,
         |  round(CAST(sum(CASE WHEN n_users < $KAnonK THEN n_events
         |      ELSE 0 END) AS BIGINT) * 100.0
         |    / CAST(sum(n_events) AS BIGINT), 4) AS risk_pct
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q141_ldiv_audit" ->
      s"""WITH c AS (SELECT event_type,
         |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |      AS k_prop,
         |    extract(hour FROM ts) AS hod,
         |    count(DISTINCT CASE WHEN value BETWEEN -1e15 AND 1e15
         |      THEN CAST(floor(value) AS BIGINT) END) AS n_sens,
         |    count(*) AS n_events
         |  FROM events GROUP BY 1, 2, 3)
         |SELECT event_type, count(*) AS n_classes,
         |  CAST(sum(CASE WHEN n_sens < $LDivL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_low_div_classes,
         |  min(n_sens) AS min_class_sens,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN n_sens < $LDivL THEN n_events ELSE 0 END)
         |    AS BIGINT) AS n_events_at_risk,
         |  round(CAST(sum(CASE WHEN n_sens < $LDivL THEN n_events
         |      ELSE 0 END) AS BIGINT) * 100.0
         |    / CAST(sum(n_events) AS BIGINT), 4) AS risk_pct
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Replays the integer-exact EMD: (class, band) contraction → class
    // totals / type distribution / class×band grid → cumulative counts →
    // |B·cumA − A·cumB| in DECIMAL(19,0) products → one double division.
    "q145_tclose_audit" -> {
      val far = s"t_dist IS NULL OR t_dist > $TCloseT"
      s"""WITH qc AS (SELECT event_type,
         |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |      AS k_prop,
         |    extract(hour FROM ts) AS hod,
         |    CASE WHEN value BETWEEN -1e15 AND 1e15
         |      THEN CAST(floor(value) AS BIGINT) END AS sens_band
         |  FROM events),
         |cb0 AS (SELECT event_type, k_prop, hod, sens_band, count(*) AS a
         |  FROM qc GROUP BY 1, 2, 3, 4),
         |cls AS (SELECT event_type, k_prop, hod,
         |    CAST(sum(a) AS BIGINT) AS n_events,
         |    CAST(sum(CASE WHEN sens_band IS NOT NULL THEN a ELSE 0 END)
         |      AS BIGINT) AS a_tot
         |  FROM cb0 GROUP BY 1, 2, 3),
         |cb AS (SELECT * FROM cb0 WHERE sens_band IS NOT NULL),
         |tb AS (SELECT event_type, sens_band, CAST(sum(a) AS BIGINT) AS b
         |  FROM cb GROUP BY 1, 2),
         |tbc AS (SELECT event_type, sens_band,
         |    sum(b) OVER (PARTITION BY event_type ORDER BY sens_band)
         |      AS cum_b,
         |    count(*) OVER (PARTITION BY event_type) AS m,
         |    sum(b) OVER (PARTITION BY event_type) AS btot
         |  FROM tb),
         |grid AS (SELECT c.event_type, c.k_prop, c.hod, c.a_tot,
         |    t.sens_band, t.cum_b, t.m, t.btot, coalesce(x.a, 0) AS a
         |  FROM cls c JOIN tbc t ON c.event_type = t.event_type
         |  LEFT JOIN cb x ON x.event_type = c.event_type
         |    AND x.k_prop IS NOT DISTINCT FROM c.k_prop
         |    AND x.hod IS NOT DISTINCT FROM c.hod
         |    AND x.sens_band = t.sens_band),
         |cum AS (SELECT event_type, k_prop, hod, a_tot, m, btot,
         |    abs(CAST(btot AS DECIMAL(19,0))
         |        * CAST(sum(a) OVER (PARTITION BY event_type, k_prop, hod
         |            ORDER BY sens_band) AS DECIMAL(19,0))
         |      - CAST(a_tot AS DECIMAL(19,0)) * CAST(cum_b AS DECIMAL(19,0)))
         |      AS contrib
         |  FROM grid),
         |tcn AS (SELECT event_type, k_prop, hod, max(a_tot) AS a_tot,
         |    max(m) AS m, max(btot) AS btot, sum(contrib) AS num
         |  FROM cum GROUP BY 1, 2, 3),
         |tcl AS (SELECT event_type, k_prop, hod,
         |    CASE WHEN a_tot > 0 AND m = 1 THEN CAST(0 AS DOUBLE)
         |      ELSE round(CAST(num AS DOUBLE)
         |        / nullif(CAST(a_tot AS DOUBLE) * btot * (m - 1), 0), 6)
         |      END AS t_dist
         |  FROM tcn),
         |cl AS (SELECT c.event_type, c.n_events, n.t_dist
         |  FROM cls c LEFT JOIN tcl n ON c.event_type = n.event_type
         |    AND c.k_prop IS NOT DISTINCT FROM n.k_prop
         |    AND c.hod IS NOT DISTINCT FROM n.hod)
         |SELECT event_type, count(*) AS n_classes,
         |  CAST(sum(CASE WHEN $far THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_far_classes,
         |  max(t_dist) AS max_class_t,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN $far THEN n_events ELSE 0 END) AS BIGINT)
         |    AS n_events_at_risk,
         |  round(CAST(sum(CASE WHEN $far THEN n_events ELSE 0 END)
         |      AS BIGINT) * 100.0
         |    / CAST(sum(n_events) AS BIGINT), 4) AS risk_pct
         |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin
    })
}
