package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Cross-cutting operator checks at sf0.001 (the oracle gate at sf0.01 is
  * the primary correctness net; these assert structural invariants fast).
  */
class OpsSpec extends SparkSpec {

  test("every registered query returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      // q42 candidates can be empty at tiny SF; all others must be non-empty
      if (name != "q42_ann_lsh") assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query key has an oracle — the catalog is 100% hash-checked") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle === Set.empty[String])
  }

  test("quality score counts punctuation chars exactly") {
    // regression: the regex-free translate counting must count PUNCT chars,
    // not the alphanumeric complement (the testdata corpus has zero punct,
    // so only a fixture with real punctuation exercises the branch)
    import spark.implicits._
    val docs = Seq(
      (1L, "hello, world! (it works)"), // , ! ( ) → 4 punct chars
      (2L, "no punct at all here"),
      (3L, "a-b c.d e_f")) // - . _ → 3
      .toDF("doc_id", "text")
    val out = TextOps.qualityScoreOn(docs)
      .select("doc_id", "n_punct").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 4, 2L -> 0, 3L -> 3))
  }

  test("temperature mix flattens the sampling distribution: tails boost " +
      "past 1, heads trim below 1, weights sum to 1, and a no-token " +
      "cell stays out of both normalizers") {
    import spark.implicits._
    // shares 80/16/4 (%): en is the head, fr the tail; de has NULL text
    // only (no measurable tokens — must not poison the normalizers)
    val docs = (
      Seq.fill(20)(("web", "en", "a b c d")) ++ // 80 tokens
      Seq.fill(4)(("web", "es", "a b c d")) ++ // 16
      Seq(("web", "fr", "a b c d")) :+ // 4
      ("web", "de", null.asInstanceOf[String]))
      .toDF("source", "lang", "text")
    val out = TextOps.temperatureMixOn(docs).collect()
      .map(r => r.getString(1) -> r).toMap
    val w = out.view.mapValues(r =>
      if (r.isNullAt(4)) Double.NaN else r.getDouble(4)).toMap
    // T = 2: weights ∝ sqrt(0.8, 0.16, 0.04) = (0.894427, 0.4, 0.2)
    // normalized over 1.494427
    assert(math.abs(w("en") - 0.598509) < 1e-6, s"head weight: $w")
    assert(math.abs(w("es") - 0.267661) < 1e-6)
    assert(math.abs(w("fr") - 0.133831) < 1e-6)
    assert(math.abs(w("en") + w("es") + w("fr") - 1.0) < 1e-5,
      "measurable weights must normalize to 1")
    val up = out.view.mapValues(r =>
      if (r.isNullAt(5)) Double.NaN else r.getDouble(5)).toMap
    assert(up("en") < 1.0 && up("es") > 1.0 && up("fr") > 1.0,
      s"tempering trims the head and boosts the tail: $up")
    assert(up("fr") > up("es"), "the thinner the tail, the bigger the " +
      s"boost: $up")
    assert(out("de").isNullAt(3) && out("de").isNullAt(4),
      "a no-token cell reads NULL share and weight")
    // a different temperature is a library knob: T → 1 approaches the
    // raw shares (upsample → 1)
    val t1 = TextOps.temperatureMixOn(docs, temperature = 1.000001)
      .collect().filterNot(_.isNullAt(5))
      .map(r => (r.getString(1), r.getDouble(5))).toMap
    Seq("en", "es", "fr").foreach { l =>
      assert(math.abs(t1(l) - 1.0) < 0.01, s"T→1 is natural sampling: $t1")
    }
    intercept[IllegalArgumentException] {
      TextOps.temperatureMixOn(docs, temperature = 0.0)
    }
  }

  test("source cap keeps the best docs per source with their cargo: " +
      "hand-computed scores rank correctly, ties break on the lower " +
      "doc_id, a null-text doc never ranks, and lang/n_toks arrive " +
      "through the payload slot without a join-back") {
    import spark.implicits._
    // scores: 'a b c d' 0.73 > 'a b c c' 0.63 > 'a a a a' 0.43
    val docsDf = Seq(
      (1L, "s1", "en", "a a a a"),
      (2L, "s1", "de", "a b c d"),
      (3L, "s1", "en", "a b c c"),
      (4L, "s1", "en", null.asInstanceOf[String]),
      (5L, "s2", "fr", "x y"),
      (6L, "s2", "fr", "x y")) // exact tie with doc 5
      .toDF("doc_id", "source", "lang", "text")
    val out = TextOps.sourceCapOn(docsDf, cap = 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getString(4), r.getInt(5))).toMap
    assert(out === Map(
      ("s1", 1) -> ((2L, "de", 4)),
      ("s1", 2) -> ((3L, "en", 4)),
      ("s2", 1) -> ((5L, "fr", 2)), // tie → lower doc_id first
      ("s2", 2) -> ((6L, "fr", 2))),
      s"capped set: $out")
  }

  test("temperature mix sub-rounding tail: a positive-mass cell whose " +
      "share rounds to 0 at 6 dp reads the minimum representable 1e-6, " +
      "keeps a finite up-sample factor, and the epoch plan KEEPS it " +
      "instead of silently dropping the most-deserving cell") {
    import spark.implicits._
    // head cell: one ~2.2M-token doc; tail cell: 1 token → true share
    // ≈ 4.5e-7, which rounds to 0.0 at 6 dp without the clamp
    val docs = Seq(
      (1L, "en", "web", ("tok " * 2200000).trim),
      (2L, "mi", "web", "tok"))
      .toDF("doc_id", "lang", "source", "text")
    val mix = TextOps.temperatureMixOn(docs).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(mix("mi").getDouble(3) === 1e-6,
      s"sub-rounding share clamps to 1e-6: ${mix("mi")}")
    assert(!mix("mi").isNullAt(5) && mix("mi").getDouble(5) > 1.0,
      s"the tail keeps a finite boosted up-sample: ${mix("mi")}")
    val samp = TextOps.temperedSampleOn(docs).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(samp("mi").getDouble(6) === 1.0 && samp("mi").getLong(3) === 1L,
      s"the deepest tail is the most-boosted cell and keeps its doc: " +
        s"${samp("mi")}")
  }

  test("packing plan: hand-traced chunk boundaries, straddling docs " +
      "counted once, per-stream packing is independent, null text is " +
      "censused but unpacked") {
    import spark.implicits._
    // one stream (shards = 1), budget 10: docs of 4/5/3/12 tokens pack
    // at offsets 0/4/9/12 — doc 3 straddles chunk 0→1, doc 4 spans
    // 1→2; 24 tokens → 3 sequences, 6 padding, fill 80%
    def toks(n: Int): String = Seq.fill(n)("t").mkString(" ")
    val docs = Seq(
      (1L, "en", toks(4)), (2L, "en", toks(5)), (3L, "en", toks(3)),
      (4L, "en", toks(12)), (5L, "en", null.asInstanceOf[String]),
      (6L, "xx", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "text")
    val one = TextOps.packingPlanOn(docs, budget = 10, shards = 1)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = one("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3), en.getLong(4),
      en.getLong(5), en.getLong(6), en.getDouble(7)) ===
      ((5L, 4L, 24L, 3L, 2L, 6L, 80.0)), s"en plan: $en")
    val xx = one("xx")
    assert(xx.getLong(1) === 1L && xx.getLong(2) === 0L &&
      xx.isNullAt(3) && xx.getLong(4) === 0L && xx.getLong(6) === 0L &&
      xx.isNullAt(7),
      s"an unmeasurable language reads 0 sequences, NULL mass/fill: $xx")

    // two streams: lcgBucket(id, 48271, 17, 2) routes odd ids → 0,
    // even → 1; budget 6 packs (3,4) and (5,5) independently — each
    // stream's second doc straddles ITS boundary, 2+2 sequences
    val d2 = Seq((1L, "en", toks(3)), (3L, "en", toks(4)),
      (2L, "en", toks(5)), (4L, "en", toks(5)))
      .toDF("doc_id", "lang", "text")
    val two = TextOps.packingPlanOn(d2, budget = 6, shards = 2)
      .collect().head
    assert((two.getLong(2), two.getLong(3), two.getLong(4),
      two.getLong(5), two.getLong(6)) === ((4L, 17L, 4L, 2L, 7L)),
      s"independent streams: $two")
    intercept[IllegalArgumentException] {
      TextOps.packingPlanOn(docs, budget = 0, shards = 1)
    }
    intercept[IllegalArgumentException] {
      TextOps.packingPlanOn(docs, budget = 10, shards = 0)
    }
  }

  test("q148 keep boundary: membership is strict-less-than on the " +
      "floored product — a bucket EQUAL to the threshold is excluded, " +
      "and the 6-dp float product floors exactly like the JVM's IEEE " +
      "model (the cross-engine determinism contract)") {
    import spark.implicits._
    // the keep predicate verbatim as temperedSampleOn builds it, over a
    // literal keep_frac
    def sparkKept(kf: Double, ids: Seq[Long]): Set[Long] =
      ids.toDF("doc_id")
        .filter(graft.Tables.lcgBucket(col("doc_id"), 48271L, 13L,
          1000000L) < floor(lit(kf) * lit(1e6)))
        .collect().map(_.getLong(0)).toSet
    def bucket(id: Long): Long = ((id % 1000000L) * 48271L + 13L) % 1000000L
    def modelKept(kf: Double, ids: Seq[Long]): Set[Long] =
      ids.filter(id => bucket(id) < math.floor(kf * 1e6)).toSet

    // exact-equality exclusion: bucket(668797) == 500000 == the kf=0.5
    // threshold; bucket(297166) == 499999, one inside it
    assert(bucket(668797L) === 500000L && bucket(297166L) === 499999L)
    assert(sparkKept(0.5, Seq(668797L, 297166L)) === Set(297166L),
      "a bucket equal to floor(keep_frac*1e6) must be excluded (strict <)")

    // representation hazard: 0.000249*1e6 = 248.99999... floors to 248,
    // NOT 249 — deterministic (IEEE multiply of identical inputs is
    // bit-identical in Spark, DuckDB and the JVM), so both engines admit
    // the same one-smaller bucket set; pin Spark against the JVM model
    // across the hazard value and the plain ones
    assert(math.floor(0.000249 * 1e6) === 248.0,
      "fixture must exercise the below-integer product")
    val ids = (0L until 4000L) ++ Seq(668797L, 297166L)
    for (kf <- Seq(0.000249, 1e-6, 0.5, 0.999999, 1.0))
      assert(sparkKept(kf, ids) === modelKept(kf, ids),
        s"Spark's floored-product keep set must equal the IEEE model at " +
          s"keep_frac=$kf")
  }

  test("tempered sample: hand-computed keep fractions, the most-boosted " +
      "cell keeps everything, and the realized shares land on the " +
      "tempered targets when cells are granular enough") {
    import spark.implicits._
    // 3 cells of single-token docs, shares exactly 0.6 / 0.3 / 0.1:
    // tempered = sqrt -> (.774597, .547723, .316228), weights
    // (.472735, .334273, .192993), upsample (.7879, 1.1142, 1.9299),
    // keep_frac normalized to the most-boosted (fr) cell
    val docs = ((0L until 600L).map(i => (i, "en", "web", "tok")) ++
      (1000L until 1300L).map(i => (i, "es", "web", "tok")) ++
      (2000L until 2100L).map(i => (i, "fr", "web", "tok")))
      .toDF("doc_id", "lang", "source", "text")
    val out = TextOps.temperedSampleOn(docs).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(out("en").getDouble(6) === 0.408259, s"keep_frac: ${out("en")}")
    assert(out("es").getDouble(6) === 0.577336)
    assert(out("fr").getDouble(6) === 1.0,
      "the most-boosted cell keeps everything (filtering cannot " +
        "duplicate)")
    assert(out("fr").getLong(3) === 100L, "keep_frac 1.0 keeps all docs")
    // realized shares: deterministic (the lcg keep-set is fixed), and
    // with 100+ docs per cell they sit on the tempered targets
    Seq("en", "es", "fr").foreach { l =>
      val r = out(l)
      assert(math.abs(r.getDouble(8) - r.getDouble(7)) < 0.06,
        s"achieved ≈ target for $l: $r")
      assert(math.abs(r.getDouble(9) -
          (r.getDouble(8) - r.getDouble(7))) < 1e-6,
        s"deviation is the honest gap: $r")
    }
  }

  test("context budget report: percentiles, over-budget census and lost " +
      "tokens agree with hand counts; null text stays out of the buffer " +
      "but in n_docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c"), // 3 tokens
      (2L, "en", "a b c d e"), // 5
      (3L, "en", "a b c d e f g"), // 7
      (4L, "en", null.asInstanceOf[String]),
      (5L, "de", "a b")) // 2
      .toDF("doc_id", "lang", "text")
    val out = TextOps.contextBudgetOn(docs, budget = 4).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) === 4L, "n_docs counts the null-text doc")
    assert(en.getLong(2) === 15L)
    assert(en.getDouble(3) === 5.0, "p50 of (3, 5, 7)")
    assert(en.getDouble(4) === 6.8, "p95 interpolates: 5 + 0.9*(7-5)")
    assert(en.getDouble(5) === 6.96)
    assert(en.getLong(6) === 2L, "docs 2 and 3 exceed budget 4")
    assert(en.getDouble(7) === 50.0, "2 of 4 docs over")
    assert(en.getDouble(8) === 26.6667,
      "truncating at 4 loses (5-4) + (7-4) = 4 of 15 tokens")
    assert(out("de").getLong(6) === 0L && out("de").getDouble(8) === 0.0)
    intercept[IllegalArgumentException] {
      TextOps.contextBudgetOn(docs, budget = 0)
    }
  }

  test("repetition profile counts top token and bigram runs exactly") {
    import spark.implicits._
    val docs = Seq(
      // toks: a a a a b → top token 4; bigrams: [a a, a a, a a, a b] →
      // top bigram 3, dup = 4 - 2 distinct = 2; ratios trip both flags
      (1L, "a a a a b"),
      // 7 unique tokens → ratios 1/7 and 1/6 stay under both thresholds
      (2L, "all seven tokens here are fully unique"),
      (3L, "solo")) // 1 token → top ratio 1.0, degenerate doc flags
      .toDF("doc_id", "text")
    val out = TextOps.repetitionProfileOn(docs)
      .select("doc_id", "n_tokens", "top_tok_count", "n_bigrams",
        "dup_bigrams", "top_bigram_count", "flagged").collect()
    assert(out.map(_.toSeq).toSeq === Seq(
      Seq(1L, 5, 4, 4, 2, 3, true),
      Seq(2L, 7, 1, 6, 0, 1, false),
      Seq(3L, 1, 1, 0, 0, 0, true)))
  }

  test("repetition profile: contracted arm equals the per-row arm on a " +
      "dup-dense corpus and the probe dispatches it") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (i, "a a a a b spam spam spam")) ++
      (100L until 110L).map(i => (i, "all seven tokens here are unique")) ++
      Seq((200L, "one of a kind document right here"))
    val docs = rows.toDF("doc_id", "text")
    val perRow = TextOps
      .repetitionProfileOn(docs, contractDuplicates = Some(false))
      .collect().map(_.toSeq).toSeq
    val contracted = TextOps
      .repetitionProfileOn(docs, contractDuplicates = Some(true))
      .collect().map(_.toSeq).toSeq
    assert(contracted === perRow)
    val auto = TextOps.repetitionProfileOn(docs).collect().map(_.toSeq).toSeq
    assert(auto === perRow, "dup fraction ≈ 0.96 must dispatch identically")
  }

  test("q109/q111 plans hold the documented shuffle budget") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"w$i common tokens here plus w${i % 7}"))
      .toDF("doc_id", "text")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    // q111: shingle-key window + doc-key agg + output sort; nothing else
    val nov = exchanges(TextOps.shingleNoveltyOn(docs))
    assert(nov <= 3, s"q111 exchanges = $nov")
    // q109: TWO data-sized shuffles (vocab agg + range repartition), each
    // printed twice in the static plan because the ranked subtree feeds
    // both the offset branch and the main branch (AQE's ReuseExchange
    // collapses them at runtime), plus four BOUNDED exchanges (per-pid
    // count agg, one-partition offset ladder, broadcast, 1-row OLS fold)
    val zf = exchanges(TextOps.zipfFitOn(docs))
    assert(zf <= 8, s"q109 exchanges = $zf")
    // q119: entirely row-local — the ONLY exchange is the presentation
    // sort of the report (the library face winnowSetsOn has zero)
    val wn = exchanges(TextOps.winnowSetsOn(docs))
    assert(wn === 0, s"winnowSetsOn exchanges = $wn")
    // q118: q109's rank decomposition off the vocab contraction — same
    // budget shape, one extra 1-row fold for the coverage agg
    val tc = exchanges(TextOps.tokenCoverageOn(docs))
    assert(tc <= 8, s"q118 exchanges = $tc")
  }

  test("q123/q124/q125 plans hold the documented shuffle budget") {
    import spark.implicits._
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    // q125 fingerprints: map-only kernel — the ONLY exchange is the
    // catalog binding's presentation sort (the library face has zero)
    val docs = (0L until 40L).map(i => (i, s"payload number $i body"))
      .toDF("doc_id", "text")
    assert(exchanges(ops.MultimodalOps.mediaPhashOn(docs)) === 0,
      "mediaPhashOn must be shuffle-free")
    // q124: TWO data-sized exchanges (vocab-partial contraction + the
    // doc-keyed agg) plus three bounded ones (single-partition totals
    // window, llr broadcast, output sort) — never a raw-token shuffle
    val ds = exchanges(ops.CurationOps.dsirWeightsOn(docs, col("doc_id") < 20))
    assert(ds <= 5, s"q124 exchanges = $ds")
    // q123 search: encode is a map-only project over the scan; the only
    // exchange is the single-row LUT broadcast (plus none for top-k)
    val rnd = new scala.util.Random(3)
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(SimilarityOps.Dim)(rnd.nextGaussian().toFloat),
        (i % 3).toInt)).toDF("vec_id", "embedding", "label")
    val pq = exchanges(SimilarityOps.annPqOn(emb))
    assert(pq <= 1, s"q123 search exchanges = $pq")
    // q126: ONE data-sized exchange (the centroid posexplode
    // contraction) + its broadcast back + the ≤|labels| rollup/sort
    val cc = exchanges(SimilarityOps.clusterCohesionOn(emb))
    assert(cc <= 5, s"q126 exchanges = $cc")
  }

  test("zipf fit: planted two-point vocabulary fits slope -1 exactly") {
    import spark.implicits._
    // freqs 4 and 2 at ranks 1 and 2: ln(freq) drops by exactly ln(2) per
    // ln(rank) step, so the OLS fit is slope -1, intercept ln(4)
    val docs = Seq((0L, "a a a a b b")).toDF("doc_id", "text")
    val r = TextOps.zipfFitOn(docs).head()
    assert(r.getAs[Long]("vocab_size") === 2L)
    assert(r.getAs[Long]("total_tokens") === 6L)
    assert(r.getAs[Double]("slope") === -1.0)
    assert(r.getAs[Double]("intercept") === 1.386294)
  }

  test("source drift: hand-computed two-source KL, zero self-drift") {
    import spark.implicits._
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    // corpus: a×3, b×4 (N = 7); s1 = {a:2, b:1}, s2 = {a:1, b:3}
    val docs = Seq((0L, "a a b", "s1"), (1L, "a b b b", "s2"))
      .toDF("doc_id", "text", "source")
    def r9ln(num: Double, den: Double): Double =
      BigDecimal(math.log(num / den)).setScale(9, HALF_UP).toDouble
    def kl(terms: Seq[Double]): Double =
      BigDecimal(terms.map(t =>
          BigDecimal(t).setScale(12, HALF_UP)).sum.toDouble)
        .setScale(6, HALF_UP).toDouble
    val expS1 = kl(Seq(
      (2.0 / 3.0) * r9ln(2.0 * 7.0, 3.0 * 3.0),
      (1.0 / 3.0) * r9ln(1.0 * 7.0, 4.0 * 3.0)))
    val expS2 = kl(Seq(
      (1.0 / 4.0) * r9ln(1.0 * 7.0, 3.0 * 4.0),
      (3.0 / 4.0) * r9ln(3.0 * 7.0, 4.0 * 4.0)))
    val got = TextOps.sourceDriftOn(docs).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("vocab_size"), r.getAs[Double]("kl_nats"))).toSeq
    assert(got === Seq(("s1", 3L, 2L, expS1), ("s2", 4L, 2L, expS2)))
    assert(expS1 > 0 && expS2 > 0, "diverging sources must have KL > 0")
    // one source == the corpus: every ratio is 1, KL exactly 0
    val solo = Seq((0L, "x y x", "only")).toDF("doc_id", "text", "source")
    val g2 = TextOps.sourceDriftOn(solo).head()
    assert(g2.getAs[Double]("kl_nats") === 0.0)
    assert(g2.getAs[Long]("n_tokens") === 3L)
    assert(g2.getAs[Long]("vocab_size") === 2L)
  }

  test("token-count store: from-store drift equals the raw q114 path " +
      "across write, append and compact") {
    import spark.implicits._
    val path = tmpDir("tok-store") + "/token_counts"
    val batch1 = Seq((0L, "a a b", "s1"), (1L, "a b b b", "s2"))
      .toDF("doc_id", "text", "source")
    val batch2 = Seq((2L, "b c c", "s1"), (3L, "c", "s3"))
      .toDF("doc_id", "text", "source")
    val whole = batch1.union(batch2)
    val raw = TextOps.sourceDriftOn(whole).collect().map(_.toSeq).toSeq
    // two crawls: initial write + one append — counts must SUM to the
    // one-shot contraction, and the KL fold must match bit-for-bit
    TextOps.writeTokenCountStore(batch1, path)
    TextOps.appendToTokenCountStore(batch2, path)
    assert(TextOps.sourceDriftFromStore(spark, path).collect()
      .map(_.toSeq).toSeq === raw)
    // compaction rewrites to one row per pair without changing answers
    TextOps.compactTokenCountStore(spark, path)
    val compacted = spark.read.parquet(path)
    assert(compacted.groupBy("source", "token").count()
      .filter(col("count") > 1).isEmpty, "compact must leave distinct pairs")
    assert(TextOps.sourceDriftFromStore(spark, path).collect()
      .map(_.toSeq).toSeq === raw)
    assert(!new java.io.File(path + ".merging").exists)
    assert(!new java.io.File(path + ".old").exists)
  }

  test("shingle novelty: later copies contribute zero novel shingles") {
    import spark.implicits._
    val docs = Seq(
      (0L, "w1 w2 w3 w4"), // shingles w1w2w3, w2w3w4 — both novel
      (1L, "w1 w2 w3 w4"), // exact copy: nothing novel
      (2L, "w2 w3 w4 w5")) // w2w3w4 seen at doc 0, w3w4w5 novel
      .toDF("doc_id", "text")
    val got = TextOps.shingleNoveltyOn(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_distinct_shingles"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty_ratio"))).toSeq
    assert(got === Seq((0L, 2L, 2L, 1.0), (1L, 2L, 0L, 0.0),
      (2L, 2L, 1L, 0.5)))
  }

  test("novelty invariant at sf0.001: novel shingles partition the " +
      "global distinct-shingle set") {
    // every distinct shingle has exactly ONE first document, so the novel
    // counts must sum to the corpus's global distinct-shingle count
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = TextOps.shingleNoveltyOn(docs)
    val novelSum = out.agg(sum("n_novel")).head().getLong(0)
    val globalDistinct = docs
      .withColumn("toks", split(trim(col("text")), " "))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> " +
          "concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("sh"))
      .distinct().count()
    assert(novelSum === globalDistinct)
  }

  test("KL invariant at sf0.001: every source drift is non-negative") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drift = TextOps.sourceDriftOn(docs)
    val kls = drift.collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl_nats"))
    assert(kls.nonEmpty)
    // Gibbs: KL >= 0 exactly; rounding at 9 dp can dip a hair below zero
    kls.foreach { case (s, kl) => assert(kl >= -1e-6, s"$s: $kl") }
    // the token totals / source totals / grand total branches all derive
    // from the SAME (source, token) contraction — the static plan prints
    // the subtree several times, but at runtime AQE must collapse them to
    // ONE corpus explode via exchange reuse
    val finalPlan = drift.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange"),
      "q114 must reuse the contraction exchange, not re-explode the corpus")
  }

  test("doc chunks cover every token with the declared overlap") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks → 3 chunks
      (2L, "a b c"), // shorter than the window → 1 whole-doc chunk
      (3L, (1 to 4).map(i => s"u$i").mkString(" "))) // == window → 1 chunk
      .toDF("doc_id", "text")
    val out = TextOps.docChunksOn(docs, window = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq === Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_.getAs[Int]("start_tok")).toSeq === Seq(1, 4, 7))
    assert(d1.forall(_.getAs[Long]("n_chunks") == 3L))
    assert(out.filter(_.getLong(0) == 2L).map(
      _.getAs[String]("chunk_text")).toSeq === Seq("a b c"))
    assert(out.filter(_.getLong(0) == 3L).length === 1)
    // every token of doc 1 appears in some chunk (full coverage)
    val covered = d1.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
    assert(covered === (1 to 10).map(i => s"t$i").toSet)
  }

  test("tfidf keywords rank corpus-rare terms first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry cherry cherry"),
      (3L, "apple banana cherry"))
      .toDF("doc_id", "text")
    val out = TextOps.tfidfKeywordsOn(docs, k = 3)
      .orderBy("doc_id", "rank").collect()
    val top = out.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getLong(0) -> r.getAs[String]("term")).toMap
    // banana is in every doc → idf 0 → never a keyword
    assert(top === Map(1L -> "apple", 2L -> "cherry", 3L -> "apple"))
    val d1Apple = out.find(r =>
      r.getLong(0) == 1L && r.getAs[String]("term") == "apple").get
    assert(d1Apple.getAs[Int]("tf") === 2)
    assert(d1Apple.getAs[Long]("df") === 2L)
    // doc 3: apple and cherry tie exactly → term-asc tie-break
    val d3 = out.filter(_.getLong(0) == 3L).map(_.getAs[String]("term"))
    assert(d3.toSeq === Seq("apple", "cherry", "banana"))
  }

  test("vocab stats separate document from collection frequency") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.vocabStatsOn(docs)
      .select("token", "df", "cf", "df_pct").collect()
    assert(out.map(_.toSeq).toSeq === Seq(
      Seq("b", 2L, 2L, 100.0), // in both docs
      Seq("a", 1L, 2L, 50.0), // twice in one doc: cf 2, df 1
      Seq("c", 1L, 1L, 50.0)))
  }

  test("misra-gries vocab is exact under capacity and keeps heavy hitters") {
    import spark.implicits._
    // 40 docs: "hh" dominates (2 per doc), fillers mostly unique
    val docs = (0 until 40)
      .map(i => (i.toLong, s"hh f$i hh f${i % 7} x$i"))
      .toDF("doc_id", "text")
    val exact = TextOps.vocabStatsOn(docs)
      .select("token", "cf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity above the vocabulary size → no decrements, counts exact
    val wide = TextOps.vocabHeavyHittersOn(docs, capacity = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide === exact)
    // tight capacity: N = 200 tokens, cap 8 → anything over 25 survives;
    // estimates never exceed the truth
    val tight = TextOps.vocabHeavyHittersOn(docs, capacity = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.filter(_._2 > n / 8).keys.foreach { t =>
      assert(tight.contains(t), s"heavy hitter $t evicted")
    }
    tight.foreach { case (t, c) => assert(c <= exact(t), s"$t overestimated") }
  }

  test("misra-gries guarantees hold on arbitrary skewed streams") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val tok = Gen.frequency(5 -> Gen.const("hot"), 3 -> Gen.oneOf("w1", "w2"),
      2 -> Gen.choose(0, 50).map("r" + _))
    val docGen = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, tok).map(_.mkString(" ")))
    val prop = Prop.forAll(Gen.listOfN(12, docGen)) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .repartition(3) // multiple partitions → summaries really merge
      val cap = 6
      val est = TextOps.vocabHeavyHittersOn(docs, capacity = cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = texts.flatMap(_.trim.split(" ", -1))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = exact.values.sum
      val survive = exact.filter(_._2 > n / cap).keys
        .forall(est.contains)
      val noOver = est.forall { case (t, c) => c <= exact.getOrElse(t, 0L) }
      survive && noOver
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("semantic dedup flags a planted duplicate of its representative") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val dup = base.map(_ * 2.0f) // same direction → same bucket, cos 1.0
    val far = base.map(-_) // opposite half-space → different bucket
    val emb = Seq((0L, base), (1L, dup), (2L, far))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedupOn(emb)
      .select("vec_id", "rep_id", "is_dup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(0L) === ((0L, false))) // representative, never a dup
    assert(out(1L) === ((0L, true))) // planted dup collapses onto rep 0
    assert(out(2L)._1 === 2L) // own bucket → its own representative
    assert(out(2L)._2 === false)
  }

  test("k-means recovers planted clusters with a deterministic codebook") {
    import spark.implicits._
    // 3 planted clusters on orthogonal axes, small deterministic jitter
    val emb = (0 until 30).map { i =>
      val g = i % 3
      val v = Array.fill(64)(0.0f)
      v(g * 5) = 1.0f
      v(50 + g) = (0.05 * math.sin(i.toDouble)).toFloat
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val codebook = SimilarityOps.kmeansCentroids(emb, k = 3, iters = 4)
    val assigned = SimilarityOps.assignClusters(emb, codebook)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every planted group lands in one cluster, and the groups separate
    val byGroup = (0 until 3).map(g =>
      (0 until 30).filter(_ % 3 == g).map(i => assigned(i.toLong)).distinct)
    assert(byGroup.forall(_.size === 1), s"split cluster: $byGroup")
    assert(byGroup.flatten.distinct.size === 3, s"merged clusters: $byGroup")
    // rebuild is bit-identical (determinism contract)
    assert(SimilarityOps.kmeansCentroids(emb, k = 3, iters = 4)
      .map(_.toSeq) === codebook.map(_.toSeq))
    // the trained codebook drives semantic dedup: within each k-means
    // bucket everything near-dups onto the lowest-id representative
    val dedup = SimilarityOps.semanticDedupOn(
      SimilarityOps.assignClusters(emb, codebook),
      threshold = 0.99, bucketCol = col("cluster"))
      .select("vec_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // vec 0/1/2 are the min ids of their planted groups → representatives
    assert(!dedup(0L) && !dedup(1L) && !dedup(2L))
    assert((3L until 30L).forall(dedup(_)), "jittered copies must collapse")
  }

  test("conversion funnel requires strictly-ordered stages") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val evs = Seq(
      // u1 converts fully in order
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // u2: purchase BEFORE the first view → stops at click
      (2L, "purchase", ts(0)), (2L, "view", ts(5)), (2L, "click", ts(9)),
      // u3: click before view → never advances past view
      (3L, "click", ts(1)), (3L, "view", ts(2)),
      // u4: no view at all → not even stage 1
      (4L, "click", ts(1)), (4L, "purchase", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val out = ops.EventOps.conversionFunnelOn(evs)
      .collect().map(_.toSeq).toSeq
    assert(out === Seq(
      Seq("1_view", 3L, 100.0), // u1 u2 u3
      Seq("2_click", 2L, 66.67), // u1 u2
      Seq("3_purchase", 1L, 50.0))) // u1 only
  }

  test("sketch stats track the exact aggregates within error bounds") {
    val rows = ops.EventOps.sketchStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exactU, approxU) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approxU - exactU) <= math.max(2.0, 0.1 * exactU),
        s"HLL estimate $approxU too far from exact $exactU")
      val (exactP, approxP) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(approxP - exactP) <= math.max(0.5, 0.1 * math.abs(exactP)),
        s"approx p50 $approxP too far from exact $exactP")
    }
  }

  test("kpi overview internal consistency") {
    val r = EventOps.kpiOverview(spark, sfDir).collect().head
    val n = r.getAs[Long]("n_events")
    assert(r.getAs[Long]("n_clicks") + r.getAs[Long]("n_views")
      + r.getAs[Long]("n_errors") <= n)
    assert(r.getAs[Double]("total_value") > 0)
  }

  test("dedup is idempotent: f(f(x)) = f(x)") {
    val once = EventOps.dedupEvents(spark, sfDir)
    assert(once.count() ===
      once.dropDuplicates("user_id", "event_type").count())
  }

  test("recent-events knob surface: All-status and non-default limit") {
    // status=None ("All" in the reference sidebar) drops the predicate
    val all = EventOps.recentEvents(spark, sfDir, None, 100)
    assert(all.count() === 100)
    assert(all.select("event_type").distinct().count() > 1,
      "All-status scan must span multiple event types")
    // non-default limit with a pinned filter
    val clicks = EventOps.recentEvents(spark, sfDir, Some("click"), 7)
    val rows = clicks.collect()
    assert(rows.length === 7)
    assert(rows.forall(_.getAs[String]("event_type") == "click"))
    // the "All" plan must not contain a Filter operator at all
    val plan = all.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("), "None status should elide the filter")
  }

  test("revenue cube margins equal the sum of their detail cells") {
    val cube = RelationalOps.revenueCube(spark, sfDir)
    val detail = cube.filter(col("gid") === 0)
    val grand = cube.filter(col("gid") === 3).collect()
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_orders") ===
      detail.agg(sum("n_orders")).head().getLong(0))
    // region margin (o_orderstatus nulled): one row per region, counts add up
    val regionMargin = cube.filter(col("gid") === 1)
    assert(regionMargin.count() === detail.select("r_name").distinct().count())
    assert(regionMargin.agg(sum("n_orders")).head().getLong(0) ===
      grand.head.getAs[Long]("n_orders"))
  }

  test("SCD2 history: versions are dense, exactly one current row per key") {
    val h = RelationalOps.orderHistoryScd(spark, sfDir)
    val perKey = h.groupBy("o_custkey").agg(
      count(lit(1)).as("n"), max("version").as("maxv"),
      sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
      sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"))
    assert(perKey.filter(col("n") =!= col("maxv")).count() === 0)
    assert(perKey.filter(col("n_current") =!= 1L).count() === 0)
    assert(perKey.filter(col("n_open") =!= 1L).count() === 0)
    // each non-current row's valid_to is a later or equal order date
    assert(h.filter(col("valid_to").isNotNull &&
      col("valid_to") < col("valid_from")).count() === 0)
  }

  test("key-skew profile buckets counts by integer log2") {
    import spark.implicits._
    // key frequencies: 1 (bucket 0), 3 (bucket 1), 8 (bucket 3)
    val df = (Seq.fill(1)("a") ++ Seq.fill(3)("b") ++ Seq.fill(8)("c"))
      .toDF("k")
    val out = RelationalOps.keySkewProfileOn(df, "k")
      .select("log2_bucket", "n_keys", "n_rows").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 1L, 1L), (1L, 1L, 3L), (3L, 1L, 8L)))
  }

  test("top-k queries respect their limits and ordering") {
    val top = EventOps.topUsers(spark, sfDir).collect()
    assert(top.length <= 10)
    val vals = top.map(_.getAs[Double]("total_value"))
    assert(vals.sameElements(vals.sortBy(-_)), "must be sorted desc")
  }

  // NOTE: q37 value-level correctness is asserted against an independent
  // driver-side recomputation in DedupSpec ("q37 equals an independently
  // computed exact pair set"); this checks only the output contract shape.
  test("jaccard pairs are symmetric-free and above threshold") {
    val p = DedupOps.jaccardPairs(spark, sfDir)
    assert(p.filter(col("a_id") >= col("b_id")).count() === 0)
    assert(p.filter(col("jaccard") < 0.9).count() === 0)
  }

  test("salted join equals the plain join on a skewed key") {
    import spark.implicits._
    // 10k facts, 95% on one hot key — the shape that makes one task the
    // straggler in an unsalted shuffle join
    val fact = spark.range(10000)
      .select(when(col("id") % 20 =!= 0, lit(1L)).otherwise(col("id") % 7)
        .as("k"), col("id").as("payload"))
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (3L, "three"),
      (4L, "four"), (5L, "five"), (6L, "six")).toDF("k", "name")
    val plain = fact.join(dim, "k")
    val salted = ops.ScaleOps.saltedJoin(fact, dim, "k", salts = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted join tolerates unhashable (map) fact columns by salting " +
      "on the hashable rest") {
    import spark.implicits._
    // xxhash64 fails analysis on MapType — the content salt must skip it
    // (rows differing only in the map share a shard; correctness is
    // unaffected, each fact row still meets exactly one dim copy)
    val fact = spark.range(100)
      .select((col("id") % 3).as("k"), col("id").as("payload"),
        map(lit("a"), col("id")).as("m"))
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = fact.drop("m").join(dim, "k")
    val salted = ops.ScaleOps.saltedJoin(fact, dim, "k", salts = 4).drop("m")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("revenue shares are positive and sum to ~1 within each region") {
    val out = RelationalOps.revenueShare(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byRegion = out.groupBy(_.getString(0))
    for ((region, rows) <- byRegion) {
      val shares = rows.map(_.getAs[Double]("region_share"))
      assert(shares.forall(s => s > 0.0 && s <= 1.0), region)
      assert(math.abs(shares.sum - 1.0) < 1e-5, s"$region: ${shares.sum}")
    }
  }

  test("integrity audit counts exactly the planted orphans") {
    import spark.implicits._
    val nation = Seq((1, "a"), (2, "b")).toDF("n_nationkey", "n_name")
    val cust = Seq((10L, 1), (11L, 9)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((100L, 10L), (101L, 77L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((100L, 1), (999L, 2)).toDF("l_orderkey", "l_linenumber")
    val out = RelationalOps.integrityAuditOn(li, orders, cust, nation)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("customer_no_nation" -> 1L,
      "lineitem_no_order" -> 1L, "order_no_customer" -> 1L))
  }

  test("compact rewrites a many-file directory into few, data intact") {
    val dir = tmpDir("compact") + "/t"
    spark.range(0, 10000).selectExpr("id", "id % 7 AS k")
      .repartition(40).write.parquet(dir)
    def files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 40)
    ScaleOps.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(files === 1, "everything fits one target-sized file")
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000)
    assert(back.agg(sum("id")).head().getLong(0) === 49995000L)
    assert(!new java.io.File(dir + ".merging").exists(),
      "staging dir must be swapped away")
    assert(!new java.io.File(dir + ".old").exists(),
      "parked original must be cleaned up after a successful swap")
    // a leftover .old from a previously crashed compact must not block the
    // next run (it is deleted before the swap, not collided with)
    new java.io.File(dir + ".old").mkdirs()
    ScaleOps.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(spark.read.parquet(dir).count() === 10000)
    assert(!new java.io.File(dir + ".old").exists())
    // a Hive-partitioned root is refused loudly: a flat rewrite would
    // silently drop the partition structure (and the batch_id-keyed
    // streaming stores' replay contract)
    val pdir = tmpDir("compact-part") + "/p"
    spark.range(0, 100).selectExpr("id", "id % 3 AS k")
      .write.partitionBy("k").parquet(pdir)
    val ex = intercept[IllegalArgumentException] {
      ScaleOps.compact(spark, pdir, targetBytes = Long.MaxValue)
    }
    assert(ex.getMessage.contains("partitioned"))
    assert(spark.read.parquet(pdir).count() === 100, "store untouched")
  }

  test("two-phase salted top-k equals the single-window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(31)
    // few groups, many ties — the adversarial case for a rank cutoff
    val df = (1L to 2000L).map(i =>
      (s"g${i % 3}", rnd.nextInt(40).toDouble, i)).toDF("g", "v", "id")
    val order = Seq(col("v").desc, col("id").asc)
    val got = ScaleOps.topKPerGroup(df, Seq("g"), order, 25, col("id"))
      .select("g", "rank", "id", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val w = Window.partitionBy("g").orderBy(order: _*)
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 25)
      .select("g", "rank", "id", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("ScaleUp preserves join structure and never duplicates fixed dims") {
    val dst = tmpDir("scaleup3")
    ScaleUp.scale(spark, sfDir, dst, 3)
    def cnt(dir: String, t: String) = Tables.t(spark, dir, t).count()
    // facts scale exactly 3x; fixed dims stay single-copy
    assert(cnt(dst, "lineitem") === 3 * cnt(sfDir, "lineitem"))
    assert(cnt(dst, "orders") === 3 * cnt(sfDir, "orders"))
    assert(cnt(dst, "nation") === cnt(sfDir, "nation"))
    assert(cnt(dst, "region") === cnt(sfDir, "region"))
    // join keys shift consistently: the fact join yields exactly 3x rows
    // (every lineitem still finds its one order — no cross-copy matches)
    def joined(dir: String) = Tables.t(spark, dir, "lineitem")
      .join(Tables.t(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined(dst) === 3 * joined(sfDir))
    // keys stay unique per copy
    assert(Tables.t(spark, dst, "orders")
      .select("o_orderkey").distinct().count() ===
      3 * cnt(sfDir, "orders"))
  }

  test("bucketed join runs with zero exchanges and matches the plain join") {
    val lineitem = Tables.t(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val orders = Tables.t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderdate"))
    ScaleOps.writeBucketed(lineitem, "li_bkt", "okey", 8)
    ScaleOps.writeBucketed(orders, "ord_bkt", "okey", 8)
    try {
      // at sf0.001 the planner would broadcast the tiny side and never
      // exercise bucketing; disabling broadcast simulates the two-big-tables
      // case bucketing exists for (both sides too large to broadcast)
      val big = spark.newSession()
      big.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ScaleOps.bucketedJoin(big, "li_bkt", "ord_bkt", "okey")
      // both sides pre-bucketed on the key → no shuffle anywhere in the plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // same rows as the straight shuffle join
      val plain = lineitem.join(orders, "okey")
      assert(joined.count() === plain.count())
      assert(joined.exceptAll(plain).count() === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("TPC-H chain on the bucketed layout: the per-order contraction and " +
      "the fact join shuffle ZERO bytes") {
    // The q21/q22/q76/q98 family each re-derives the same lineitem→per-order
    // contraction; bucketing lineitem on l_orderkey and orders on o_orderkey
    // (equal bucket counts) pays that shuffle once at write time. The SAME
    // query code (topCustomerRevenueOn) then plans its groupBy(l_orderkey)
    // and the fact⋈fact join with no Exchange — only the post-contraction
    // per-customer rollup still shuffles.
    val li = Tables.t(spark, sfDir, "lineitem")
    val ord = Tables.t(spark, sfDir, "orders")
    val cust = Tables.t(spark, sfDir, "customer")
    ScaleOps.writeBucketed(li, "li_chain_bkt", "l_orderkey", 8)
    ScaleOps.writeBucketed(ord, "ord_chain_bkt", "o_orderkey", 8)
    try {
      val big = spark.newSession()
      big.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
      val bucketed = RelationalOps.topCustomerRevenueOn(
        big.table("li_chain_bkt"), big.table("ord_chain_bkt"),
        Tables.t(big, sfDir, "customer"))
      val plain = RelationalOps.topCustomerRevenueOn(
        Tables.t(big, sfDir, "lineitem"), Tables.t(big, sfDir, "orders"),
        Tables.t(big, sfDir, "customer"))
      // saved: the per-order agg's fact-sized shuffle AND the orders-side
      // join shuffle (the two fact-table exchanges of the chain)
      assert(exchanges(bucketed) <= exchanges(plain) - 2,
        s"bucketed chain must drop the fact exchanges: " +
          s"${exchanges(bucketed)} vs ${exchanges(plain)}")
      // identical rows to the plain layout (same query code, same result)
      assert(bucketed.collect().map(_.toSeq).toSeq ===
        RelationalOps.topCustomerRevenueOn(li, ord, cust)
          .collect().map(_.toSeq).toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_chain_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_chain_bkt")
    }
  }

  test("partitioned layout prunes non-matching directories from the scan") {
    val dir = tmpDir("part_docs")
    ScaleOps.writePartitioned(
      graft.Tables.t(spark, sfDir, "documents"), dir, "lang")
    val filtered = spark.read.parquet(dir).filter(col("lang") === "en")
    // the predicate must land in PartitionFilters (directory pruning),
    // not a post-scan Filter over all rows
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters") &&
      scanStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"predicate not pushed to partition pruning:\n$scanStr")
    val all = spark.read.parquet(dir)
    assert(filtered.count() ===
      all.filter(col("lang") === "en").count())
    assert(filtered.count() < all.count())
  }

  test("joinSkewAware salts exactly the skewed corpora and returns the " +
      "plain join's rows") {
    import spark.implicits._
    import ScaleOps.KeySkewStats
    // decision table: hot-key AND relative-skew conditions must both hold
    assert(ScaleOps.saltsFor(KeySkewStats(1000, 1000, 1), 100, 32) === 1,
      "uniform corpus must not salt")
    assert(ScaleOps.saltsFor(KeySkewStats(10000, 10, 1000), 100, 32) === 1,
      "uniformly-heavy keys must not salt (replication spreads nothing)")
    assert(ScaleOps.saltsFor(KeySkewStats(10000, 1000, 950), 100, 32) === 10,
      "hot key salts to ceil(max/hotKeyRows)")
    assert(ScaleOps.saltsFor(KeySkewStats(100000, 1000, 99000), 100, 32)
      === 32, "salt count is capped by maxSalts")
    assert(ScaleOps.saltsFor(KeySkewStats(0, 0, 0), 100, 32) === 1)

    // skewed fact: one key holds 500 of 560 rows; dim has one row per key
    val fact = ((0L until 500L).map(i => (7L, i)) ++
      (0L until 60L).map(i => (i + 100L, i)))
      .toDF("k", "payload")
    val dim = (Seq(7L) ++ (100L until 160L)).map(k => (k, s"attr$k"))
      .toDF("k", "attr")
    val plain = fact.join(dim, "k")
    val auto = ScaleOps.joinSkewAware(fact, dim, "k", hotKeyRows = 100)
    // the probe must route to the salted form …
    assert(auto.queryExecution.analyzed.toString.contains("_salt"),
      "skewed corpus must dispatch to saltedJoin")
    // … with identical rows, and the stats path must agree with the probe
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(rows(auto) === rows(plain))
    val st = KeySkewStats.compute(fact, "k")
    assert(st === KeySkewStats(560, 61, 500))
    val viaStats = ScaleOps.joinSkewAware(fact, dim, "k", hotKeyRows = 100,
      stats = Some(st))
    assert(viaStats.queryExecution.analyzed.toString.contains("_salt"))
    assert(rows(viaStats) === rows(plain))
    // an unskewed fact goes through the plain arm
    val uni = ScaleOps.joinSkewAware(dim, dim.select(col("k"),
      col("attr").as("b")), "k", hotKeyRows = 100)
    assert(!uni.queryExecution.analyzed.toString.contains("_salt"))
  }

  test("catalog queries over date-partitioned events prune the scan and " +
      "match the plain-layout rows") {
    // the datechain demo's mechanism, pinned on real catalog On-variants:
    // a last-day window over events partitioned by event day must land in
    // PartitionFilters (directory pruning — scan cost tracks the window,
    // not the corpus) and return exactly the plain layout's rows
    val ev = graft.Tables.t(spark, sfDir, "events")
    val pdir = tmpDir("events_bydate")
    ScaleOps.writePartitioned(
      ev.withColumn("event_date", to_date(col("ts"))), pdir, "event_date")
    val part = spark.read.parquet(pdir)
    val maxDay = ev.agg(max(to_date(col("ts")))).head.getDate(0)
    for ((name, q) <- Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "q01" -> (df => EventOps.recentEventsOn(df)),
      "q06" -> (df => EventOps.minutelyTimeseriesOn(df)))) {
      val pruned = q(part.filter(col("event_date") === lit(maxDay)))
      val scanStr = pruned.queryExecution.executedPlan
        .collectLeaves().head.toString
      assert(scanStr.contains("PartitionFilters") &&
        scanStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("event_date"),
        s"$name: date predicate not pruned:\n$scanStr")
      val plain = q(ev.filter(to_date(col("ts")) === lit(maxDay)))
      assert(pruned.collect().map(_.toSeq) === plain.collect().map(_.toSeq),
        name)
    }
  }

  test("zValue interleaves bits (x odd, y even)") {
    import spark.implicits._
    // exhaustive 8x8 against a reference interleave
    def ref(x: Int, y: Int): Long =
      (0 until 3).foldLeft(0L) { (a, i) =>
        a | (((x >> i) & 1).toLong << (2 * i + 1)) |
          (((y >> i) & 1).toLong << (2 * i))
      }
    val pairs = for { x <- 0 until 8; y <- 0 until 8 } yield (x, y)
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        ScaleOps.zValue(col("x"), col("y"), bits = 3).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    pairs.foreach { case (x, y) => assert(got((x, y)) === ref(x, y)) }
    assert(got((3, 1)) === 11L) // 0b1011: x bits at 1,3; y bit at 0
  }

  test("z-ordered layout prunes a 2-d box where a linear sort cannot") {
    import spark.implicits._
    // 64k rows uniform over a 256x256 grid, 32 files each way
    val base = spark.range(1L << 16).select(
      pmod(xxhash64(col("id")), lit(256)).cast("int").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(256)).cast("int").as("y"))
    val zdir = tmpDir("zorder")
    val ldir = tmpDir("linear")
    ScaleOps.writeZOrdered(base, zdir, "x", "y", files = 32, bits = 8)
    base.repartitionByRange(32, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(ldir)
    def rowsRead(dir: String): (Long, Long) = {
      val q = spark.read.parquet(dir)
        .filter(col("x") < 64 && col("y") < 64)
      val n = q.count()
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, n)
    }
    val (zRead, zRows) = rowsRead(zdir)
    val (lRead, lRows) = rowsRead(ldir)
    assert(zRows === lRows) // same answer from both layouts
    // the box is 1/16 of the space: the z layout's 2-d tiles skip row
    // groups on BOTH dims; the x-sort still reads every y for x<64.
    // Bar is 1.5x, not 2x: repartitionByRange samples its boundaries
    // with a seed derived from the GLOBAL rdd id (suite history), so
    // row-group edges jitter run to run — the long-unreproduced OpsSpec
    // flake was exactly this assertion reading a 1.96x win against a
    // 2.0x bar (r12 session-2; zRead 8418 vs lRead 16505). The material
    // claim is "2-d tiles beat a 1-d sort decisively", not a knife-edge
    // constant.
    assert(zRead * 3 <= lRead * 2,
      s"z-order read $zRead rows vs linear $lRead — no pruning win")
  }

  test("media features: empty payload mirrors the oracle's null " +
      "propagation (null mean, empty thumb), not fake zeros") {
    import spark.implicits._
    val out = MultimodalOps.mediaFeaturesOn(
      Seq((7L, "")).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Int]("n_bytes") === 0)
    assert(out.isNullAt(out.fieldIndex("mean_byte")),
      "list_sum([]) = NULL in the oracle — the kernel must agree")
    assert(out.getAs[Int]("dominant_bin") === 0)
    assert(out.getAs[Int]("frames_sampled") === 0)
    assert(out.getAs[String]("thumb8") === "")
  }

  test("media features match a hand-computed payload") {
    val feats = MultimodalOps.mediaFeatures(spark, sfDir).collect()
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.take(5).foreach { r =>
      val bytes = docs(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      assert(r.getAs[Int]("n_bytes") === bytes.length)
      val mean = math.round(bytes.map(_ & 0xFF).map(_.toLong).sum
        * 10000.0 / bytes.length) / 10000.0
      assert(r.getAs[Double]("mean_byte") === mean)
      val thumb = r.getAs[String]("thumb8").split(",").map(_.toInt).toSeq
      assert(thumb.length === 8, "resize output must be fixed-width")
      assert(thumb.forall(v => v >= 0 && v <= 255))
      val n = bytes.length
      val b0 = bytes.slice(0, math.max(1, n / 8)).map(_ & 0xFF)
      assert(thumb.head === b0.map(_.toLong).sum / b0.length)
    }
  }

  test("media phash: identical payloads collide, a planted one-bucket edit " +
      "stays in banding reach, banded miner equals brute force") {
    import spark.implicits._
    val base = "ab" * 64 // 128 bytes → 64 flat buckets → phash 0
    val tweak = base.substring(0, 126) + "!!" // last bucket mean drops
    val docs = Seq((0L, base), (1L, base), (2L, tweak), (3L, ""),
      (4L, "zz" + base.substring(2)), (5L, null: String))
      .toDF("doc_id", "text")
    val h = MultimodalOps.mediaPhashOn(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!h.contains(3L) && !h.contains(5L),
      "empty/null payloads have no gradient and must be excluded")
    assert(h(0L) === h(1L), "identical payloads must share a fingerprint")
    val d02 = java.lang.Long.bitCount(h(0L) ^ h(2L))
    assert(d02 >= 1 && d02 <= 2,
      s"a single-bucket edit flips at most its two adjacent bits, got $d02")

    val pairs = MultimodalOps.mediaPhashPairsOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val ids = h.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= 3
    } yield (a, b, d)).sorted
    assert(brute.contains((0L, 1L, 0)))
    assert(pairs === brute,
      s"banded mining must equal brute force: $pairs vs $brute")
    assert(pairs.size === pairs.distinct.size,
      "first-shared-chunk emission must never duplicate a pair")
  }

  test("phash store: incremental batch screens against the index without " +
      "re-hashing it, append extends, matches are the cross pairs") {
    import spark.implicits._
    val base = "ab" * 64
    val store = tmpDir("phash-store") + "/phash"
    // index two docs: the flat payload and a distant one
    MultimodalOps.writePhashStore(
      Seq((0L, base), (1L, "zz" + ("qx" * 63))).toDF("doc_id", "text"), store)
    MultimodalOps.appendToPhashStore(
      Seq((2L, base.substring(0, 126) + "!!")).toDF("doc_id", "text"), store)
    assert(spark.read.parquet(store).count() === 3)
    // incoming batch: an exact copy of doc 0 (hamming 0, also within 2 of
    // doc 2's one-bucket edit) and an unrelated payload
    val batch = Seq((100L, base), (101L, "mn" * 70)).toDF("doc_id", "text")
    val hits = MultimodalOps.phashPairsAgainstStore(batch, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits.contains((100L, 0L, 0)),
      s"the exact payload copy must hit its indexed original: ${hits.toSeq}")
    assert(hits.filter(_._1 == 100L).map(_._2).toSet.contains(2L),
      "the near variant in the index must also surface")
    assert(hits.count { case (a, b, _) => a == 100L && b == 0L } === 1,
      "first-shared-chunk emission: a 4-chunk collision emits ONE row")
    // a replayed append leaves duplicate rows; compaction re-contracts
    // via staging+swap — never a direct overwrite of the live dir
    MultimodalOps.appendToPhashStore(
      Seq((2L, base.substring(0, 126) + "!!")).toDF("doc_id", "text"), store)
    assert(spark.read.parquet(store).count() === 4)
    MultimodalOps.compactPhashStore(spark, store)
    assert(spark.read.parquet(store).count() === 3)
    val hits2 = MultimodalOps.phashPairsAgainstStore(batch, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits2.sorted === hits.sorted,
      "compaction must not change screen answers")
    assert(!new java.io.File(store + ".merging").exists)
    assert(!new java.io.File(store + ".old").exists)
    // a batch-id-keyed store (the streaming triage layout) is rejected
    // loudly — compacting it would flatten the layout runMediaIngest
    // requires, bricking the stream until re-seeded
    val streamStore = tmpDir("phash-stream") + "/phash"
    MultimodalOps.mediaPhashOn(
      Seq((0L, base)).toDF("doc_id", "text"))
      .write.parquet(streamStore + "/batch_id=0")
    val e = intercept[IllegalArgumentException] {
      MultimodalOps.compactPhashStore(spark, streamStore)
    }
    assert(e.getMessage.contains("batch-id-keyed"))
    assert(spark.read.parquet(streamStore).count() === 1,
      "the refused compactor must leave the store untouched")
  }

  test("centroid rows cover every (label, dim) cell") {
    val c = SimilarityOps.labelCentroids(spark, sfDir)
    val labels = Tables.t(spark, sfDir, "embeddings")
      .select("label").distinct().count()
    assert(c.count() === labels * SimilarityOps.Dim)
  }

  test("group sample: k per stratum, deterministic under repartitioning") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val a = ops.TextOps.groupSampleOn(docs, k = 3).collect()
    val b = ops.TextOps.groupSampleOn(docs.repartition(13), k = 3).collect()
    assert(a.toSeq === b.toSeq, "sample must not depend on partitioning")
    // exactly k rows per source (every source has >= 3 docs here), ranks 1..3
    val bySource = a.groupBy(_.getString(0))
    assert(bySource.values.forall(_.length === 3))
    assert(bySource.values.forall(
      _.map(_.getAs[Long]("rank")).sorted.toSeq === Seq(1L, 2L, 3L)))
    // sampled ids really belong to their stratum
    val pairs = docs.select("source", "doc_id").as[(String, Long)]
      .collect().toSet
    assert(a.forall(r =>
      pairs.contains((r.getString(0), r.getAs[Long]("doc_id")))))
  }

  test("cluster purity: diagonal dominates; a planted outlier crosses") {
    import spark.implicits._
    // two tight label clusters + one vector labeled 0 but sitting on
    // cluster 1's centroid — it must land off-diagonal
    def v(hot: Int, w: Float): Seq[Float] =
      (0 until 64).map(i => if (i == hot) w else 0.0f)
    val rows: Seq[(Long, Seq[Float], Int)] =
      (1L to 5L).map(i => (i, v(0, 1.0f + 0.01f * i), 0)) ++
        (11L to 15L).map(i => (i, v(1, 1.0f + 0.01f * i), 1)) ++
        Seq((99L, v(1, 1.02f), 0)) // mislabeled
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.clusterPurityOn(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out((0, 0)) === 5L)
    assert(out((1, 1)) === 5L)
    assert(out((0, 1)) === 1L) // the planted outlier
    assert(!out.contains((1, 0)))
  }

  test("hash split: exhaustive, weight-faithful, and stable under growth") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    def corpus(n: Long) = (1L to n).map(i => (i, s"tok a b c $i", 10L))
      .toDF("doc_id", "text", "n_chars")
    val s1 = CurationOps.withHashSplit(corpus(300), "graft-split", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // exhaustive: every doc lands in exactly one named split
    assert(s1.size === 300)
    assert(s1.values.toSet.subsetOf(Set("train", "valid", "test")))
    // weight-faithful within a loose band at n=300
    val trainFrac = s1.values.count(_ == "train") / 300.0
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train frac $trainFrac")
    // growth stability: doubling the corpus must not migrate any existing
    // document (membership is a pure function of salt + doc_id)
    val s2 = CurationOps.withHashSplit(corpus(600), "graft-split", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    s1.foreach { case (id, sp) => assert(s2(id) === sp, s"doc $id moved") }
    // a different salt reshuffles membership (seeds are real)
    val s3 = CurationOps.withHashSplit(corpus(300), "other-salt", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.exists { case (id, sp) => s3(id) != sp })
  }

  test("q116 report partitions the corpus and shares sum to one") {
    val out = CurationOps.hashSplit(spark, sfDir).collect()
    val nDocs = Tables.t(spark, sfDir, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === nDocs)
    val shareSum = out.map(_.getAs[Double]("doc_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4)
  }

  test("quality logit: keep is the rounded-logit sign; hand-computed doc") {
    val out = TextOps.qualityLogit(spark, sfDir).collect()
    out.foreach { r =>
      assert(r.getAs[Boolean]("keep") === (r.getAs[Double]("logit") > 0))
    }
    // hand check on a fixture doc: "the the a of" — all four tokens are
    // stopwords, 3 distinct of 4, 9 non-space chars, zero punct
    import spark.implicits._
    val one = TextOps.qualityLogitOn(
      Seq((1L, "the the a of")).toDF("doc_id", "text")).collect().head
    // Spark's round() is HALF_UP — mirror it exactly
    def r(v: Double, dp: Int): Double =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = r(-3.1 + 1.6 * (3.0 / 4.0)
      + 0.8 * math.min((9.0 / 4.0) / 10.0, 1.0)
      + 1.2 * (1.0 - 0.0 / 4.0)
      + 2.0 * (4.0 / 4.0)
      + 0.35 * r(math.log(4.0), 9), 6)
    assert(one.getAs[Double]("logit") === expected)
    assert(one.getAs[Int]("en_hits") === 4)
  }

  test("token coverage: monotone in rank, bounded by 1, mass-consistent") {
    val r = TextOps.tokenCoverage(spark, sfDir).collect().head
    val covs = Seq(10, 100, 1000, 10000).map(k => r.getAs[Double](s"cov_$k"))
    assert(covs === covs.sorted)
    assert(covs.forall(c => c > 0.0 && c <= 1.0))
    // once k >= vocab_size the curve saturates at exactly 1
    val vocab = r.getAs[Long]("vocab_size")
    Seq(10, 100, 1000, 10000).zip(covs).foreach { case (k, c) =>
      if (k >= vocab) assert(c === 1.0, s"cov_$k must saturate")
    }
    // the corpus vocabulary is tiny, so the tail checkpoint is saturated
    assert(vocab < 10000)
  }

  test("winnowing: single-window doc yields one fingerprint; density and " +
      "selection are within the guaranteed bounds") {
    import spark.implicits._
    // 6 tokens → m = 4 k-grams = exactly one w=4 window → 1 fingerprint
    val tiny = TextOps.winnowFingerprintsOn(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text")).collect().head
    assert(tiny.getAs[Int]("n_kgrams") === 4)
    assert(tiny.getAs[Int]("n_fingerprints") === 1)
    assert(tiny.getAs[Long]("min_fp") === tiny.getAs[Long]("max_fp"))
    // corpus-wide: every doc selects at least one and at most m
    // fingerprints, one per window in the worst case
    val out = TextOps.winnowFingerprints(spark, sfDir).collect()
    out.foreach { r =>
      val m = r.getAs[Int]("n_kgrams")
      val n = r.getAs[Int]("n_fingerprints")
      assert(n >= 1 && n <= m, s"selection out of bounds: $r")
      assert(n <= math.max(m - 3, 1), "more fingerprints than windows")
    }
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 token run share a " +
      "fingerprint hash") {
    import spark.implicits._
    // randomized (seeded) corpora: pairs of docs with a planted shared run
    // of exactly 6 tokens (= WinnowW + WinnowK - 1) at arbitrary offsets
    val rnd = new scala.util.Random(20260814L)
    def randToks(n: Int) = Seq.fill(n)("t" + rnd.nextInt(50))
    val cases = (0 until 20).map { i =>
      val shared = randToks(6)
      val a = randToks(rnd.nextInt(10)) ++ shared ++ randToks(rnd.nextInt(10))
      val b = randToks(rnd.nextInt(10)) ++ shared ++ randToks(rnd.nextInt(10))
      (2L * i, a.mkString(" "), 2L * i + 1, b.mkString(" "))
    }
    val docs = cases.flatMap { case (ia, a, ib, b) =>
      Seq((ia, a), (ib, b)) }.toDF("doc_id", "text")
    val fps = TextOps.winnowSetsOn(docs)
      .select("doc_id", "fps").as[(Long, Seq[Long])].collect().toMap
    cases.foreach { case (ia, _, ib, _) =>
      assert(fps(ia).toSet.intersect(fps(ib).toSet).nonEmpty,
        s"docs $ia/$ib share a 6-token run but no fingerprint")
    }
  }

  test("winnow matches: planted near-dup pair found, ubiquitous " +
      "fingerprints pruned before pairing") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    def randToks(n: Int) = Seq.fill(n)("u" + rnd.nextInt(1000))
    // docs 0/1: heavy overlap (a 30-token shared run → many shared
    // fingerprints); docs 2..11: unrelated text, but ALL docs share one
    // common boilerplate run whose fingerprints are ubiquitous (df = 12)
    val shared = randToks(30)
    val boiler = Seq("copyright", "footer", "terms", "apply", "here", "now")
    val docs = (Seq(
      (0L, (randToks(5) ++ shared ++ randToks(5) ++ boiler).mkString(" ")),
      (1L, (randToks(5) ++ shared ++ randToks(5) ++ boiler).mkString(" "))) ++
      (2L to 11L).map(i =>
        (i, (randToks(25) ++ boiler).mkString(" ")))).toDF("doc_id", "text")
    // maxDf = 3 prunes the df=12 boilerplate fingerprints: the unrelated
    // docs must NOT pair up on boilerplate alone
    val out = TextOps.winnowMatchesOn(docs, maxDf = 3, minShared = 2,
      topK = 100).collect()
    val pairs = out.map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((0L, 1L)), s"planted pair missing: $pairs")
    assert(pairs.forall { case (a, b) => a == 0L && b == 1L },
      s"boilerplate-only pairs survived pruning: $pairs")
    // without the df prune the boilerplate fingerprints pair everyone —
    // the prune is doing real work in this fixture
    val unpruned = TextOps.winnowMatchesOn(docs, maxDf = 1000,
      minShared = 2, topK = 1000).count()
    assert(unpruned > out.length)
  }

  test("winnow store: incremental probe finds the planted cross-crawl " +
      "overlap, survives a replayed append, corpus never re-read") {
    import spark.implicits._
    val rnd = new scala.util.Random(99L)
    def randToks(n: Int) = Seq.fill(n)("v" + rnd.nextInt(2000))
    val shared = randToks(25)
    val crawl1 = (Seq((10L, (randToks(8) ++ shared ++ randToks(8))
      .mkString(" "))) ++
      (11L to 18L).map(i => (i, randToks(30).mkString(" "))))
      .toDF("doc_id", "text")
    val crawl2 = Seq(
      (20L, (randToks(6) ++ shared ++ randToks(4)).mkString(" ")),
      (21L, randToks(30).mkString(" "))).toDF("doc_id", "text")
    val store = tmpDir("winnow-store") + "/fps"
    TextOps.writeWinnowStore(crawl1, store)
    val m1 = TextOps.matchesAgainstStore(crawl2, store, maxDf = 5,
      minShared = 2, topK = 100).collect()
    val pairs = m1.map(r =>
      (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(pairs === Set((20L, 10L)),
      s"exactly the planted cross-crawl pair must match: $pairs")
    // replayed append (same batch twice): duplicate rows in the store
    // must not change the match answer (distinct count + df headroom)
    TextOps.appendToWinnowStore(crawl2, store)
    TextOps.appendToWinnowStore(crawl2, store)
    val m2 = TextOps.matchesAgainstStore(crawl2, store, maxDf = 8,
      minShared = 2, topK = 100).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Long]("n_shared"))).toSet
    // each batch doc now also matches its own indexed copy exactly once
    assert(m2.exists { case (b, c, _) => b == 20L && c == 10L })
    assert(m2.exists { case (b, c, _) => b == 20L && c == 20L })
    assert(m2.exists { case (b, c, _) => b == 21L && c == 21L })
    // compact restores one row per (fp, doc) — match answer unchanged
    TextOps.compactWinnowStore(spark, store)
    val m3 = TextOps.matchesAgainstStore(crawl2, store, maxDf = 8,
      minShared = 2, topK = 100).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Long]("n_shared"))).toSet
    assert(m3 === m2)
  }

  test("crossmodal curation: combined = score x norm, ranked and capped") {
    val out = SimilarityOps.crossmodalCuration(spark, sfDir).collect()
    assert(out.length === 20)
    // ordering key descends, ties broken by doc_id
    val keys = out.map(r =>
      (-r.getAs[Double]("combined"), r.getAs[Long]("doc_id"))).toSeq
    assert(keys === keys.sorted)
    // the combined signal is the product of the two modality signals
    // (recomputed from the row's own rounded columns within rounding slack)
    out.foreach { r =>
      val prod = r.getAs[Double]("score") * r.getAs[Double]("emb_norm")
      assert(math.abs(prod - r.getAs[Double]("combined")) < 1e-5)
    }
    // every emitted doc exists in both modalities
    val embIds = Tables.t(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => embIds.contains(r.getAs[Long]("doc_id"))))
  }

  test("n-gram entropy: hand-computed unigram/bigram entropy; a " +
      "single-token source has NULL bigram stats") {
    import spark.implicits._
    // source A: one doc "a a b" -> unigram dist (2/3, 1/3): H =
    // log2(3) - (2*log2 2 + 1*log2 1)/3 = 0.918296; bigrams "a a", "a b"
    // each once: H = 1.0 exactly; h_cond = their difference
    // source B: two single-token docs -> (1/2, 1/2): H = 1.0, NO bigrams
    val df = Seq(("A", "a a b"), ("B", "x"), ("B", "y"))
      .toDF("source", "text")
    val got = TextOps.ngramEntropyOn(df).collect()
    assert(got.length === 2)
    val a = got(0)
    assert(a.getString(0) === "A")
    assert((a.getLong(1), a.getLong(2)) === ((3L, 2L)))
    assert(a.getDouble(3) === 0.918296)
    assert((a.getLong(4), a.getLong(5)) === ((2L, 2L)))
    assert(a.getDouble(6) === 1.0)
    assert(a.getDouble(7) === 0.081704)
    val b = got(1)
    assert(b.getString(0) === "B")
    assert((b.getLong(1), b.getLong(2), b.getDouble(3)) === ((2L, 2L, 1.0)))
    assert(b.isNullAt(4) && b.isNullAt(5) && b.isNullAt(6) && b.isNullAt(7),
      "a bigram-free source must report NULL bigram stats, not zeros")
  }

  test("topKIdsPerGroup/topKPairsPerGroup: NaN scores rank as the " +
      "largest (Spark's sort order, matching the window form) and " +
      "k < 1 is rejected at analysis with the named guard") {
    import spark.implicits._
    val df = Seq(("a", 1L, Double.NaN), ("a", 2L, 5.0), ("a", 3L, 7.0),
      ("a", 4L, Double.NaN)).toDF("g", "id", "s")
    val got = ScaleOps.topKIdsPerGroup(df, Seq("g"), col("s"), col("id"),
        3, "id")
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got === Seq((1, 1L), (2, 4L), (3, 3L)),
      "desc: NaN first (ties by id), then the largest real score")
    assert(ScaleOps.topKPairsPerGroup(df, Seq("g"), col("s"), col("id"),
        3, "id", "s")
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq === got)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toSeq.sorted
    assert(got.sorted === want, "the window form agrees on NaN order")
    val e = intercept[Exception] {
      ScaleOps.topKIdsPerGroup(df, Seq("g"), col("s"), col("id"), 0, "id")
        .collect()
    }
    assert(e.getMessage.contains("k >= 1"),
      s"k = 0 must fail the named type check, got: ${e.getMessage}")
  }

  test("swapInto crashed-swap recovery: a retry that finds the prior copy " +
      "parked at dir.old restores it, and a failed publish rolls back to " +
      "populated state instead of losing the only copy") {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = tmpDir("swapinto-crash")
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // arm 1: happy retry from the crash state (dir missing, prior parked
    // at dir.old, fresh staging) converges to the new data
    fs.mkdirs(new HPath(s"$root/a/store.old"))
    fs.create(new HPath(s"$root/a/store.old/PRIOR")).close()
    fs.mkdirs(new HPath(s"$root/a/staging"))
    fs.create(new HPath(s"$root/a/staging/NEW")).close()
    ScaleOps.swapInto(spark, s"$root/a/staging", s"$root/a/store")
    assert(fs.exists(new HPath(s"$root/a/store/NEW")))
    assert(!fs.exists(new HPath(s"$root/a/store.old")))
    // arm 2: same crash state but the retry's staging never materialized
    // (crashed again before the rewrite) — the publish fails, and the
    // prior copy must survive AT the live path (pre-fix it was deleted
    // before the publish could fail, reading as total loss)
    fs.mkdirs(new HPath(s"$root/b/store.old"))
    fs.create(new HPath(s"$root/b/store.old/PRIOR")).close()
    val e = intercept[java.io.IOException] {
      ScaleOps.swapInto(spark, s"$root/b/staging-missing", s"$root/b/store")
    }
    assert(e.getMessage.contains("restored"),
      s"rollback must report the restore, got: ${e.getMessage}")
    assert(fs.exists(new HPath(s"$root/b/store/PRIOR")),
      "the prior segment must be back at the live path after the failed " +
        "publish")
  }

  test("topKIdsPerGroup equals the null-filtered rank window it replaces: " +
      "duplicate scores, null scores/ids skipped, strata smaller than k") {
    import spark.implicits._
    // 3 strata: 'a' dense with score ties, 'b' smaller than k, 'c' only
    // null scores (must vanish entirely); null ids sprinkled in
    val rows =
      (0L until 40L).map(i => ("a", Option(i), Option((i % 7).toDouble))) ++
      (100L until 103L).map(i => ("b", Option(i), Option(9.0))) ++
      Seq(("c", Option(200L), Option.empty[Double]),
        ("a", Option.empty[Long], Option(99.0)), // best score, null id
        ("a", Option(50L), Option.empty[Double]))
    val df = rows.toDF("g", "id", "s").repartition(7)
    val got = ScaleOps.topKIdsPerGroup(df, Seq("g"), col("s"), col("id"),
        5, "id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)
    val want = df.filter(col("s").isNotNull && col("id").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1)))
      .toSet
    assert(got === want)
    assert(!got.exists(_._1 == "c"), "an all-null stratum must vanish")
    assert(got.count(_._1 == "b") === 3, "a stratum smaller than k " +
      "returns everything ranked")
    // the score-carrying form: identical (g, rank, id) rows, with each
    // carried score equal to the value that ranked the row
    val pairs = ScaleOps.topKPairsPerGroup(df, Seq("g"), col("s"),
        col("id"), 5, "id", "s")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.map(t => (t._1, t._2, t._3)).toSet === want)
    val srcScore = rows.collect { case (g, Some(id), Some(s)) =>
      (g, id) -> s }.toMap
    pairs.foreach { case (g, _, id, s) =>
      assert(s === srcScore((g, id)),
        s"carried score must be the ranking value for ($g, $id)")
    }
  }
}
