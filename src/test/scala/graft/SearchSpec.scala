package graft

import graft.ops.SearchOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Semantics of the search structures (SearchOps): inverted-index lexicon
  * stats, the bounded posting head, and co-occurrence pair normalization.
  */
class SearchSpec extends SparkSpec {

  import spark.implicits._

  test("lm perplexity: hand-computed bigram probabilities, short docs " +
      "dropped") {
    val docs = Seq(
      (1L, "a b"),
      (2L, "a b"),
      (3L, "a c"),
      (4L, "solo")).toDF("doc_id", "text")
    // counts: (a,b)=2, (a,c)=1; P(b|a)=2/3, P(c|a)=1/3
    val out = SearchOps.lmPerplexityOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    val lp23 = BigDecimal(math.log(2.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lp13 = BigDecimal(math.log(1.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1) === Seq(1L, 2L, 3L), "doc 4 has no bigram")
    assert(out(0) === ((1L, 1L, lp23,
      BigDecimal(math.exp(-lp23)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(1)._3 === out(0)._3, "identical docs score identically")
    assert(out(2)._3 === lp13)
    assert(out(2)._4 > out(0)._4,
      "the rarer continuation must score higher perplexity")
  }

  test("bigram store: from-store perplexity equals the raw q108 path, " +
      "appends merge, OOV bigrams are counted not scored") {
    val path = tmpDir("bigram-store") + "/bigrams"
    val batch1 = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val batch2 = Seq((3L, "a c")).toDF("doc_id", "text")
    val corpus = batch1.union(batch2)
    SearchOps.writeBigramStore(batch1, path)
    SearchOps.appendToBigramStore(batch2, path)
    // store trained on the same corpus → scores must equal q108 raw,
    // with zero OOV
    val raw = SearchOps.lmPerplexityOn(corpus).collect().map(_.toSeq).toSeq
    val viaStore = SearchOps.lmPerplexityFromStore(corpus, path)
    assert(viaStore.collect().map(r =>
      Seq(r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("avg_logp"), r.getAs[Double]("ppl"))).toSeq === raw)
    assert(viaStore.collect().forall(_.getAs[Long]("n_oov") == 0L))
    // a doc the model never saw: known bigram scored, unknown one counted
    val fresh = Seq((9L, "a b z")).toDF("doc_id", "text")
    val r = SearchOps.lmPerplexityFromStore(fresh, path).collect().head
    assert(r.getAs[Long]("n_bigrams") === 1L) // (a,b) known
    assert(r.getAs[Long]("n_oov") === 1L) // (b,z) unseen, excluded
  }

  test("bm25 with a null-text doc is identical under legacy sizeOfNull") {
    // dl reads through Tables.sizeOrNull: under the legacy conf a
    // null-text doc's dl would be -1 and pollute sum_dl (the oracle's
    // len(NULL) skips the row in its sum)
    val docs = Seq((1L, "spark table spark"), (2L, "vector"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def run() = SearchOps.bm25SearchOn(docs, Seq("table", "vector", "spark"), 10)
      .collect().map(_.toSeq).toSeq
    val expected = run()
    val key = "spark.sql.legacy.sizeOfNull"
    spark.conf.set(key, "true")
    try assert(run() === expected)
    finally spark.conf.unset(key)
  }

  test("bigram store compaction: segments contract to one row per pair, " +
      "scores unchanged, keyed/flat layout guards refuse crosswise") {
    val path = tmpDir("bigram-compact") + "/bigrams"
    SearchOps.writeBigramStore(Seq((1L, "a b"), (2L, "a b"))
      .toDF("doc_id", "text"), path)
    SearchOps.appendToBigramStore(Seq((3L, "a b c")).toDF("doc_id", "text"),
      path)
    val probe = Seq((9L, "a b c")).toDF("doc_id", "text")
    val before = SearchOps.lmPerplexityFromStore(probe, path)
      .collect().map(_.toSeq).toSeq
    SearchOps.compactBigramStore(spark, path)
    val store = spark.read.parquet(path)
    // (a,b) appeared in both segments — exactly one row post-compact
    assert(store.count() === store.select("from_tok", "to_tok")
      .distinct().count())
    assert(SearchOps.lmPerplexityFromStore(probe, path)
      .collect().map(_.toSeq).toSeq === before)
    assert(!new java.io.File(path + ".merging").exists)
    assert(!new java.io.File(path + ".old").exists)
    // the shared core's guards: a flat compactor on a batch-id-keyed
    // store refuses (the phash class, now every family), and a keyed
    // compactor on a flat store refuses the inverse conversion
    val keyed = tmpDir("bigram-keyed") + "/partials"
    Seq(("s", 1L)).toDF("source", "n_docs")
      .write.parquet(keyed + "/batch_id=0")
    val e1 = intercept[IllegalArgumentException] {
      SearchOps.compactBigramStore(spark, keyed)
    }
    assert(e1.getMessage.contains("batch-id-keyed"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.CurationOps.compactDoremiPartials(spark, path)
    }
    assert(e2.getMessage.contains("not batch-id-keyed"))
  }

  test("staged bigram store seed: first write lands atomically, a re-seed " +
      "over the live store swaps, no staging residue either way") {
    val path = tmpDir("bigram-staged") + "/bigrams"
    val c1 = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    SearchOps.writeBigramStore(c1, path) // first seed: path absent
    assert(SearchOps.lmPerplexityFromStore(c1, path).collect()
      .forall(_.getAs[Long]("n_oov") == 0L))
    assert(!new java.io.File(path + ".merging").exists)
    // re-seed over the LIVE store (a frozen-LM refresh between crawls)
    val c2 = Seq((3L, "x y"), (4L, "x z")).toDF("doc_id", "text")
    SearchOps.writeBigramStore(c2, path)
    val scored = SearchOps.lmPerplexityFromStore(c2, path).collect()
    assert(scored.forall(_.getAs[Long]("n_oov") == 0L),
      "the swapped store must hold ONLY the new LM")
    assert(SearchOps.lmPerplexityFromStore(c1, path).collect()
      .forall(_.getAs[Long]("n_bigrams") == 0L),
      "the old LM must be fully replaced, not merged")
    assert(!new java.io.File(path + ".merging").exists)
    assert(!new java.io.File(path + ".old").exists)
  }

  test("lm perplexity plan: count agg, vocab window, bigram join, doc " +
      "agg, sort — and nothing more") {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val n = "Exchange".r.findAllIn(SearchOps.lmPerplexityOn(docs)
      .queryExecution.executedPlan.toString).length
    assert(n <= 5, s"expected at most 5 exchanges, got $n")
  }

  test("inverted index: df counts docs, cf counts occurrences") {
    val docs = Seq(
      (1L, "a b a"), // a twice here
      (2L, "a c"),
      (3L, "c c c")).toDF("doc_id", "text")
    val out = SearchOps.invertedIndexOn(docs, cap = 10)
      .select("token", "df", "cf", "postings").collect()
    assert(out.toSeq === Seq(
      Row("a", 2L, 3L, "1,2"),
      Row("b", 1L, 1L, "1"),
      Row("c", 2L, 4L, "2,3")))
  }

  test("posting head is capped to the smallest doc ids") {
    val docs = (1L to 15L).map(i => (i, s"shared only$i"))
      .toDF("doc_id", "text")
    val row = SearchOps.invertedIndexOn(docs, cap = 10)
      .filter(col("token") === "shared").head()
    assert(row.getAs[Long]("df") === 15L)
    assert(row.getAs[String]("postings") === (1L to 10L).mkString(","))
  }

  test("capped postings equal the naive collect-sort-slice on real data") {
    val docs = Tables.t(spark, sfDir, "documents")
    val got = SearchOps.invertedIndexOn(docs, cap = 3)
      .select("token", "postings")
    val naive = docs
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), " "))).as("token"))
      .groupBy("token")
      .agg(concat_ws(",",
        slice(sort_array(collect_list(col("doc_id"))), 1, 3)).as("postings"))
    assert(got.count() === naive.count())
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("native-aggregate index equals the salted-window formulation") {
    val docs = Tables.t(spark, sfDir, "documents")
    val agg = SearchOps.invertedIndexOn(docs, cap = 3)
    val win = SearchOps.invertedIndexWindowedOn(docs, cap = 3)
    assert(agg.count() === win.count())
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
  }

  test("co-occurrence counts each document once and normalizes pair order") {
    val docs = Seq(
      (1L, "b a b a"), // duplicates inside a doc count once
      (2L, "a b"),
      (3L, "a c")).toDF("doc_id", "text")
    val out = SearchOps.tokenCooccurrenceOn(docs, topK = 10)
      .select("t1", "t2", "n_docs").collect()
    assert(out.toSeq === Seq(
      Row("a", "b", 2L), // docs 1+2, pair normalized to (a,b)
      Row("a", "c", 1L)))
  }

  test("bm25 ranks rare-term matches above common-term matches") {
    // 'rare' appears in 1 of 12 docs, 'common' in 11 of 12; equal length
    val docs = (
      Seq((1L, "rare pad pad pad"), (2L, "common pad pad pad")) ++
        (3L to 12L).map(i => (i, "common filler filler filler")))
      .toDF("doc_id", "text")
    val out = SearchOps.bm25SearchOn(docs, Seq("rare", "common"), 12)
      .select("doc_id", "bm25").collect()
    val score = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(1L) > score(2L))
  }

  test("bm25 length normalization: same tf, longer doc scores lower") {
    val docs = Seq(
      (1L, "hit pad"),
      (2L, "hit pad pad pad pad pad pad pad"),
      (3L, "other other other")) // keeps df < n_docs
      .toDF("doc_id", "text")
    val out = SearchOps.bm25SearchOn(docs, Seq("hit"), 10)
      .select("doc_id", "bm25").collect()
    val score = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(1L) > score(2L))
    assert(!score.contains(3L)) // no query term → not retrieved
  }

  test("bigram LM: counts adjacent pairs, P(to|from) sums to 1 per from") {
    val docs = Seq(
      (1L, "a b x"), // a→b, b→x
      (2L, "a b"),   // a→b
      (3L, "a c"),   // a→c
      (4L, "solo"))  // <2 tokens: no bigrams
      .toDF("doc_id", "text")
    val out = SearchOps.bigramLmOn(docs, topK = 10)
      .select("from_tok", "to_tok", "n_pairs", "from_total", "p_next")
      .collect()
    assert(out.toSeq === Seq(
      Row("a", "b", 2L, 3L, 2.0 / 3),
      Row("a", "c", 1L, 3L, 1.0 / 3),
      Row("b", "x", 1L, 1L, 1.0)))
  }

  test("bm25 agrees with a naive in-memory model on arbitrary corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val terms = Seq("a", "b")
    val k1 = 1.2
    val b = 0.75
    def naive(docs: Seq[(Long, String)]): Map[Long, Double] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split(" ", -1).toSeq }
      val n = docs.size
      val sumDl = toks.map(_._2.length.toLong).sum
      val avgdl = sumDl.toDouble / n.toDouble
      val dfs = terms.map(t => toks.count(_._2.contains(t)).toLong)
      toks.collect { case (id, ts) if ts.exists(terms.contains) =>
        val dl = ts.length
        val score = terms.zip(dfs).map { case (t, df) =>
          val tf = ts.count(_ == t).toLong
          // mirrors bm25TermExpr's exact tree, incl. (k1 + 1.0) unfolded
          math.log((n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
            + 1.0) *
            (tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * (1.0 - b + b * dl.toDouble / avgdl))
        }.sum
        id -> BigDecimal(score)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    val docGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "x")).map(_.mkString(" ")))
    val prop = Prop.forAll(Gen.choose(2, 15).flatMap(n =>
      Gen.listOfN(n, docGen).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, t)
      }))) { docs =>
      val got = SearchOps
        .bm25SearchOn(docs.toDF("doc_id", "text"), terms, docs.size)
        .select("doc_id", "bm25").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got == naive(docs)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("hybrid rrf: score reciprocates the reported leg ranks, leg-only " +
      "docs survive, ordering is total") {
    val docs = Seq(
      (1L, "table table spark the fast"),
      (2L, "vector vector vector"),
      (3L, "nothing relevant here"),
      (4L, "table spark"),
      (0L, "table")).toDF("doc_id", "text")
    val embs = Seq(
      (0L, Array(1f, 0f)), // the query vector
      (1L, Array(0.9f, 0.1f)),
      (4L, Array(0.2f, 0.9f)),
      (9L, Array(1f, 0f)) // semantic-only doc: no text row at all
    ).toDF("vec_id", "embedding")
    val out = SearchOps.hybridRrfOn(
        docs, embs, Seq("table", "vector", "spark"), 0L, 10, 10).collect()
    // every row reciprocates its own reported ranks exactly
    out.foreach { r =>
      val lex = r.getAs[Long]("lex_rank")
      val sem = r.getAs[Long]("sem_rank")
      assert(lex > 0 || sem > 0, s"row in neither leg: $r")
      val want = BigDecimal(
        (if (lex > 0) 1.0 / (60.0 + lex) else 0.0)
          + (if (sem > 0) 1.0 / (60.0 + sem) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf") === want, s"rrf mismatch: $r")
    }
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // lexical-only doc 2 and semantic-only doc 9 both survive fusion
    assert(byId(2L).getAs[Long]("sem_rank") === 0L)
    assert(byId(2L).getAs[Long]("lex_rank") > 0L)
    assert(byId(9L).getAs[Long]("lex_rank") === 0L)
    assert(byId(9L).getAs[Long]("sem_rank") > 0L)
    // doc 1 is strong in BOTH legs → must outrank every single-leg doc
    val rrf1 = byId(1L).getAs[Double]("rrf")
    assert(Seq(2L, 9L).forall(id => rrf1 > byId(id).getAs[Double]("rrf")))
    // presentation order is (rrf desc, doc_id asc) — a total order
    val keys = out.map(r =>
      (-r.getAs[Double]("rrf"), r.getAs[Long]("doc_id"))).toSeq
    assert(keys === keys.sorted)
  }

  test("co-occurrence top-k plans as TakeOrderedAndProject, no global sort") {
    val plan = SearchOps.tokenCooccurrence(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
