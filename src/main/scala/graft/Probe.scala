package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The standing probes over the catalog and the persisted stores, run
  * against the corpus in `SCRATCH_DIR` (default sf0.1):
  *
  *  - `jobbudget [write]`: the per-query job-count gate of `sbt gates`
  *    (`write` regenerates `JOB_BUDGETS.json` instead);
  *  - `storegate`: the store-equivalence gate of `sbt gates`;
  *  - `planaudit`: one-line physical-plan census per catalog query;
  *  - `timeq <q>`: cold and warm wall time of one query;
  *  - `canary`: cold and warm wall time of the scale-canary set;
  *  - `<q> [<q>…]`, `<q> explain`, `<q> force [<q>…]`: run, explain or
  *    fully materialize catalog queries (names resolve through
  *    [[SparkEntry.resolve]]).
  *
  * `runMain graft.Probe <arm> …`; a gate breach exits nonzero.
  */
object Probe {

  private val Arms = Set("jobbudget", "storegate", "planaudit", "timeq",
    "canary")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: the in-memory catalog's default database directory
      // goes under /tmp, never the working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("probe-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SCRATCH_DIR", "/root/testdata/sf0.1")
    var ok = true
    try args.toList match {
      case List("jobbudget") => ok = jobBudget(spark, dir, write = false)
      case List("jobbudget", "write") => ok = jobBudget(spark, dir, write = true)
      case List("storegate") => storeGate(spark, dir)
      case List("planaudit") => planAudit(spark, dir)
      case List("timeq", q) => timeQuery(spark, dir, q)
      case List("canary") => canary(spark, dir)
      case arm :: _ if Arms.contains(arm) => sys.error(usage)
      case List(q, "explain") =>
        SparkEntry.resolve(q)._2(spark, dir).explain("formatted")
      case q :: "force" :: more => runEach(spark, dir, q :: more)(force)
      case Nil => sys.error(usage)
      case qs => runEach(spark, dir, qs)(_.count())
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private val usage = "usage: graft.Probe jobbudget [write] | storegate | " +
    "planaudit | timeq <q> | canary | <q> explain | <q> force [<q>…] | " +
    "<q> [<q>…]  (corpus: SCRATCH_DIR, default /root/testdata/sf0.1)"

  private def time(name: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"$name rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Runs each named query twice (cold, then warm) under `act`. */
  private def runEach(spark: SparkSession, dir: String, names: List[String])(
      act: DataFrame => Long): Unit =
    names.foreach { n =>
      val fn = SparkEntry.resolve(n)._2
      time(n)(act(fn(spark, dir)))
      time(s"$n-again")(act(fn(spark, dir)))
    }

  /** Full evaluation of every output column (a bare count() lets Spark
    * prune computed columns out of projection-only queries).
    */
  private def force(d: DataFrame): Long = {
    import org.apache.spark.sql.functions.{count, expr, lit, struct, xxhash64}
    d.select(xxhash64(struct(d.columns.map(d.col): _*)).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
      .head().getLong(0)
  }

  /** Jobs per catalog query. Each Spark job is a scheduler
    * barrier, so an outsized count marks a query that is sensitive to box
    * noise and worth a look for a replayed subtree. Each query runs twice
    * and the second run counts (the first pays memo-warming probes); the
    * listener bus is drained around each run so the count is settled.
    */
  private def jobCensus(spark: SparkSession,
      dir: String): Seq[(String, Int)] = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    def drain(): Unit =
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (qn, fn) =>
      def once(): Int = {
        spark.sharedState.cacheManager.clearCache()
        drain()
        val j0 = jobs.get()
        fn(spark, dir).count()
        drain()
        jobs.get() - j0
      }
      once()
      (qn, once())
    }
  }

  /** The census as a gate: every catalog query carries a recorded job
    * budget in `JOB_BUDGETS.json` (regenerated by `write`), and a query
    * over its budget by more than 2 fails, so silent per-execution job
    * creep from a replayed subtree cannot land unobserved. Drops are
    * reported so the ledger can ratchet. Returns false on a breach.
    */
  private def jobBudget(spark: SparkSession, dir: String,
      write: Boolean): Boolean = {
    val budgetFile = new java.io.File("JOB_BUDGETS.json")
    // a gate must not self-disarm: a missing ledger (wrong cwd, deleted
    // file) fails loud; only `write` creates it
    if (!write && !budgetFile.exists())
      sys.error(s"jobbudget: ${budgetFile.getAbsolutePath} not found — " +
        "run from the repo root, or regenerate with `jobbudget write`")
    val counts = jobCensus(spark, dir)
    if (write) {
      val json = counts.sortBy(_._1).map { case (qn, j) =>
        s"""  "$qn": $j""" }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(budgetFile.toPath,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote ${counts.size} budgets to $budgetFile")
      return true
    }
    val budgets = {
      val txt = new String(
        java.nio.file.Files.readAllBytes(budgetFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      """"(q\w+)":\s*(\d+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toInt).toMap
    }
    val over = counts.filter { case (qn, j) =>
      budgets.get(qn).exists(b => j > b + 2) }
    val missing = counts.filterNot { case (qn, _) => budgets.contains(qn) }
    counts.filter { case (qn, j) => budgets.get(qn).exists(b => j < b) }
      .foreach { case (qn, j) =>
        println(f"$qn%-28s jobs=$j%3d (budget ${budgets(qn)}%3d) — " +
          "improved; ratchet with `jobbudget write`") }
    missing.foreach { case (qn, j) =>
      println(f"$qn%-28s jobs=$j%3d NEW (no budget) — record it") }
    over.foreach { case (qn, j) =>
      println(f"$qn%-28s jobs=$j%3d EXCEEDS budget ${budgets(qn)}%3d " +
        "+2 — find the replayed subtree or document in PLANS.md") }
    if (over.isEmpty)
      println(s"job budgets OK: ${counts.size} queries within budget+2" +
        (if (missing.nonEmpty) s"; ${missing.size} NEW unrecorded" else ""))
    over.isEmpty
  }

  /** One-line physical-plan shape per catalog query: parquet scans by
    * table, exchange count, plan size. Planning only (no action), so the
    * whole catalog audits in under a minute; a query whose scans repeat a
    * table more often than its operator's documented pass count is a
    * duplicate-subtree suspect. AQE is off: an AdaptiveSparkPlanExec root
    * hides its tree until execution, and ReuseExchange runs in the static
    * path anyway, so the static plan shows the shape with plan-level
    * reuse already applied.
    */
  private def planAudit(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange,
      ReusedExchangeExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (qn, fn) =>
      try {
        var scans = List.empty[String]
        var exchanges = 0
        var reused = 0
        var nodes = 0
        def walk(p: SparkPlan): Unit = {
          nodes += 1
          p match {
            case s: FileSourceScanExec =>
              scans ::= s.relation.location.rootPaths.headOption
                .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
            case _: Exchange => exchanges += 1
            case _: ReusedExchangeExec => reused += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
        walk(fn(spark, dir).queryExecution.executedPlan)
        val byTable = scans.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (t, xs) => s"$t*${xs.size}" }.mkString(",")
        println(f"$qn%-28s nodes=$nodes%3d exch=$exchanges%2d " +
          f"reuse=$reused%2d scans=[$byTable]")
      } catch { case e: Exception =>
        println(f"$qn%-28s PLAN-FAIL ${e.getClass.getSimpleName}")
      }
    }
  }

  /** Cold (cleared cache) then warm wall seconds of one catalog query. */
  private def coldWarm(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Double) = {
    def once(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val cold = once()
    (cold, once())
  }

  /** One query outside the canary set, e.g. a trained face on a
    * `ScaleUp`-built corpus: `SCRATCH_DIR=<dir> … Probe timeq q151`.
    */
  private def timeQuery(spark: SparkSession, dir: String,
      prefix: String): Unit = {
    val (qn, fn) = SparkEntry.resolve(prefix)
    val (cold, warm) = coldWarm(spark, dir, fn)
    println(f"$qn%-28s cold $cold%6.2f s  warm $warm%6.2f s")
  }

  /** The standing scale-canary set: one query per distinct shuffle shape
    * of the catalog, cold and warm, on whatever corpus `SCRATCH_DIR` names
    * (build one with `graft.ScaleUp /root/testdata/sf0.01 <dst> 100`). A
    * cold regression past 25% against the previous table in PLANS.md is
    * explained or fixed.
    */
  private def canary(spark: SparkSession, dir: String): Unit = {
    val canaries = Seq(
      "q102" -> "span explode + gap stitch",
      "q107" -> "persisted store probe",
      "q121" -> "winnowing fingerprint join",
      "q127" -> "contrastive triplets (rank zip)",
      "q65" -> "Aho–Corasick decontamination",
      "q44" -> "NN dedup (dispatch-probed)",
      "q46" -> "connected-components clusters",
      "q81" -> "BM25 scoring",
      "q124" -> "DSIR importance weights",
      "q131" -> "DoReMi mix weights",
      "q135" -> "recall sweep (bounded top-k heaps)",
      "q139" -> "RP recall eval (topk aggregate)",
      "q145" -> "t-closeness EMD grid")
    println(f"${"query"}%-28s ${"shape"}%-34s cold_s  warm_s")
    canaries.foreach { case (prefix, shape) =>
      val (qn, fn) = SparkEntry.resolve(prefix)
      // a partial corpus (a documents-only sweep) skips the canaries
      // whose tables are absent instead of aborting the set
      try {
        val (cold, warm) = coldWarm(spark, dir, fn)
        println(f"$qn%-28s $shape%-34s $cold%6.2f  $warm%6.2f")
      } catch {
        case e: Exception =>
          println(f"$qn%-28s $shape%-34s SKIP (${e.getClass.getSimpleName})")
      }
    }
  }

  /** The store-equivalence gate: every persisted store family runs its
    * lived crawl sequence (build from crawl 1, fold crawl 2 in through the
    * append/merge face, replaying the append where the family documents
    * replay tolerance, compact), and each from-store consumer must answer
    * exactly like the inline computation over the whole corpus, or like a
    * store rebuilt fresh from it for faces whose only contract is
    * store-in/store-out. The sbt-test twins pin each equality in isolation
    * on synthetic rows; this proves the whole layer on a real corpus in
    * one PASS/FAIL line.
    */
  private def storeGate(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docsAll = Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "lang", "text")
    val isC1 = Tables.lcgBucket(col("doc_id"), 48271L, 23L, 100L) < 80L
    val c1 = docsAll.filter(isC1)
    val c2 = docsAll.filter(!isC1)
    // a cross-crawl probe batch (10%, independent multiplier) so every
    // probe face matches against BOTH seeded and appended segments
    val probe = docsAll.filter(
      Tables.lcgBucket(col("doc_id"), 9301L, 11L, 100L) < 10L)
    val root = java.nio.file.Files.createTempDirectory("storegate")
      .toString
    var failures = List.empty[String]
    var nOk = 0
    def gate(family: String)(body: => Unit): Unit =
      try { body; nOk += 1; println(s"[storegate] $family OK") }
      catch { case scala.util.control.NonFatal(e) =>
        failures ::= s"$family: ${e.getMessage}"
        println(s"[storegate] $family FAILED: ${e.getMessage}")
      }
    // bounded by contract: every gate frame is an audit/top-k/
    // per-source contraction, far under the cap (the grep audit in
    // BoundedCollectSpec forbids raw collects here too — rightly:
    // storegate is wired into `sbt gates`, not a dev scratch path)
    def dump(df: DataFrame) =
      Tables.boundedCollect(df, 1 << 20, "storegate frame")
        .map(_.toSeq).toSeq

    gate("fingerprint") {
      val p = s"$root/fingerprints"
      ops.CurationOps.writeFingerprintStore(c1, p)
      val admitted = ops.CurationOps.freshAgainstStore(c2, p)
      ops.CurationOps.appendToFingerprintStore(admitted, p)
      ops.CurationOps.appendToFingerprintStore(admitted, p) // replay
      ops.CurationOps.compactFingerprintStore(spark, p)
      val stored = spark.read.parquet(p).select("norm")
      val exact = docsAll.select(ops.DedupOps.normText.as("norm"))
        .distinct()
      require(stored.exceptAll(exact).isEmpty &&
        exact.exceptAll(stored).isEmpty,
        "compacted store norms != whole-corpus distinct norms")
      val novel = Seq((9000000001L, "srcX",
        "a sentence no crawl has ever produced zqx"))
        .toDF("doc_id", "source", "text")
      require(ops.CurationOps.freshAgainstStore(novel, p).count() == 1L,
        "a genuinely new doc must survive the store probe")
    }
    gate("shingle") {
      val p = s"$root/shingles"
      ops.SpanOps.writeShingleStore(c1, p)
      ops.SpanOps.appendToShingleStore(c2, p)
      ops.SpanOps.appendToShingleStore(c2, p) // replay
      ops.SpanOps.compactShingleStore(spark, p)
      val viaStore = dump(ops.SpanOps.noveltyAgainstStore(probe, p)
        .orderBy("doc_id"))
      val inline = dump(ops.SpanOps.noveltyAgainstKeys(probe,
          ops.SpanOps.distinctShingleKeys(docsAll, ops.SpanOps.DefaultK),
          ops.SpanOps.DefaultK)
        .orderBy("doc_id"))
      require(viaStore == inline,
        s"novelty from store != inline over whole corpus " +
          s"(${viaStore.size} vs ${inline.size} rows)")
    }
    gate("bloom") {
      val pb = s"$root/bloom"
      ops.SpanOps.writeBloomStoreFromShingles(spark, s"$root/shingles",
        pb, nBits = 1 << 22)
      val rebuilt = s"$root/bloom_rebuilt"
      ops.SpanOps.writeBloomStore(docsAll, rebuilt, nBits = 1 << 22)
      val (b1, k1) = ops.SpanOps.readBloomStore(spark, pb)
      val (b2, k2) = ops.SpanOps.readBloomStore(spark, rebuilt)
      require(k1 == k2 && java.util.Arrays.equals(b1, b2),
        "bloom refreshed from the appended shingle store != bloom " +
          "built from the whole corpus (bit arrays must be identical)")
    }
    gate("winnow") {
      val p = s"$root/winnow"
      ops.TextOps.writeWinnowStore(c1, p)
      ops.TextOps.appendToWinnowStore(c2, p)
      ops.TextOps.appendToWinnowStore(c2, p) // replay
      ops.TextOps.compactWinnowStore(spark, p)
      val rebuilt = s"$root/winnow_rebuilt"
      ops.TextOps.writeWinnowStore(docsAll, rebuilt)
      require(dump(ops.TextOps.matchesAgainstStore(probe, p)) ==
        dump(ops.TextOps.matchesAgainstStore(probe, rebuilt)),
        "winnow matches from the incremental store != rebuilt store")
    }
    gate("phash") {
      val p = s"$root/phash"
      ops.MultimodalOps.writePhashStore(c1, p)
      ops.MultimodalOps.appendToPhashStore(c2, p)
      ops.MultimodalOps.appendToPhashStore(c2, p) // replay
      ops.MultimodalOps.compactPhashStore(spark, p)
      val rebuilt = s"$root/phash_rebuilt"
      ops.MultimodalOps.writePhashStore(docsAll, rebuilt)
      require(dump(ops.MultimodalOps.phashPairsAgainstStore(probe, p)) ==
        dump(ops.MultimodalOps.phashPairsAgainstStore(probe, rebuilt)),
        "phash screen from the incremental store != rebuilt store")
    }
    val emb = Tables.t(spark, dir, "embeddings")
    val embC1 = emb.filter(
      Tables.lcgBucket(col("vec_id"), 48271L, 23L, 100L) < 80L)
    val embC2 = emb.filter(
      Tables.lcgBucket(col("vec_id"), 48271L, 23L, 100L) >= 80L)
    val cbook = ops.SimilarityOps.kmeansCentroids(emb, k = 16, iters = 2)
    gate("codebook") {
      val p = s"$root/codebook"
      ops.SimilarityOps.writeCodebookStore(spark, cbook, p, trainIters = 2)
      val back = ops.SimilarityOps.readCodebookStore(spark, p)
      require(back.length == cbook.length &&
        back.zip(cbook).forall { case (a, b) => a.sameElements(b) },
        "codebook must round-trip bit-identically")
    }
    gate("pq_codes") {
      val p = s"$root/pq"
      ops.SimilarityOps.writePqStore(embC1, cbook, p)
      ops.SimilarityOps.appendToPqStore(embC2, cbook, p)
      ops.SimilarityOps.appendToPqStore(embC2, cbook, p) // replay
      ops.SimilarityOps.compactPqStore(spark, p)
      val q = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      val viaStore = Tables.boundedCollect(
        ops.SimilarityOps.annPqFromStore(spark, p, cbook, q,
          excludeId = 0L), 100, "pq store top-k")
        .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq
      val inline = Tables.boundedCollect(
        ops.SimilarityOps.annPqWith(emb, cbook), 100, "pq inline top-k")
        .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq
      require(viaStore == inline,
        s"ADC from the compacted store != in-plan form " +
          s"($viaStore vs $inline)")
    }
    gate("ivfpq_index") {
      val p = s"$root/ivfpq"
      val valid = ops.SimilarityOps.validLabeled(emb)
      val vC1 = valid.filter(
        Tables.lcgBucket(col("vec_id"), 48271L, 23L, 100L) < 80L)
      val vC2 = valid.filter(
        Tables.lcgBucket(col("vec_id"), 48271L, 23L, 100L) >= 80L)
      val rcb = ops.SimilarityOps.pqResidualCodebook(valid, cbook,
        k = 8, iters = 2)
      ops.SimilarityOps.writeIvfPqStore(vC1, cbook, rcb, p)
      ops.SimilarityOps.appendToIvfPqStore(vC2, cbook, rcb, p)
      ops.SimilarityOps.appendToIvfPqStore(vC2, cbook, rcb, p) // replay
      ops.SimilarityOps.compactIvfPqStore(spark, p)
      val q = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(2), r.getString(3), r.getDouble(4))
      val viaStore = Tables.boundedCollect(
        ops.SimilarityOps.annIvfPqFromStore(spark, p, cbook, rcb, q,
          excludeId = 0L), 100, "ivfpq store top-k").map(key).toSeq
      val inline = Tables.boundedCollect(
        ops.SimilarityOps.annIvfPqWith(valid, cbook, rcb), 100,
        "ivfpq inline top-k").map(key).toSeq
      require(viaStore == inline,
        s"residual ADC from the compacted inverted lists != in-plan " +
          s"form ($viaStore vs $inline)")
    }
    gate("cardinality") {
      val p = s"$root/cardinality"
      ops.CurationOps.writeCardinalityStore(c1, p)
      ops.CurationOps.mergeIntoCardinalityStore(c2, p)
      ops.CurationOps.mergeIntoCardinalityStore(c2, p) // replay: set-idem
      val est = Tables.boundedCollect(
        ops.CurationOps.cardinalityFromStore(spark, p), 1 << 16,
        "cardinality store rows")
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Tables.boundedCollect(docsAll
        .select(col("source"),
          explode(Tables.tokens(col("text"))).as("token"))
        .groupBy("source").agg(countDistinct("token").as("n")),
        1 << 16, "exact cardinality rows")
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(est.keySet == exact.keySet, s"source sets differ: " +
        s"${est.keySet} vs ${exact.keySet}")
      // merged sketches lose the HIP estimator (composite fallback) —
      // the store's contract is the SKETCH's ±0.8% @ lgK 14, gated
      // here at 3% to stay load-noise-proof
      exact.foreach { case (src, n) =>
        val rel = math.abs(est(src) - n).toDouble / math.max(n, 1L)
        require(rel <= 0.03,
          s"cardinality estimate for $src off by ${rel * 100}%: " +
            s"est ${est(src)} vs exact $n")
      }
    }
    val events = Tables.t(spark, dir, "events")
    val evC1 = events.filter(
      pmod(xxhash64(col("event_id")), lit(100L)) < 80L)
    val evC2 = events.filter(
      pmod(xxhash64(col("event_id")), lit(100L)) >= 80L)
    val kanonPath = s"$root/kanon"
    gate("kanon") {
      ops.ScrubOps.writeKanonStore(evC1, kanonPath)
      ops.ScrubOps.appendToKanonStore(evC2, kanonPath)
      ops.ScrubOps.compactKanonStore(spark, kanonPath)
      require(dump(ops.ScrubOps.kanonAuditFromStore(spark, kanonPath)) ==
        dump(ops.ScrubOps.kanonAuditOn(events, ops.ScrubOps.KAnonK)),
        "k-anon audit from the compacted store != exact event scan")
    }
    gate("ldiv") {
      require(dump(ops.ScrubOps.ldivAuditFromStore(spark, kanonPath)) ==
        dump(ops.ScrubOps.ldivAuditOn(events, ops.ScrubOps.LDivL)),
        "l-diversity audit from the store != exact event scan")
    }
    gate("tclose") {
      require(dump(ops.ScrubOps.tcloseAuditFromStore(spark, kanonPath)) ==
        dump(ops.ScrubOps.tcloseAuditOn(events, ops.ScrubOps.TCloseT)),
        "t-closeness audit from the store != exact event scan")
    }
    gate("token_counts") {
      val p = s"$root/token_counts"
      ops.TextOps.writeTokenCountStore(c1, p)
      ops.TextOps.appendToTokenCountStore(c2, p) // counts: admit ONCE
      ops.TextOps.compactTokenCountStore(spark, p)
      require(dump(ops.TextOps.sourceDriftFromStore(spark, p)) ==
        dump(ops.TextOps.sourceDriftOn(docsAll)),
        "source drift from the compacted count store != inline")
    }
    val lmPath = s"$root/bigrams"
    gate("bigram_lm") {
      ops.SearchOps.writeBigramStore(c1, lmPath)
      ops.SearchOps.appendToBigramStore(c2, lmPath) // counts: admit ONCE
      ops.SearchOps.compactBigramStore(spark, lmPath)
      val viaStore = ops.SearchOps.lmPerplexityFromStore(docsAll, lmPath)
      require(viaStore.filter(col("n_oov") =!= 0L).isEmpty,
        "LM trained on the whole corpus must score it with zero OOV")
      require(dump(viaStore
          .select("doc_id", "n_bigrams", "avg_logp", "ppl")) ==
        dump(ops.SearchOps.lmPerplexityOn(docsAll)),
        "perplexity from the appended LM store != one-shot inline LM")
    }
    gate("doremi_partials") {
      val p = s"$root/doremi_partials"
      ops.CurationOps.doremiBatchPartials(c1, lmPath)
        .coalesce(1).write.mode("overwrite")
        .parquet(streaming.BatchDirs.segment(p, 0))
      ops.CurationOps.doremiBatchPartials(c2, lmPath)
        .coalesce(1).write.mode("overwrite")
        .parquet(streaming.BatchDirs.segment(p, 1))
      ops.CurationOps.compactDoremiPartials(spark, p)
      require(dump(ops.CurationOps.doremiFromPartials(
          spark.read.parquet(p))) ==
        dump(ops.CurationOps.doremiFromStore(docsAll, lmPath)),
        "DoReMi from compacted partials != one-shot from the LM store")
    }
    gate("dsir") {
      val p = s"$root/dsir_tokens"
      def langDocs(df: DataFrame) =
        df.select(col("lang").as("source"), col("text"))
      ops.TextOps.writeTokenCountStore(langDocs(c1), p)
      ops.TextOps.appendToTokenCountStore(langDocs(c2), p)
      require(dump(ops.CurationOps.dsirWeightsFromStore(docsAll, spark,
          p, col("source") === "en")) ==
        dump(ops.CurationOps.dsirWeightsOn(docsAll,
          col("lang") === "en")),
        "DSIR weights from the appended count store != inline")
    }
    val total = nOk + failures.size
    if (failures.nonEmpty) {
      sys.error(s"storegate FAIL: ${failures.size}/$total families " +
        s"broken —\n  ${failures.reverse.mkString("\n  ")}")
    }
    println(s"storegate PASS: $nOk/$total store families " +
      "from-store == exact")
  }
}
