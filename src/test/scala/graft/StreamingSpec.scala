package graft

import graft.gen.TradeGen
import graft.streaming.IngestPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Dashboard-stream test row (top-level for encoder derivation). */
case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Streaming-pipeline tests per SURVEY.md §5.2(4): MemoryStream in,
  * processAllAvailable, assert sink contents.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** JSON-serialized trades (the wire format) with injected duplicates and
    * one poison record.
    */
  private def tradeJson(n: Int): Seq[String] = {
    val rows = TradeGen.trades(spark, n, seed = 11)
      .select(to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava).as("j")).as[String].collect().toSeq
    rows ++ rows.take(3) :+ "{not valid json" // dupes + poison pill
  }

  test("parse → dedup → sink collapses duplicates and skips poison records") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sink = tmpDir("sink")
    val ckpt = tmpDir("ckpt")

    // AvailableNow snapshots offsets at start — data must be added first
    input.addData(tradeJson(20))
    val q = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), IngestPipeline.ParquetSink(sink), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    // duplicates within the batch collapse; poison record skipped
    val out = spark.read.parquet(sink)
    assert(out.count() === 20)
    assert(out.select("trade_id").distinct().count() === 20)

    // second run with overlapping data: new checkpoint, idempotent-key sink
    val q2 = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), IngestPipeline.ParquetSink(sink),
      tmpDir("ckpt2"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()
    val replayed = spark.read.parquet(sink)
    // RAW count must still be 20: the per-batchId overwrite sink makes a
    // rerun converge instead of appending duplicates (dropDuplicates here
    // would mask an at-least-once sink entirely)
    assert(replayed.count() === 20)
    assert(replayed.select("trade_id").distinct().count() === 20)
  }

  test("reference journey: stream → idempotent sink → trade KPIs") {
    // the whole reference pipeline in one pass (producer→kafka→consumer→
    // postgres→dashboard): generated wire JSON → parse/dedup/sink → batch
    // KPI block over the sink table (dashboard.py:74-100), cross-checked
    // against the generator's own columns
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sink = tmpDir("journey_sink")
    input.addData(tradeJson(50)) // + 3 dupes + 1 poison record
    val q = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), IngestPipeline.ParquetSink(sink),
      tmpDir("journey_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    val trades = spark.read.parquet(sink)
    assert(trades.count() === 50) // dupes collapsed, poison skipped
    val kpi = trades.agg(
      count(lit(1)).as("total"),
      sum(when(col("status") === "Settled", 1).otherwise(0)).as("settled"),
      sum(when(col("status").contains("Break"), 1).otherwise(0)).as("breaks"),
      sum(when(col("stp_eligible"), 1).otherwise(0)).as("stp")).head()
    val direct = TradeGen.trades(spark, 50, seed = 11)
    assert(kpi.getLong(0) === 50)
    assert(kpi.getLong(1) ===
      direct.filter(col("status") === "Settled").count())
    assert(kpi.getLong(2) ===
      direct.filter(col("status").contains("Break")).count())
    assert(kpi.getLong(3) === direct.filter(col("stp_eligible")).count())
  }

  test("streaming 1-minute windows match batch date_trunc on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val trades = TradeGen.trades(spark, 200, seed = 5).cache()
    val json = trades.select(to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava).as("j")).as[String]
      .collect().toSeq

    val input = MemoryStream[String]
    input.addData(json)
    val streamed = IngestPipeline.minuteAggs(
      IngestPipeline.parseTrades(input.toDF().select(col("value"))))
    val q = streamed.writeStream.format("memory").queryName("mw")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()

    // double sums aggregate in different orders between the streaming
    // state merge and the batch shuffle — compare per window with an ulp
    // tolerance rather than demanding identical 2dp rounding
    val got = spark.table("mw")
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getDouble(2))).toMap
    val want = trades
      .groupBy(date_trunc("minute", col("timestamp")).as("minute"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("notional_value")).as("tn"))
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, (n, tn)) =>
      assert(n === want(k)._1, s"window $k count")
      assert(math.abs(tn - want(k)._2) < 0.01, s"window $k sum") }
  }

  test("incremental dashboard aggregates equal batch results on same data") {
    import graft.streaming.DashboardPipeline
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1L to 40L).map(i =>
      Ev(i, i % 7, Seq("click", "view", "error")((i % 3).toInt), i * 1.5))
    val b2 = (41L to 90L).map(i =>
      Ev(i, i % 7, Seq("click", "view", "purchase")((i % 3).toInt), i * 0.5))

    val input = MemoryStream[Ev]
    val stream = input.toDF()
    val q1 = DashboardPipeline.typeDistributionStream(stream)
      .writeStream.format("memory").queryName("dist")
      .outputMode("complete").start()
    val q2 = DashboardPipeline.topUsersStream(stream, 3)
      .writeStream.format("memory").queryName("topu")
      .outputMode("complete").start()
    val q3 = DashboardPipeline.kpiStream(stream)
      .writeStream.format("memory").queryName("kpi")
      .outputMode("complete").start()
    input.addData(b1)
    q1.processAllAvailable(); q2.processAllAvailable()
    val afterB1 = spark.table("dist").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterB1("click") + afterB1("view") + afterB1("error") === 40)
    input.addData(b2)
    q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
    q1.stop(); q2.stop(); q3.stop()

    // the incrementally-updated KPI header equals the batch aggregate
    val wantKpi = DashboardPipeline.kpiStream((b1 ++ b2).toDF()).collect().head
    val gotKpi = spark.table("kpi").collect().head
    assert(gotKpi.getLong(0) === wantKpi.getLong(0))   // n_events
    assert(gotKpi.getDouble(1) === wantKpi.getDouble(1)) // total_value (2dp)
    assert(gotKpi.getLong(2) === wantKpi.getLong(2))   // n_clicks
    assert(gotKpi.getLong(3) === wantKpi.getLong(3))   // n_errors

    val all = (b1 ++ b2).toDF()
    val wantDist = DashboardPipeline.typeDistributionStream(all).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotDist = spark.table("dist").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotDist === wantDist)
    val wantTop = DashboardPipeline.topUsersStream(all, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotTop = spark.table("topu").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotTop === wantTop)
  }

  test("streaming sessionization closes sessions per the batch definition") {
    import graft.streaming.{ClosedSession, SessionEvent, SessionPipeline}
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val M = 1000000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      SessionEvent(u, id, sec * M, v)

    val input = MemoryStream[SessionEvent]
    val q = SessionPipeline.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()

    // batch 1: u1 gets a 2-event session then a gap boundary; u2 one event
    input.addData(ev(1, 1, 0, 1.0), ev(1, 2, 100, 2.0), ev(2, 5, 50, 4.0))
    q.processAllAvailable()
    // batch 2: u1 continues past the gap (closing session 1), then both
    // users get a far-future event that forces every real session closed
    input.addData(ev(1, 3, 1901, 0.75), ev(1, 4, 2001, 0.75),
      ev(1, 9, 999999, 0.0), ev(2, 9, 999999, 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess").as[ClosedSession].collect().toSet
    assert(got === Set(
      ClosedSession(1, 1, 0, 100 * M, 2, 3.0),
      ClosedSession(1, 2, 1901 * M, 2001 * M, 2, 1.5),
      ClosedSession(2, 1, 50 * M, 50 * M, 1, 4.0)))
  }

  test("declarative session_window equals the q13 window definition in batch") {
    import graft.streaming.{SessionEvent, SessionPipeline}
    val ev = graft.Tables.t(spark, sfDir, "events")
    val asSessions = ev
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[SessionEvent]
    val declarative = SessionPipeline
      .sessionizeDeclarative(asSessions, streaming = false)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        // built-in end = last event + gap; shift back to compare
        (unix_micros(col("session_end")) - SessionPipeline.GapMicros).as("e"),
        col("n_events"), col("total_value"))
      .collect().map(_.toSeq).toSet
    val batch = ops.EventOps.userSessionsOn(ev)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"),
        col("n_events"), col("total_value"))
      .collect().map(_.toSeq).toSet
    assert(declarative === batch)
    assert(batch.nonEmpty)
  }

  test("streaming session_window emits watermark-closed sessions") {
    import graft.streaming.{SessionEvent, SessionPipeline}
    implicit val sqlCtx = spark.sqlContext
    val M = 1000000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      SessionEvent(u, id, sec * M, v)
    val input = MemoryStream[SessionEvent]
    val q = SessionPipeline
      .sessionizeDeclarative(input.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_decl")
      .outputMode("append").start()
    input.addData(ev(1, 1, 0, 1.0), ev(1, 2, 100, 2.0), ev(2, 5, 50, 4.0))
    q.processAllAvailable()
    input.addData(ev(1, 3, 1901, 0.75), ev(1, 4, 2001, 0.75),
      ev(1, 9, 999999, 0.0), ev(2, 9, 999999, 0.0))
    q.processAllAvailable()
    // third batch: watermark (set by 999999) finalizes the real sessions
    input.addData(ev(3, 99, 1999999, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_decl")
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"), col("n_events"),
        col("total_value"))
      .collect().map(_.toSeq).toSet
    val Gap = SessionPipeline.GapMicros
    assert(got === Set(
      Seq(1L, 0L, 100 * M + Gap, 2L, 3.0),
      Seq(1L, 1901 * M, 2001 * M + Gap, 2L, 1.5),
      Seq(2L, 50 * M, 50 * M + Gap, 1L, 4.0),
      // the flush batch's watermark also closes both 999999 sessions
      Seq(1L, 999999 * M, 999999 * M + Gap, 1L, 0.0),
      Seq(2L, 999999 * M, 999999 * M + Gap, 1L, 0.0)))
  }

  test("streaming delta dedup admits only corpus-fresh, first-seen docs") {
    import graft.streaming.DeltaDedupPipeline
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "Existing Doc one"), (101L, "existing doc two"))
      .toDF("doc_id", "text")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DeltaDedupPipeline.freshDocs(
      input.toDS().toDF("doc_id", "text", "event_ts"), corpus)
      .writeStream.format("memory").queryName("delta_sink")
      .outputMode("append").start()
    // batch 1: one corpus dup (case/space-normalized), one fresh
    input.addData((1L, "EXISTING  doc one", ts(0)), (2L, "brand new", ts(1)))
    q.processAllAvailable()
    // batch 2: cross-batch stream dup of doc 2, plus another fresh
    input.addData((3L, "Brand New", ts(2)), (4L, "also fresh", ts(3)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("delta_sink").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 4L))
  }

  test("bloom-accelerated delta dedup admits the same docs as the exact path") {
    import graft.streaming.DeltaDedupPipeline
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "Existing Doc one"), (101L, "existing doc two"))
      .toDF("doc_id", "text")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    // a deliberately tiny, collision-heavy filter (64 bits for 2 norms):
    // false positives only route rows through the exact confirm join,
    // admissions must not change
    val q = DeltaDedupPipeline.freshDocsBloom(
      input.toDS().toDF("doc_id", "text", "event_ts"), corpus,
      nBits = 64, k = 2)
      .writeStream.format("memory").queryName("bloom_delta_sink")
      .outputMode("append").start()
    input.addData((1L, "EXISTING  doc one", ts(0)), (2L, "brand new", ts(1)))
    q.processAllAvailable()
    input.addData((3L, "Brand New", ts(2)), (4L, "also fresh", ts(3)),
      (5L, "existing doc TWO", ts(4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bloom_delta_sink").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 4L))
  }

  test("streaming scrub ingest: per-batch audit rows roll up to the " +
      "batch q104 answer and the sink equals the batch scrub") {
    import graft.streaming.ScrubPipeline
    import graft.ops.ScrubOps
    implicit val sqlCtx = spark.sqlContext
    val sink = tmpDir("scrub-sink")
    val audit = tmpDir("scrub-audit")
    val batch1 = Seq(
      (0L, "s1", "mail me at bob@example.com or alice@test.org today"),
      (1L, "s1", "totally clean document text"),
      (2L, "s2", "server at 10.0.0.1 leaked ssn 123-45-6789"))
    val batch2 = Seq(
      (3L, "s2", "call +1 555 123 4567 about 10.0.0.2"),
      (4L, "s3", "nothing sensitive here either"))
    val input = MemoryStream[(Long, String, String)]
    val q = ScrubPipeline.runScrubIngest(
      input.toDS().toDF("doc_id", "source", "text"),
      sink, audit, tmpDir("scrub-ckpt"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (batch1 ++ batch2).toDF("doc_id", "source", "text")
    // audit: the cross-batch rollup IS q104 over everything ingested
    assert(ScrubPipeline.auditFromStore(spark, audit).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.piiAuditOn(all).collect().map(_.toSeq).toSeq)
    // and two batches really landed (the rollup summed, not copied)
    assert(spark.read.parquet(audit).select("batch_id").distinct().count()
      === 2L)
    // sink: stream scrub ≡ batch scrub, row for row
    val got = spark.read.parquet(sink)
      .select("doc_id", "source", "text", "n_scrubbed")
      .collect().map(_.toSeq).toSet
    val want = ScrubOps.scrubOn(all)
      .select("doc_id", "source", "text", "n_scrubbed")
      .collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got.exists(_(3).asInstanceOf[Int] > 0), "PII must be scrubbed")
  }

  test("streaming quality gate: keep/reject routing equals the batch " +
      "q117 decision, the gate report rolls up additively") {
    import graft.streaming.QualityGatePipeline
    import graft.ops.TextOps
    implicit val sqlCtx = spark.sqlContext
    val keepDir = tmpDir("gate-keep")
    val rejDir = tmpDir("gate-rej")
    // mixed-quality docs: stopword-rich diverse text scores positive,
    // degenerate repetition scores negative (see the q117 weights)
    val batch1 = Seq(
      (0L, "s1", "the quick brown fox is a friend of the lazy dog"),
      (1L, "s1", "x x x x x x x x x x x x"),
      (2L, "s2", "it is a truth universally acknowledged that a reader"))
    val batch2 = Seq(
      (3L, "s2", "spam spam spam spam spam spam"),
      (4L, "s3", "a clear and varied sentence keeps the classifier happy"))
    val input = MemoryStream[(Long, String, String)]
    val q = QualityGatePipeline.runQualityGate(
      input.toDS().toDF("doc_id", "source", "text"),
      keepDir, rejDir, tmpDir("gate-ckpt"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val all = (batch1 ++ batch2).toDF("doc_id", "source", "text")
    val batchDecision = TextOps.qualityLogitOn(all)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    // routing must agree doc-for-doc with the batch query, and partition
    // the input (every doc in exactly one sink)
    val kept = spark.read.parquet(keepDir).select("doc_id")
      .as[Long].collect().toSet
    val rejected = spark.read.parquet(rejDir).select("doc_id")
      .as[Long].collect().toSet
    assert(kept.intersect(rejected).isEmpty)
    assert(kept.union(rejected) === batchDecision.keySet)
    assert(kept === batchDecision.filter(_._2).keySet)
    assert(kept.nonEmpty && rejected.nonEmpty, "fixture must exercise both")
    // the report: per-source totals partition, keep_rate reciprocates
    val rep = QualityGatePipeline.gateReport(spark, keepDir, rejDir)
      .collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum === 5L)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_rejected")
        === r.getAs[Long]("n_docs"))
    }
  }

  test("streaming drift monitor: per-batch reports equal cumulative batch " +
      "q114, store segments replay and compact idempotently") {
    import graft.streaming.DriftMonitorPipeline
    import graft.ops.TextOps
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("drift-store")
    val report = tmpDir("drift-report")
    val batch1 = Seq(
      (0L, "s1", "alpha beta gamma alpha"),
      (1L, "s2", "beta beta delta"))
    val batch2 = Seq(
      (2L, "s1", "gamma gamma epsilon"),
      (3L, "s3", "zeta zeta zeta alpha"))
    val input = MemoryStream[(Long, String, String)]
    val q = DriftMonitorPipeline.runDriftMonitor(
      input.toDS().toDF("doc_id", "source", "text"),
      store, report, tmpDir("drift-ckpt"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def rep(id: Long) = spark.read.parquet(report)
      .filter(col("batch_id") === id).drop("batch_id")
      .orderBy("source").collect().map(_.toSeq).toSeq
    def want(rows: Seq[(Long, String, String)]) =
      TextOps.sourceDriftOn(rows.toDF("doc_id", "source", "text"))
        .collect().map(_.toSeq).toSeq
    // batch-0 report covers batch 1 alone; batch-1 report is cumulative
    assert(rep(0) === want(batch1))
    assert(rep(1) === want(batch1 ++ batch2))
    assert(DriftMonitorPipeline.latestReport(spark, report)
      .collect().map(_.toSeq).toSeq === want(batch1 ++ batch2))
    // replaying a batch overwrites its own segment — never double-counts
    TextOps.writeTokenCountBatch(
      batch2.toDF("doc_id", "source", "text"), store, 1L)
    assert(TextOps.sourceDriftFromStore(spark, store)
      .collect().map(_.toSeq).toSeq === want(batch1 ++ batch2))
    // keyed compaction contracts segments without changing the answer
    TextOps.compactKeyedTokenCountStore(spark, store)
    assert(spark.read.parquet(store)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(TextOps.sourceDriftFromStore(spark, store)
      .collect().map(_.toSeq).toSeq === want(batch1 ++ batch2))
  }

  test("report rollups before any committed batch return the empty " +
      "report, not a missing-path error") {
    import graft.streaming.{DriftMonitorPipeline, QualityGatePipeline,
      ScrubPipeline}
    val nowhere = tmpDir("no-batches") + "/never-written"
    val gate = QualityGatePipeline.gateReport(spark, nowhere, nowhere)
    assert(gate.collect().isEmpty)
    assert(gate.columns.toSeq ===
      Seq("source", "n_docs", "n_kept", "n_rejected", "keep_rate"))
    val audit = ScrubPipeline.auditFromStore(spark, nowhere)
    assert(audit.collect().isEmpty && audit.columns.head === "source")
    val drift = DriftMonitorPipeline.latestReport(spark, nowhere)
    assert(drift.collect().isEmpty)
    assert(drift.columns.toSeq ===
      Seq("source", "n_tokens", "vocab_size", "kl_nats"))
  }

  test("novelty triage against an empty index scores everything novel") {
    import graft.streaming.NoveltyTriagePipeline
    implicit val sqlCtx = spark.sqlContext
    // no corpus doc reaches k tokens → the bloom fold aggregates zero rows;
    // the guard must substitute the all-zero filter, not a null literal
    val corpus = Seq((0L, "a b")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = NoveltyTriagePipeline.scoredDocs(
      input.toDS().toDF("doc_id", "text"), corpus, k = 3, nBits = 1 << 12)
      .writeStream.format("memory").queryName("novelty_empty_sink")
      .outputMode("append").start()
    input.addData((10L, "a b c d"))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("novelty_empty_sink")
      .select("n_shingles", "n_novel", "novelty_ratio").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === ((2L, 2L, 1.0)))
  }

  test("novelty triage stream scores docs row-locally and matches the " +
      "batch answer") {
    import graft.streaming.NoveltyTriagePipeline
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((0L, "a b c d")).toDF("doc_id", "text") // abc, bcd
    val input = MemoryStream[(Long, String)]
    val q = NoveltyTriagePipeline.scoredDocs(
      input.toDS().toDF("doc_id", "text"), corpus, k = 3, nBits = 1 << 12)
      .writeStream.format("memory").queryName("novelty_sink")
      .outputMode("append").start()
    val rows = Seq((10L, "a b c d"), (11L, "p q r s"),
      (12L, "a b c x"), (13L, "a b"))
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("novelty_sink")
      .select("doc_id", "n_shingles", "n_novel", "novelty_ratio")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got === Map(
      10L -> ((2L, 0L, Some(0.0))), // exact copy of the index
      11L -> ((2L, 2L, Some(1.0))), // fully fresh
      12L -> ((2L, 1L, Some(0.5))), // half shared
      13L -> ((0L, 0L, None)))) // shorter than k: no shingles, null ratio
    // stream == batch for every doc the batch op scores (no FP undercount
    // at this filter size on this fixture)
    val batch = ops.SpanOps.noveltyAgainstOn(
        rows.toDF("doc_id", "text"), corpus, 3)
      .collect()
      .map(r => (r.getLong(0), (r.getAs[Long]("n_distinct_shingles"),
        r.getAs[Long]("n_novel"),
        Some(r.getAs[Double]("novelty_ratio"))))).toMap
    assert(batch === got.filter(_._2._1 > 0))
  }

  test("file-source backpressure bounds each micro-batch of a pre-loaded dir") {
    import graft.streaming.TradeSource
    val drop = tmpDir("drop")
    val sink = tmpDir("bp_sink")
    // pre-load 3 files BEFORE the stream starts — the backlogged-topic
    // scenario where an uncapped source would take everything in batch 0
    val json = TradeGen.trades(spark, 9, seed = 21)
      .select(to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava).as("j")).as[String].collect()
    json.grouped(3).zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$drop/f$i.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val q = IngestPipeline.runIngest(spark,
      TradeSource.jsonFiles(spark, drop, maxFilesPerTrigger = 1),
      IngestPipeline.ParquetSink(sink), tmpDir("bp_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    // the cap must split the backlog into one bounded batch per file
    val batchDirs = new java.io.File(sink).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.length === 3,
      s"expected 3 capped micro-batches, got ${batchDirs.map(_.getName).toSeq}")
    assert(spark.read.parquet(sink).count() === 9)
  }

  test("live rate source: generated trades land exactly once across " +
      "processing-time micro-batches") {
    import graft.streaming.TradeSource
    val sink = tmpDir("live_sink")
    val q = IngestPipeline.runIngest(spark,
      TradeSource.rate(spark, rowsPerSecond = 50),
      IngestPipeline.ParquetSink(sink), tmpDir("live_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(
        "1 second"))
    // an unbounded source never finishes processAllAvailable: poll for
    // committed batch directories (a job commit writes _SUCCESS) instead
    def committed: Seq[String] = Option(new java.io.File(sink).listFiles())
      .toSeq.flatten
      .filter(f => f.getName.startsWith("batch_id=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getPath)
    val deadline = System.currentTimeMillis() + 60000
    try {
      while (committed.size < 2 && q.exception.isEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q.stop()
    q.exception.foreach(e => fail(e))
    val batches = committed
    assert(batches.size >= 2,
      s"expected two committed micro-batches within 60 s, got $batches")
    val out = spark.read.option("basePath", sink).parquet(batches: _*)
    val rows = out.count()
    assert(rows > 0)
    assert(rows === out.select("trade_id").distinct().count())
  }

  test("jdbc sink arm converges to exactly-once across replays") {
    import graft.streaming.IngestPipeline.JdbcSink
    implicit val sqlCtx = spark.sqlContext
    // embedded Derby ships with Spark — the in-container stand-in for the
    // reference's Postgres (consumer.py:64-118)
    System.setProperty("derby.system.home", tmpDir("derby"))
    val url = "jdbc:derby:memory:trades_jdbc;create=true"
    val props = new java.util.Properties()

    val input = MemoryStream[String]
    input.addData(tradeJson(12)) // includes dupes + poison record
    val q = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), JdbcSink(url, "trades"),
      tmpDir("jdbc_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    val out = spark.read.jdbc(url, "trades", props)
    assert(out.count() === 12)
    assert(out.select("trade_id").distinct().count() === 12)

    // replay with a fresh checkpoint: delete-own-batch-then-append must
    // converge, not double the table
    val q2 = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), JdbcSink(url, "trades"),
      tmpDir("jdbc_ckpt2"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()
    val replayed = spark.read.jdbc(url, "trades", props)
    assert(replayed.count() === 12)
    assert(replayed.select("trade_id").distinct().count() === 12)
  }

  test("event-time timeout flushes idle sessions without a closing event") {
    import graft.streaming.{ClosedSession, SessionEvent, SessionPipeline}
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val M = 1000000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      SessionEvent(u, id, sec * M, v)

    val input = MemoryStream[SessionEvent]
    val q = SessionPipeline.sessionizeWithTimeout(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sess_to")
      .outputMode("append").start()

    // batch 1: u1's session — never followed by another u1 event.
    // (base offset keeps event times clear of the initial watermark at
    // epoch 0, which drops rows at/behind it)
    val T = 100000L
    input.addData(ev(1, 1, T, 1.0), ev(1, 2, T + 100, 2.0))
    q.processAllAvailable()
    // batch 2 advances the watermark far past u1's gap+delay horizon…
    input.addData(ev(2, 5, T + 10000, 4.0))
    q.processAllAvailable()
    // …and batch 3 runs with that watermark, firing u1's timeout
    input.addData(ev(2, 6, T + 10010, 1.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_to").as[ClosedSession].collect().toSet
    // u1's session closed by TIMEOUT (no u1 event ever closed it);
    // u2's session is still active → still open, not emitted
    assert(got === Set(ClosedSession(1, 1, T * M, (T + 100) * M, 2, 3.0)))
  }

  test("session numbering survives idle-state eviction: a returning user " +
      "continues at the next seq, never a duplicate (user, seq) key") {
    import graft.streaming.{ClosedSession, SessionEvent, SessionPipeline}
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val M = 1000000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      SessionEvent(u, id, sec * M, v)
    val input = MemoryStream[SessionEvent]
    val q = SessionPipeline.sessionizeWithTimeout(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sess_seq")
      .outputMode("append").start()
    val T = 100000L
    // session 1, then silence long enough to fire the idle timeout
    input.addData(ev(1, 1, T, 1.0))
    q.processAllAvailable()
    input.addData(ev(9, 2, T + 10000, 0.5)) // other user advances watermark
    q.processAllAvailable()
    input.addData(ev(9, 3, T + 10010, 0.5)) // trigger runs the timeout
    q.processAllAvailable()
    // user 1 RETURNS after eviction; a later same-user event closes the
    // new session by gap so both sessions are in the sink
    input.addData(ev(1, 4, T + 20000, 2.0))
    q.processAllAvailable()
    input.addData(ev(1, 5, T + 30000, 3.0),
      ev(9, 6, T + 40000, 0.5)) // gap-close user 1's second session
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_seq").as[ClosedSession].collect()
      .filter(_.user_id == 1L).map(c => (c.session_seq, c.total_value))
      .sortBy(_._1).toSeq
    // sessions 2 and 3 both formed after user 1's first eviction (the
    // second by gap-close, the third by a later timeout): numbering runs
    // 1, 2, 3 with no duplicate keys — batch q13 parity across evictions
    assert(got === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"post-eviction numbering must continue, got $got")
  }

  test("anomaly gap-fill is bounded: a far-future timestamp emits at most " +
      "MaxGapMinutes rows and a rewinding event is dropped, not folded") {
    import graft.streaming.{AnomalyPipeline, TypedEvent}
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val Mi = AnomalyPipeline.MinuteUs
    val input = MemoryStream[TypedEvent]
    val q = AnomalyPipeline.detect(input.toDS())
      .writeStream.format("memory").queryName("anom_cap")
      .outputMode("append").start()
    input.addData(TypedEvent("click", 1L, 10L * Mi))
    q.processAllAvailable()
    // corrupt far-future event: ~2 years of silent minutes — unbounded
    // zero-fill would build ~1M rows in memory; the cap bounds it
    input.addData(TypedEvent("click", 2L, (10L + 1000000L) * Mi))
    q.processAllAvailable()
    // rewinding event (behind the open bucket): dropped silently
    input.addData(TypedEvent("click", 3L, 5L * Mi))
    q.processAllAvailable()
    // a later in-order event closes the open bucket with count 1 (the
    // rewound event was NOT folded in) and fills only its own gap
    input.addData(TypedEvent("click", 4L, (12L + 1000000L) * Mi))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("anom_cap")
    val n = rows.count()
    assert(n <= AnomalyPipeline.MaxGapMinutes + 4,
      s"gap fill must be capped, emitted $n rows")
    import org.apache.spark.sql.functions.col
    val closedFar = rows.filter(col("minuteMicros") === (10L + 1000000L) * Mi)
      .select("n_events").collect()
    assert(closedFar.map(_.getLong(0)).toSeq === Seq(1L),
      "the rewound event must not inflate the open bucket")
  }

  test("buffered sessionization reorders out-of-order events per user") {
    import graft.streaming.{ClosedSession, SessionEvent, SessionPipeline}
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val M = 1000000L
    def ev(u: Long, id: Long, sec: Long, v: Double) =
      SessionEvent(u, id, sec * M, v)

    val input = MemoryStream[SessionEvent]
    val q = SessionPipeline.sessionizeBuffered(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sess_buf")
      .outputMode("append").start()

    // u1's two sessions arrive SCRAMBLED across batches: the second event
    // of session 1 first, then the session-2 event, then session 1's FIRST
    // event — an in-order folder would split/mis-order all of them
    val T = 100000L
    input.addData(ev(1, 2, T + 100, 2.0))
    q.processAllAvailable()
    input.addData(ev(1, 3, T + 5000, 7.0), ev(1, 1, T, 1.0))
    q.processAllAvailable()
    // advance the watermark far past everything, then tick so timeouts fire
    input.addData(ev(2, 9, T + 50000, 0.0))
    q.processAllAvailable()
    input.addData(ev(2, 10, T + 50010, 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_buf").as[ClosedSession].collect().toSet
    // exactly the batch q13 sessions: (ev1, ev2) then a >30min gap, ev3
    assert(got === Set(
      ClosedSession(1, 1, T * M, (T + 100) * M, 2, 3.0),
      ClosedSession(1, 2, (T + 5000) * M, (T + 5000) * M, 1, 7.0)))
  }

  test("stream-static broadcast join enriches the trade stream") {
    implicit val sqlCtx = spark.sqlContext
    // static dimension: settlement venue → clearing region (broadcast to
    // every micro-batch; the streaming side never shuffles for the join)
    val venueRegion = Seq(
      "DTC" -> "US", "Euroclear" -> "EU", "Clearstream" -> "EU",
      "CME" -> "US", "ICE" -> "US", "OCC" -> "US")
      .toDF("settlement_venue", "region")

    val input = MemoryStream[String]
    input.addData(tradeJson(30))
    val enriched = IngestPipeline
      .parseTrades(input.toDF().select(col("value")))
      .join(broadcast(venueRegion), "settlement_venue")
    val q = enriched.writeStream.format("memory").queryName("enr")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()

    val out = spark.table("enr")
    // every venue is in the dim → no rows lost; every row gained a region
    assert(out.count() === 33) // 30 trades + 3 dupes; poison already dropped
    assert(out.filter(col("region").isNull).count() === 0)
    assert(out.select("region").distinct()
      .collect().map(_.getString(0)).toSet.subsetOf(Set("US", "EU")))
  }

  test("watermarked windows finalize once and drop late data") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val trades = input.toDF().toDF("timestamp", "notional_value")
    val q = IngestPipeline.minuteAggsWatermarked(trades, "2 minutes")
      .writeStream.format("memory").queryName("wm")
      .outputMode("append").start()

    // batch 1: two windows' worth of on-time events (minute 100 and 101)
    input.addData((ts(6000), 10.0), (ts(6010), 5.0), (ts(6070), 7.0))
    q.processAllAvailable()
    // batch 2 advances the watermark far past both windows' horizon…
    input.addData((ts(7000), 1.0))
    q.processAllAvailable()
    // …batch 3: a LATE event for minute 100 (behind the watermark) plus a
    // fresh event; the late one must be dropped, not rewrite history
    input.addData((ts(6020), 99.0), (ts(7010), 2.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm").collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        (r.getLong(1), r.getDouble(2))).toMap
    // finalized exactly once, with on-time contents only
    assert(rows(6000) === (2L, 15.0), s"minute-100 window: $rows")
    assert(rows(6060) === (1L, 7.0), s"minute-101 window: $rows")
    // each finalized window appears exactly once (no retroactive update row)
    assert(spark.table("wm").count() ===
      spark.table("wm").select("minute").distinct().count())
  }

  test("watermarked dedup drops cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val json = TradeGen.trades(spark, 10, seed = 3)
      .select(to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava).as("j")).as[String].collect().toSeq

    val deduped = IngestPipeline.dedupTrades(
      IngestPipeline.parseTrades(input.toDF().select(col("value"))))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    input.addData(json)
    q.processAllAvailable()
    input.addData(json) // same keys again in a later micro-batch
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").count() === 10)
  }

  test("streaming mix governor: per-batch reports equal the store-face " +
      "q115+q131 over everything ingested, replays converge, LM-less " +
      "sources keep their size columns") {
    import graft.streaming.MixGovernorPipeline
    import graft.ops.CurationOps
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("mixgov")
    val lm = s"$root/lm"
    val tokens = s"$root/tokens"
    val partials = s"$root/partials"
    val report = s"$root/report"
    val batch1 = Seq(
      (0L, "web", "a b a b a c"),
      (1L, "books", "a b a b"),
      (2L, "solo", "x")) // one token: no bigram, no DoReMi evidence
    val batch2 = Seq(
      (3L, "web", "a b a c"),
      (4L, "books", "a c a c"))
    val all = batch1 ++ batch2
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "source", "text")
    // frozen reference LM, seeded from the full crawl plan (DoReMi's
    // fixed reference model) — batches then score with zero OOV
    graft.ops.SearchOps.writeBigramStore(df(all), lm)
    val input = MemoryStream[(Long, String, String)]
    val q = MixGovernorPipeline.runMixGovernor(
      input.toDS().toDF("doc_id", "source", "text"),
      lm, tokens, partials, report, s"$root/ckpt")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def rep(id: Long) = spark.read.parquet(report)
      .filter(col("batch_id") === id).drop("batch_id")
      .orderBy("source").collect().map(_.toSeq).toSeq
    // the expected report, assembled from the BATCH faces over the same
    // ingested prefix (store-seeded LM ⇒ doremiFromStore is exact)
    def want(rows: Seq[(Long, String, String)]) =
      CurationOps.temperatureMixOn(df(rows))
        .join(CurationOps.doremiFromStore(df(rows), lm)
            .select(col("source"), col("n_docs"), col("nll"),
              col("excess"), col("doremi_weight")),
          Seq("source"), "left")
        .orderBy("source").collect().map(_.toSeq).toSeq
    assert(rep(0) === want(batch1))
    assert(rep(1) === want(all))
    assert(MixGovernorPipeline.latestReport(spark, report)
      .collect().map(_.toSeq).toSeq === want(all))
    // the 1-token source keeps its temperature row; DoReMi columns null
    val soloRow = MixGovernorPipeline.latestReport(spark, report)
      .filter(col("source") === "solo").collect().head
    assert(soloRow.getAs[Long]("n_tokens") === 1L)
    assert(soloRow.isNullAt(soloRow.fieldIndex("doremi_weight")))
    // replaying a batch overwrites its keyed segments — the cumulative
    // report is unchanged (no double count)
    graft.ops.TextOps.writeTokenCountBatch(df(batch2), tokens, 1L)
    CurationOps.doremiBatchPartials(df(batch2), lm)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$partials/batch_id=1")
    assert(MixGovernorPipeline.mixReport(spark, tokens, partials)
      .orderBy("source").collect().map(_.toSeq).toSeq === want(all))
    // keyed compaction (stream stopped) contracts partials to one
    // batch_id=-1 segment without changing the report — additive
    // sufficient statistics are exact under re-aggregation
    CurationOps.compactDoremiPartials(spark, partials)
    assert(spark.read.parquet(partials)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(MixGovernorPipeline.mixReport(spark, tokens, partials)
      .orderBy("source").collect().map(_.toSeq).toSeq === want(all))
    assert(!new java.io.File(partials + ".merging").exists)
    assert(!new java.io.File(partials + ".old").exists)
    // before any batch commits: empty report with the full schema
    val empty = MixGovernorPipeline.latestReport(spark,
      s"$root/never-written")
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq === Seq("source", "n_tokens",
      "natural_share", "temp_share", "sample_factor", "expected_tokens",
      "n_docs", "nll", "excess", "doremi_weight"))
    // mixReport over never-written STORES likewise answers empty
    assert(MixGovernorPipeline.mixReport(spark,
      s"$root/no-tokens", s"$root/no-partials").collect().isEmpty)
  }

  test("mix governor without a seeded LM: the stream survives, size " +
      "columns publish, DoReMi columns are null until the store exists") {
    import graft.streaming.MixGovernorPipeline
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("mixgov-nolm")
    val lm = s"$root/lm" // never seeded before the stream starts
    val input = MemoryStream[(Long, String, String)]
    val q = MixGovernorPipeline.runMixGovernor(
      input.toDS().toDF("doc_id", "source", "text"),
      lm, s"$root/tokens", s"$root/partials", s"$root/report",
      s"$root/ckpt")
    input.addData((0L, "web", "a b a"), (1L, "books", "b c"))
    q.processAllAvailable()
    val r0 = MixGovernorPipeline.latestReport(spark, s"$root/report")
      .orderBy("source").collect()
    assert(r0.map(_.getString(0)).toSeq === Seq("books", "web"),
      "size columns must publish without an LM")
    assert(r0.forall(r => r.isNullAt(r.fieldIndex("doremi_weight"))),
      "DoReMi columns must be null, not a crashed stream")
    // seed the reference LM mid-crawl via the STAGED writer (the live
    // path must go absent → fully written, never footer-less mid-job)
    graft.ops.SearchOps.writeBigramStore(
      Seq((0L, "a b a"), (1L, "b c")).toDF("doc_id", "text"), lm)
    assert(!new java.io.File(lm + ".merging").exists)
    input.addData((2L, "web", "a b"))
    q.processAllAvailable()
    q.stop()
    val r1 = MixGovernorPipeline.latestReport(spark, s"$root/report")
      .orderBy("source").collect()
    val web = r1.find(_.getString(0) == "web").get
    assert(!web.isNullAt(web.fieldIndex("doremi_weight")),
      "post-seed batches must score against the new LM")
    assert(web.getAs[Long]("n_docs") === 1L,
      "only the post-seed batch carries LM evidence")
  }

  test("streaming split audit: per-batch reports flag within-batch and " +
      "earlier-held leaks, the final store sign-off equals batch q130, " +
      "replays and compaction are no-ops") {
    import graft.streaming.SplitAuditPipeline
    import graft.ops.CurationOps
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("splitaudit")
    val held = s"$root/held"
    val report = s"$root/report"
    // probe the deterministic q116 split for ids with KNOWN sides (the
    // q130/q132 spec device)
    val assign = (0L until 60L).map { i =>
      val h4 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-split:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      i -> (h4 < "cccc")
    }.toMap
    val trainIds = assign.filter(_._2).keys.toSeq.sorted
    val heldIds = assign.filterNot(_._2).keys.toSeq.sorted
    assert(trainIds.size >= 5 && heldIds.size >= 2)
    val Seq(tA, tB, tC, tD, tE) = trainIds.take(5)
    val Seq(hA, hB) = heldIds.take(2)
    // batch 1: tA leaks against hA IN THE SAME BATCH; tB's held twin only
    // arrives in batch 2; tC is clean
    val batch1 = Seq(
      (tA, "web", "p q r s t u"),
      (hA, "web", "p q r s t z"),
      (tB, "web", "c1 c2 c3 c4 c5"),
      (tC, "web", "u1 u2 u3 u4 u5"))
    // batch 2: hB retro-leaks tB (not flagged in batch 1's report — the
    // documented per-batch semantics); tD leaks against batch 1's hA
    val batch2 = Seq(
      (hB, "web", "c1 c2 c3 c4 c5 extra"),
      (tD, "web", "p q r s t w"),
      (tE, "books", "v1 v2 v3 v4 v5"))
    val all = batch1 ++ batch2
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "source", "text")
    // before anything commits: empty report, full schema
    val empty = SplitAuditPipeline.latestReport(spark, report)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq === Seq("source", "n_train", "n_leaky",
      "n_shared_5grams", "leak_rate"))
    val input = MemoryStream[(Long, String, String)]
    val q = SplitAuditPipeline.runSplitAudit(
      input.toDS().toDF("doc_id", "source", "text"),
      held, report, s"$root/ckpt")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def rep(id: Long) = spark.read.parquet(report)
      .filter(col("batch_id") === id).drop("batch_id")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // batch 1: the within-batch leak flags immediately; tB reads clean
    assert(rep(0) === Seq(("web", 3L, 1L, 1L, 0.333333)))
    // batch 2: tD flags against batch 1's held doc; books is clean
    assert(rep(1) === Seq(("books", 1L, 0L, 0L, 0.0),
      ("web", 1L, 1L, 1L, 1.0)))
    assert(SplitAuditPipeline.latestReport(spark, report)
      .orderBy("source").collect().map(_.getString(0)).toSeq ===
      Seq("books", "web"))
    // final sign-off: the full train set against the finished store ==
    // the batch q130 over the whole corpus (tB now flagged via hB)
    val trainDocs = df(all.filter(r => assign(r._1)))
    def signoff() = CurationOps.leakageRollup(
      CurationOps.decontaminationAgainstStore(trainDocs, held))
      .collect().map(_.toSeq).toSeq
    val wantQ130 = CurationOps.splitLeakageOn(df(all))
      .collect().map(_.toSeq).toSeq
    assert(signoff() === wantQ130)
    val perDoc = CurationOps.decontaminationAgainstStore(trainDocs, held)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(perDoc(tB), "the retro leak must flag in the store sign-off")
    assert(!perDoc(tC) && perDoc(tA) && perDoc(tD) && !perDoc(tE))
    // a replayed batch overwrites its keyed held segment — sign-off
    // unchanged (duplicate-safe store, distinct on read)
    CurationOps.heldoutNgramsOn(
      df(batch1.filterNot(r => assign(r._1))))
      .coalesce(1).write.mode("overwrite").parquet(s"$held/batch_id=0")
    assert(signoff() === wantQ130)
    // keyed compaction folds segments to batch_id=-1, sign-off unchanged
    CurationOps.compactHeldoutNgramStore(spark, held)
    assert(spark.read.parquet(held)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(signoff() === wantQ130)
    assert(!new java.io.File(held + ".merging").exists)
    assert(!new java.io.File(held + ".old").exists)
  }

  test("LM-swap window classifier: store-path hits match at a path " +
      "boundary (a sibling dir sharing the prefix must FAIL the trigger, " +
      "not classify as the swap window), canonical and trailing-slash " +
      "spellings both match") {
    import streaming.MixGovernorPipeline.isLmSwapWindow
    def fnf(msg: String) = new java.io.FileNotFoundException(msg)
    val store = tmpDir("graft-lm") + "/lm"
    new java.io.File(store).mkdirs()
    val canon = new java.io.File(store).getCanonicalPath
    // the store itself and files under it classify as the swap window
    assert(isLmSwapWindow(fnf(s"File $canon does not exist"), store))
    assert(isLmSwapWindow(fnf(s"$canon/part-0.parquet not found"), store))
    assert(isLmSwapWindow(fnf(s"Path does not exist: file:$canon"),
      store + "///"), "trailing slashes in the caller's spelling")
    // SIBLING paths sharing the prefix must NOT classify (r11 review
    // finding: a bare substring match claimed /data/lm2 for /data/lm —
    // committing empty partials, silently losing the batch's evidence)
    assert(!isLmSwapWindow(fnf(s"${canon}2/part-0.parquet not found"),
      store))
    assert(!isLmSwapWindow(fnf(s"$canon-inputs/part-0.parquet missing"),
      store))
    // '.'-joined DOT-SIBLINGS are siblings too (r12 ADVICE: '.' used to
    // qualify as a boundary, so /data/lm.bak classified as the store) —
    // EXCEPT the store's own staged-swap artifacts (.old/.merging), which
    // ARE the store mid-swap, and a sentence-ending period, which is
    // message punctuation rather than a path character
    assert(!isLmSwapWindow(fnf(s"$canon.bak/part-0.parquet not found"),
      store), "a .bak sibling is not the store")
    assert(!isLmSwapWindow(fnf(s"$canon.backup gone"), store))
    assert(!isLmSwapWindow(fnf(s"$canon.oldest/part-0.parquet gone"),
      store), "a swap-suffix PREFIX sibling (.oldest) is not .old")
    assert(isLmSwapWindow(fnf(s"$canon.old/part-0.parquet not found"),
      store), "the parked original IS the store mid-swap")
    assert(isLmSwapWindow(fnf(s"File $canon.merging/part-0 missing"),
      store))
    assert(isLmSwapWindow(fnf(s"File $canon does not exist."), store),
      "sentence-ending period must not defeat the boundary match")
    assert(isLmSwapWindow(fnf(s"Renamed away: $canon.old."), store),
      "swap artifact at sentence end")
    // a URI-ENCODED spelling of the store path does not match — by
    // contract: no Spark/Hadoop layer emits percent-encoded paths in
    // FNF/Analysis messages, and a miss fails the trigger (fail-safe,
    // replay re-scores) rather than committing empty partials
    assert(!isLmSwapWindow(
      fnf("File " + canon.replace("/", "%2F") + " does not exist"), store))
    // unrelated failures never classify; nested causes are walked
    assert(!isLmSwapWindow(fnf("/somewhere/else/part-0.parquet"), store))
    assert(isLmSwapWindow(
      new RuntimeException("task failed", fnf(s"$canon/p.parquet gone")),
      store))
    // non-FNF exceptions mentioning the store do not classify either
    assert(!isLmSwapWindow(
      new RuntimeException(s"$canon corrupted footer"), store))
  }

  test("streaming privacy gate: per-batch class sketches roll up to the " +
      "exact q134 audit, small classes are flagged, empty store is a " +
      "zero-row report") {
    import graft.streaming.PrivacyGatePipeline
    import graft.ops.ScrubOps
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("privacy-store")
    def ev(t: String, u: Long, kp: Long) =
      (t, u, java.sql.Timestamp.valueOf("2026-01-01 00:10:00"),
        s"""{"k": $kp}""", u * 1.5)
    // crawl 1: view/k=1 has 2 users (small); view/k=2 has 5 (safe)
    val batch1 = Seq(ev("view", 1L, 1L), ev("view", 2L, 1L)) ++
      (1L to 5L).map(u => ev("view", u, 2L))
    // crawl 2: a third view/k=1 user arrives (still small: 3 < 5);
    // click/k=1 appears with one hammering user
    val batch2 = Seq(ev("view", 3L, 1L)) ++
      Seq.fill(4)(ev("click", 9L, 1L))

    // before any batch: the empty q134-schema report AND the empty
    // drill-down, not a missing-path error (a release gate polls both)
    assert(PrivacyGatePipeline.auditFromStore(spark, store).count() === 0L)
    assert(PrivacyGatePipeline.smallClassesFromStore(spark, store)
      .count() === 0L)
    assert(PrivacyGatePipeline.tcloseFromStore(spark, store).count() === 0L)

    val input =
      MemoryStream[(String, Long, java.sql.Timestamp, String, Double)]
    val q = PrivacyGatePipeline.runPrivacyIngest(
      input.toDS().toDF("event_type", "user_id", "ts", "props", "value"),
      store, tmpDir("privacy-ckpt"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val all = (batch1 ++ batch2)
      .toDF("event_type", "user_id", "ts", "props", "value")
    // the cross-batch sketch merge IS the exact q134 audit here (small
    // cardinalities: HLL exact) — including the cross-batch distinct
    // union (view/k=1 = users {1,2} + {3} = 3, not 2 + 1 events)
    assert(PrivacyGatePipeline.auditFromStore(spark, store).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.kanonAuditOn(all, ScrubOps.KAnonK).collect()
        .map(_.toSeq).toSeq)
    // two batch segments really landed (merged, not overwritten)
    assert(spark.read.parquet(store).select("batch_id").distinct().count()
      === 2L)
    // the gate's drill-down: exactly the two planted small classes, with
    // the cross-batch user union counted exactly
    val small = PrivacyGatePipeline.smallClassesFromStore(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // n_sens: click/k=1 = one hammering user, one value band (1);
    // view/k=1 = users {1,2,3} with bands {1,3,4} = 3
    assert(small === Seq(("click", 1L, 1L, 1L, 4L),
      ("view", 1L, 3L, 3L, 3L)))
    // the l-diversity verdict reads the SAME store and equals the exact
    // batch q141 answer (small cardinalities: HLL exact)
    assert(PrivacyGatePipeline.ldivFromStore(spark, store).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.ldivAuditOn(all, ScrubOps.LDivL).collect()
        .map(_.toSeq).toSeq)
    // and the t-closeness verdict too — one ingest, three audits (band
    // histograms merge across the two batches by exact per-band sum)
    assert(PrivacyGatePipeline.tcloseFromStore(spark, store).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.tcloseAuditOn(all, ScrubOps.TCloseT).collect()
        .map(_.toSeq).toSeq)
  }

  test("privacy gate staging: a crashed batch's leftover dot-prefixed " +
      "staging dir is invisible to readers and a later run of the same " +
      "batch publishes over it; the committed segment stays readable " +
      "throughout") {
    import graft.streaming.PrivacyGatePipeline
    import graft.ops.ScrubOps
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("privacy-staging")
    def ev(t: String, u: Long, kp: Long) =
      (t, u, java.sql.Timestamp.valueOf("2026-01-01 00:10:00"),
        s"""{"k": $kp}""", u * 1.5)
    val batch = (1L to 4L).map(u => ev("view", u, 1L))
    // simulate the crash: a prior attempt died AFTER writing a partial
    // staging dir (half a parquet file) but BEFORE the publish renames
    val staging = new java.io.File(s"$store/.staging_0")
    staging.mkdirs()
    java.nio.file.Files.write(staging.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    // a reader polling now must see the empty store, not the garbage
    assert(PrivacyGatePipeline.auditFromStore(spark, store).count() === 0L)
    val input =
      MemoryStream[(String, Long, java.sql.Timestamp, String, Double)]
    val q = PrivacyGatePipeline.runPrivacyIngest(
      input.toDS().toDF("event_type", "user_id", "ts", "props", "value"),
      store, tmpDir("privacy-staging-ckpt"))
    input.addData(batch: _*)
    q.processAllAvailable()
    q.stop()
    // the replayed batch overwrote the garbage staging and published
    val all = batch.toDF("event_type", "user_id", "ts", "props", "value")
    assert(PrivacyGatePipeline.auditFromStore(spark, store).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.kanonAuditOn(all, ScrubOps.KAnonK).collect()
        .map(_.toSeq).toSeq)
    // and no stray visible dirs: exactly the one batch segment
    val visible = new java.io.File(store).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(visible === Seq("batch_id=0"), s"visible: $visible")
  }

  test("privacy gate crashed-swap recovery: a replay that finds the " +
      "prior segment parked (crash between park and publish) restores " +
      "it BEFORE any delete, so a failed publish still rolls back to " +
      "the prior verdict instead of losing the only copy") {
    import graft.streaming.PrivacyGatePipeline
    import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}
    val root = tmpDir("privacy-crashswap")
    val fsReal = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def crashState(tag: String): (HPath, HPath, HPath) = {
      val staging = new HPath(s"$root/$tag/.staging_0")
      val dest = new HPath(s"$root/$tag/batch_id=0")
      val old = new HPath(s"$root/$tag/.old_0")
      fsReal.mkdirs(old)
      fsReal.create(new HPath(old, "PRIOR")).close()
      fsReal.mkdirs(staging)
      fsReal.create(new HPath(staging, "NEW")).close()
      (staging, dest, old)
    }
    // arm 1: the publish rename fails (the r13 ADVICE window) — without
    // the recovery step the parked prior would already be deleted and
    // the rollback branch could never fire
    val (s1, d1, o1) = crashState("fail")
    val failing = new FilterFileSystem(fsReal) {
      override def rename(src: HPath, dst: HPath): Boolean =
        if (src.getName.startsWith(".staging_")) false
        else super.rename(src, dst)
    }
    val e = intercept[java.io.IOException] {
      PrivacyGatePipeline.publishSegment(failing, s1, d1, o1)
    }
    assert(e.getMessage.contains("prior segment restored"),
      s"rollback must restore the prior verdict, got: ${e.getMessage}")
    assert(fsReal.exists(new HPath(d1, "PRIOR")),
      "the parked prior segment must be back at dest")
    assert(!fsReal.exists(o1), "nothing left parked after rollback")
    // arm 2: the same crash state with a healthy FS converges to the
    // replayed batch (recovery → park → publish → cleanup)
    val (s2, d2, o2) = crashState("ok")
    PrivacyGatePipeline.publishSegment(fsReal, s2, d2, o2)
    assert(fsReal.exists(new HPath(d2, "NEW")),
      "the replayed batch must be the published segment")
    assert(!fsReal.exists(o2) && !fsReal.exists(s2),
      "park and staging dirs are both consumed")
  }

  test("privacy gate stale-park sweep: a successful publish reclaims " +
      "committed batches' leftover .old_M parked copies (their segment " +
      "exists — a crash lost only the cleanup delete) but never touches " +
      "a parked copy whose published twin is missing (the crashed-swap " +
      "shape, owned by that batch's replay recovery)") {
    import graft.streaming.PrivacyGatePipeline
    import org.apache.hadoop.fs.{Path => HPath}
    val root = tmpDir("privacy-sweep")
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(dir: String, file: String): Unit = {
      val p = new HPath(s"$root/$dir")
      fs.mkdirs(p)
      fs.create(new HPath(p, file)).close()
    }
    // batch 3: committed, but the post-publish delete was lost — the
    // batch-scoped park name means no later replay ever deletes it
    mk("batch_id=3", "DATA3"); mk(".old_3", "STALE3")
    // batch 7: crashed between park and publish — .old_7 is the ONLY
    // copy; the sweep must leave it for batch 7's own replay recovery
    mk(".old_7", "ONLY_COPY7")
    // batch 9 publishes normally
    mk(".staging_9", "NEW9")
    PrivacyGatePipeline.publishSegment(fs,
      new HPath(s"$root/.staging_9"), new HPath(s"$root/batch_id=9"),
      new HPath(s"$root/.old_9"))
    assert(fs.exists(new HPath(s"$root/batch_id=9/NEW9")),
      "batch 9 published")
    assert(!fs.exists(new HPath(s"$root/.old_3")),
      "the committed batch's stale parked copy is reclaimed")
    assert(fs.exists(new HPath(s"$root/batch_id=3/DATA3")),
      "its published segment is untouched")
    assert(fs.exists(new HPath(s"$root/.old_7/ONLY_COPY7")),
      "a parked copy with no published twin is never swept")
  }
}
