package graft

import graft.ops.ScrubOps
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The adversarial-fixture gate extended to the STREAMING layer: a
  * malformed micro-batch (the AdversarialGen row classes — null ids, null/
  * empty/whitespace/giant/regex-metachar text, null sources, degenerate
  * embeddings) must not kill a trigger. A batch query that throws is one
  * failed job; a streaming pipeline that throws wedges the STREAM — every
  * replay re-reads the same poison batch from the checkpoint and dies
  * again, so the crash classes the batch gate hunts are strictly worse
  * here. Each test drives a malformed batch THEN a clean batch through
  * the real pipeline (MemoryStream in, real sinks out) and asserts both
  * triggers commit, the stores/reports stay readable, and — where the
  * pipeline documents routing — the malformed rows land where the
  * contract says (quarantine with reason, not silent loss).
  */
class StreamingAdversarialSpec extends SparkSpec {

  import spark.implicits._

  // (doc_id, source, text) with every documents-table malformation class;
  // Option[Long] carries the null id through the tuple encoder
  private val malformedDocs: Seq[(Option[Long], String, String)] = Seq(
    (Some(0L), "s1", "the quick brown fox is a friend of the lazy dog"),
    (Some(1L), "s1", null),                        // null text
    (Some(2L), "s2", ""),                          // empty text
    (Some(3L), "s2", "   \n\t  "),                 // whitespace only
    (Some(4L), null, "orphaned provenance text"),  // null source
    (Some(5L), "", "empty source text"),           // empty source
    (Some(6L), "s3", "x" * 16384),                 // giant unbroken token
    (Some(7L), "s3", "regex .* meta [chars] (everywhere) \\ $ ^ | ? +"),
    (Some(8L), "s1", "emoji 🚀🔥 CJK 漢字テスト RTL שלום"),
    (None, "s2", "null id doc"),                   // null primary key
    (Some(Long.MaxValue), "s3", "max id doc"),
    (Some(Long.MinValue), "s1", "min id doc"))

  private val cleanDocs: Seq[(Option[Long], String, String)] = Seq(
    (Some(20L), "s1", "a clear and varied second batch sentence"),
    (Some(21L), "s2", "the engine keeps running after the poison batch"))

  private def docDf(rows: Seq[(Option[Long], String, String)]): DataFrame =
    rows.toDF("doc_id", "source", "text")

  private def runDocBatches(start: DataFrame => org.apache.spark.sql
      .streaming.StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Option[Long], String, String)]
    val q = start(input.toDS().toDF("doc_id", "source", "text"))
    input.addData(malformedDocs: _*)
    q.processAllAvailable()
    input.addData(cleanDocs: _*)
    q.processAllAvailable()
    q.stop()
  }

  test("scrub pipeline survives a malformed batch; stream ≡ batch on it") {
    val sink = tmpDir("adv-scrub-sink")
    val audit = tmpDir("adv-scrub-audit")
    runDocBatches(ScrubPipeline.runScrubIngest(_, sink, audit,
      tmpDir("adv-scrub-ckpt")))
    val all = docDf(malformedDocs ++ cleanDocs)
    assert(ScrubPipeline.auditFromStore(spark, audit).collect()
      .map(_.toSeq).toSeq
      === ScrubOps.piiAuditOn(all).collect().map(_.toSeq).toSeq)
    // every ingested row routed somewhere — nothing silently dropped
    assert(spark.read.parquet(sink).count()
      === (malformedDocs.size + cleanDocs.size).toLong)
  }

  test("quality gate survives a malformed batch; routing ≡ batch q117") {
    val keep = tmpDir("adv-gate-keep")
    val rej = tmpDir("adv-gate-rej")
    runDocBatches(QualityGatePipeline.runQualityGate(_, keep, rej,
      tmpDir("adv-gate-ckpt")))
    val all = docDf(malformedDocs ++ cleanDocs)
    val gotKeep = spark.read.parquet(keep).select("doc_id")
      .collect().map(r => Option(r.get(0))).toSet
    val gotRej = spark.read.parquet(rej).select("doc_id")
      .collect().map(r => Option(r.get(0))).toSet
    val wantKeep = QualityGatePipeline.scored(all)
      .filter(col("keep"))
      .select("doc_id").collect().map(r => Option(r.get(0))).toSet
    assert(gotKeep === wantKeep)
    // keep + reject partition the input (null-text/score rows reject)
    assert(gotKeep.size + gotRej.size
      === malformedDocs.size + cleanDocs.size)
  }

  test("drift monitor survives a malformed batch and still reports") {
    val store = tmpDir("adv-drift-store")
    val report = tmpDir("adv-drift-report")
    runDocBatches(DriftMonitorPipeline.runDriftMonitor(_, store, report,
      tmpDir("adv-drift-ckpt")))
    val rep = DriftMonitorPipeline.latestReport(spark, report).collect()
    assert(rep.nonEmpty) // s1/s2/s3 carried real tokens
  }

  test("mix governor (model-less arm) survives a malformed batch") {
    val tokens = tmpDir("adv-mix-tokens")
    val partials = tmpDir("adv-mix-partials")
    val report = tmpDir("adv-mix-report")
    runDocBatches(MixGovernorPipeline.runMixGovernor(_,
      lmStoreDir = tmpDir("adv-mix-lm-absent") + "/never-seeded",
      tokens, partials, report, tmpDir("adv-mix-ckpt")))
    val rep = MixGovernorPipeline.latestReport(spark, report).collect()
    assert(rep.nonEmpty)
  }

  test("split audit survives a malformed batch and still reports") {
    val held = tmpDir("adv-split-held")
    val report = tmpDir("adv-split-report")
    runDocBatches(SplitAuditPipeline.runSplitAudit(_, held, report,
      tmpDir("adv-split-ckpt")))
    // reports exist for both batches and the rollup stays readable
    assert(spark.read.parquet(report).select("batch_id").distinct().count()
      === 2L)
    SplitAuditPipeline.latestReport(spark, report).collect()
  }

  test("media triage quarantines identity-less and unhashable rows " +
      "instead of dying on them") {
    val store = tmpDir("adv-media-store") + "/store"
    val sink = tmpDir("adv-media-sink")
    val quarantine = tmpDir("adv-media-quarantine")
    runDocBatches(MediaTriagePipeline.runMediaIngest(_, store, sink,
      quarantine, tmpDir("adv-media-ckpt")))
    val reasons = spark.read.parquet(quarantine)
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // null text, empty text, and the NULL-id row have no fingerprint —
    // all surface as "unhashable" (the null-id row must NOT be silently
    // dropped by the typed hash kernel's identity filter)
    assert(reasons.getOrElse("unhashable", 0L) >= 3L, reasons.toString)
    val routed = spark.read.parquet(sink).count() +
      spark.read.parquet(quarantine).count()
    assert(routed === (malformedDocs.size + cleanDocs.size).toLong)
  }

  test("trade ingest survives parseable-but-degenerate wire records " +
      "(null timestamp / null numerics / wrong-typed fields)") {
    implicit val sqlCtx = spark.sqlContext
    val sink = tmpDir("adv-ingest-sink")
    val input = MemoryStream[String]
    // a VALID record, then the degenerate classes PERMISSIVE parse lets
    // through (unlike the unparseable poison pill the existing specs
    // cover): null event time, null/garbage numerics, missing fields
    val valid = graft.gen.TradeGen.trades(spark, 1, seed = 3)
    val validJson = valid.toJSON.collect().head
    input.addData(
      validJson,
      """{"trade_id": "ADV-NULL-TS", "timestamp": null}""",
      """{"trade_id": "ADV-NO-TS"}""",
      """{"trade_id": "ADV-BAD-NUM", "timestamp":
        | "2024-01-01T00:00:00.000001", "notional": "not-a-number",
        | "quantity": null}""".stripMargin.replace("\n", ""),
      """{"trade_id": null, "timestamp": "2024-01-01T00:00:00.000001"}""")
    val q = IngestPipeline.runIngest(spark,
      input.toDF().select(col("value")), IngestPipeline.ParquetSink(sink),
      tmpDir("adv-ingest-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink)
    val ids = out.select("trade_id").collect().map(_.getString(0)).toSet
    // the valid record and the parseable degenerates with a KEY land
    // (null-key rows skip — the documented poison contract); a null
    // timestamp must not wedge the dedup state op
    assert(ids.contains(valid.select("trade_id").head().getString(0)))
    assert(ids.contains("ADV-BAD-NUM"))
    assert(!ids.contains(null))
  }

  test("vector ingest quarantines every degenerate embedding class and " +
      "the malformed batch does not wedge the stream") {
    implicit val sqlCtx = spark.sqlContext
    val codebook = Array(Array.fill(8)(0.0), Array.fill(8)(1.0))
    val store = tmpDir("adv-vec-store")
    val quarantine = tmpDir("adv-vec-quarantine")
    val input = MemoryStream[(Option[Long], Option[Int], Seq[Float])]
    val q = VectorIngestPipeline.runVectorIngest(
      input.toDS().toDF("vec_id", "label", "embedding"),
      codebook, store, quarantine, tmpDir("adv-vec-ckpt"))
    input.addData(Seq[(Option[Long], Option[Int], Seq[Float])](
      (Some(0L), Some(0), Seq.fill(8)(1.0f)),          // valid
      (Some(1L), Some(1), null),                       // null vector
      (Some(2L), Some(2), Seq.empty[Float]),           // wrong dim (0)
      (Some(3L), Some(3), Seq(1.0f, 2.0f, 3.0f)),      // wrong dim (3)
      (Some(4L), Some(4), Seq.fill(8)(0.0f)),          // degenerate norm
      (Some(5L), None, Seq.fill(8)(2.0f)),             // null label: valid
      (None, Some(6), Seq.fill(8)(3.0f)),              // null id: encodes
      (Some(7L), Some(7),
        Seq[Float](1f, 2f, 3f, 4f, 5f, 6f, 7f, Float.NaN))): _*)
    q.processAllAvailable()
    input.addData(Seq[(Option[Long], Option[Int], Seq[Float])](
      (Some(20L), Some(0), Seq.fill(8)(4.0f))): _*)
    q.processAllAvailable()
    q.stop()
    val reasons = spark.read.parquet(quarantine)
      .select("vec_id", "reject_reason").collect()
      .map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(reasons(Some(1L)) === "null_vector")
    assert(reasons(Some(2L)) === "wrong_dim")
    assert(reasons(Some(3L)) === "wrong_dim")
    assert(reasons(Some(4L)) === "degenerate_norm")
    // NaN elements pass the structural gate today (q110 does not count
    // non-finite values) — they ENCODE deterministically; this pins the
    // current contract so a future change is a conscious one
    val stored = spark.read.parquet(store).select("vec_id")
      .collect().map(r => Option(r.get(0))).toSet
    assert(stored.contains(Some(0L)) && stored.contains(Some(5L)) &&
      stored.contains(Some(7L)) && stored.contains(Some(20L)) &&
      stored.contains(None))
    assert(!stored.contains(Some(1L)) && !stored.contains(Some(4L)))
  }
}
