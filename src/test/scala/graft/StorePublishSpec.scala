package graft

import graft.ops.{ScaleOps, ScrubOps, SimilarityOps, SpanOps}
import graft.streaming.BatchDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only job-commit failure: every task's files land, then the job
  * commit throws — the crash between a write's start and its publish. */
class FailingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path,
        dynamicPartitionOverwrite) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol
        .TaskCommitMessage]): Unit =
    throw new java.io.IOException("injected job-commit failure")
}

/** Pins the one staged publish of every persisted store
  * ([[ScaleOps.publishStore]] / [[ScaleOps.compactStore]]): a rebuild that
  * fails mid-write leaves the prior store and its `_graft_meta` sidecar
  * readable, compaction keeps the sidecar and the store's non-`batch_id`
  * partition layout by itself, the flat compactors refuse a keyed store,
  * and no code outside `ScaleOps` spells the staging names or the swap.
  */
class StorePublishSpec extends SparkSpec {

  import spark.implicits._

  private val dim = SimilarityOps.Dim
  private val rnd = new scala.util.Random(71)
  private def codebook(k: Int): Array[Array[Double]] =
    Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
  private val vectors = (0L until 24L).map(i =>
    (i, Array.fill(dim)(rnd.nextGaussian()), (i % 3).toInt))
  private def valid(rows: Seq[(Long, Array[Double], Int)]): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  /** `vectors` read back from parquet with an embedding column whose
    * evaluation throws: the failure lands inside the write job (over a
    * local Seq the optimizer would fold the projection and throw while
    * planning, before any write starts). */
  private lazy val throwsMidWrite: DataFrame = {
    val dir = tmpDir("publish-vectors") + "/v"
    valid(vectors).write.parquet(dir)
    val boom = udf((v: Seq[Double]) =>
      if (v != null) throw new IllegalStateException("injected mid-write")
      else v)
    spark.read.parquet(dir).withColumn("embedding", boom(col("embedding")))
  }

  private def meta(store: String): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(ScaleOps.metaPath(store)).collect().toSeq

  private def dirNames(store: String): Seq[String] =
    new java.io.File(store).listFiles().map(_.getName).toSeq

  test("a PQ or IVF-PQ rebuild whose frame throws mid-write, or a bloom " +
      "rebuild whose job commit fails, leaves the prior store and its " +
      "sidecar readable") {
    val cb = codebook(4)
    val pq = tmpDir("publish-pq") + "/codes"
    SimilarityOps.writePqStore(valid(vectors), cb, pq)
    intercept[Exception](
      SimilarityOps.writePqStore(throwsMidWrite, cb, pq))
    assert(spark.read.parquet(pq).count() === vectors.size)
    assert(meta(pq).map(_.getLong(0)) ===
      Seq(SimilarityOps.codebookFingerprint(cb)))
    // the leftover staging dir is dropped by the next publish
    SimilarityOps.writePqStore(valid(vectors.take(5)), cb, pq)
    assert(spark.read.parquet(pq).count() === 5)
    assert(!new java.io.File(pq + ".merging").exists)

    val cells = codebook(2)
    val rcb = codebook(4)
    val ivf = tmpDir("publish-ivfpq") + "/index"
    SimilarityOps.writeIvfPqStore(valid(vectors), cells, rcb, ivf)
    intercept[Exception](SimilarityOps.writeIvfPqStore(
      throwsMidWrite, cells, rcb, ivf))
    assert(spark.read.parquet(ivf).count() === vectors.size)
    assert(meta(ivf).map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((SimilarityOps.codebookFingerprint(cells),
        SimilarityOps.codebookFingerprint(rcb))))

    // the bloom row is computed on the driver before the write, so the
    // failure is injected at the job commit instead
    val docs = Seq((1L, "a b c d e"), (2L, "f g h i j"))
      .toDF("doc_id", "text")
    val bloom = tmpDir("publish-bloom") + "/bloom"
    SpanOps.writeBloomStore(docs, bloom, k = 3, nBits = 1 << 12)
    val (before, _) = SpanOps.readBloomStore(spark, bloom)
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try intercept[Exception](SpanOps.writeBloomStore(
      docs.limit(1), bloom, k = 3, nBits = 1 << 12))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val (after, k) = SpanOps.readBloomStore(spark, bloom)
    assert(k === 3 && java.util.Arrays.equals(before, after),
      "the prior filter must survive the failed rebuild")
  }

  test("compactKanonStore refuses the privacy gate's batch_id=N store") {
    def ev(t: String, kp: Long, v: Double) =
      (t, 1L, java.sql.Timestamp.valueOf("2026-01-01 00:10:00"),
        s"""{"k": $kp}""", v)
    val events = Seq(ev("view", 1L, 0.5), ev("view", 2L, 1.5))
      .toDF("event_type", "user_id", "ts", "props", "value")
    // runPrivacyIngest's layout: one class-sketch segment per batch
    val store = tmpDir("publish-kanon") + "/gate"
    for (id <- Seq(0L, 1L))
      ScrubOps.classSketches(events).coalesce(1).write
        .parquet(BatchDirs.segment(store, id))
    val e = intercept[IllegalArgumentException](
      ScrubOps.compactKanonStore(spark, store))
    assert(e.getMessage.contains("batch-id-keyed"), e.getMessage)
    assert(dirNames(store).filter(_.startsWith("batch_id=")).sorted ===
      Seq("batch_id=0", "batch_id=1"), "the keyed store is untouched")
  }

  test("ScaleOps.compact of a shingle store keeps its k sidecar") {
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    val store = tmpDir("publish-shingle") + "/shingles"
    SpanOps.writeShingleStore(docs, store, k = 3)
    SpanOps.appendToShingleStore(docs, store, k = 3)
    ScaleOps.compact(spark, store, targetBytes = Long.MaxValue)
    assert(SpanOps.storedShingleK(spark, store) === Some(3))
    intercept[IllegalArgumentException](
      SpanOps.requireShingleK(spark, store, 5))
    assert(dirNames(store).count(_.endsWith(".parquet")) === 1)
  }

  test("compacting a cell=-partitioned IVF-PQ store keeps the cell " +
      "layout and both fingerprints") {
    val cells = codebook(3)
    val rcb = codebook(4)
    val fps = Seq((SimilarityOps.codebookFingerprint(cells),
      SimilarityOps.codebookFingerprint(rcb)))
    val store = tmpDir("publish-ivf-compact") + "/index"
    SimilarityOps.writeIvfPqStore(valid(vectors.take(16)), cells, rcb,
      store)
    SimilarityOps.appendToIvfPqStore(valid(vectors.drop(16)), cells, rcb,
      store)
    SimilarityOps.appendToIvfPqStore(valid(vectors.drop(16)), cells, rcb,
      store) // replay
    val layout = dirNames(store).filter(_.startsWith("cell=")).sorted
    assert(layout.nonEmpty)
    // the generic compactor reads the partition column from the layout;
    // the family compactor is that call
    for (compact <- Seq[() => Unit](
        () => ScaleOps.compactStore(spark, store, _.dropDuplicates("vec_id")),
        () => SimilarityOps.compactIvfPqStore(spark, store))) {
      compact()
      assert(dirNames(store).filter(_.startsWith("cell=")).sorted === layout)
      assert(!dirNames(store).exists(_.startsWith("part-")),
        "no flat part files beside the cell directories")
      assert(spark.read.parquet(store).count() === vectors.size)
      assert(meta(store).map(r => (r.getLong(0), r.getLong(1))) === fps)
      SimilarityOps.requireIvfPqFingerprints(spark, store, cells, rcb,
        "spec")
    }
  }

  test("outside ScaleOps no code line builds a staging path or calls " +
      "swapInto, except the privacy gate's keyed-segment core") {
    assume(SourceLint.root.isDirectory, "spec must run from the repo root")
    val hits = SourceLint.codeHits(
      Seq(".merging", ".compacting", "swapInto("))
      .filterNot(_._1 == "ScaleOps.scala")
    val pinned = Map("PrivacyGatePipeline.scala" ->
      (1, "publishSegment's call of the 4-argument swapInto core"))
    val offenders = hits.filterNot(h => pinned.contains(h._1)).map(_._2)
    assert(offenders.isEmpty,
      s"store publish outside ScaleOps:\n${offenders.mkString("\n")}")
    for ((file, (n, what)) <- pinned) {
      val lines = hits.filter(_._1 == file).map(_._2)
      assert(lines.size == n,
        s"$file must contain exactly $what:\n${lines.mkString("\n")}")
    }
  }
}
