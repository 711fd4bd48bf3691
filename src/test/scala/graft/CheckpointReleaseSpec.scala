package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Pins the storage-hygiene contract of [[Tables.pin]]: the pins a query
  * face leaves behind (its caller consumes the returned frame, so the
  * face itself can never release them) are reclaimed by
  * [[Tables.releaseCheckpoints]] at the harness loop points — without it
  * a Bench run accumulates corpus-sized blocks for the life of the
  * session — and the release touches only what graft pinned on the
  * calling thread, never the caller's own caches or checkpoints. The
  * keyed streaming sink releases a body's pins with its batch.
  */
class CheckpointReleaseSpec extends SparkSpec {

  import spark.implicits._

  test("releaseCheckpoints drops a localCheckpoint's registered RDD") {
    Tables.releaseCheckpoints(spark) // clean slate from earlier suites
    val before = registeredRdds
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "no checkpoint dir on the shared context: the pin must be local")
    val df = Tables.pin(spark.range(1000).toDF("id"))
    assert(df.count() === 1000)
    assert((registeredRdds -- before).nonEmpty,
      "a local pin must register its RDD (the leak this spec pins)")
    Tables.releaseCheckpoints(spark)
    assert((registeredRdds -- before).isEmpty,
      "releaseCheckpoints must unregister every RDD graft pinned on " +
        "this thread")
  }

  test("a checkpointing query face leaves no persistent RDDs once " +
      "consumed and released (the Bench-loop shape)") {
    Tables.releaseCheckpoints(spark)
    val before = registeredRdds
    // q60's face pins its (doc_id, rep) cluster frame; q37's pins the
    // masked-docs frame — both register blocks that only the
    // harness-side release can reclaim.
    Seq("q60_dedup_canonical", "q37_jaccard_pairs").foreach { name =>
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      assert(n >= 0)
      assert((registeredRdds -- before).nonEmpty,
        s"$name should have pinned an intermediate")
      Tables.releaseCheckpoints(spark)
      assert((registeredRdds -- before).isEmpty,
        s"$name: blocks must not outlive the release")
    }
  }

  test("a caller's cache() and its own localCheckpoint survive a q60+q37 " +
      "sweep's release") {
    val before = registeredRdds
    val cached = spark.range(500).toDF("id").cache()
    assert(cached.count() === 500)
    val ownPin = spark.range(300).toDF("id").localCheckpoint(true)
    val callerRdds = registeredRdds -- before
    assert(callerRdds.size === 2)
    Seq("q60_dedup_canonical", "q37_jaccard_pairs").foreach { name =>
      assert(SparkEntry.queries(name)(spark, sfDir).count() >= 0)
      Tables.releaseCheckpoints(spark)
    }
    val lost = callerRdds -- registeredRdds
    assert(lost.isEmpty, s"the release dropped the caller's RDDs $lost")
    assert(cached.count() === 500 && ownPin.count() === 300)
    // the caller's own cleanup
    cached.unpersist(blocking = true)
    callerRdds.flatMap(spark.sparkContext.getPersistentRDDs.get)
      .foreach(_.unpersist(blocking = true))
  }

  test("Tables.pin is the only pin in src/main: outside Tables.scala no " +
      "code line calls localCheckpoint(, .checkpoint( or " +
      "setCheckpointDir, and Tables.scala holds exactly pin's two arms") {
    assume(SourceLint.root.isDirectory, "spec must run from the repo root")
    val hits = SourceLint.codeHits(
      Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir"))
    val (tables, others) = hits.partition(_._1 == "Tables.scala")
    assert(others.isEmpty,
      s"pins outside Tables.pin:\n${others.map(_._2).mkString("\n")}")
    assert(tables.size === 2 &&
      !tables.exists(_._2.contains("setCheckpointDir")),
      s"Tables.scala must hold only pin's reliable and local arms:\n" +
        tables.map(_._2).mkString("\n"))
  }

  test("after one runVectorIngest and one runMediaIngest batch commit, " +
      "none of the body's pins is registered") {
    import graft.ops.SimilarityOps
    import graft.streaming.{MediaTriagePipeline, VectorIngestPipeline}
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("pin-release-stream")
    val r = new scala.util.Random(5)
    def vec(): Array[Float] =
      Array.fill(SimilarityOps.Dim)(r.nextGaussian().toFloat)
    val seedRows = Seq((0L, vec(), 0), (1L, vec(), 1))
      .toDF("vec_id", "embedding", "label")
    val cbook = SimilarityOps.kmeansCentroids(seedRows, k = 2, iters = 1)
    VectorIngestPipeline.seedStore(seedRows, cbook, s"$root/pq")
    def payload(seed: Int): String =
      new scala.util.Random(seed).alphanumeric.take(160).mkString
    MediaTriagePipeline.seedStore(
      Seq((0L, payload(1)), (1L, payload(2))).toDF("doc_id", "text"),
      s"$root/phash")

    val vecIn = MemoryStream[(Long, Array[Float], Int)]
    val mediaIn = MemoryStream[(Long, String)]
    val before = registeredRdds
    val vq = VectorIngestPipeline.runVectorIngest(
      vecIn.toDS().toDF("vec_id", "embedding", "label"), cbook,
      s"$root/pq", s"$root/vec-quar", s"$root/vec-ckpt")
    vecIn.addData((10L, vec(), 0), (11L, null: Array[Float], 1))
    try vq.processAllAvailable() finally vq.stop()
    val mq = MediaTriagePipeline.runMediaIngest(
      mediaIn.toDS().toDF("doc_id", "text"), s"$root/phash",
      s"$root/keep", s"$root/media-quar", s"$root/media-ckpt")
    mediaIn.addData((10L, payload(1)), (11L, payload(3)), (12L, payload(3)))
    try mq.processAllAvailable() finally mq.stop()

    assert(spark.read.parquet(s"$root/pq").count() === 3)
    assert(spark.read.parquet(s"$root/keep").count() === 1)
    val left = registeredRdds -- before
    assert(left.isEmpty, s"pins of the batch bodies still registered: $left")
  }
}
