package graft

import graft.ops.SimilarityOps

/** graft as a library inside a shared, long-lived session: the engine
  * must not rewrite the session conf that other queries on the same
  * session plan under (the reference runs a dashboard poll beside live
  * ingest in one process). The trained vector faces run many short
  * bounded jobs, exactly where scoping AQE or the reducer count around
  * each one is tempting, so they are the faces run here.
  */
class SharedSessionSpec extends SparkSpec {

  private val watched =
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  private def watchedNow: Seq[Option[String]] =
    watched.map(spark.conf.getOption)

  test("a trainer on one thread never changes the conf a relational face " +
      "on another thread plans under, and both answer as when run alone") {
    val face = SparkEntry.resolve("q22")._2
    def faceRows(): Seq[String] =
      face(spark, sfDir).collect().map(_.toString).toSeq.sorted
    val emb = SimilarityOps.validLabeled(Tables.t(spark, sfDir, "embeddings"))
    def train(): (Seq[Seq[Double]], Seq[Seq[Double]]) =
      (SimilarityOps.kmeansCentroids(emb, SimilarityOps.IvfTrainK,
        SimilarityOps.IvfTrainIters).map(_.toSeq).toSeq,
        SimilarityOps.pqTrainedCodebook(emb).map(_.toSeq).toSeq)

    val serialFace = faceRows()
    val serialTrain = train()
    val conf0 = watchedNow

    @volatile var trained: Either[Throwable, (Seq[Seq[Double]],
      Seq[Seq[Double]])] = null
    val a = new Thread(() => {
      trained = try Right(train()) catch { case t: Throwable => Left(t) }
    }, "trainer")
    a.start()
    val changed = scala.collection.mutable.LinkedHashSet.empty[Seq[Option[String]]]
    var faceRuns = 0
    var faceMismatches = 0
    // thread B (this one): poll the conf for ~50 ms, then run the face —
    // planning included — until the trainer finishes
    while (a.isAlive) {
      val until = System.nanoTime() + 50L * 1000 * 1000
      while (a.isAlive && System.nanoTime() < until) {
        val c = watchedNow
        if (c != conf0) changed += c
      }
      if (a.isAlive) {
        if (faceRows() != serialFace) faceMismatches += 1
        faceRuns += 1
      }
    }
    a.join()
    trained.left.foreach(t => throw t)
    assert(changed.isEmpty,
      s"the session conf changed under a concurrent query: $conf0 -> " +
        changed.mkString(", "))
    assert(faceRuns > 0, "the face never ran while the trainer did")
    assert(faceMismatches === 0,
      s"$faceMismatches of $faceRuns concurrent face runs differ from " +
        "the serial answer")
    assert(trained.toOption.get === serialTrain,
      "concurrent training must return the serial codebooks")
    assert(watchedNow === conf0)
  }

  test("no conf.set or conf.unset in src/main outside Tables.t's " +
      "nanosAsLong read flag, boundedCollect's scoped limit ramp and " +
      "Probe's harness session (pinned by count)") {
    assume(SourceLint.root.isDirectory, "spec must run from the repo root")
    val hits = SourceLint.hits(Seq("conf.set", "conf.unset"))
    val pinned = Map(
      "Tables.scala" -> (1, "Tables.t's nanosAsLong set"),
      "Probe.scala" -> (1, "planaudit's AQE-off harness session"))
    val offenders = hits.filterNot(h => pinned.contains(h._1)).map(_._2)
    assert(offenders.isEmpty,
      s"session conf mutation outside the contract:\n${offenders.mkString("\n")}")
    for ((file, (n, what)) <- pinned) {
      val lines = hits.filter(_._1 == file).map(_._2)
      assert(lines.size == n,
        s"$file must contain exactly $what:\n${lines.mkString("\n")}")
    }
  }
}
