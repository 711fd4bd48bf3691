package graft

import graft.ops.{ScaleOps, SimilarityOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col

/** graft as a library inside a shared, long-lived session: the engine
  * must not rewrite the session conf that other queries on the same
  * session plan under (the reference runs a dashboard poll beside live
  * ingest in one process). The trained vector faces run many short
  * bounded jobs, exactly where scoping AQE or the reducer count around
  * each one is tempting, so they are the faces run here. Nor may it
  * write into the session's function registry: the graft kernels are
  * Columns built straight from their expressions, so every operator
  * answers on a fresh session that registered nothing.
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

  test("a pin made on one thread survives another thread's " +
      "releaseCheckpoints, and its own thread's release drops it") {
    val before = registeredRdds
    val pinned = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.CountDownLatch(1)
    @volatile var pin: org.apache.spark.sql.DataFrame = null
    @volatile var afterOwnRelease: Set[Int] = null
    val b = new Thread(() => {
      pin = Tables.pin(spark.range(200).toDF("id"))
      pinned.countDown()
      released.await()
      Tables.releaseCheckpoints(spark)
      afterOwnRelease = registeredRdds
    }, "pinner")
    b.start()
    pinned.await()
    val bPins = registeredRdds -- before
    assert(bPins.nonEmpty, "thread B's pin must register its RDD")
    Tables.releaseCheckpoints(spark) // thread A: this test's thread
    assert(bPins.subsetOf(registeredRdds),
      "thread A's release dropped thread B's pin")
    assert(pin.count() === 200)
    released.countDown()
    b.join()
    assert((afterOwnRelease -- before).isEmpty,
      "thread B's own release must drop its pin")
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

  private def functions(s: SparkSession): Set[FunctionIdentifier] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .functionRegistry.listFunction().toSet

  test("the public kernel helpers answer on a fresh session") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val v = Seq((1L, Seq(3.0, 4.0), Seq(4.0, 3.0)),
        (2L, Seq(1.0, 0.0), Seq(0.0, 0.0)))
      .toDF("id", "a", "b")
    val rows = v.orderBy("id").select(
      SimilarityOps.dot(col("a"), col("b")),
      SimilarityOps.norm(col("a")),
      SimilarityOps.cosine(col("a"), col("b"))).collect()
    assert(rows.map(_.toSeq) === Array(Seq(24.0, 5.0, 0.96),
      Seq(0.0, 1.0, null)))
    val top = ScaleOps.topKIdsPerGroup(v.withColumn("g", col("id") % 1L),
      Seq("g"), SimilarityOps.norm(col("a")), col("id"), 1, "top_id")
      .collect()
    assert(top.map(r => (r.getInt(1), r.getLong(2))) === Array((1, 1L)))
  }

  test("one face per kernel family, run on a fresh session, leaves its " +
      "function registry unchanged") {
    val fresh = spark.newSession()
    val before = functions(fresh)
    for (q <- Seq("q123", "q38", "q79", "q90", "q112", "q121")) {
      val (name, face) = SparkEntry.resolve(q)
      face(fresh, sfDir).collect()
      val added = functions(fresh) -- before
      assert(added.isEmpty,
        s"$name wrote into the session's function registry: " +
          added.map(_.funcName).toSeq.sorted.mkString(", "))
    }
  }

  test("no operator reaches a graft kernel by its SQL name: outside " +
      "functions/ no code line registers the names, calls one through " +
      "call_function or names one in SQL text") {
    assume(SourceLint.root.isDirectory, "spec must run from the repo root")
    val offenders = (SourceLint.codeHits(
        Seq("ensureRegistered(", "call_function(\"graft_")) ++
      SourceLint.codeHits("\\bgraft_[a-z0-9_]+\\(".r))
      .map(_._2).distinct
      .filterNot(_.startsWith("src/main/scala/graft/functions/"))
    assert(offenders.isEmpty,
      "a kernel reached by name outside graft.functions:\n" +
        offenders.mkString("\n"))
  }
}
