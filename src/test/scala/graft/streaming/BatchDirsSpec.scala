package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Pins [[BatchDirs.readIfExists]]'s three-way contract: absent/empty and
  * footer-less (in-flight `_temporary` only) dirs read as "nothing
  * committed yet" (None), a committed store reads, and a DAMAGED store —
  * readable dir, unreadable data file — propagates its error instead of
  * masquerading as not-yet-seeded (the r08 ADVICE item: a blanket
  * AnalysisException→None let a poller report a broken LM as unseeded
  * forever with no signal). Also pins [[BatchDirs.runKeyed]]'s sink
  * contract (empty batches write nothing; the body sees a persisted batch
  * that is unpersisted afterwards) and that it is the only keyed sink in
  * `src/main`.
  */
class BatchDirsSpec extends SparkSpec {

  /** Run `stream` to completion through [[BatchDirs.runKeyed]]. */
  private def runToEnd(stream: DataFrame, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = BatchDirs.runKeyed(stream, ckpt, Trigger.AvailableNow())(body)
    try q.processAllAvailable() finally q.stop()
  }

  /** Every file under `dir` with its bytes, keyed by relative path. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("absent and empty dirs read as None") {
    assert(BatchDirs.readIfExists(spark, "/tmp/graft-no-such-dir-xyz").isEmpty)
    assert(BatchDirs.readIfExists(spark, tmpDir("bd-empty")).isEmpty)
  }

  test("a dir holding only an in-flight _temporary reads as None " +
    "(pins the UNABLE_TO_INFER_SCHEMA condition the narrowed catch keys on)") {
    val d = tmpDir("bd-tmp-only")
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(d, "_temporary"))
    // this is the exact exception the narrowed catch must keep mapping to
    // None — if a Spark upgrade renames the error condition, this test
    // fails loudly instead of every poller crashing at runtime
    assert(BatchDirs.readIfExists(spark, d).isEmpty)
  }

  test("a committed store reads back") {
    val d = tmpDir("bd-real")
    import spark.implicits._
    Seq(("a", 1L)).toDF("k", "v").write.mode("overwrite").parquet(d)
    val got = BatchDirs.readIfExists(spark, d)
    assert(got.nonEmpty && got.get.count() == 1)
  }

  test("a damaged store propagates its error, not None") {
    val d = tmpDir("bd-damaged")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "part-00000.snappy.parquet"),
      "this is not parquet".getBytes)
    val thrown = intercept[Throwable] {
      // trigger both analysis (footer read for schema inference) and, if
      // that somehow passes, execution
      BatchDirs.readIfExists(spark, d).foreach(_.count())
    }
    assert(thrown != null)
  }

  test("runKeyed: an empty micro-batch reaches no body, writes no segment " +
      "and leaves a same-numbered segment from an earlier run " +
      "byte-for-byte intact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("bd-keyed-empty")
    // an earlier incarnation's batch 0, which a fresh checkpoint's first
    // (empty) batch must not clobber
    val prior = BatchDirs.segment(dir, 0)
    Seq(("a", 1L)).toDF("k", "v").write.parquet(prior)
    val before = snapshot(prior)
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    var calls = 0
    runToEnd(input.toDF().filter(col("value") > 100),
        tmpDir("bd-keyed-empty-ckpt")) { (b, id) =>
      calls += 1
      b.write.mode("overwrite").parquet(BatchDirs.segment(dir, id))
    }
    assert(calls === 0, "an empty batch must not reach the body")
    assert(new java.io.File(dir).list().toSeq === Seq("batch_id=0"),
      "no new segment may appear")
    assert(snapshot(prior) === before,
      "the earlier segment must survive byte-for-byte")
  }

  test("runKeyed: the body sees the batch persisted, and it is " +
      "unpersisted once the body returns; the segment lands at " +
      "segment(dir, id)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("bd-keyed-persist")
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    var seen: Option[(DataFrame, StorageLevel, Long)] = None
    runToEnd(input.toDF(), tmpDir("bd-keyed-persist-ckpt")) { (b, id) =>
      seen = Some((b, b.storageLevel, id))
      b.write.mode("overwrite").parquet(BatchDirs.segment(dir, id))
    }
    val (b, levelInBody, id) = seen.getOrElse(fail("body never ran"))
    assert(levelInBody != StorageLevel.NONE,
      "the body must see a persisted batch")
    assert(b.storageLevel === StorageLevel.NONE,
      "the batch must be unpersisted after the body returns")
    assert(id === 0L)
    assert(spark.read.parquet(s"$dir/batch_id=0").count() === 3)
    assert(BatchDirs.segment(dir, BatchDirs.SeedId) === s"$dir/batch_id=-1")
  }

  test("runKeyed is the only keyed sink in src/main: outside BatchDirs, " +
      "no code line calls foreachBatch or builds a batch_id= path " +
      "(BatchDirs itself holds exactly one of each)") {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "spec must run from the repo root")
    val patterns = Seq("foreachBatch", "batch_id=")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // code lines only: scaladoc/comment lines, and a trailing `//`
    // comment, may describe the layout freely
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
      else line.indexOf(" //") match {
        case -1 => line
        case i => line.take(i)
      }
    }
    val hits = walk(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex.collect {
          case (line, i) if patterns.exists(code(line).contains) =>
            (f.getName, s"${f.getPath}:${i + 1}: $line")
        }.toSeq
    }
    val offenders = hits.filterNot(_._1 == "BatchDirs.scala").map(_._2)
    assert(offenders.isEmpty,
      s"keyed sink built outside BatchDirs:\n${offenders.mkString("\n")}")
    val own = hits.filter(_._1 == "BatchDirs.scala").map(_._2)
    assert(own.size === 2,
      s"BatchDirs must hold exactly the one foreachBatch and the one " +
        s"segment literal:\n${own.mkString("\n")}")
  }
}
