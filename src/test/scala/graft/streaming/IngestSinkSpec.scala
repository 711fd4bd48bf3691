package graft.streaming

import graft.SparkSpec
import graft.gen.TradeGen
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.IntegerType
import scala.jdk.CollectionConverters._

/** Pins the layout of [[IngestPipeline.runIngest]]'s parquet sink: each
  * non-empty micro-batch is one `part-*.parquet` file directly under its
  * `batch_id=N` segment, with `trade_date` a data column (no
  * `trade_date=` directory level), and the sink reads back as exactly the
  * generator's trades — whole, filtered by `trade_date`, filtered by the
  * reference dashboard's pushed `status` predicate (dashboard.py:25-27), and
  * after a replay that overwrites every segment.
  *
  * The input is a file drop of [[TradeGen]] wire JSON consumed one file per
  * micro-batch, each file spanning all four trade dates, on the suite
  * session's 4 shuffle partitions — so a per-date or per-task writer would
  * show up as more than one file in a segment.
  */
class IngestSinkSpec extends SparkSpec {

  import spark.implicits._

  private val seed = 17
  private val perFile = 40
  private val nFiles = 3
  private val nTrades = perFile * nFiles

  /** The generator's trades in [[IngestPipeline.tradeSchema]] order. */
  private lazy val generated: DataFrame =
    TradeGen.trades(spark, nTrades, seed)
      .select(IngestPipeline.tradeSchema.fieldNames.map(col): _*)

  /** `nFiles` wire-JSON files of consecutive ids (event time rises from
    * file to file, so the dedup watermark drops nothing).
    */
  private lazy val drop: String = {
    val d = tmpDir("ingest-sink-drop")
    val json = TradeGen.trades(spark, nTrades, seed)
      .select(to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava)).as[String].collect()
    json.grouped(perFile).zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/f$i.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    d
  }

  /** Ingest the drop into `sink` under a fresh checkpoint. */
  private def ingest(sink: String): Unit = {
    val q = IngestPipeline.runIngest(spark,
      TradeSource.jsonFiles(spark, drop, maxFilesPerTrigger = 1),
      IngestPipeline.ParquetSink(sink), tmpDir("ingest-sink-ckpt"),
      Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => fail(e))
  }

  private lazy val sink: String = {
    val s = tmpDir("ingest-sink")
    ingest(s)
    s
  }

  /** Every `batch_id=N` segment's entries other than the commit markers
    * and checksums.
    */
  private def layout(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(s => s.getName -> s.list().toSeq
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted)
      .toMap

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[String]("trade_id"))

  private def sinkTrades: DataFrame = spark.read.parquet(sink).drop("batch_id")

  test("each input file spans all four trade dates (the layout tests' " +
      "precondition)") {
    val perBatch = generated
      .withColumn("f", (regexp_extract(col("trade_id"), "\\d+", 0)
        .cast("long") / perFile).cast("int"))
      .groupBy("f").agg(countDistinct("trade_date").as("dates"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perBatch === (0 until nFiles).map(_ -> 4L).toMap)
  }

  test("every committed batch_id=N segment holds exactly one part file " +
      "and no trade_date= directory") {
    val got = layout(sink)
    assert(got.keySet === (0 until nFiles).map(i => s"batch_id=$i").toSet,
      s"expected one segment per input file, got ${got.keys}")
    got.foreach { case (seg, entries) =>
      assert(entries.size === 1 &&
          entries.head.startsWith("part-") && entries.head.endsWith(".parquet"),
        s"$seg must hold exactly one part-*.parquet file, holds $entries")
    }
  }

  test("the sink reads back as tradeSchema's 20 fields in order, " +
      "then batch_id") {
    val schema = spark.read.parquet(sink).schema
    assert(schema.map(f => f.name -> f.dataType) ===
      IngestPipeline.tradeSchema.map(f => f.name -> f.dataType) :+
        ("batch_id" -> IntegerType))
  }

  test("the sink's rows equal the generator's trades, trade_date included") {
    assert(rows(sinkTrades) === rows(generated))
  }

  test("a trade_date filter is a pushed data filter and returns the " +
      "generator's rows for that date") {
    val dates = generated.select("trade_date").distinct()
      .as[java.sql.Date].collect().sortBy(_.getTime)
    assert(dates.length === 4)
    dates.foreach { d =>
      val filtered = sinkTrades.filter(col("trade_date") === lit(d))
      assert(rows(filtered) ===
        rows(generated.filter(col("trade_date") === lit(d))), s"date $d")
      // no directory level to prune: the predicate reaches the parquet
      // reader, which skips row groups (and files) by footer min/max
      val scans = filtered.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.size === 1)
      assert(scans.head.partitionFilters.isEmpty)
      assert(scans.head.metadata("PushedFilters").contains("trade_date"),
        scans.head.metadata("PushedFilters"))
    }
  }

  test("the reference dashboard's pushed status filter returns the " +
      "generator's rows for that status") {
    Seq("Pending Confirmation", "Settled").foreach { s =>
      val want = rows(generated.filter(col("status") === s))
      assert(want.nonEmpty, s"no $s trades generated")
      assert(rows(sinkTrades.filter(col("status") === s)) === want, s)
    }
  }

  test("a replay under a fresh checkpoint overwrites each segment: still " +
      "one part file per segment, raw count unchanged") {
    val s = tmpDir("ingest-sink-replay")
    ingest(s)
    val first = layout(s)
    ingest(s)
    val second = layout(s)
    assert(second.keySet === first.keySet)
    assert(second.values.toSet.intersect(first.values.toSet).isEmpty,
      "the replay must rewrite every segment")
    second.foreach { case (seg, entries) =>
      assert(entries.size === 1, s"$seg after replay holds $entries")
    }
    val out = spark.read.parquet(s)
    assert(out.count() === nTrades)
    assert(out.select("trade_id").distinct().count() === nTrades)
  }
}
