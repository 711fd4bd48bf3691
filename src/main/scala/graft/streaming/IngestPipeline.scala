package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming restatement of the reference's ingestion pipeline
  * (SURVEY.md §2.1 S3–S5, §2.7):
  *
  *   Kafka JSON topic → consumer → idempotent keyed insert (Postgres PK)
  *
  * becomes
  *
  *   readStream → from_json(tradeSchema) → poison-record skip →
  *   watermarked keyed dedup → batch-keyed idempotent parquet sink.
  *
  * Transforms are `DataFrame => DataFrame` so identical logic runs over a
  * MemoryStream in tests, a file source, or a Kafka source in production
  * (the source is a config swap — no Kafka broker exists in this harness).
  * End-to-end guarantee matches the reference: at-least-once delivery +
  * keyed dedup = exactly-once table state (consumer.py:78).
  */
object IngestPipeline {

  /** The 20-field trade schema of record (consumer.py:37-58 DDL;
    * SURVEY.md §1.2). Declared, never inferred — from_json requires it.
    */
  val tradeSchema: StructType = StructType(Seq(
    StructField("trade_id", StringType),
    StructField("asset_class", StringType),
    StructField("instrument", StringType),
    StructField("side", StringType),
    StructField("quantity", DoubleType),
    StructField("price", DoubleType),
    StructField("notional_value", DoubleType),
    StructField("counterparty", StringType),
    StructField("status", StringType),
    StructField("settlement_venue", StringType),
    StructField("trade_date", DateType),
    StructField("settlement_date", DateType),
    StructField("brokerage_fee", DoubleType),
    StructField("clearing_fee", DoubleType),
    StructField("exchange_fee", DoubleType),
    StructField("total_fees", DoubleType),
    StructField("priority", StringType),
    StructField("stp_eligible", BooleanType),
    StructField("timestamp", TimestampType),
    StructField("processed_by", StringType)))

  /** WRITE-side wire timestamp format: Python `datetime.isoformat()` carries
    * microseconds and no zone (producer.py:126); Spark's default `to_json`
    * output is millisecond-only and would silently truncate. The READ side
    * deliberately uses no format — the default parser accepts any
    * fractional precision losslessly, including isoformat()'s bare
    * `HH:mm:ss` when microsecond == 0 (a pinned `.SSSSSS` read format
    * would null those ~1-in-1e6 records).
    */
  val wireOptions: Map[String, String] =
    Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Wire-format decode: JSON string payload → 20 typed columns.
    * PERMISSIVE parse + key-null filter reproduces the reference's
    * per-message poison-pill skip (consumer.py:116-118) without killing the
    * stream.
    */
  def parseTrades(raw: DataFrame, payload: Column = col("value")): DataFrame =
    raw.select(from_json(payload.cast("string"), tradeSchema).as("t"))
      .select(col("t.*"))
      .filter(col("trade_id").isNotNull)

  /** Keyed dedup with bounded state: watermark + dropDuplicatesWithinWatermark
    * keeps exactly-once table semantics while letting the state store evict
    * keys older than the horizon (the reference's Postgres PK holds state
    * forever — unbounded; `boundedState = false` reproduces that exactly).
    */
  def dedupTrades(parsed: DataFrame, watermark: String = "10 minutes",
      boundedState: Boolean = true): DataFrame = {
    val withWm = parsed.withWatermark("timestamp", watermark)
    if (boundedState) withWm.dropDuplicatesWithinWatermark("trade_id")
    else withWm.dropDuplicates("trade_id")
  }

  /** Tumbling 1-minute aggregation (dashboard.py:236-243 as a stream):
    * per-window trade count + notional sum, update-incrementally instead of
    * the reference's full recompute per poll. No watermark — faithful to
    * the reference's unbounded retroactive updates (complete/update mode;
    * state grows with the window count).
    */
  def minuteAggs(trades: DataFrame): DataFrame =
    trades
      .groupBy(window(col("timestamp"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n_trades"),
        // decimal-backed (Tables.dsum): state-merge order must not be
        // able to shift the rounded total off the batch twin's
        graft.Tables.dsum(col("notional_value")).as("total_notional"))
      .select(col("w.start").as("minute"), col("n_trades"), col("total_notional"))

  /** Watermarked twin of [[minuteAggs]] — the production mode (SURVEY §2.5
    * semantic delta): with an event-time watermark the query runs in APPEND
    * mode, each window is emitted exactly once after the watermark passes
    * its end + `delay`, finalized windows evict from the state store
    * (bounded state), and events arriving later than the horizon are
    * dropped instead of retroactively rewriting history.
    */
  def minuteAggsWatermarked(trades: DataFrame,
      delay: String = "2 minutes"): DataFrame =
    minuteAggs(trades.withWatermark("timestamp", delay))

  /** Sink configuration for [[runIngest]] — the reference's Postgres table
    * (consumer.py:64-118) maps to either arm as a config swap, both carrying
    * the same replay-idempotence contract.
    */
  sealed trait TradeSink
  /** Parquet sink (the harness/analytics arm): each non-empty micro-batch
    * is ONE parquet file in its own overwritable `batch_id=N` segment, so a
    * dashboard read opens one file per batch. One writer is enough because
    * every source caps a micro-batch ([[TradeSource]]: `maxFilesPerTrigger`,
    * `maxOffsetsPerTrigger`, rate × trigger interval). `trade_date` is a
    * plain `DateType` data column at its [[tradeSchema]] position, not a
    * directory level: a `trade_date` filter skips segment files by their
    * parquet footer min/max statistics instead of by partition pruning.
    *
    * Upgrade caveat: a sink directory written by the earlier layout
    * (`batch_id=N/trade_date=D/part-*`) must not be resumed by this code —
    * the mix of `batch_id=N/trade_date=D` and `batch_id=M` leaves fails
    * Spark's partition discovery on read (CONFLICTING_PARTITION_COLUMN_NAMES).
    * Point an existing sink at a fresh directory.
    */
  final case class ParquetSink(dir: String) extends TradeSink
  /** JDBC sink (the consumer.py parity arm — Postgres in the reference,
    * any JDBC url here). Replay idempotence: each row carries its micro-batch
    * id, and a replayed batch DELETEs its own rows before re-inserting — the
    * same converge-on-rerun guarantee the parquet arm gets from directory
    * overwrite and the reference gets from `ON CONFLICT DO NOTHING`.
    */
  final case class JdbcSink(url: String, table: String,
      properties: java.util.Properties = new java.util.Properties)
    extends TradeSink

  /** End-to-end ingest job: parse → dedup → idempotent sink,
    * 5-second micro-batches (the reference's default poll interval). Both
    * arms key the written unit on the batch id ([[BatchDirs.runKeyed]]'s
    * replay contract). No dropDuplicates in the sink: the upstream
    * dropDuplicatesWithinWatermark already hands each batch unique
    * trade_ids — repeating it would add a full shuffle per batch for no
    * behavioral change.
    */
  def runIngest(spark: SparkSession, raw: DataFrame, sink: TradeSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    BatchDirs.runKeyed(dedupTrades(parseTrades(raw)), checkpointDir,
        trigger) { (deduped, batchId) =>
      sink match {
        case ParquetSink(dir) =>
          // one file per batch: coalesce narrows the persisted batch to a
          // single writer (no shuffle); the source caps bound its size
          deduped.coalesce(1).write.mode("overwrite")
            .parquet(BatchDirs.segment(dir, batchId))
        case JdbcSink(url, table, props) =>
          // delete-own-rows-then-append keyed on batch_id: first attempt
          // deletes nothing, a replay deletes the partial write. Spark's
          // JDBC writer creates the table on first append.
          deleteBatchRows(url, table, props, batchId)
          deduped.withColumn("batch_id", lit(batchId))
            .write.mode("append").jdbc(url, table, props)
      }
    }

  /** Delete a replayed batch's rows; a no-op when the table does not
    * exist yet (first batch creates it via the JDBC writer). The DELETE
    * runs unconditionally and table-missing errors are swallowed — a
    * metadata existence probe would have to reproduce each dialect's
    * case/catalog/schema-qualification rules (e.g. `public.trades` never
    * matches getTables' bare names), and a false negative there silently
    * SKIPS the delete, turning a replay into duplicated rows. Any other
    * SQL error (permissions, connectivity) propagates: proceeding to the
    * append without the delete would break exactly-once.
    */
  private def deleteBatchRows(url: String, table: String,
      props: java.util.Properties, batchId: Long): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try { st.executeUpdate(s"DELETE FROM $table WHERE batch_id = $batchId"); () }
      catch {
        case e: java.sql.SQLException
            if Option(e.getSQLState).exists(s =>
              s == "42X05" || s == "42P01" || s == "42S02") =>
          // table/view not found: Derby 42X05, Postgres 42P01, MySQL/
          // SQLServer 42S02 — the first batch has not created it yet
          ()
        case e: java.sql.SQLException
            if e.getSQLState == null || e.getSQLState == "42000" =>
          // dialects that bury table-not-found in a generic state
          // (Oracle ORA-00942 → 42000) or report none (SQLite JDBC):
          // disambiguate with a zero-row probe of the same table. Probe
          // ALSO fails → the table really is missing (first batch; the
          // append creates it). Probe succeeds → the table exists, the
          // DELETE failure is real (e.g. a delete-denied grant) and must
          // propagate — appending without the delete breaks exactly-once.
          val probe = conn.createStatement()
          val missing =
            try { probe.executeQuery(s"SELECT 1 FROM $table WHERE 1 = 0")
              .close(); false }
            catch { case _: java.sql.SQLException => true }
            finally probe.close()
          if (!missing) throw e
      }
      finally st.close()
    } finally conn.close()
  }
}
