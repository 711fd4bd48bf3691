package graftbench

import graft.gen.TradeGen
import graft.streaming.{DashboardPipeline, IngestPipeline, TradeSource}
import graft.streaming.IngestPipeline.ParquetSink
import org.apache.spark.graftbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper-path workload: trades as JSON lines → `TradeSource.jsonFiles`
  * → `IngestPipeline.runIngest` (parse, keyed dedup, batch-keyed parquet
  * sink) → a dashboard read of the sink.
  */
object Ingest {

  /** Spark threads; the generator and the poller take the other two cores. */
  val Threads = 2
  /** One input file is released per tick. */
  val TickMs = 200
  /** Default file size: 64 trades per 200 ms tick is 320 trades/s, 1/16 of
    * the highest flat rate the sweep reached (`sweep.py`).
    */
  val TradesPerFile = 64
  /** Short, so freshness measures the pipeline rather than trigger wait
    * (the 5 s default would dominate it).
    */
  val TriggerInterval = "500 milliseconds"
  /** The reference dashboard's refresh interval (dashboard.py:45). */
  val PollMs = 5000
  /** About this share of trades is delivered a second time ... */
  val RedeliverFrac = 0.05
  /** ... this long after the first delivery, plus up to half as much again. */
  val RedeliverAfterMs = 3000
  /** Every this many files carries one poison line. */
  val PoisonEveryFiles = 10
  /** Longest wait, after the last release, for its batch to commit. */
  val DrainTimeoutS = 60
  /** The capacity replay takes the run's input in this many micro-batches
    * ...
    */
  val ReplayBatches = 4
  /** ... once per pass. */
  val ReplayPasses = 3

  /** Malformed lines mixed into the feed; the parser must skip each one. */
  private val poison = Seq("{\"trade_id\": \"T", "not json at all",
    "{\"asset_class\": \"FX\", \"price\": 1.0}")

  private def tradeId(i: Int): String = f"T$i%011d"

  /** `n` seeded trades, JSON-encoded in the wire format without their event
    * time, which the generator stamps at release.
    */
  private def encode(spark: SparkSession, n: Int, seed: Int): Array[String] =
    TradeGen.trades(spark, n.toLong, seed).drop("timestamp")
      .select(to_json(struct(col("*")), IngestPipeline.wireOptions.asJava))
      .collect().map(_.getString(0))

  /** Which later file re-delivers each trade (or -1): about `frac` of trades
    * come again `minGap` to `minGap + spread - 1` files after their own.
    */
  private def redeliveryPlan(nTrades: Int, perFile: Int, nFiles: Int,
      frac: Double, minGap: Int, spread: Int, seed: Int): Array[Int] = {
    val rng = new java.util.Random(seed * 7919L + 17)
    Array.tabulate(nTrades) { i =>
      if (rng.nextDouble() < frac)
        math.min(nFiles - 1, i / perFile + minGap + rng.nextInt(spread))
      else -1
    }
  }

  private def writeLines(f: File, lines: Iterable[String]): Unit =
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))

  // ---- sink reads ----------------------------------------------------------

  /** One dashboard refresh: the read (for the sink: listing and partition
    * discovery over `batch_id` dirs), the minute aggregates over the trade
    * view and the three DashboardPipeline rollups over the events view, each
    * collected. Returns the poll's wall ms. Outside the timer, checks that
    * the snapshot holds no duplicate `key`.
    */
  def dashPoll(run: Run, read: => DataFrame, trades: DataFrame => DataFrame,
      events: DataFrame => DataFrame, key: String): Double = {
    val tr = run.tracer
    val t0 = System.nanoTime()
    def step[T](name: String)(body: => T): T = {
      val (r, s) = Run.timed(tr.span(name, "dash")(body))
      if (tr.enabled) run.sample(name + "_ms", s * 1000)
      r
    }
    val df = tr.span("dash.poll", "dash") {
      val df = step("dash.read")(read)
      step("dash.minute_aggs")(IngestPipeline.minuteAggs(trades(df)).collect())
      val ev = events(df)
      step("dash.kpi")(DashboardPipeline.kpiStream(ev).collect())
      step("dash.type_dist")(DashboardPipeline.typeDistributionStream(ev).collect())
      step("dash.top_users")(DashboardPipeline.topUsersStream(ev).collect())
      df
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tr.enabled) run.sample("dash.files_scanned", df.inputFiles.length)
    val dup = df.groupBy(key).count().filter(col("count") > 1).limit(1).collect()
    run.check(dup.isEmpty, s"poll saw duplicate $key ${dup.headOption.map(_.get(0))}")
    ms
  }

  /** A dashboard refresh over the ingest sink; a trade's events view is the
    * EventOps mapping.
    */
  def sinkPoll(run: Run, spark: SparkSession, sinkDir: String): Double =
    dashPoll(run, spark.read.parquet(sinkDir), identity,
      _.select(col("trade_id").as("event_id"), col("timestamp").as("ts"),
        col("status").as("event_type"), col("notional_value").as("value"),
        col("counterparty").as("user_id")), "trade_id")

  /** Files each micro-batch took, from the file source's metadata log. */
  private def filesPerBatch(ckpt: String): Map[Long, Int] = {
    val log = new File(ckpt, "sources/0")
    val entries = Option(log.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala.drop(1))
    val batchOf = "\"batchId\":(\\d+)".r
    val pathOf = "\"path\":\"([^\"]+)\"".r
    entries.flatMap { e =>
      for (p <- pathOf.findFirstMatchIn(e); b <- batchOf.findFirstMatchIn(e))
        yield p.group(1) -> b.group(1).toLong
    }.toMap.groupBy(_._2).map { case (b, ps) => b -> ps.size }
  }

  private def visibleMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Source read lag at each batch commit: input files out by then that no
    * committed batch has taken yet.
    */
  private def readLag(progress: Seq[StreamingQueryProgress], ckpt: String,
      released: Double => Int): Seq[Double] = {
    val took = filesPerBatch(ckpt)
    var committed = 0
    progress.filter(_.numInputRows > 0).sortBy(_.batchId).map { p =>
      committed += took.getOrElse(p.batchId, 0)
      (released(visibleMs(p)) - committed).toDouble
    }
  }

  /** Per-layer records of one streaming run: trigger phases, source, dedup
    * state and sink. `released(t)` is how many input files were out at epoch
    * ms `t`, for the source's read lag.
    */
  private def streamLayers(run: Run, spark: SparkSession,
      progress: Seq[StreamingQueryProgress], ckpt: String, sinkDir: String,
      parsedRows: Long, released: Double => Int): Unit = {
    val withData = progress.filter(_.numInputRows > 0)
    withData.foreach { p =>
      run.sample("batch.trigger_ms", dur(p, "triggerExecution"))
      Seq("queryPlanning" -> "batch.query_planning_ms",
        "addBatch" -> "batch.add_batch_ms", "walCommit" -> "batch.wal_commit_ms",
        "commitOffsets" -> "batch.commit_offsets_ms",
        "latestOffset" -> "source.latest_offset_ms",
        "getBatch" -> "source.get_batch_ms").foreach { case (k, m) =>
        run.sample(m, dur(p, k))
      }
      run.sample("source.rows_per_batch", p.numInputRows.toDouble)
      p.stateOperators.headOption.foreach { s =>
        run.sample("ingest.state_commit_ms", s.commitTimeMs.toDouble)
        run.sample("ingest.late_rows", s.numRowsDroppedByWatermark.toDouble)
      }
      // the batch and its phases as spans, laid end to end from the trigger
      // start in execution order; the batch's jobs parent on addBatch
      val start = Instant.parse(p.timestamp).toEpochMilli * 1000L
      val key = s"b:${p.id}:${p.batchId}"
      run.tracer.add(key + ":trigger", "", "batch", "batch", start,
        start + dur(p, "triggerExecution").toLong * 1000L,
        Map("rows" -> p.numInputRows))
      var at = start
      phaseOrder.foreach { ph =>
        val d = dur(p, ph).toLong * 1000L
        val layer = if (ph == "latestOffset" || ph == "getBatch") "source" else "batch"
        run.tracer.add(if (ph == "addBatch") key else s"$key:$ph", key + ":trigger",
          ph, layer, at, at + d)
        at += d
      }
    }
    run.sample("batch.count", withData.size.toDouble)
    val last = progress.flatMap(_.stateOperators.headOption).lastOption
    run.sample("ingest.state_rows", last.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    run.sample("ingest.state_mb", progress.flatMap(_.stateOperators.headOption)
      .map(_.memoryUsedBytes / 1048576.0).foldLeft(0.0)(math.max))
    readLag(progress, ckpt, released).foreach(run.sample("source.read_lag_files", _))
    // sink: the write job of each batch — its last job, after the
    // emptiness probe — then file count and bytes
    Internals.drainListenerBus(spark.sparkContext)
    run.jobs.drain().filter(_.batchId.nonEmpty).groupBy(_.batchId).values.foreach { js =>
      val w = js.maxBy(_.startMs)
      run.sample("ingest.sink_write_ms", (w.endMs - w.startMs).toDouble)
    }
    val files = Files.walk(new File(sinkDir).toPath).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).map(_.toFile).toSeq
    val batchDirs = Option(new File(sinkDir).list()).getOrElse(Array.empty[String])
      .count(_.startsWith("batch_id="))
    // a batch whose rows were all duplicates writes no directory
    run.sample("ingest.empty_batches", (withData.size - batchDirs).toDouble)
    val sinkRows = spark.read.parquet(sinkDir).count()
    run.sample("ingest.sink_files_per_batch", files.size.toDouble / math.max(1, batchDirs))
    run.sample("ingest.sink_bytes_per_row", files.map(_.length).sum.toDouble / math.max(1L, sinkRows))
    run.sample("ingest.dedup_drop_ratio",
      (parsedRows - sinkRows).toDouble / math.max(1L, parsedRows))
  }

  /** Parse layer alone: `parseTrades` over the input files as a static
    * read, fully materialized. Records rows/s and the poison rows it drops.
    */
  private def parseLayer(run: Run, spark: SparkSession, dir: String, lines: Long): Unit = {
    val parsed = IngestPipeline.parseTrades(spark.read.text(dir))
    val (_, s) = Run.timed(run.tracer.span("ingest.parse", "ingest") {
      parsed.write.format("noop").mode("overwrite").save()
    })
    run.sample("ingest.parse_rows_per_s", lines / s)
    run.sample("ingest.poison_rows", (lines - parsed.count()).toDouble)
  }

  // ---- ingest_live -----------------------------------------------------------

  private val wireTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Open loop at a fixed offered rate: a generator thread releases one
    * JSON-lines file every `TickMs` (atomic rename into the watched
    * directory), stamping each trade with its release time and
    * re-delivering some a few seconds later, while `runIngest` runs on a
    * `ProcessingTime` trigger and a poller thread refreshes the dashboard.
    */
  def live(run: Run): Unit = {
    val perFile = run.int("trades_per_file", TradesPerFile)
    val nFiles = math.max(2, (run.seconds * 1000 / TickMs).toInt)
    val nTrades = nFiles * perFile
    val gap = math.max(1, RedeliverAfterMs / TickMs)
    var json = Array.empty[String]
    val spark = run.setup(Threads, run.int("setup_reps", 3)) { s =>
      val (_, warmS) = Run.timed(run.warmSession(s))
      val (_, genS) = Run.timed { json = encode(s, nTrades, run.seed) }
      if (run.tracer.enabled) run.sample("gen.encode_rows_per_s", nTrades / genS)
      (warmS, genS)
    }
    val again = redeliveryPlan(nTrades, perFile, nFiles, RedeliverFrac,
      gap, math.max(1, gap / 2), run.seed)
    val extra = again.indices.filter(again(_) >= 0).groupBy(again(_))
    val drop = run.dir("drop")
    val stage = run.dir("stage")
    val sinkDir = run.dir("sink")
    val ckpt = run.dir("ckpt")

    val q: StreamingQuery = run.tracer.span("ingest.start", "ingest") {
      IngestPipeline.runIngest(spark, TradeSource.jsonFiles(spark, drop),
        ParquetSink(sinkDir), ckpt, Trigger.ProcessingTime(TriggerInterval))
    }
    val schedMs = new Array[Double](nFiles)
    val actualMs = new Array[Double](nFiles)
    @volatile var releasedFiles = 0
    val cpu0 = Run.cpuS
    val t0Ms = System.currentTimeMillis() + 500.0
    val generator = new Thread(() => {
      val stamped = new Array[String](nTrades)
      (0 until nFiles).foreach { f =>
        schedMs(f) = t0Ms + f.toDouble * TickMs
        val wait = (schedMs(f) - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        val us = Clock.nowUs
        val ts = LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, ZoneOffset.UTC).format(wireTs)
        val own = (f * perFile until (f + 1) * perFile).map { i =>
          stamped(i) = s"""{"timestamp":"$ts",""" + json(i).drop(1); stamped(i)
        }
        val bad = if (f % PoisonEveryFiles == 0)
          Seq(poison(f / PoisonEveryFiles % poison.size)) else Nil
        val tmp = new File(stage, f"part-$f%05d.jsonl")
        writeLines(tmp, own ++ bad ++ extra.getOrElse(f, Nil).map(stamped(_)))
        Files.move(tmp.toPath, new File(drop, tmp.getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        actualMs(f) = Clock.nowUs / 1000.0
        releasedFiles = f + 1
      }
    }, "graftbench-generator")
    generator.setDaemon(true)

    // the dashboard: a closed loop that refreshes every `PollMs`, starting
    // once the first batch is in the sink
    @volatile var stop = false
    val reads = mutable.ArrayBuffer.empty[Double]
    val poller = new Thread(() => {
      def firstBatch = Option(new File(sinkDir).listFiles()).exists(_.exists(d =>
        d.getName.startsWith("batch_id=") && new File(d, "_SUCCESS").exists()))
      while (!stop && !firstBatch) Thread.sleep(20)
      while (!stop) {
        val start = System.nanoTime()
        try reads += sinkPoll(run, spark, sinkDir)
        catch { case e: Exception => run.check(false, s"poll failed: $e") }
        val left = PollMs - (System.nanoTime() - start) / 1000000L
        if (left > 0 && !stop) Thread.sleep(left)
      }
    }, "graftbench-poller")
    poller.setDaemon(true)

    generator.start(); poller.start()
    generator.join()
    // drain: wait (bounded) until the batch holding the last file commits
    val (_, drained) = Run.timed {
      val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
      def done = {
        val took = filesPerBatch(ckpt)
        took.values.sum == nFiles &&
          new File(ckpt, s"commits/${took.keys.max}").exists()
      }
      while (q.isActive && !done && System.nanoTime() < deadline) Thread.sleep(20)
    }
    stop = true
    poller.join()
    run.mark("measure")
    val cpu = Run.cpuS - cpu0
    q.stop()
    run.check(q.exception.isEmpty, s"live query failed: ${q.exception}")
    run.raw("drain_s") = drained
    run.raw("cpu_s") = cpu
    run.raw("read_ms") = reads.toSeq

    val progress = q.recentProgress.toSeq
    val sink = spark.read.parquet(sinkDir).select("trade_id", "batch_id").collect()
      .map(r => r.getString(0) -> r.getInt(1))
    val ids = sink.map(_._1)
    val distinct = ids.distinct
    val want = (0 until nTrades).map(tradeId).toSet
    run.check(ids.length == distinct.length, s"sink holds ${ids.length - distinct.length} duplicates")
    run.check(distinct.toSet == want,
      s"sink holds ${distinct.length} trades, want $nTrades released")
    val withData = progress.filter(_.numInputRows > 0)
    run.raw("live") = Map(
      "per_file" -> perFile, "tick_ms" -> TickMs,
      "sched_ms" -> schedMs.toSeq, "actual_ms" -> actualMs.toSeq,
      "visible_ms" -> withData.map(p => p.batchId.toString -> visibleMs(p)).toMap,
      "sink" -> sink.groupBy(_._2).map { case (b, ts) =>
        b.toString -> ts.map(_._1.drop(1).toLong).toSeq })
    run.raw("input_lines") = nTrades + extra.values.map(_.size).sum +
      (0 until nFiles).count(_ % PoisonEveryFiles == 0)
    // the steady part only: from the second batch to the last release
    run.raw("lag_files") = readLag(progress.filter(visibleMs(_) <= actualMs.last), ckpt,
      t => actualMs.count(_ <= t)).drop(1)
    actualMs.zip(schedMs).foreach { case (a, s) => run.sample("gen.release_lag_ms", a - s) }
    if (run.tracer.enabled) {
      streamLayers(run, spark, progress, ckpt, sinkDir, nTrades + extra.values.map(_.size).sum,
        t => actualMs.count(_ <= t))
      parseLayer(run, spark, drop, run.raw("input_lines").asInstanceOf[Int].toLong)
    }
    deleteTree(new File(sinkDir)); deleteTree(new File(ckpt))
    run.raw("replay") = (1 to ReplayPasses).map(replay(run, spark, drop, nFiles, nTrades, _))
    deleteTree(new File(drop))
  }

  /** Capacity, which the open loop cannot show (its batches only grow when
    * the pipeline slows): the run's released files ingested again as a
    * closed backlog, `Trigger.AvailableNow` into a fresh sink in
    * `ReplayBatches` micro-batches. Returns the seconds from `runIngest` to
    * termination and each batch's rows and trigger time; the sink must hold
    * each trade exactly once.
    */
  private def replay(run: Run, spark: SparkSession, drop: String, nFiles: Int,
      nTrades: Int, pass: Int): Map[String, Any] = {
    val sinkDir = run.dir(s"replay-sink-$pass")
    val ckpt = run.dir(s"replay-ckpt-$pass")
    val perTrigger = (nFiles + ReplayBatches - 1) / ReplayBatches
    val (q, wall) = Run.timed(run.tracer.span("ingest.replay", "ingest") {
      val q = IngestPipeline.runIngest(spark, TradeSource.jsonFiles(spark, drop, perTrigger),
        ParquetSink(sinkDir), ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      q
    })
    run.check(q.exception.isEmpty, s"replay $pass failed: ${q.exception}")
    val got = spark.read.parquet(sinkDir)
      .agg(count(lit(1)), countDistinct(col("trade_id"))).head()
    val (n, distinct) = (got.getLong(0), got.getLong(1))
    run.check(n == nTrades && distinct == nTrades,
      s"replay $pass: $n rows, $distinct trade ids, want $nTrades")
    deleteTree(new File(sinkDir)); deleteTree(new File(ckpt))
    Map("wall_s" -> wall, "batches" -> q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .sortBy(_.batchId).map(p => Seq(p.numInputRows.toDouble, dur(p, "triggerExecution"))))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
