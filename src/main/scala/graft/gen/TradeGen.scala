package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic trade generator — the Spark-native restatement of
  * the reference's producer (producer.py:11-128, field semantics in
  * SURVEY.md §1.2).
  *
  * Unlike `rand(seed)` (whose stream depends on partitioning), every random
  * draw derives from `xxhash64(trade row id, stream-id)`, so the generated
  * table is bit-identical for any partition count and any cluster size —
  * reproducible test fixtures at 100 TB scale. All derivation stays in
  * codegen'd column expressions; generating N rows is a single distributed
  * `range(N)` scan with no shuffle.
  */
object TradeGen {

  val assetClasses = Seq("Equity", "Fixed Income", "Derivative", "FX", "Commodity")

  /** Per-asset-class instrument universe (producer.py:42-48). */
  val instruments: Map[String, Seq[String]] = Map(
    "Equity" -> Seq("AAPL", "MSFT", "GOOGL", "AMZN", "TSLA", "NVDA", "META", "JPM"),
    "Fixed Income" -> Seq("UST10Y", "UST2Y", "CORP-AAA", "MUNI-CA", "TIPS5Y"),
    "Derivative" -> Seq("SPX-OPT", "NDX-FUT", "VIX-OPT", "ES-FUT", "RATE-SWAP"),
    "FX" -> Seq("EUR/USD", "GBP/USD", "USD/JPY", "AUD/USD", "USD/CHF"),
    "Commodity" -> Seq("WTI-CRUDE", "GOLD", "NATGAS", "COPPER"))

  val counterparties = Seq(
    "Goldman Sachs", "Morgan Stanley", "JP Morgan", "Citadel Securities",
    "Jane Street", "Two Sigma", "Barclays", "UBS")

  /** Weighted status distribution (producer.py:30-39): cumulative bounds. */
  val statusWeights = Seq(
    "Pending Confirmation" -> 0.40, "Confirmed" -> 0.35,
    "Settlement Pending" -> 0.15, "Settled" -> 0.08,
    "Break - Mismatch" -> 0.015, "Break - Missing Trade" -> 0.005)

  val settlementVenues = Seq("DTC", "Euroclear", "Clearstream", "CME", "ICE", "OCC")

  /** T+n settlement cycle per asset class (producer.py:89-97). */
  val settlementDays = Map(
    "Equity" -> 2, "Fixed Income" -> 1, "Derivative" -> 1, "FX" -> 2,
    "Commodity" -> 1)

  val analystNames = Seq(
    "Alex Chen", "Sam Rivera", "Jordan Lee", "Casey Kim", "Morgan Patel",
    "Taylor Brooks", "Riley Nguyen", "Avery Jones", "Quinn Garcia",
    "Drew Martin")

  /** Uniform [0,1) draw for stream `k`, keyed on the row id — deterministic
    * under any partitioning (unlike rand(seed), which is per-partition).
    */
  private def u(k: Int): Column =
    pmod(xxhash64(col("id"), lit(k)), lit(1000000L)).cast("double") / 1000000.0

  /** Uniform pick from a literal string list, driven by stream `k`. */
  private def pick(k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(k) * xs.size).cast("int") + 1)

  private def uniform(k: Int, lo: Double, hi: Double): Column =
    u(k) * (hi - lo) + lo

  private def randint(k: Int, lo: Int, hi: Int): Column =
    (u(k) * (hi - lo + 1)).cast("long") + lo

  /** Per-asset-class literal lookup, indexed by the 1-based class index
    * column. Array element_at instead of a 5-branch CASE chain: each CASE
    * branch re-expanded its full hash-draw expression, and with the whole
    * derivation inlined into one whole-stage-codegen method (e.g. under an
    * aggregate) the generated Java blew janino's 64 KB method limit. One
    * array probe generates a few lines regardless of class count.
    */
  private def perClass[T](idx: Column)(f: String => T): Column =
    element_at(array(assetClasses.map(ac => lit(f(ac))): _*), idx)

  /** Generate `n` trades. 20 columns per SURVEY.md §1.2; all values derive
    * from (id, seed) hashes — same output for any partitioning.
    */
  def trades(spark: SparkSession, n: Long, seed: Int = 42,
      baseDate: String = "2026-01-15"): DataFrame =
    derive(spark.range(n).toDF(), seed, baseDate)

  /** Streaming twin (SURVEY.md §2.1 S1): the rate source supplies the
    * monotonically increasing id, the identical derivation chain supplies
    * the 20 fields — so batch fixtures and the live stream are the same
    * generator, differing only in the source operator.
    */
  def tradeStream(spark: SparkSession, rowsPerSecond: Int = 100,
      seed: Int = 42, baseDate: String = "2026-01-15"): DataFrame =
    derive(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond).load()
        .select(col("value").as("id")),
      seed, baseDate)

  /** The 20-column derivation chain over any frame with a long `id`. */
  private def derive(ids: DataFrame, seed: Int, baseDate: String): DataFrame = {
    val s = seed * 1000 // offset streams per seed

    // weighted pick over ONE materialized draw column (`_u7` below): a
    // CASE chain that re-embedded the u(s+7) hash expression per branch
    // is exactly the codegen-blowup shape perClass exists to avoid —
    // referencing the projected attribute keeps the chain a few lines
    // and guarantees one hash evaluation regardless of CSE
    val statusExpr = {
      val cum = statusWeights.scanLeft(0.0)(_ + _._2).tail
      statusWeights.map(_._1).zip(cum).init
        .foldLeft(None: Option[Column]) { case (acc, (st, c)) =>
          Some(acc.fold(when(col("_u7") < c, st))(_.when(col("_u7") < c, st)))
        }.get.otherwise(statusWeights.last._1)
    }

    // one 1-based class index drives every per-class lookup below
    val cls = (u(s + 1) * assetClasses.size).cast("int") + 1

    val quantityRanges = Map(
      "Equity" -> (100L, 50000L), "Fixed Income" -> (100000L, 10000000L),
      "Derivative" -> (1L, 100L), "FX" -> (100000L, 5000000L),
      "Commodity" -> (1L, 500L))
    val priceRanges = Map( // (lo, hi, 10^round-digits)
      "Equity" -> (10.0, 500.0, 1e2), "Fixed Income" -> (90.0, 110.0, 1e4),
      "Derivative" -> (1.0, 50.0, 1e2), "FX" -> (0.5, 2.0, 1e6),
      "Commodity" -> (20.0, 2000.0, 1e2))

    // quantity: randint(lo, hi) with array-driven per-class bounds
    val qLo = perClass(cls)(ac => quantityRanges(ac)._1)
    val qSpan = perClass(cls) { ac =>
      val (lo, hi) = quantityRanges(ac); (hi - lo + 1).toDouble
    }
    // price: uniform(lo, hi) rounded HALF_UP at the per-class scale
    // (round(x*p)/p ≡ round(x, digits) with p = 10^digits, but the scale
    // can come from a column — round(col, n) needs a foldable n)
    val pLo = perClass(cls)(ac => priceRanges(ac)._1)
    val pSpan = perClass(cls) { ac =>
      val (lo, hi, _) = priceRanges(ac); hi - lo
    }
    val pScale = perClass(cls)(ac => priceRanges(ac)._3)

    // four selects, not a withColumn per field (each re-analyzes the
    // growing plan): the id-derived draws, then what reads them (notional,
    // status, settlement date), then the fees, then the fee total, the
    // flags and the final column order. `_u7`, `_sd` and the three fee
    // draws are materialized columns the later stages read and drop.
    val drawn = ids.select(
      // 12-char unique key (reference: uuid4()[:12]); id-based rather than
      // random so the key is unique by construction and reproducible
      // lpad TRUNCATES past its width — an id ≥ 1e11 (12+ digits, the
      // 100 TB row-count regime) would collide with the id holding its
      // first 11 digits; ids past the zero-pad range keep their full
      // digits, preserving uniqueness at any scale
      concat(lit("T"),
        when(length(col("id").cast("string")) > 11,
          col("id").cast("string"))
          .otherwise(lpad(col("id"), 11, "0"))).as("trade_id"),
      perClass(cls)(identity).as("asset_class"), {
        // nested literal array: [class][instrument-slot], both probes O(1)
        val universe = array(assetClasses.map(ac =>
          array(instruments(ac).map(lit): _*)): _*)
        val size = perClass(cls)(ac => instruments(ac).size)
        element_at(element_at(universe, cls),
          (u(s + 2) * size).cast("int") + 1)
      }.as("instrument"),
      pick(s + 3, Seq("Buy", "Sell")).as("side"),
      ((u(s + 4) * qSpan).cast("long") + qLo).cast("double").as("quantity"),
      (round((u(s + 5) * pSpan + pLo) * pScale, 0) / pScale).as("price"),
      pick(s + 6, counterparties).as("counterparty"),
      u(s + 7).as("_u7"),
      pick(s + 8, settlementVenues).as("settlement_venue"),
      date_sub(to_date(lit(baseDate)), randint(s + 9, 0, 3).cast("int"))
        .as("trade_date"),
      perClass(cls)(settlementDays).cast("int").as("_sd"),
      uniform(s + 10, 0.0001, 0.0015).as("_fb"),
      uniform(s + 11, 0.00005, 0.0003).as("_fc"),
      uniform(s + 12, 0.00003, 0.0002).as("_fe"),
      timestamp_micros(
        // epoch derived in UTC explicitly — java.sql.Timestamp.valueOf reads
        // the JVM default zone, which would shift fixtures across hosts
        lit(java.time.LocalDate.parse(baseDate).atTime(9, 0)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
          + col("id") * 900000L + (u(s + 13) * 600000).cast("long"))
        .as("timestamp"),
      pick(s + 14, analystNames).as("processed_by"))

    val priced = drawn.select(col("*"),
      round(col("quantity") * col("price"), 2).as("notional_value"),
      statusExpr.as("status"),
      date_add(col("trade_date"), col("_sd")).as("settlement_date"))

    val feed = priced.select(col("*"),
      round(col("notional_value") * col("_fb"), 2).as("brokerage_fee"),
      round(col("notional_value") * col("_fc"), 2).as("clearing_fee"),
      round(col("notional_value") * col("_fe"), 2).as("exchange_fee"))

    feed.select(
      col("trade_id"), col("asset_class"), col("instrument"), col("side"),
      col("quantity"), col("price"), col("notional_value"),
      col("counterparty"), col("status"), col("settlement_venue"),
      col("trade_date"), col("settlement_date"), col("brokerage_fee"),
      col("clearing_fee"), col("exchange_fee"),
      round(col("brokerage_fee") + col("clearing_fee") + col("exchange_fee"),
        2).as("total_fees"),
      when(col("status").contains("Break") ||
        col("notional_value") > 1000000.0, "High").otherwise("Normal")
        .as("priority"),
      (!col("status").contains("Break")).as("stp_eligible"),
      col("timestamp"), col("processed_by"))
  }
}
