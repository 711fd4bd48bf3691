package graft.ops

import graft.Tables
import graft.Tables.{dsum, sqlDsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dashboard-parity analytics over the `events` stream table.
  *
  * Re-expresses every relational computation of the reference dashboard
  * (SURVEY.md §2.2–§2.6; /root/reference/kafka_realtime_pipeline/dashboard.py)
  * on the driver's `events` table, mapped per FIXTURES.md: trade_id→event_id,
  * timestamp→ts, status→event_type, notional_value→value, counterparty→user_id.
  *
  * Every query is deterministic (total order with unique-key tie-breaks) and
  * uses decimal-backed sums so the DuckDB oracle hash-matches exactly.
  */
object EventOps {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")

  /** S6+P2+W2 — recency scan: filter, order by time desc, limit.
    * Ref: dashboard.py:23-29 (`WHERE status=… ORDER BY timestamp DESC LIMIT n`).
    * Spark plans TakeOrderedAndProject (top-k, no full sort).
    *
    * The knob surface mirrors the reference sidebar (dashboard.py:40-46):
    * `status` is the 7-valued filter where `None` = "All" (no predicate —
    * the branch vanishes from the plan, so the unfiltered scan still prunes
    * columns and skips the filter operator entirely), `limit` the 100–5000
    * row cap. The q01 registration pins (Some("click"), 500) so the oracle
    * stays deterministic.
    */
  def recentEvents(s: SparkSession, dir: String,
      status: Option[String] = Some("click"), limit: Int = 500): DataFrame =
    recentEventsOn(events(s, dir), status, limit)

  def recentEventsOn(eventsDf: DataFrame,
      status: Option[String] = Some("click"), limit: Int = 500): DataFrame = {
    status.fold(eventsDf)(v => eventsDf.filter(col("event_type") === v))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(limit)
      .select("event_id", "ts", "user_id", "event_type", "value")
  }

  /** A2–A5 — the KPI header: global count/sums, filtered counts, ratio KPIs.
    * Ref: dashboard.py:74-100. One pass (conditional sums) vs pandas' many.
    */
  def kpiOverview(s: SparkSession, dir: String): DataFrame =
    kpiOverviewOn(events(s, dir))

  def kpiOverviewOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_clicks"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_views"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("n_events"), col("total_value"), col("n_clicks"), col("n_views"),
        col("n_errors"), col("n_users"),
        round(col("n_errors") * lit(100.0) / col("n_events"), 4).as("error_rate_pct"),
        round(col("total_value") / col("n_events"), 4).as("avg_value"))

  /** A7 — value_counts: group-by key, count, implicit desc sort.
    * Ref: dashboard.py:131,181 (status / venue distributions).
    */
  def typeDistribution(s: SparkSession, dir: String): DataFrame =
    typeDistributionOn(events(s, dir))

  def typeDistributionOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type").asc)

  /** A6 — single-key group-by + sum. Ref: dashboard.py:145,164,220. */
  def valueByType(s: SparkSession, dir: String): DataFrame =
    valueByTypeOn(events(s, dir))

  def valueByTypeOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("event_type")
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** W4 — top-k by aggregate: top-10 users by total value.
    * Ref: dashboard.py:164-165 (counterparty exposure top-10).
    */
  def topUsers(s: SparkSession, dir: String): DataFrame =
    topUsersOn(events(s, dir))

  def topUsersOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("user_id")
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n"))
      .orderBy(col("total_value").desc, col("user_id").asc)
      .limit(10)

  /** W1+A8 — tumbling 1-minute time-series: per-minute count + sum.
    * Ref: dashboard.py:236-243 (`dt.floor("1min")` + multi-agg).
    */
  def minutelyTimeseries(s: SparkSession, dir: String): DataFrame =
    minutelyTimeseriesOn(events(s, dir))

  def minutelyTimeseriesOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("minute")

  /** F7 — unpivot: columns→rows from three conditional sums.
    * Ref: dashboard.py:200-207 (fee-breakdown frame).
    */
  def valueUnpivot(s: SparkSession, dir: String): DataFrame =
    valueUnpivotOn(events(s, dir))

  def valueUnpivotOn(eventsDf: DataFrame): DataFrame = {
    val agged = eventsDf.agg(
      dsum(when(col("event_type") === "click", col("value"))).as("click_v"),
      dsum(when(col("event_type") === "view", col("value"))).as("view_v"),
      dsum(when(col("event_type") === "error", col("value"))).as("error_v"))
    agged.select(expr(
      "stack(3, 'click', click_v, 'view', view_v, 'error', error_v) AS (event_type, total_value)"))
      .orderBy("event_type")
  }

  /** P4 — substring predicate (`status.str.contains`), ref dashboard.py:80,119. */
  def containsFilter(s: SparkSession, dir: String): DataFrame =
    containsFilterOn(events(s, dir))

  def containsFilterOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .filter(col("event_type").contains("e"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("event_type")

  /** P6+P7 — derived CASE priority + boolean eligibility columns.
    * Ref: producer.py:100-105 (priority / stp_eligible derivations).
    */
  def priorityCase(s: SparkSession, dir: String): DataFrame =
    priorityCaseOn(events(s, dir))

  def priorityCaseOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .withColumn("priority",
        when(col("event_type") === "error" || col("value") > 50, "High")
          .otherwise("Normal"))
      .withColumn("ok", !(col("event_type") === "error"))
      .groupBy("priority", "ok")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("priority", "ok")

  /** F2 — JSON extraction from the `props` payload column.
    * Ref: consumer.py:17 (json.loads on the wire payload).
    */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    jsonPropsOn(events(s, dir))

  def jsonPropsOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      // try_cast, not cast: $.k can hold a non-scalar (nested object /
      // explicit JSON null / malformed payload), and ANSI cast turns one
      // bad record into a whole-scan CAST_INVALID_INPUT — unparseable k
      // reads as NULL (excluded from count/sum/min/max), matching the
      // oracle twin's TRY_CAST
      .withColumn("k",
        expr("try_cast(get_json_object(props, '$.k') AS LONG)"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** F14 — currency display format (dashboard.py:284-286 `f"${x:,.2f}"`):
    * thousands-grouped, 2dp, '$'-prefixed string column over per-type value
    * totals. Built from exact integer cents so grouping and rounding are
    * engine-portable: `format_number` only ever formats the INTEGER part
    * (no fractional rounding mode to disagree on), and the 2-digit fraction
    * is integer arithmetic on the cents. Sign is split off and the digits
    * formatted from ABSOLUTE cents (q88's sign discipline): on a negative
    * total — a refund/credit type — raw `div`/`%` would truncate vs floor
    * differently across engines AND lpad would mangle "-5" to two chars;
    * abs + explicit '-' matches Python's `f"${-1234.5:,.2f}"` = $-1,234.50.
    */
  def displayFormat(s: SparkSession, dir: String): DataFrame =
    displayFormatOn(events(s, dir))

  def displayFormatOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("event_type")
      .agg(dsum(col("value")).as("total_value"))
      // try_cast: a total beyond ±2⁶³ cents (corrupt/extreme doubles in a
      // real feed) must not ANSI-overflow the scan — its display reads
      // NULL (concat propagates the null), the oracle twin TRY_CASTs too
      .withColumn("cents",
        expr("try_cast(round(total_value * 100) AS LONG)"))
      .withColumn("acents", abs(col("cents")))
      .select(
        col("event_type"), col("total_value"),
        concat(lit("$"),
          when(col("cents") < 0, lit("-")).otherwise(lit("")),
          format_number(expr("acents div 100"), 0),
          lit("."),
          lpad(expr("CAST(acents % 100 AS STRING)"), 2, "0")).as("display"))
      .orderBy("event_type")

  /** A8 variant — hourly distinct users (exact distinct under shuffle). */
  def hourlyUsers(s: SparkSession, dir: String): DataFrame =
    hourlyUsersOn(events(s, dir))

  def hourlyUsersOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
      .orderBy("hour")

  /** A1 — keyed dedup, deterministic variant: per (user_id, event_type) keep
    * the earliest event (row_number over (ts, event_id)). Ref: consumer.py:78
    * (`ON CONFLICT (trade_id) DO NOTHING` — first write wins).
    */
  def dedupEvents(s: SparkSession, dir: String): DataFrame =
    dedupEventsOn(events(s, dir))

  def dedupEventsOn(eventsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    eventsDf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  /** Sessionization: split each user's event stream on >30-minute gaps
    * (classic training-data/behavioral primitive). Batch formulation: a
    * boundary flag via lag(), a running sum turning flags into session
    * ordinals, then one aggregate per session. Gap compare runs on integer
    * microseconds — exact, no float-epoch drift against the oracle. The
    * streaming twin (graft.streaming.SessionPipeline) keeps the open
    * session in flatMapGroupsWithState state and must produce exactly
    * these rows once sessions close — asserted in StreamingSpec.
    */
  def userSessions(s: SparkSession, dir: String): DataFrame =
    userSessionsOn(events(s, dir))

  def userSessionsOn(eventsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val GapMicros = graft.streaming.SessionPipeline.GapMicros
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    eventsDf
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("boundary",
        when(col("us") - lag(col("us"), 1).over(w) > GapMicros ||
          lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Exact interpolated percentiles of `value` per event type (p50/p95/p99)
    * — distribution analytics beyond the reference's sums/counts. Exact
    * `percentile` (not percentile_approx) so the DuckDB `quantile_cont`
    * twin agrees; at true scale the one-line swap to `percentile_approx`
    * trades exactness for a mergeable sketch.
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    valuePercentilesOn(events(s, dir))

  def valuePercentilesOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("event_type")
      .agg(
        // single array-argument percentile: one sorted value buffer per
        // group serves all three ranks (three separate aggs would keep —
        // and sort — three copies of every group's values)
        expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p95"),
        round(element_at(col("ps"), 3), 4).as("p99"),
        col("n"))
      .orderBy("event_type")

  /** Sketch twin of the exact distribution queries — the 100 TB path:
    * approx_count_distinct (HyperLogLog++) and percentile_approx
    * (KLL-style) are single-pass, mergeable, fixed-memory summaries, where
    * their exact counterparts (q11/q14) need per-group distinct state or a
    * full sort. Spark-only (sketch internals aren't reproducible in
    * DuckDB); OpsSpec bounds the estimation error against the exact
    * results instead.
    */
  def sketchStats(s: SparkSession, dir: String): DataFrame =
    sketchStatsOn(events(s, dir))

  def sketchStatsOn(eventsDf: DataFrame): DataFrame =
    eventsDf
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("percentile_approx(value, 0.5, 1000)").as("approx_p50"))
      .orderBy("event_type")

  /** The ORACLE-CHECKED form of the sketch twin (the q15 registration):
    * exact columns carry the values; the sketch estimates fold into
    * within-error-bound BOOLEANS that the oracle asserts as literal
    * `true` — so the full row STILL hash-checks against DuckDB, and a
    * sketch drifting outside its documented bound flips a boolean and
    * fails the gate. Bounds are deliberately loose multiples of the
    * configured accuracy (HLL rsd 0.02 → 10% + 5 absolute slack;
    * percentile_approx accuracy 1000 → the p35..p65 exact band), so the
    * check pins "the sketch works", not one build's bit pattern.
    */
  def sketchChecked(s: SparkSession, dir: String): DataFrame =
    sketchCheckedOn(events(s, dir))

  def sketchCheckedOn(eventsDf: DataFrame): DataFrame = {
    // Two aggregations joined on the 5-row group key instead of ONE agg
    // mixing countDistinct with plain aggregates: the mixed form plans an
    // Expand that replays every input row once per distinct branch (3×
    // the corpus through one shuffle at 100×). Here the user side
    // pre-distincts (map-side partial) and the value side aggregates
    // plain; HLL over the pre-distinct rows is bit-identical to HLL over
    // the raw stream (a cardinality sketch is duplicate-insensitive), so
    // the checked booleans are unchanged.
    // count(user_id) over the distinct pairs, not count(*): countDistinct
    // excludes nulls, and the decomposed form must keep that contract
    val users = eventsDf.select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(count(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
    // the value side's key is renamed: both sides derive from eventsDf,
    // so under one name the join key would compare an attribute with
    // itself (a trivially true predicate Spark only repairs through its
    // self-join rewrite)
    val vals = eventsDf
      .groupBy(col("event_type").as("v_event_type"))
      .agg(
        // one percentile aggregate with an array argument — a single
        // per-group value buffer serves all three ranks
        expr("percentile(value, array(0.35D, 0.5D, 0.65D))").as("ps"),
        expr("percentile_approx(value, 0.5, 1000)").as("approx_p50"))
    // null-safe key: a plain equi-join would silently drop a null
    // event_type group that the single-aggregation form (and the oracle's
    // GROUP BY) retains — both sides group the same input, so <=> keeps
    // the decomposition row-equivalent even with null keys
    users.join(vals, users("event_type") <=> vals("v_event_type"))
      .select(users("event_type").as("event_type"), col("exact_users"),
        round(element_at(col("ps"), 2), 4).as("exact_p50"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.1 + 5).as("approx_users_ok"),
        (col("approx_p50") >= element_at(col("ps"), 1) &&
          col("approx_p50") <= element_at(col("ps"), 3)).as("approx_p50_ok"))
      .orderBy("event_type")
  }

  /** Pivot (rows→columns, the inverse of q07's unpivot): per-user value
    * totals spread across one column per event type. The pivot value list
    * is pinned (not inferred) so the plan is a single pass with no
    * distinct-values pre-query and the output schema is deterministic.
    */
  def typePivot(s: SparkSession, dir: String): DataFrame =
    typePivotOn(events(s, dir))

  def typePivotOn(eventsDf: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    eventsDf
      .filter(col("user_id") < 50)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(dsum(col("value")))
      .toDF("user_id" +: types: _*)
      .orderBy("user_id")
  }

  /** Dataset profiling: one pass over the table produces per-column
    * counts, null counts, exact distinct cardinalities, and numeric
    * ranges — the survey every pipeline runs before trusting new data.
    * All 18 aggregates compute in a single scan (one agg row, unpivoted
    * via stack); at 100 TB the exact distincts swap for
    * approx_count_distinct (q15 pattern) without changing the shape.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame =
    columnProfileOn(events(s, dir))

  def columnProfileOn(eventsDf: DataFrame): DataFrame = {
    val e = eventsDf
    // count / null / min / max ride in ONE plain pass; the five distinct
    // counts are decomposed into per-column pre-distinct aggregations —
    // five countDistinct branches in the main agg would plan the
    // multi-distinct Expand (6× row replay through a single shuffle, the
    // q15 trap at five columns), while each decomposed pass is a plain
    // two-phase distinct with map-side partials, and the five 1-row
    // results broadcast-cross back in. countDistinct excludes nulls, so
    // the decomposed form filters them before the distinct.
    def stats(c: String, numeric: Boolean) = Seq(
      count(col(c)).as(s"cnt_$c"),
      (count(lit(1)) - count(col(c))).as(s"null_$c"),
      (if (numeric) min(col(c)).cast("double") else lit(null).cast("double"))
        .as(s"min_$c"),
      (if (numeric) max(col(c)).cast("double") else lit(null).cast("double"))
        .as(s"max_$c"))
    val cols = Seq("event_id" -> true, "user_id" -> true, "value" -> true,
      "event_type" -> false, "props" -> false)
    val first = stats(cols.head._1, cols.head._2)
    val agged = e.agg(first.head,
      (first.tail ++ cols.tail.flatMap { case (c, n) => stats(c, n) }): _*)
    val joined = cols.foldLeft(agged) { case (acc, (c, _)) =>
      acc.crossJoin(broadcast(
        e.filter(col(c).isNotNull).select(col(c)).distinct()
          .agg(count(lit(1)).as(s"dist_$c"))))
    }
    val stacked = cols.map { case (c, _) =>
      s"'$c', cnt_$c, null_$c, dist_$c, min_$c, max_$c"
    }.mkString(", ")
    joined.select(expr(
      s"stack(${cols.size}, $stacked) AS (column, n, n_null, n_distinct, min_v, max_v)"))
      .orderBy("column")
  }

  /** Ordered conversion funnel view → click → purchase: a user advances a
    * stage only with an event STRICTLY AFTER their first event of the
    * previous stage (the product-analytics definition — a purchase before
    * the first view does not count).
    *
    * Scale: ONE user-keyed exchange. The three first-times are chained
    * whole-partition window minima over the same partitioning (Catalyst
    * plans one Exchange + stacked WindowExecs, each conditional on the
    * previous column), then per-user rows contract via first() and three
    * counts make the funnel. The join-per-stage formulation would shuffle
    * the event stream once per funnel stage.
    */
  def conversionFunnel(s: SparkSession, dir: String): DataFrame =
    conversionFunnelOn(events(s, dir))

  /** `eventsDf` needs (user_id, event_type, ts). */
  def conversionFunnelOn(eventsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val perUser = eventsDf
      .withColumn("fv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("fc",
        min(when(col("event_type") === "click" && col("ts") > col("fv"),
          col("ts"))).over(w))
      .withColumn("fp",
        min(when(col("event_type") === "purchase" && col("ts") > col("fc"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(first(col("fv")).as("fv"), first(col("fc")).as("fc"),
        first(col("fp")).as("fp"))
    val s = perUser.agg(
      count(col("fv")).as("n1"), count(col("fc")).as("n2"),
      count(col("fp")).as("n3"))
    s.select(lit("1_view").as("stage"), col("n1").as("n_users"),
        lit(100.0).as("pct_prev"))
      .unionAll(s.select(lit("2_click"), col("n2"),
        when(col("n1") > 0, round(col("n2") * lit(100.0) / col("n1"), 2))))
      .unionAll(s.select(lit("3_purchase"), col("n3"),
        when(col("n2") > 0, round(col("n3") * lit(100.0) / col("n2"), 2))))
      .orderBy("stage")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_conversion_funnel" -> conversionFunnel,
    "q17_column_profile" -> columnProfile,
    "q13_user_sessions" -> userSessions,
    "q14_value_percentiles" -> valuePercentiles,
    "q15_sketch_stats" -> sketchChecked,
    "q16_type_pivot" -> typePivot,
    "q01_recent_events" -> ((s, d) => recentEvents(s, d, Some("click"), 500)),
    "q02_kpi_overview" -> kpiOverview,
    "q03_type_distribution" -> typeDistribution,
    "q04_value_by_type" -> valueByType,
    "q05_top_users" -> topUsers,
    "q06_minutely_timeseries" -> minutelyTimeseries,
    "q07_value_unpivot" -> valueUnpivot,
    "q08_contains_filter" -> containsFilter,
    "q09_priority_case" -> priorityCase,
    "q10_json_props" -> jsonProps,
    "q11_hourly_users" -> hourlyUsers,
    "q12_dedup_events" -> dedupEvents,
    "q18_display_format" -> displayFormat)

  private val gapMicros = graft.streaming.SessionPipeline.GapMicros

  val oracle: Map[String, String] = Map(
    "q70_conversion_funnel" ->
      """WITH w1 AS (SELECT user_id, event_type, ts,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS fv FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > fv
        |    THEN ts END) OVER (PARTITION BY user_id) AS fc FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > fc
        |    THEN ts END) OVER (PARTITION BY user_id) AS fp FROM w2),
        |g AS (SELECT user_id, any_value(fv) AS fv, any_value(fc) AS fc,
        |  any_value(fp) AS fp FROM w3 GROUP BY user_id),
        |s AS (SELECT count(fv) AS n1, count(fc) AS n2, count(fp) AS n3
        |  FROM g)
        |SELECT * FROM (
        |  SELECT '1_view' AS stage, n1 AS n_users, 100.0e0 AS pct_prev
        |    FROM s
        |  UNION ALL SELECT '2_click', n2,
        |    CASE WHEN n1 > 0 THEN round(n2 * 100.0e0 / n1, 2) END FROM s
        |  UNION ALL SELECT '3_purchase', n3,
        |    CASE WHEN n2 > 0 THEN round(n3 * 100.0e0 / n2, 2) END FROM s)
        |ORDER BY stage""".stripMargin,
    "q17_column_profile" -> {
      def row(c: String, numeric: Boolean) = {
        val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS "column", count($c) AS n,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  $mn AS min_v, $mx AS max_v FROM events""".stripMargin
      }
      Seq(row("event_id", true), row("user_id", true), row("value", true),
        row("event_type", false), row("props", false))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q16_type_pivot" ->
      s"""SELECT user_id,
         |  ${sqlDsum("CASE WHEN event_type = 'click' THEN value END")} AS click,
         |  ${sqlDsum("CASE WHEN event_type = 'error' THEN value END")} AS error,
         |  ${sqlDsum("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
         |  ${sqlDsum("CASE WHEN event_type = 'signup' THEN value END")} AS signup,
         |  ${sqlDsum("CASE WHEN event_type = 'view' THEN value END")} AS view
         |FROM events WHERE user_id < 50
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q14_value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the exact columns are recomputed; the sketch-estimate columns are
    // within-bound booleans the oracle asserts as literal TRUE (a sketch
    // outside its documented error bound flips the boolean => hash fail)
    "q15_sketch_stats" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  true AS approx_users_ok,
        |  true AS approx_p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_user_sessions" ->
      s"""WITH b AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
         |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapMicros
         |         OR lag(epoch_us(ts)) OVER w IS NULL
         |       THEN 1 ELSE 0 END AS boundary
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         |s AS (SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM b)
         |SELECT user_id, session_seq, min(ts) AS session_start,
         |  max(ts) AS session_end, count(*) AS n_events,
         |  ${sqlDsum("value")} AS total_value
         |FROM s GROUP BY user_id, session_seq
         |ORDER BY user_id, session_seq""".stripMargin,
    "q01_recent_events" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE event_type = 'click'
        |ORDER BY ts DESC, event_id DESC LIMIT 500""".stripMargin,
    "q02_kpi_overview" ->
      s"""WITH a AS (SELECT count(*) AS n_events,
         |  ${sqlDsum("value")} AS total_value,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |  count(DISTINCT user_id) AS n_users FROM events)
         |SELECT n_events, total_value, n_clicks, n_views, n_errors, n_users,
         |  round(n_errors * CAST(100 AS DOUBLE) / n_events, 4) AS error_rate_pct,
         |  round(total_value / n_events, 4) AS avg_value FROM a""".stripMargin,
    "q03_type_distribution" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type ASC""".stripMargin,
    "q04_value_by_type" ->
      s"""SELECT event_type, ${sqlDsum("value")} AS total_value, count(*) AS n
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q05_top_users" ->
      s"""SELECT user_id, ${sqlDsum("value")} AS total_value, count(*) AS n
         |FROM events GROUP BY user_id
         |ORDER BY total_value DESC, user_id ASC LIMIT 10""".stripMargin,
    "q06_minutely_timeseries" ->
      s"""SELECT date_trunc('minute', ts) AS minute, count(*) AS n,
         |  ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY 1 ORDER BY minute""".stripMargin,
    "q07_value_unpivot" ->
      s"""WITH a AS (SELECT
         |  ${sqlDsum("CASE WHEN event_type = 'click' THEN value END")} AS click_v,
         |  ${sqlDsum("CASE WHEN event_type = 'view' THEN value END")} AS view_v,
         |  ${sqlDsum("CASE WHEN event_type = 'error' THEN value END")} AS error_v
         |  FROM events)
         |SELECT 'click' AS event_type, click_v AS total_value FROM a
         |UNION ALL SELECT 'error', error_v FROM a
         |UNION ALL SELECT 'view', view_v FROM a
         |ORDER BY event_type""".stripMargin,
    "q08_contains_filter" ->
      s"""SELECT event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM events WHERE event_type LIKE '%e%'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q09_priority_case" ->
      s"""SELECT CASE WHEN event_type = 'error' OR value > 50 THEN 'High'
         |            ELSE 'Normal' END AS priority,
         |  NOT (event_type = 'error') AS ok,
         |  count(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY priority, ok""".stripMargin,
    "q10_json_props" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q11_hourly_users" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "q12_dedup_events" ->
      """SELECT event_id, user_id, event_type, ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts ASC, event_id ASC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q18_display_format" ->
      s"""WITH a AS (SELECT event_type, ${sqlDsum("value")} AS total_value
         |  FROM events GROUP BY event_type),
         |c AS (SELECT *, TRY_CAST(round(total_value * 100) AS BIGINT) AS cents
         |  FROM a)
         |SELECT event_type, total_value,
         |  '$$' || (CASE WHEN cents < 0 THEN '-' ELSE '' END)
         |    || format('{:,}', abs(cents) // 100) || '.' ||
         |    lpad(CAST(abs(cents) % 100 AS VARCHAR), 2, '0') AS display
         |FROM c ORDER BY event_type""".stripMargin)
}
