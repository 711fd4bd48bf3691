package graft.ops

import graft.streaming.BatchDirs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities — the manual counterpart to AQE's runtime skew
  * splitting, for the cases AQE cannot rewrite (e.g. a broadcast-ineligible
  * dimension joined on a key where a handful of values carry most rows, on
  * engines/stages where adaptive skew-join does not apply).
  *
  * The pattern: SALT the skewed fact side (append a uniform shard id to the
  * join key) and REPLICATE the dimension side once per shard — every shard
  * of a hot key lands in its own task, so the straggler task that held the
  * whole hot key becomes `salts` parallel tasks. Results are identical to
  * the unsalted join (each fact row still meets exactly one copy of its
  * dimension row).
  */
object ScaleOps {

  /** Inner equi-join of `fact ⋈ dim` on `key`, salted `salts` ways.
    *
    * The salt hashes the row's FULL content (every fact column), never a
    * per-row ordinal: an ordinal (`monotonically_increasing_id`, rand) is
    * fetch-order-dependent when `fact` is itself post-shuffle, and a
    * stage retry that recomputes one map task after reducers fetched the
    * old output re-salts those rows into DIFFERENT reduce partitions —
    * the SPARK-23207 silent row-loss/duplication class. A content salt is
    * deterministic per row, so retries land every row in the same shard.
    * The join result is independent of which shard a row lands in (each
    * fact row meets exactly one copy of its dimension row whatever its
    * salt). Caveat: byte-identical duplicate fact rows share a shard — if
    * the hot key is made of replayed identical rows, CONTRACT the
    * duplicates first (the dedup family's contract-exact-dups-first
    * dispatch) rather than salting them; salting cannot spread what the
    * hash cannot tell apart without trading away retry determinism.
    * dim is replicated via a literal-range explode. Use when `fact`'s key
    * distribution is heavily skewed and `dim` is too large to broadcast
    * but small enough that `salts`× replication is acceptable.
    * `fact` must not already carry a `_salt` column (it would be
    * replaced and then dropped).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    // xxhash64 rejects MapType (unordered — no canonical hash), so salt
    // only the hashable columns; rows identical on those but differing
    // in a map column share a shard, the byte-identical-duplicate caveat
    // above extended to map-only differences. All-map schemas can't
    // content-salt at all — fail with a named error, not a generic
    // hash-expression analysis error.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case a: org.apache.spark.sql.types.ArrayType =>
          hashable(a.elementType)
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.forall(f => hashable(f.dataType))
        case _ => true
      }
    val saltCols = fact.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name)).toIndexedSeq
    require(saltCols.nonEmpty,
      "saltedJoin: fact has no hashable columns to content-salt on " +
        "(every column contains a MapType) — project a hashable key " +
        "before salting")
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(saltCols: _*), lit(salts.toLong)))
    val replicated = dim
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts.toLong - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Key-frequency summary of a join's fact side — the single-row form of
    * the q78 skew profile, consumed by [[joinSkewAware]]. Compute once per
    * (table, key) snapshot and reuse, like [[CorpusStats]] for the dedup
    * gates: one two-level aggregation (per-key counts with map-side
    * partials, then a 1-row rollup).
    */
  final case class KeySkewStats(rows: Long, distinctKeys: Long,
      maxKeyRows: Long)

  object KeySkewStats {
    def compute(df: DataFrame, key: String): KeySkewStats = {
      // null keys are excluded: they match nothing in an equi-join, so a
      // 60M-null-FK fact column must not elect a "hot key" and trigger
      // salts× dim replication for rows the join discards anyway
      val r = df.filter(col(key).isNotNull)
        .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)),
          count(lit(1)), coalesce(max(col("cnt")), lit(0L))).head()
      KeySkewStats(r.getLong(0), r.getLong(1), r.getLong(2))
    }
  }

  /** Stats-driven join dispatch — the consumer that closes the q78 loop:
    * profile the fact side's key distribution (or take a precomputed
    * [[KeySkewStats]], the ANALYZE-once path) and pick the join plan.
    *
    * Decision: the join is SKEWED when the hottest key exceeds
    * `hotKeyRows` — the per-task row budget past which one reducer
    * becomes the stage's straggler — AND exceeds 8× the uniform share
    * (so a uniformly-heavy key set never salts: replication would cost
    * without spreading anything). Skewed → [[saltedJoin]] with enough
    * salts to bring the hot key back under budget (capped at `maxSalts`
    * — dim replication is `salts`×); otherwise the plain equi-join,
    * where AQE's runtime skew splitting already handles moderate cases.
    * Either arm returns identical rows (spec-pinned).
    */
  def joinSkewAware(fact: DataFrame, dim: DataFrame, key: String,
      hotKeyRows: Long = 2L * 1000 * 1000, maxSalts: Int = 32,
      stats: Option[KeySkewStats] = None): DataFrame = {
    val st = stats.getOrElse(KeySkewStats.compute(fact, key))
    val salts = saltsFor(st, hotKeyRows, maxSalts)
    if (salts <= 1) fact.join(dim, key)
    else saltedJoin(fact, dim, key, salts)
  }

  /** Salt count for a profile: 1 = plain join. Exposed for spec pinning. */
  private[graft] def saltsFor(st: KeySkewStats, hotKeyRows: Long,
      maxSalts: Int): Int = {
    require(hotKeyRows >= 1, s"hotKeyRows must be >= 1, got $hotKeyRows")
    val uniformShare =
      if (st.distinctKeys == 0L) 0L else st.rows / st.distinctKeys
    if (st.maxKeyRows <= hotKeyRows || st.maxKeyRows <= 8L * uniformShare) 1
    else {
      val needed = (st.maxKeyRows + hotKeyRows - 1) / hotKeyRows
      math.min(maxSalts.toLong, math.max(2L, needed)).toInt
    }
  }

  // ---- bucketing: pre-shuffled storage for co-located joins ---------------
  // At 100 TB the dominant cost of a repeated fact⋈fact join (lineitem ⋈
  // orders every run) is re-shuffling both sides on the key each time.
  // Bucketed tables pay that shuffle ONCE at write: both sides hash-bucketed
  // (and sorted) on the join key with equal bucket counts join with ZERO
  // Exchange in the plan — each task zips bucket i ⋈ bucket i.

  /** Write `df` as a parquet table bucketed (and sorted) on `key` —
    * the one-time pre-shuffle that makes every later join on `key`
    * exchange-free.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Hive-style partitioned parquet layout (`dir/<key>=<value>/…`) — the
    * directory-pruning twin of [[writeBucketed]]: bucketing co-locates JOIN
    * keys, partitioning prunes SCANS. A predicate on the partition column
    * never touches non-matching directories (OpsSpec asserts the scan's
    * PartitionFilters carries the predicate and the scanned row count
    * drops); use for the coarse, low-cardinality routing columns a 100 TB
    * corpus is always filtered by (lang, source, date), never high-card ids
    * (one directory per value).
    */
  def writePartitioned(df: DataFrame, dir: String, keys: String*): Unit =
    df.write.mode("overwrite").partitionBy(keys: _*).parquet(dir)

  /** Inner equi-join of two tables bucketed on `key` with the same bucket
    * count: planned as a sort-merge join over matching buckets with no
    * Exchange on either side (asserted in OpsSpec).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Z-value: bit-interleave of two non-negative integer columns (`bits`
    * low bits each, x in the odd positions) — the space-filling-curve key
    * behind multi-dimensional data clustering. Pure Column arithmetic
    * (shift/and/or), so it stays inside whole-stage codegen.
    *
    * PRECONDITION: inputs must already fit in `bits` bits — the
    * interleave reads only the low `bits` of each value (raw epoch
    * seconds at 16 bits cycle every ~18 h, destroying locality).
    * [[writeZOrdered]] range-normalizes its columns onto the grid before
    * calling this; do the same for any direct use over wide-range values.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(x.cast("long").bitwiseAND(lit(1L << i)), i + 1))
        .bitwiseOR(shiftleft(y.cast("long").bitwiseAND(lit(1L << i)), i))
    }
  }

  /** Write `df` Z-ORDERED on two integer columns: rows are range-
    * partitioned and sorted by the interleaved key, so each output file
    * covers a small 2-d TILE of (c1, c2) space — parquet min/max footer
    * stats then stay tight on BOTH columns, and a 2-d box predicate prunes
    * row groups on both dimensions at once. A single-column sort keeps
    * stats tight on that column only: a selective filter on the OTHER
    * column still reads every file. The scan-side complement of
    * [[writePartitioned]] for high-cardinality numeric dimensions
    * (timestamps × user ids, lat × lon) where one-directory-per-value is
    * impossible. OpsSpec measures the row-group pruning win vs a
    * single-column layout on the same box predicate.
    */
  def writeZOrdered(df: DataFrame, dir: String, c1: String, c2: String,
      files: Int, bits: Int = 16): Unit = {
    // each dimension range-normalizes onto the bits-wide grid first:
    // interleaving RAW values would silently use only their low `bits`
    // bits (zValue's documented precondition) — monotone per-column
    // scaling preserves exactly the tile clustering the layout exists for
    val r = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) {
      // empty input, or a coordinate column that is entirely null: no
      // range to normalize onto — write unsorted rather than NPE on the
      // missing min (a half-null grid would cluster nothing anyway)
      df.write.mode("overwrite").parquet(dir)
    } else {
      val hi = (1L << bits) - 1
      def scaled(c: String, lo: Double, up: Double): Column =
        if (up <= lo) lit(0L)
        // explicit null propagation: `least` SKIPS nulls, so a null
        // coordinate would otherwise read as the max tile and silently
        // cluster null rows at the grid's far corner — a null z sorts
        // null-coordinate rows together instead
        else when(col(c).isNull, lit(null))
          .otherwise(least(lit(hi), floor((col(c).cast("double") - lo)
            * (hi + 1) / (up - lo)).cast("long")))
      df.withColumn("_z", zValue(
          scaled(c1, r.getDouble(0), r.getDouble(1)),
          scaled(c2, r.getDouble(2), r.getDouble(3)), bits))
        .repartitionByRange(files, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** Scalable exact top-k per group, for LOW-CARDINALITY grouping keys.
    *
    * A single rank window partitioned by such a key runs at |groups|
    * parallelism — 5 languages means 5 tasks sort the whole corpus, however
    * large. Phase 1 ranks within (group, salt(row)) — |groups|·`salts`-way
    * parallel — and keeps k per cell; phase 2 ranks the ≤ k·`salts`
    * survivors per group. Any global top-k row is also top-k within its
    * salt cell, so the result is IDENTICAL to the single-window form for
    * any deterministic total order (`order` must tie-break on a unique
    * column). Appends the final rank as `rank`; `df` must not already
    * carry `rank` or `_lrk` columns (they would be replaced/dropped).
    */
  def topKPerGroup(df: DataFrame, group: Seq[String], order: Seq[Column],
      k: Int, salt: Column, salts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val local = Window
      .partitionBy(group.map(col) :+ pmod(salt, lit(salts)): _*)
      .orderBy(order: _*)
    val global = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
    df.withColumn("_lrk", row_number().over(local))
      .filter(col("_lrk") <= k)
      .drop("_lrk")
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
  }

  /** [[topKPerGroup]] without the corpus shuffle, for orderings of the
    * form (double score [asc|desc], long id asc): the native
    * `graft_topk_ids` bounded-heap aggregate consumes every row
    * MAP-SIDE (ObjectHashAggregate partials), so the only thing that
    * ever shuffles is O(partitions · groups) k-id buffers — the salted
    * two-window form still shuffles and sorts the whole input once.
    * Returns one row per kept id: (group…, rank, `idName`). Callers
    * needing more columns than the id join the (≤ |groups|·k row)
    * result back BROADCAST against the source — a second scan that
    * computes nothing for the losers beats a corpus-wide exchange at
    * any scale.
    *
    * Contract: null scores and null ids never rank (the aggregate's
    * SQL-convention skip — callers' oracles must filter the same), and
    * `id` must identify a row WITHIN its group for the join-back to be
    * faithful (join back on the full group key + id when ids can repeat
    * across groups).
    */
  def topKIdsPerGroup(df: DataFrame, group: Seq[String], score: Column,
      id: Column, k: Int, idName: String,
      asc: Boolean = false): DataFrame =
    explodeTopK(df, group,
      call_function("graft_topk_ids", score, id, lit(k), lit(asc)),
      r => Seq(r.as(idName)))

  /** The shared aggregate→posexplode→rank scaffolding behind both top-k
    * wrapper forms (ONE definition, so a rank/explode fix lands once).
    */
  private def explodeTopK(df: DataFrame, group: Seq[String], agg: Column,
      finish: Column => Seq[Column]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    df.groupBy(group.map(col): _*)
      .agg(agg.as("_top"))
      .select(group.map(col) :+
        posexplode(col("_top")).as(Seq("_pos", "_r")): _*)
      .select(group.map(col) ++
        ((col("_pos") + 1).cast("int").as("rank") +:
          finish(col("_r"))): _*)
  }

  /** [[topKIdsPerGroup]] carrying the ranking score through the
    * aggregation buffer (the payload-carrying `graft_topk_rows` form), so
    * callers that only need (id, score) back — the q28/q48 shape — skip
    * the join-back scan entirely: the winners' scores arrive IN the
    * ≤ |groups|·k aggregate output, and the source is scanned exactly
    * once. Returns one row per kept id: (group…, rank, `idName`,
    * `scoreName`). Same contracts as the ids form: (score [desc|asc],
    * id asc) ordering, null scores/ids never rank (callers' oracles must
    * filter the same). Callers needing MORE than the score add it via
    * the aggregate's payload slot — `struct(...)` carries any column set,
    * still one scan.
    */
  def topKPairsPerGroup(df: DataFrame, group: Seq[String], score: Column,
      id: Column, k: Int, idName: String, scoreName: String,
      asc: Boolean = false): DataFrame =
    explodeTopK(df, group,
      call_function("graft_topk_rows", score, id, lit(k), lit(asc)),
      r => Seq(r.getField("id").as(idName),
        r.getField("score").as(scoreName)))

  /** [[topKPairsPerGroup]] carrying an arbitrary extra column through the
    * aggregate's payload slot (pass `struct(...)` to carry several) — the
    * full row-carrying form: winners arrive with id, score AND cargo in
    * the ≤ |groups|·k aggregate output, one scan, no join-back. The
    * payload is cargo, not a key: it is only evaluated and copied for the
    * O(k log n) admitted rows (the heap's `admits()` pre-gate), and a
    * NULL payload on a ranking row is kept. Returns one row per kept id:
    * (group…, rank, `idName`, `scoreName`, `payloadName`).
    */
  def topKRowsPerGroup(df: DataFrame, group: Seq[String], score: Column,
      id: Column, payload: Column, k: Int, idName: String,
      scoreName: String, payloadName: String,
      asc: Boolean = false): DataFrame =
    explodeTopK(df, group,
      call_function("graft_topk_rows", score, id, payload, lit(k),
        lit(asc)),
      r => Seq(r.getField("id").as(idName),
        r.getField("score").as(scoreName),
        r.getField("payload").as(payloadName)))

  /** Exact global `row_number() OVER (ORDER BY sort…)` without the
    * single-task global sort a bare `Window.orderBy` runs (Spark warns for
    * a reason: one task sorts the whole table). The q85 distributed-ranking
    * decomposition, generalized to any sort key:
    *
    *   1. `repartitionByRange(sort…)` — partition p holds keys strictly
    *      below partition p+1, so ranks are contiguous per partition;
    *   2. `row_number` within each range partition — parallel local sorts;
    *   3. global rank = local rank + offset(pid), the offset ladder being a
    *      running sum over the ≤|partitions| per-pid counts (the only
    *      single-task step touches one row per shuffle partition).
    *
    * `sort` must be a deterministic total order (tie-break on a unique
    * column) for a stable result. Appends the 1-based rank as `out`; when
    * `totalOut` is set, also appends the grand total row count under that
    * name (free: it is the last rung of the offset ladder the rank already
    * pays for — rank-plus-count consumers like the NTILE bucket rule get
    * `n` without a second job over the data). `df` must not already carry
    * `_mid`/`_pid`/`_rn`/`_off` columns (they would be replaced and
    * dropped).
    */
  def withGlobalRowNumber(df: DataFrame, sort: Seq[Column],
      out: String = "rank", totalOut: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // appended-output collisions would surface as duplicate/ambiguous
    // columns only after the offs join — fail loud up front instead
    // (withNtileOn's 'tile' guard, generalized)
    require(!df.columns.contains(out),
      s"withGlobalRowNumber: input already has a '$out' column")
    totalOut.foreach(n => require(!df.columns.contains(n) && n != out,
      s"withGlobalRowNumber: totalOut '$n' collides with an input column " +
        "or the rank column"))
    // Local ranks WITHOUT a second data-sized shuffle: a
    // `row_number over (partition by _pid)` window would force an Exchange
    // on _pid (Catalyst cannot know range partitions cluster it), so
    // instead read the rank out of monotonically_increasing_id's
    // documented layout — partition id in the upper 31 bits, the
    // within-partition record number in the lower 33 — assigned along the
    // sortWithinPartitions order.
    //
    // The pin (Tables.pin) is a CORRECTNESS precondition, not a tuning
    // knob: the ranked branch and the per-pid count branch below must
    // observe the SAME physical range partitioning. RangePartitioner
    // samples its boundaries with an execution-specific (rdd.id-derived)
    // seed, so two independent executions of the same repartitionByRange
    // can draw DIFFERENT boundaries — the counts would then describe
    // partitions other than the ones that assigned _mid, silently
    // corrupting every rank. Materializing the ranged frame once pins one
    // set of boundaries for both consumers regardless of whether
    // ReuseExchange fires (spark.sql.exchange.reuse=false, AQE planning
    // divergence, future plan edits breaking canonical equality); a
    // reliable and a local pin fix the same boundaries.
    val ranged = graft.Tables.pin(df.repartitionByRange(sort: _*))
    val ranked = ranged
      .sortWithinPartitions(sort: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33).cast("int"))
      .withColumn("_rn",
        col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
    // per-partition counts off the UNSORTED pinned blocks (shared
    // with the ranked branch by construction; a count doesn't need the
    // local sort, and aggregating above sortWithinPartitions would
    // re-sort the whole input a second time)
    val offs0 = ranged.withColumn("_pid", spark_partition_id())
      .groupBy("_pid").agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        coalesce(sum("_cnt").over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offs = totalOut match {
      case Some(n) => offs0
        .withColumn(n, sum("_cnt").over())
        .select(col("_pid"), col("_off"), col(n))
      case None => offs0.select("_pid", "_off")
    }
    ranked
      .join(broadcast(offs), "_pid")
      .withColumn(out, col("_off") + col("_rn"))
      .drop("_mid", "_pid", "_rn", "_off")
  }

  /** Globally-ordered shard export — the curriculum-ordering writer: range
    * repartition on `sort` (shard i's keys all precede shard i+1's) +
    * a local sort per shard, so reading the part files in filename order
    * (Spark numbers them by partition id) replays the corpus in global
    * `sort` order without any single task ever holding more than one
    * shard. The trainer-facing face of [[withGlobalRowNumber]]: rank when
    * you need the number, writeOrdered when you need the bytes on disk in
    * that order. `sort` should carry a unique tie-break column for a
    * deterministic layout.
    */
  def writeOrdered(df: DataFrame, path: String, sort: Seq[Column],
      shards: Int): Unit =
    df.repartitionByRange(shards, sort: _*)
      .sortWithinPartitions(sort: _*)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Streaming sinks and fine-grained
    * partition writers accrete thousands of small files per directory;
    * at 100 TB that means scan tasks dominated by open/seek overhead and
    * a groaning file-listing phase. Sizing reads the CURRENT on-disk
    * bytes (compressed) via the filesystem — no data pass — then one
    * round-robin repartition to ceil(bytes / target) writers, published
    * through [[compactStore]] (so a `_graft_meta` sidecar such as the
    * shingle store's `k` rides along).
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse Hive-partitioned roots: the round-robin rewrite targets
    // file COUNT, which a per-value directory split would multiply —
    // and for the batch_id-keyed streaming stores the flat rewrite
    // would break the replay-overwrite contract. Partitioned layouts
    // compact per leaf directory or with their own keyed compactors
    // (e.g. TextOps.compactKeyedTokenCountStore).
    val partitioned = fs.listStatus(hPath)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.contains("=") && !n.startsWith("_"))
    require(partitioned.isEmpty,
      s"compact: $dir is a Hive-partitioned layout " +
        s"(${partitioned.take(3).mkString(", ")}…) — a flat rewrite would " +
        "drop the partition structure; compact leaf directories instead")
    val bytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    compactStore(spark, dir, _.repartition(nFiles))
  }

  // ---- the one staged publish of every persisted store ---------------------

  /** Staging dir beside a whole store (`<path>.merging`) and the parked
    * name of its live copy during [[swapInto]] (`<path>.old`) — the only
    * two siblings a store's publish ever creates.
    */
  private[graft] val StagingSuffix = ".merging"
  private[graft] val ParkedSuffix = ".old"

  /** A store's hidden sidecar dir: underscore-prefixed, so Spark's file
    * index never reads it as data. Families record what a probe must
    * agree with there (shingle `k`, `codebook_fp`, `cells_fp`/`resid_fp`).
    */
  private[graft] def metaPath(storeDir: String): String =
    s"$storeDir/_graft_meta"

  /** THE whole-store publish: delete any leftover `<path>.merging` from a
    * crashed earlier publish, write `frame` (Hive-partitioned by
    * `partitionBy`) into that staging dir, let `stamp` write the store's
    * `_graft_meta` sidecar into the same dir, then [[swapInto]]. The live
    * store is untouched until the swap, so a rebuild whose frame throws
    * mid-write, or whose job commit fails, leaves the prior store and its
    * sidecar readable — a bare `mode("overwrite")` on the live path
    * deletes it before the new files commit. A first publish needs no
    * special case: the swap takes an absent path to fully written.
    */
  def publishStore(frame: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      stamp: String => Unit = _ => ()): Unit =
    publish(frame.sparkSession, path) { staging =>
      frame.write.partitionBy(partitionBy: _*).mode("overwrite")
        .parquet(staging)
      stamp(staging)
    }

  /** Shared staged-compact core for the persisted store families: read
    * the live store, apply the family's contraction, and publish it
    * through the same staging dir and swap as [[publishStore]]. ONE
    * definition of the read→guard→contract→stage→swap sequence, so no
    * family compactor can drift:
    *
    *  - the live store's Hive partition columns other than `batch_id`
    *    (the IVF-PQ store's `cell`) are read from its layout and kept —
    *    the layout is the index, a flat rewrite would turn every probed
    *    search back into a full scan;
    *  - the live `_graft_meta` sidecar is copied into staging as files
    *    (no Spark job), so the fingerprint / shingle-width guards survive
    *    compaction without any family code;
    *  - `batchSlot = false` (flat stores): refuses a batch-id-keyed
    *    layout — a flat rewrite would drop the `batch_id=N` partition
    *    structure the owning streaming pipeline's layout guard requires,
    *    bricking the stream until the store is re-seeded;
    *  - `batchSlot = true` (streaming stores): requires the keyed layout
    *    and lands the contraction under `batch_id=-1` (negative ids never
    *    collide with a live batch). ONLY compact while the owning stream
    *    is STOPPED with its checkpoint committed — a replayed batch would
    *    re-create its segment alongside the folded copy;
    *  - `onStaged` runs against the staging dir after the contraction and
    *    the sidecar land and before the swap — extra files (the funnel's
    *    retained newest segment) ride the same atomic publish.
    */
  def compactStore(s: SparkSession, path: String,
      contract: DataFrame => DataFrame,
      batchSlot: Boolean = false,
      onStaged: String => Unit = _ => ()): Unit = {
    val live = s.read.parquet(path)
    if (batchSlot)
      require(live.columns.contains("batch_id"),
        s"compactStore: store at $path is not batch-id-keyed — this " +
          "compactor serves a streaming store's keyed layout; use the " +
          "family's flat compactor instead")
    else
      require(!live.columns.contains("batch_id"),
        s"compactStore: store at $path is batch-id-keyed (a streaming " +
          "pipeline's layout) — a flat rewrite would drop the batch_id " +
          "partition and brick the owning pipeline; use the family's " +
          "keyed compactor instead")
    val keep = partitionColumns(live).filterNot(_ == "batch_id")
    publish(s, path) { staging =>
      contract(live).write.partitionBy(keep: _*).mode("overwrite")
        .parquet(if (batchSlot) BatchDirs.segment(staging, BatchDirs.SeedId)
          else staging)
      val meta = new org.apache.hadoop.fs.Path(metaPath(path))
      val fs = meta.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(meta))
        org.apache.hadoop.fs.FileUtil.copy(fs, meta, fs,
          new org.apache.hadoop.fs.Path(metaPath(staging)), false,
          s.sparkContext.hadoopConfiguration)
      onStaged(staging)
    }
  }

  /** The Hive partition columns Spark discovered under a parquet read's
    * root, outermost first. */
  private def partitionColumns(live: DataFrame): Seq[String] =
    live.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)

  /** The staging lifecycle behind [[publishStore]] and [[compactStore]]:
    * drop a leftover staging dir (the live store is untouched until the
    * swap, so staging is never the only copy), `stage` into it, swap.
    */
  private def publish(s: SparkSession, path: String)(
      stage: String => Unit): Unit = {
    val staging = path + StagingSuffix
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    stagingPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(stagingPath, true)
    stage(staging)
    swapInto(s, staging, path)
  }

  /** Publish a fully-written `staging` directory at `dir` via two metadata
    * renames — the crash-safe alternative to `mode("overwrite")` on a
    * durable store path (overwrite DELETES the existing directory before
    * the new files commit, so a crash mid-write loses the old state). Every
    * crash point leaves a complete copy of the data under a discoverable
    * name (before the first rename: original at `dir`; between renames:
    * original at `dir.old`, new data at `staging`; after: new data at
    * `dir`, original at `dir.old` until the final cleanup delete). The
    * window in which `dir` does not exist is two metadata renames, not a
    * recursive delete; concurrent readers must still be drained externally,
    * as with any in-place rewrite.
    */
  private[graft] def swapInto(spark: SparkSession, staging: String,
      dir: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    swapInto(hPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(staging), hPath,
      new org.apache.hadoop.fs.Path(dir + ParkedSuffix))
  }

  /** [[swapInto]]'s file-system core with the parked name as an argument:
    * `dir.old` beside a whole store, or a dot-prefixed name inside a keyed
    * store for one segment (the privacy gate's `.old_N`, invisible to
    * Spark's listing). The sequence is crashed-swap recovery → park →
    * publish → rollback on failure → cleanup.
    */
  private[graft] def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
      parked: org.apache.hadoop.fs.Path): Unit = {
    // crashed-swap recovery (the r13 privacy-gate ADVICE window, shared
    // by every store writer): a prior run that died between its two
    // renames left `dest` missing and the ONLY prior copy at `parked` —
    // restore it BEFORE the delete below can discard it, so a failed
    // publish in THIS run still rolls back to populated state instead of
    // reporting total loss. `parked` alongside an intact `dest` is the
    // other crash shape (died before the final cleanup) and is safe to
    // drop.
    if (fs.exists(parked) && !fs.exists(dest) && !fs.rename(parked, dest))
      throw new java.io.IOException(
        s"swapInto: crashed-swap recovery $parked -> $dest failed")
    fs.delete(parked, true) // leftover from a crash AFTER publish
    // park the live copy; a first publish has nothing to park — one
    // rename takes the path from absent to fully written (callers need no
    // bootstrap special case)
    if (fs.exists(dest) && !fs.rename(dest, parked))
      throw new java.io.IOException(
        s"swapInto: park $dest -> $parked failed")
    // a publish failure may THROW rather than return false (local FS
    // raises FileNotFound on a missing staging dir; remote FS clients
    // can surface RuntimeExceptions) — every non-fatal shape must reach
    // the rollback below, or the live path stays missing with the prior
    // copy parked. The original exception rides along as the CAUSE so an
    // operator can tell a missing staging dir from a permission error
    // without FS-side logs.
    var publishErr: Throwable = null
    val published =
      try fs.rename(staging, dest)
      catch {
        case scala.util.control.NonFatal(e) => publishErr = e; false
      }
    if (!published) {
      // roll back so `dest` stays populated (pollers keep reading the
      // PRIOR state); if even that fails, say WHERE the data survives — a
      // silent rollback failure would present as total data loss to the
      // next reader
      if (fs.exists(parked) && fs.rename(parked, dest))
        throw new java.io.IOException(s"swapInto: rename $staging -> " +
          s"$dest failed (prior segment restored)", publishErr)
      throw new java.io.IOException(
        s"swapInto: rename $staging -> $dest failed" +
          (if (fs.exists(parked))
             s" AND rollback failed — prior copy is intact at $parked"
           else ""), publishErr)
    }
    fs.delete(parked, true)
    ()
  }
}
