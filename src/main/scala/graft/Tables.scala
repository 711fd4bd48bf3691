package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Loaders for the driver's parquet testdata (TESTDATA.md) plus shared
  * determinism helpers used by every oracle-checked query.
  */
object Tables {

  /** Read one testdata table: `\$dir/\$name.parquet`.
    *
    * The driver's `events.parquet` stores `ts` as TIMESTAMP(NANOS), which the
    * Spark parquet reader rejects; read it as raw nanos and convert (all
    * values are micro-aligned, so the conversion is lossless).
    *
    * DELIBERATE session-wide side effect: `nanosAsLong` stays set after
    * the call — the flag must hold through physical PLANNING of every
    * query that ever scans the table (plans capture the hadoop conf at
    * plan time, which can be long after this returns), so a save/restore
    * scope would break any query planned later against a `t`-loaded
    * frame. Consequence: unrelated reads of nanos-timestamped parquet in
    * the same session decode those columns as bigint instead of erroring.
    * The schema memo below leaves this side effect exactly as it was.
    *
    * The schema Parquet inference returns is memoized per table snapshot
    * ([[snapshotMemo]] under [[memoGroup]] of the table path), so only the
    * first call for a snapshot pays inference's footer-read Spark job;
    * every later call reads with `spark.read.schema(memo)` and starts no
    * job. The key is the table's [[pathSnapshotKey]] plus the session's
    * values of the settings that change what inference returns
    * ([[SchemaInferenceConfs]], `nanosAsLong` among them): a rewritten
    * directory or a flipped setting misses and re-infers. Only a path
    * whose snapshot walk sees at least one local file is memoized — any
    * other path (a non-local URI, a missing table) would key on its name
    * alone and never invalidate, so it keeps per-call inference. Each call
    * still builds a fresh relation with fresh attribute ids; no DataFrame
    * or file index is cached, so self-joins of two `t` reads resolve as
    * they always did.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$dir/$name.parquet")
    // normalize ts to a session-tz TIMESTAMP whatever the writer encoded:
    // the driver stores raw TIMESTAMP(NANOS) (read as long under
    // nanosAsLong), other writers may store TIMESTAMP or TIMESTAMP_NTZ
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  /** Session settings that change the schema Parquet inference returns
    * (the inputs of Spark's `ParquetToSparkSchemaConverter` plus schema
    * merging and summary files) — part of every [[t]] schema-memo key.
    */
  private val SchemaInferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled")

  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val (snapshot, files) = pathSnapshot(path)
    if (files == 0) spark.read.parquet(path)
    else {
      val key = (snapshot +: SchemaInferenceConfs.map(k =>
        s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString("|")
      val schema = snapshotMemo(schemaMemo, memoGroup(path), key)(
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view (for spark.sql users). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  // ---- determinism helpers -------------------------------------------------
  // Double summation is order-dependent, and Spark's shuffle order differs
  // from DuckDB's scan order. Summing through an exact decimal makes the
  // aggregate order-independent, so Spark and the DuckDB oracle agree
  // bit-for-bit after the final round+cast. See SURVEY.md §7.4.

  private val Dec = DecimalType(38, 10)

  /** `size` that stays NULL on a NULL array whatever the
    * `spark.sql.legacy.sizeOfNull` conf says: under the legacy conf a
    * null-text document's token count reads -1 and flows into
    * oracle-compared sums/outputs where DuckDB's `len(NULL)` is NULL.
    * Every oracle-facing token/shingle count reads through this (the
    * TextOps discipline, shared).
    */
  def sizeOrNull(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(size(c))

  /** Deterministic LCG bucket of an id column, overflow-free for EVERY
    * 64-bit id: reduce mod `m` FIRST (floor-mod, so negative ids get a
    * well-defined bucket too), then run the affine step on the bounded
    * residue — `(id·mult + add) mod m ≡ ((id mod m)·mult + add) mod m` in
    * exact arithmetic, so for the ordinary non-negative ids of the driver
    * corpus the bucket is bit-identical to the historical raw form, while
    * an extreme id (a Long.MaxValue sentinel row in a real crawl) no
    * longer overflows the multiply — which Spark 4's default ANSI mode
    * turns into an ARITHMETIC_OVERFLOW that kills the whole scan. Callers
    * must keep `m·mult + add` < 2⁶³ (every graft split uses m ≤ 1e9+7,
    * mult ≤ 48271).
    *
    * The oracle twins spell the identical arithmetic inline (DuckDB's `%`
    * keeps the dividend's sign, so floor-mod is written out):
    * `((id % m + m) % m * mult + add) % m`.
    */
  def lcgBucket(id: Column, mult: Long, add: Long, m: Long): Column =
    (pmod(id, lit(m)) * mult + add) % m

  /** Snapshot key of an on-disk path (a parquet table directory or a
    * single file): canonical path + file count + an MD5 fold of every
    * file's (relative path, length, mtime), walked RECURSIVELY — a
    * partitioned/nested layout (`label=0/part-*.parquet`) contributes its
    * leaf files, not an empty signature an in-place rewrite would never
    * change. The ONE key definition for every per-directory memo in the
    * engine (dupMultForDir, CorpusStats.forDir, the [[t]] schema memo): a
    * directory regenerated within one JVM — a ScaleUp rerun, an in-place
    * corpus rewrite — or reached via an aliasing relative path changes the
    * key, so the memo re-probes without anyone calling an invalidation
    * hook. MD5 of the full fold, not String.hashCode: a 32-bit hash can
    * collide between two same-file-count snapshots, silently serving the
    * stale entry the key exists to retire. A missing path keys on the
    * canonical path alone — the subsequent read fails loud.
    */
  def pathSnapshotKey(path: String): String = pathSnapshot(path)._1

  /** [[pathSnapshotKey]] together with the number of files its walk saw. */
  private def pathSnapshot(path: String): (String, Int) = {
    val root = new java.io.File(path).getCanonicalFile
    // Only symlinked DIRECTORIES are skipped (a link cycle inside a
    // scratch/testdata tree must not turn the memo key into an infinite
    // recursion, or fold an unrelated linked tree into every probe).
    // A symlinked regular FILE — a table staged via linked part-files —
    // is included under its link name with the TARGET's (length, mtime)
    // (File.length/lastModified follow links), so rewriting the link
    // targets changes the key like any in-place rewrite. Depth past 16
    // fails loud: a silently truncated signature would never change on
    // rewrite, exactly the stale-memo hazard the key exists to retire
    // (no graft table layout nests past a few partition levels anyway).
    def walk(f: java.io.File, depth: Int): Seq[java.io.File] =
      if (depth > 16)
        throw new IllegalStateException(
          s"pathSnapshotKey: layout under $root nests past depth 16 at " +
            s"$f — refusing to truncate the snapshot signature")
      else if (f.isDirectory) {
        if (java.nio.file.Files.isSymbolicLink(f.toPath)) Nil
        else Option(f.listFiles())
          .map(_.toSeq.sortBy(_.getName).flatMap(walk(_, depth + 1)))
          .getOrElse(Nil)
      }
      else if (f.isFile) Seq(f)
      else Nil
    val files = walk(root, 0)
    val rootPrefix = root.getPath + java.io.File.separator
    val sig = files
      .map(f => (f.getPath.stripPrefix(rootPrefix), f.length, f.lastModified))
      .sortBy(_._1).mkString(";")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (s"${root.getPath}#${files.size}#$md5", files.size)
  }

  private val MemoSep = "\u0000" // NUL never appears in a canonical path


  /** THE group key for snapshot-keyed per-directory memos — one
    * definition beside the memo machinery it feeds, so the
    * eviction/grouping semantics cannot drift between call sites
    * (the pathSnapshotKey "ONE key definition" rule, applied to the
    * group axis).
    */
  def memoGroup(dir: String): String =
    new java.io.File(dir).getCanonicalPath

  /** Seed `group`'s entry under `key`, retiring the group's prior entries
    * (the ANALYZE post-write seed path).
    */
  def snapshotMemoPut[V](
      cache: scala.collection.concurrent.TrieMap[String, V],
      group: String, key: String, value: V): Unit = {
    // insert FIRST, then retire the group's other entries: the reverse
    // order opens a window where the group is empty and a concurrent
    // reader re-pays a probe for nothing
    val full = group + MemoSep + key
    cache.put(full, value)
    cache.keysIterator
      .filter(k => k.startsWith(group + MemoSep) && k != full)
      .foreach(cache.remove)
  }

  /** Drop every memo entry of `group` (explicit-invalidation twin of the
    * eviction [[snapshotMemo]] performs on a fresh-snapshot miss).
    */
  def snapshotMemoEvict[V](
      cache: scala.collection.concurrent.TrieMap[String, V],
      group: String): Unit =
    cache.keysIterator.filter(_.startsWith(group + MemoSep))
      .foreach(cache.remove)

  /** `getOrElseUpdate` for snapshot-keyed memos with group-scoped
    * eviction: inserting a fresh snapshot's entry RETIRES the
    * group's prior entries (stale snapshots of the same canonical
    * directory) instead of stranding them — a long-lived JVM that
    * regenerates a dir in a loop (ScaleUp reruns, a probe sweep
    * rewriting its corpus per arm) would otherwise grow the memo without
    * bound. The group is the canonical dir; the key is the snapshot key.
    * TrieMap iteration is snapshot-consistent, so concurrent
    * evict/insert never corrupts the map. Worst concurrent-rewrite case:
    * a thread that read the directory BEFORE a rewrite can miss on its
    * stale key after a fresh-key entry landed, evict that fresh entry,
    * and insert its stale-keyed value — the next fresh-key caller then
    * re-pays one probe (self-healing: the stale entry is unreachable
    * once every caller sees the new listing, and the group holds one
    * entry either way). Correctness is never at stake — a stale KEY is
    * only ever paired with its own snapshot's VALUE.
    */
  def snapshotMemo[V](cache: scala.collection.concurrent.TrieMap[String, V],
      group: String, key: String)(compute: => V): V = {
    val full = group + MemoSep + key
    cache.get(full) match {
      case Some(v) => v
      case None =>
        // compute FIRST, evict after: a compute that throws (transient
        // FS/read failure) leaves the previously valid entry in place —
        // callers still on the old snapshot keep their memo instead of
        // re-paying the probe for a failure that touched nothing
        val v = cache.getOrElseUpdate(full, compute)
        cache.keysIterator
          .filter(k => k.startsWith(group + MemoSep) && k != full)
          .foreach(cache.remove)
        v
    }
  }

  /** THE driver-side collect for product code: every `.collect()` in the
    * engine routes through here with an explicit cap and label, so "no
    * unbounded driver materialization" is an executable contract instead
    * of a per-round by-hand audit of raw collect sites. The input is cut
    * at `cap + 1` rows BEFORE the action, so a frame that violates its
    * audited bound fails with a named error after materializing at most
    * cap+1 rows — never an opaque driver OOM. The cut is one job and
    * touches no session conf:
    *
    *  - an input that already ends in a global sort or a limit takes the
    *    guard as a `limit`, which folds into that operator (an ordered
    *    limit becomes one TakeOrderedAndProject, so ordered call sites
    *    keep their order);
    *  - any other input is cut per partition (`take(cap + 1)` in one
    *    `mapPartitions`) and collected in partition order. A root limit
    *    here would collect via executeTake, which probes partitions in
    *    sequential 1/4/16/… rounds — a ramp of driver-blocking jobs (the
    *    per-job scheduler barrier is the q127 floor lesson).
    *
    * Bench's session-warmup collect is the one deliberate exception
    * (fixed 1-row aggregate, not product code).
    */
  def boundedCollect[T](ds: org.apache.spark.sql.Dataset[T], cap: Int,
      label: String): Array[T] = {
    require(cap > 0 && cap < Int.MaxValue,
      s"boundedCollect($label): cap must be a positive Int, got $cap")
    import org.apache.spark.sql.catalyst.plans.logical._
    def cutAtRoot(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => cutAtRoot(child)
      case SubqueryAlias(_, child) => cutAtRoot(child)
      case s: Sort => s.global
      case _: GlobalLimit | _: LocalLimit => true
      case _ => false
    }
    val n = cap + 1
    val cut =
      if (cutAtRoot(ds.queryExecution.analyzed)) ds.limit(n)
      else ds.mapPartitions((it: Iterator[T]) => it.take(n))(ds.encoder)
    val rows = cut.collect()
    if (rows.length > cap)
      throw new IllegalStateException(
        s"boundedCollect($label): more than $cap rows reached the " +
          "driver — the frame this site audited as bounded is not; " +
          "shard or redesign before raising the cap")
    rows
  }

  /** RDD ids of the pins [[pin]] made on each thread. Ids, never RDD
    * references: a pin nobody can reach any more stays collectable, so
    * Spark's ContextCleaner still reclaims its blocks.
    */
  private val pins =
    ThreadLocal.withInitial[scala.collection.mutable.Set[Int]](
      () => scala.collection.mutable.Set.empty[Int])

  /** Materialize `df` once and cut its lineage — the one pin of every
    * intermediate graft reuses (a frame read by several consumers, the
    * state of an iterative loop). Eager: the pin job runs here. The pin
    * is a reliable checkpoint when the SparkContext has a checkpoint dir
    * (it survives executor loss, at the cost of a write to that dir),
    * else a local one (executor-resident blocks). The caller's thread
    * owns it until [[unpin]] or [[releaseCheckpoints]].
    */
  def pin(df: DataFrame): DataFrame = {
    val p =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    pins.get ++= pinIds(p)
    p
  }

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  private def pinIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** Release this thread's pins that `df` reads — for a loop that
    * supersedes its own pin (`Dataset.unpersist` does not drop
    * checkpoint blocks). Nothing may read them afterwards.
    */
  def unpin(df: DataFrame): Unit = {
    val mine = pins.get
    release(df.sparkSession, pinIds(df).filter(mine.remove))
  }

  /** Release every pin the calling thread made with [[pin]] — and
    * nothing else: the caller's own caches and checkpoints, and another
    * thread's pins, stay registered. A face cannot release its pins
    * before the caller consumes the returned frame, so without this the
    * blocks (corpus-sized for the IVF-PQ residual frames) accumulate for
    * the life of the session. Harness loops call it at the points they
    * already drop cross-iteration state (Bench beside clearCache,
    * Verify/Smoke between queries), and the keyed streaming sink after
    * every micro-batch body.
    */
  def releaseCheckpoints(spark: SparkSession): Unit = {
    val mine = pins.get
    release(spark, mine.toSeq)
    mine.clear()
  }

  private def release(spark: SparkSession, ids: Seq[Int]): Unit =
    if (ids.nonEmpty) {
      val registered = spark.sparkContext.getPersistentRDDs
      ids.flatMap(registered.get).foreach(_.unpersist(blocking = false))
    }

  /** [[pathSnapshotKey]] of one testdata table under `dir`. */
  def tableSnapshotKey(dir: String, name: String): String =
    pathSnapshotKey(s"$dir/$name.parquet")

  /** Order-independent 2dp sum of a double column (oracle-stable). */
  def dsum(c: Column): Column = round(sum(c.cast(Dec)), 2).cast("double")

  /** Order-independent average, rounded to `scale` dp (oracle-stable). */
  def davg(c: Column, scale: Int = 4): Column =
    round(sum(c.cast(Dec)).cast("double") / count(c), scale)

  /** SQL twin of [[dsum]] for the DuckDB oracle string. */
  def sqlDsum(x: String): String =
    s"CAST(round(sum(CAST($x AS DECIMAL(38,10))), 2) AS DOUBLE)"

  /** SQL twin of [[davg]]. */
  def sqlDavg(x: String, scale: Int = 4): String =
    s"round(CAST(sum(CAST($x AS DECIMAL(38,10))) AS DOUBLE) / count($x), $scale)"
}
