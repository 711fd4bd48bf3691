package graftbench

import graft.{SparkEntry, Tables}
import graft.ops._
import org.apache.spark.graftbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import scala.collection.mutable

/** The batch catalog, fully materialized: each selected `SparkEntry.queries`
  * face is built and written to the `noop` format, one client, in the
  * listed order, over tables generated from the seed, and each pass ends
  * with one dashboard refresh over the events table. A first pass, from an
  * empty codegen cache, warms the JVM and enters no end-to-end metric; it
  * writes each result to parquet, for the DuckDB oracle, instead. Timed
  * passes then fill `--seconds` in the same session, as a long-running
  * service re-runs its queries: the code generated on the first pass is
  * reused (see `Run.CodegenCacheEntries`). Caches and checkpoint blocks are
  * released between queries outside the timer, as `graft.Bench` does.
  */
object Catalog {

  /** Spark threads: the whole box, for one client. */
  val Threads = 4

  /** Timed passes a run makes at least, so that each query's median has
    * three samples; past that, a pass starts only if it should end by
    * `--seconds`.
    */
  val MinPasses = 3

  /** Per family, the median-wall query of a full traced pass (all 154
    * queries, seed 1): 4 relational queries and 9 training-data ones.
    */
  val Subset: Seq[String] = Seq("q03_type_distribution", "q105_bpe_pairs",
    "q107_delta_spans", "q122_training_manifest", "q123_ann_pq",
    "q141_ldiv_audit", "q147_context_budget", "q27_supplier_nation_revenue",
    "q38_minhash_lsh_pairs", "q52_frame_sample", "q79_inverted_index",
    "q82_session_transitions", "q86_above_type_average")

  /** Query family of each catalog key (the `graft.Bench` family split). */
  val family: Map[String, String] = Seq(
    "events" -> EventOps.queries.keys, "relational" -> RelationalOps.queries.keys,
    "text" -> TextOps.queries.keys, "dedup" -> DedupOps.queries.keys,
    "similarity" -> SimilarityOps.queries.keys,
    "multimodal" -> MultimodalOps.queries.keys,
    "temporal" -> TemporalOps.queries.keys, "curation" -> CurationOps.queries.keys,
    "search" -> SearchOps.queries.keys, "stat" -> StatOps.queries.keys,
    "span" -> SpanOps.queries.keys, "scrub" -> ScrubOps.queries.keys,
    "bpe" -> BpeOps.queries.keys
  ).flatMap { case (f, ks) => ks.map(_ -> f) }.toMap

  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    Tables.releaseCheckpoints(spark)
  }

  def run(run: Run): Unit = {
    val tables = run.args("tables")
    val names = run.args.get("queries") match {
      case None => Subset
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(s) => s.split(",").toSeq
    }
    val spark = run.setup(Threads, run.int("setup_reps", 3)) { s =>
      val (_, warmS) = Run.timed {
        run.warmSession(s)
        Tables.names.foreach(n => Tables.t(s, tables, n).count())
      }
      (warmS, 0.0)
    }
    val results = run.dir("results")
    val events = Tables.t(spark, tables, "events")
    val polls = mutable.ArrayBuffer.empty[Double]
    def pass(i: Int): Seq[Map[String, Any]] = {
      val qs = names.map(timeQuery(run, spark, tables, results, _, i))
      release(spark)
      val ms = Ingest.dashPoll(run, events,
        _.select(col("ts").as("timestamp"), col("value").as("notional_value")),
        identity, "event_id")
      if (i > 0) polls += ms
      qs
    }
    Internals.clearCodegenCache()
    run.raw("warmup") = pass(0)
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    var last = 0L
    while (passes.size < MinPasses || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      passes += pass(passes.size + 1)
      last = System.nanoTime() - t0
    }
    run.raw("passes") = passes.toSeq
    run.raw("read_ms") = polls.toSeq
    run.mark("measure")
    if (run.tracer.enabled) {
      // what `.count()` alone would time (graft.Bench's action): one more
      // pass over the warm session
      run.raw("count_s") = names.map { name =>
        release(spark)
        name -> Run.timed(SparkEntry.queries(name)(spark, tables).count())._2
      }.toMap
    }
    release(spark)

    val oracle = SparkEntry.oracleSql
    Json.write(new File(results, "oracle_sql.json"),
      names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  /** One timed query: face build plus `noop` write (a parquet write of the
    * result on the untimed warm-up pass, `pass` 0). A traced run adds the
    * query's planning, codegen, job and task figures.
    */
  private def timeQuery(run: Run, spark: SparkSession, tables: String,
      results: String, name: String, pass: Int): Map[String, Any] = {
    val tr = run.tracer
    val warmup = pass == 0
    val blocks = spark.sparkContext.getPersistentRDDs.size
    val (_, releaseS) = Run.timed(release(spark))
    Internals.drainListenerBus(spark.sparkContext)
    if (tr.enabled) { run.jobs.drain(); run.plans.drain() }
    val cg0 = Internals.codegenCompileNs
    val cc0 = Internals.codegenCompiles
    val task0 = run.taskCpu.ns.get
    val client0 = Run.threadCpuS
    val t0 = System.nanoTime()
    var buildS = 0.0
    val df: Option[DataFrame] = try {
      tr.span("catalog.query", "ops", "query" -> name, "pass" -> pass) {
        val (df, b) = Run.timed(tr.span("ops.build", "ops")(SparkEntry.queries(name)(spark, tables)))
        buildS = b
        tr.span("ops.write", "ops") {
          if (warmup) df.write.mode("overwrite").parquet(s"$results/$name")
          else df.write.format("noop").mode("overwrite").save()
        }
        Some(df)
      }
    } catch { case e: Exception =>
      System.err.println(s"[graftbench] $name failed: $e"); None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the query's own CPU: this (client) thread's, which builds, plans and
    // compiles, plus its tasks'; not the JVM's compiler and GC threads
    val clientCpu = Run.threadCpuS - client0
    Internals.drainListenerBus(spark.sparkContext)
    val cpu = clientCpu + (run.taskCpu.ns.get - task0) / 1e9
    run.check(df.isDefined, s"$name threw (pass $pass)")
    val rec = mutable.LinkedHashMap[String, Any]("name" -> name, "pass" -> pass,
      "family" -> family(name), "wall_s" -> wall, "build_s" -> buildS,
      "cpu_s" -> cpu, "checkpoint_blocks" -> blocks, "release_s" -> releaseS)
    if (tr.enabled) {
      rec("codegen_s") = (Internals.codegenCompileNs - cg0) / 1e9
      rec("codegen_compiles") = Internals.codegenCompiles - cc0
      Internals.drainListenerBus(spark.sparkContext)
      val js = run.jobs.drain()
      val phases = run.plans.drain()
      phases.foreach { case (p, s, e) =>
        tr.add(tr.newId(), "", p, "spark.plan", s * 1000L, e * 1000L, Map("query" -> name))
      }
      rec("plan_s") = phases.map { case (_, s, e) => e - s }.sum / 1000.0
      rec("jobs") = js.size
      rec("stages") = js.map(_.stages).sum
      rec("tasks") = js.map(_.tasks).sum
      // task-summed scheduler delay, as wall time across the local threads
      rec("sched_delay_s") = js.map(_.schedDelayMs).sum / 1000.0 / Threads
      rec("exec_run_s") = js.map(_.runMs).sum / 1000.0
      rec("exec_cpu_s") = js.map(_.cpuNs).sum / 1e9
      rec("gc_s") = js.map(_.gcMs).sum / 1000.0
      rec("scan_bytes") = js.map(_.scanBytes).sum
      rec("shuffle_read_bytes") = js.map(_.shuffleReadBytes).sum
      rec("shuffle_write_bytes") = js.map(_.shuffleWriteBytes).sum
      rec("spill_bytes") = js.map(_.spillBytes).sum
    }
    rec.toMap
  }
}
