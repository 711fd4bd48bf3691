package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry point of the graft benchmark JVM. `graftbench/run.py` starts it as
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --out <run dir> [--key value ...]
  *
  * and turns the `raw.json` it leaves in the run directory into the result
  * line. The remaining `--key value` pairs override a workload's size
  * (`trades_per_file`, `queries`, `setup_reps`) or name its input
  * (`tables`).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val run = new Run(kv)
    try kv("workload") match {
      case "ingest_live" => Ingest.live(run)
      case "catalog" => Catalog.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally run.finish()
  }
}

/** One benchmark run: its parameters, Spark session, recorders and the raw
  * record written to `<out>/raw.json`.
  */
final class Run(val args: Map[String, String]) {
  val seed: Int = args("seed").toInt
  val seconds: Double = args("seconds").toDouble
  val out: String = new File(args("out")).getAbsolutePath
  val tracer = new Tracer(args.get("trace").contains("1"))
  val jobs = new JobRecorder(tracer)
  val plans = new PlanRecorder
  val taskCpu = new TaskCpu

  /** The raw record; `run.py` computes every reported metric from it. */
  val raw: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  /** Per-layer scalars (traced runs). */
  val layers: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Per-layer sample lists, reduced to percentiles by `run.py`. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  private val started = System.nanoTime()
  /** Seconds since the JVM run started at each named phase boundary. */
  val marks: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def mark(phase: String): Unit = marks(phase) = (System.nanoTime() - started) / 1e9
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var session: Option[SparkSession] = None

  def int(k: String, default: Int): Int = args.get(k).map(_.toInt).getOrElse(default)
  def sample(k: String, v: Double): Unit =
    samples.synchronized { samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }

  /** Count one operation; a false `ok` records it as failed. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }

  def dir(name: String): String = {
    val d = new File(out, name); d.mkdirs(); d.getAbsolutePath
  }

  /** A local session sized to `threads`, with every scratch path inside the
    * run directory.
    */
  private def newSession(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.codegen.cache.maxEntries", Run.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `reps` times — session start, warm-up, input generation — and
    * keep the last session. `prepare` does the workload's warm-up and
    * generation and returns their seconds; the median rep is `setup_s`.
    */
  def setup(threads: Int, reps: Int)(prepare: SparkSession => (Double, Double)): SparkSession = {
    val recs = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val spark = newSession(threads)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val (warmS, genS) = prepare(spark)
      if (i < reps) spark.stop() else session = Some(spark)
      Map("session_s" -> sessionS, "warm_s" -> warmS, "gen_s" -> genS)
    }
    raw("setup") = recs
    mark("setup")
    val spark = session.get
    spark.sparkContext.addSparkListener(taskCpu)
    if (tracer.enabled) {
      tracer.sc = Some(spark.sparkContext)
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    raw("box_probe_s") = Seq(Run.probe())
    spark
  }

  /** Graft's own session warm-up (as in `graft.Bench`). */
  def warmSession(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  def finish(): Unit = {
    session.foreach { s =>
      org.apache.spark.graftbench.Internals.drainListenerBus(s.sparkContext)
      raw("box_probe_s") = raw.getOrElse("box_probe_s", Seq.empty)
        .asInstanceOf[Seq[Double]] :+ Run.probe()
      s.stop()
    }
    val mem = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    layers("jvm.heap_peak_mb") = mem / 1048576.0
    layers("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
    mark("end")
    raw("marks") = marks.toMap
    raw("attempted") = attempted
    raw("failed") = failures.size
    raw("failures") = failures.take(20).toSeq
    raw("layers") = layers.toMap
    raw("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    Json.write(new File(out, "raw.json"), raw.toMap)
    if (tracer.enabled) Json.write(new File(out, "spans.json"), tracer.all)
  }
}

object Run {
  /** Compiled-codegen classes a session keeps. Spark's default, 100, is
    * less than one catalog pass generates (about 230 classes for the 13
    * queries), so at the default every pass evicts and recompiles all of
    * them and the JIT compiles each fresh class again: the passes never
    * reach a steady state. The cold compile cost is measured on the
    * warm-up pass instead (`catalog.codegen_s`).
    */
  val CodegenCacheEntries = 4096

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (all threads) in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread in seconds. */
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds for one thread per core to each fold a fixed LCG spin:
    * how much CPU the box is delivering right now. Sized to the core count,
    * so on a quiet box every thread has a core to itself.
    */
  def probe(): Double = {
    val threads = Runtime.getRuntime.availableProcessors()
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + i
        var n = 0L
        while (n < 60000000L) {
          x = x * 6364136223846793005L + 1442695040888963407L
          n += 1
        }
        sink.addAndGet(x)
        ()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    require(sink.get() != 0L)
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON writer over Scala values (maps, sequences, numbers,
  * strings), via the Jackson copy Spark already ships.
  */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(f: File, v: Any): Unit = mapper.writeValue(f, toJava(v))
}
