package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch microseconds from a monotonic clock, anchored once to wall time so
  * the benchmark's spans line up with Spark listener timestamps (epoch ms).
  */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** In-memory span recorder, written out when the run ends. A span is one
  * call across a layer boundary: name, layer, start, end and the span that
  * caused it. With `enabled = false` every call is a plain pass-through.
  *
  * The innermost open span of the calling thread is also published as the
  * Spark local property `graftbench.span`, so the jobs a call submits can
  * name their parent span (see [[JobRecorder]]).
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[String]](() => Nil)
  @volatile var sc: Option[SparkContext] = None

  def newId(): String = "s" + ids.incrementAndGet()
  def current: String = open.get.headOption.getOrElse("")

  def span[T](name: String, layer: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body else {
      val id = newId()
      val parent = current
      open.set(id :: open.get)
      sc.foreach(_.setLocalProperty("graftbench.span", id))
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        open.set(open.get.tail)
        sc.foreach(_.setLocalProperty("graftbench.span",
          if (parent.isEmpty) null else parent))
        add(id, parent, name, layer, t0, t1, attrs.toMap)
      }
    }

  def add(id: String, parent: String, name: String, layer: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
      "layer" -> layer, "start_us" -> startUs, "end_us" -> endUs) ++ attrs)

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

/** Task-metric totals of one Spark job. */
final class JobStats(val jobId: Int, val startMs: Long, val parent: String,
    val name: String, val batchId: String, val queryId: String) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
}

/** SparkListener that turns each job into a `spark.job` span (parented on
  * the submitting thread's open span, or on its streaming micro-batch) and
  * sums its tasks' metrics. Finished jobs queue up in [[finished]] for the
  * workload to drain after each measured call.
  */
final class JobRecorder(tracer: Tracer) extends SparkListener {
  private val live = new ConcurrentHashMap[Int, JobStats]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val finished = new ConcurrentLinkedQueue[JobStats]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    live.put(e.jobId, new JobStats(e.jobId, e.time,
      prop(e.properties, "graftbench.span"), name,
      prop(e.properties, "streaming.sql.batchId"),
      prop(e.properties, "sql.streaming.queryId")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def job(stageId: Int): Option[JobStats] =
    Option(stageJob.get(stageId)).flatMap(j => Option(live.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.scanBytes += m.inputMetrics.bytesRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the Spark UI's scheduler-delay formula
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
            else 0L
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(live.remove(e.jobId)).foreach { j =>
      j.endMs = e.time
      // a micro-batch's jobs belong to its addBatch phase; the stream thread
      // inherits the starting thread's `graftbench.span`, so this goes first
      val parent =
        if (j.batchId.nonEmpty) s"b:${j.queryId}:${j.batchId}" else j.parent
      tracer.add(tracer.newId(), parent, j.name, "spark.job",
        j.startMs * 1000L, j.endMs * 1000L,
        Map("tasks" -> j.tasks, "stages" -> j.stages,
          "exec_run_ms" -> j.runMs, "exec_cpu_ms" -> j.cpuNs / 1000000L))
      finished.add(j)
    }

  def drain(): Seq[JobStats] = Queues.drain(finished)
}

/** CPU time of every finished task, summed: the executor side of a
  * query's CPU cost, without the JVM's compiler and GC threads.
  */
final class TaskCpu extends SparkListener {
  val ns = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => ns.addAndGet(m.executorCpuTime))
}

/** QueryExecutionListener keeping each executed plan's planning phases
  * (`QueryExecution.tracker`: analysis, optimization, planning) as
  * (phase, startMs, endMs).
  */
final class PlanRecorder extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]

  private def keep(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (p, s) =>
      phases.add((p, s.startTimeMs, s.endTimeMs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    keep(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    keep(qe)

  def drain(): Seq[(String, Long, Long)] = Queues.drain(phases)
}

object Queues {
  /** Remove and return everything queued so far. */
  def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }
}
