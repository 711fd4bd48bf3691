package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The few `private[spark]` members the benchmark's probes use, which is why
  * this object sits under the `org.apache.spark` package.
  */
object Internals {

  /** Block until every posted listener event has been delivered, so the
    * job/stage/plan records of a finished query are complete.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Total whole-stage/expression codegen compile time so far (ns). */
  def codegenCompileNs: Long = CodeGenerator.compileTime

  /** Number of janino compilations so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drop every compiled codegen class, so the next queries compile theirs
    * again as in a fresh JVM. The cache is a private field of
    * `CodeGenerator`, hence the reflection.
    */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
