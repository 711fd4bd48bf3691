package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Direct access to the `private[spark]` listener bus, which is why this
  * object sits under the `org.apache.spark` package.
  */
object ListenerBus {

  /** Block until every posted listener event has been delivered.
    * SparkListener events ride an asynchronous queue, so a counter read
    * right after an action races late deliveries; a job-count census or
    * assertion drains first and reads a settled value.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
