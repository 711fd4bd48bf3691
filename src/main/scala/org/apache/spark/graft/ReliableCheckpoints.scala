package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.ReliableRDDCheckpointData

/** Direct access to the `private[spark]` reliable-checkpoint cleanup,
  * which is why this object sits under the `org.apache.spark` package.
  */
object ReliableCheckpoints {

  /** Delete RDD `rddId`'s reliable checkpoint files (`<dir>/rdd-<id>`
    * under the context's checkpoint dir). A reliable checkpoint is not a
    * persistent RDD, so unpersisting it frees nothing: its files are all
    * it holds. Missing files are not an error.
    */
  def clean(sc: SparkContext, rddId: Int): Unit =
    ReliableRDDCheckpointData.cleanCheckpoint(sc, rddId)
}
