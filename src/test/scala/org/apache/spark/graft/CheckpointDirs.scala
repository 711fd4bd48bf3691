package org.apache.spark.graft

import org.apache.spark.SparkContext

/** A checkpoint dir scoped to one block of a test. `setCheckpointDir` has
  * no public undo, and a dir left set on the shared test context would
  * turn every later suite's pins reliable; restoring it needs the
  * `private[spark]` field, which is why this object sits under the
  * `org.apache.spark` package.
  */
object CheckpointDirs {

  /** Run `body` with the active context's checkpoint dir set under
    * `dir`, then restore the dir it had before, whatever `body` does.
    */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getActive.getOrElse(
      throw new IllegalStateException("withCheckpointDir: no active context"))
    val before = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = before
  }
}
