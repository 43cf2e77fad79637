package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test scope: the session's checkpoint directory picks where every pin
  * lives (`graft.core.CheckpointPolicy`), and the suites share one
  * context, so a suite that sets a directory must put the prior one back
  * (none, usually) or every later suite silently pins reliably. Spark has
  * no public way to unset it; `SparkContext.checkpointDir_=` is
  * `private[spark]`. */
object CheckpointDirs {
  def withCheckpointDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = prev
  }
}
