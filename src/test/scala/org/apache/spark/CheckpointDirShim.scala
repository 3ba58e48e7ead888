package org.apache.spark

/** Test-side access to the `private[spark]` checkpoint-dir field. Spark can
  * set a checkpoint dir but not unset one, and a dir left on the shared
  * context would switch every later test's lineage cuts to reliable. */
object CheckpointDirShim {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
