package org.apache.spark

/** Test access to the checkpoint directory, which Spark's public API can
  * set but not unset. */
object CheckpointDir {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
