package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's recorder reads; both are
  * private to Spark, hence this package. */
object PerfbenchDrain {
  /** Waits until every listener event posted so far has been delivered,
    * so an op's jobs and stages are recorded before they are read. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage). */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
