package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has seen every event posted so far, so a run's job, stage,
  * plan-phase and stream-progress records are complete before they are
  * written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
