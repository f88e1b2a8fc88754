package org.apache.spark

/** The one private Spark call the benchmark needs: wait until every
  * listener has seen every event posted so far, so a pass's job, task and
  * block counts are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)
}
