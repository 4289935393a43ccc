package org.apache.spark

/** Access to the one SparkContext internal the benchmark needs: waiting
  * until the listener bus has delivered every queued event, so that job
  * and task counts are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
