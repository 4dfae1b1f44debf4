package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far. The tracer calls
  * it between ops, outside the timed region, so each op's listener events
  * are attributed before the next op starts.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
