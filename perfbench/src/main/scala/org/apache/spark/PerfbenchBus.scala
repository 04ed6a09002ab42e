package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far. Listener events
  * arrive on the bus thread after the job that posted them has returned,
  * so counters are read only once the bus is idle. `listenerBus` is
  * `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def waitIdle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
