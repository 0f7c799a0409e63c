package org.apache.spark

/** The benchmark's one door into `private[spark]`: listener events are
  * delivered asynchronously, so counters are read only after the bus
  * has drained.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
