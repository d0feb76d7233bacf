package org.apache.spark

/** The one package-private hook the traced run needs: listener events
  * are delivered asynchronously, so a pass's counters are read only
  * after every event the pass posted has been handled. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
