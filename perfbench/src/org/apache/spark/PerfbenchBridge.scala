package org.apache.spark

/** Access to the one scheduler internal the benchmark's tracer needs. */
object PerfbenchBridge {
  /** Blocks until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
