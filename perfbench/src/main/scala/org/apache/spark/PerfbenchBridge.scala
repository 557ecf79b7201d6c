package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * reads its listeners' state only after every posted event has been
  * delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
