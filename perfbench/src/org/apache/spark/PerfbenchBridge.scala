// The listener bus drain is private[spark]; this one-method bridge lets the
// benchmark read its counters only after every event of a step has landed.
package org.apache.spark

object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
