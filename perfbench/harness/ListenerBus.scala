package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `waitUntilEmpty` is package-private: listener events arrive
  * asynchronously, and a phase's counters are read only once every
  * event it caused has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
