package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action must wait for it to drain (`waitUntilEmpty` is
  * `private[spark]`).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
