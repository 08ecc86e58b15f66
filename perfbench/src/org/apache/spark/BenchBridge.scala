package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark reads its
  * listener's counts only after every event posted so far was delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
