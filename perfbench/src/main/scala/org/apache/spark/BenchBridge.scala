package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so the bench can
  * close a measured window only after every event of it was delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
