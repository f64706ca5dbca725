package org.apache.spark

/** Listener events arrive asynchronously; the harness drains the bus before
  * it reads what its listeners collected. `listenerBus` is private[spark],
  * hence this accessor's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
