package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered to every listener. The bus is `private[spark]`, hence the
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
