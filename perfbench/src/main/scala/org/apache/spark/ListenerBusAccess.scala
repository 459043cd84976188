package org.apache.spark

/** The listener bus is package-private; a traced run drains it before it
  * reads the counts its listeners keep. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
