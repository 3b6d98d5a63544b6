package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads a complete job ledger. The bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
