package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete per-op ledgers. The bus's own drain is
  * package-private; this is the only reason the file lives here.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
