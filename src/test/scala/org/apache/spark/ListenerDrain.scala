package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`. */
object ListenerDrain {

  /** Blocks until every posted event has reached its listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
