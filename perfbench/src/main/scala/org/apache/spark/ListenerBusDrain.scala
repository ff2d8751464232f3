package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
