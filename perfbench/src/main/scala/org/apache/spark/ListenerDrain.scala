package org.apache.spark

/** The listener bus drain is package-private to Spark; the probe needs it
  * so that every event of a measured window is counted before the window's
  * metrics are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
