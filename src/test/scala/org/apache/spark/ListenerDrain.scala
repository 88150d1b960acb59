package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a listener's counts are read only after every event
  * of the finished action has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
