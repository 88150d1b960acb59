package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads listener counts only after every event of the
  * finished operation has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
