package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a listener's counts are read only after every event
  * of the finished action has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the start event of every job it launched. */
  def jobStarts[A](sc: SparkContext)(body: => A): (A, Seq[SparkListenerJobStart]) = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    apply(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      apply(sc)
      (a, starts.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
