package org.apache.spark.sql.execution.exchange

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Test access to Spark's broadcast-exchange thread pool, which Spark
  * keeps package-private. A new pool thread inherits the active session
  * of the thread that submits to it and keeps it until it has idled for
  * 60 s, and the pool starts a new thread for every submission until it
  * holds its maximum: every session that broadcasts while the pool is
  * short of threads stays reachable for up to a minute. */
object BroadcastPool {
  /** Start every thread of the pool from the calling thread and have
    * each run one task, so for the next minute no broadcast starts a
    * thread and no thread idles out. */
  def fill(): Unit = {
    val n = SQLConf.get.getConf(StaticSQLConf.BROADCAST_EXCHANGE_MAX_THREAD_THRESHOLD)
    val started = new CountDownLatch(n)
    val done = new CountDownLatch(1)
    (1 to n).foreach(_ => BroadcastExchangeExec.executionContext.execute { () =>
      started.countDown()
      done.await()
    })
    started.await()
    done.countDown()
  }
}
