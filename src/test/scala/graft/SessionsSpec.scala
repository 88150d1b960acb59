package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  test("the test session carries every SQL setting of the shared list") {
    val sql = Sessions.settings(4).filter(_._1.startsWith("spark.sql."))
    for ((k, v) <- sql) assert(spark.conf.get(k) == v, k)
    // one policy for every caller: AQE is on in the list itself
    assert(sql.contains("spark.sql.adaptive.enabled" -> "true"))
    // the settings other code relies on: the metricsForDays UTC guard,
    // the arrival loops' IN-set pushdown, the bounded-buffer hash path,
    // AQE coalescing of the operators' persisted frames
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "256")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      "4194304")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") ==
      "true")
  }

  test("a scoped cache over a shuffle is stored coalesced, not at initialPartitionNum") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.col
    val parts = Caches.withScope {
      val agg = Caches.scoped(spark.range(0, 10000).groupBy((col("id") % 100).as("k")).count())
      assert(agg.count() == 100)
      agg.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
        .getOrElse(fail("the aggregate was not read from its cache"))
        .cacheBuilder.cachedColumnBuffers.getNumPartitions
    }
    assert(parts <= 4, s"the cached aggregate is stored at $parts partitions on 4 cores")
  }
}
