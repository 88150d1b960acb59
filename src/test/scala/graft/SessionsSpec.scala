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

  test("withoutAqe derives one AQE-off session per caller and leaves the caller's conf alone") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    caller.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    val derived = Sessions.withoutAqe(caller)
    assert(derived ne caller)
    assert(derived.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(derived.conf.get("spark.sql.shuffle.partitions") == "3", "the caller's conf was not copied")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(Sessions.withoutAqe(caller) eq derived)
    // a changed caller conf is copied into the same session, not a new one
    caller.conf.set("spark.sql.shuffle.partitions", "2")
    caller.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(Sessions.withoutAqe(caller) eq derived)
    assert(derived.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(derived.conf.get("spark.sql.files.maxPartitionBytes") ==
      caller.conf.get("spark.sql.files.maxPartitionBytes"), "a key the caller unset stayed set")
    assert(derived.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
    // a session already without AQE is its own
    assert(Sessions.withoutAqe(derived) eq derived)
  }
}
