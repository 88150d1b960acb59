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
    // the arrival loops' IN-set pushdown, the bounded-buffer hash path
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "256")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      "4194304")
  }
}
