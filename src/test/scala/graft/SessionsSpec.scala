package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  test("driver AQE gate: off for a missing or tiny sf dir, on at 1 GiB of parquet") {
    val tmp = Files.createTempDirectory("graft-sessions")
    try {
      assert(!Sessions.driverAqe(tmp.resolve("missing").toString))
      val tiny = tmp.resolve("tiny")
      spark.range(100).write.parquet(tiny.resolve("events").toString)
      assert(Sessions.inputBytes(tiny.toString) > 0L)
      assert(!Sessions.driverAqe(tiny.toString))
      // A sparse file: its length is 1 GiB, no data bytes are written.
      val big = tmp.resolve("big")
      Files.createDirectory(big)
      val f = new java.io.RandomAccessFile(big.resolve("events.parquet").toFile, "rw")
      try f.setLength(1L << 30) finally f.close()
      assert(Sessions.inputBytes(big.toString) == (1L << 30))
      assert(Sessions.driverAqe(big.toString))
    } finally {
      val s = Files.walk(tmp)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("the test session carries every SQL setting of the shared list") {
    val sql = Sessions.settings(4, aqe = true).filter(_._1.startsWith("spark.sql."))
    for ((k, v) <- sql) assert(spark.conf.get(k) == v, k)
    // the settings other code relies on: the metricsForDays UTC guard,
    // the arrival loops' IN-set pushdown, the bounded-buffer hash path
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "256")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      "4194304")
  }
}
