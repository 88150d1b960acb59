package graft

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.8 sources/sinks: csv and json round-trips through the same
  * DataFrame surface the parquet tables use.
  */
class SourcesSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    tmpDir(s"graft_src_$name")

  test("csv round-trip preserves rows and values (header + explicit schema)") {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val out = tmp("csv")
    orders.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").schema(orders.schema).csv(out)
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }

  test("json round-trip preserves rows and values") {
    val nation = Tables.nation(spark, dir)
    val out = tmp("json")
    nation.write.mode("overwrite").json(out)
    val back = spark.read.schema(nation.schema).json(out)
    assert(back.count() == nation.count())
    assert(back.exceptAll(nation).isEmpty && nation.exceptAll(back).isEmpty)
  }

  test("json-in-string props extraction matches a from_json parse") {
    // etl_ads_extract derives k via regexp on the props JSON string;
    // a schema'd from_json read of the same column must agree.
    val ev = Tables.events(spark, dir)
      .select(col("props"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("int").as("k_regex"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_json"))
    assert(ev.filter(col("k_regex") =!= col("k_json")).isEmpty)
  }
}
