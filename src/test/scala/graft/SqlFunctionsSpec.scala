package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The custom kernels must be reachable from plain SQL through the
  * FunctionRegistry injection (GraftExtensions) — a SQL-only user gets
  * the full library.
  */
class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  test("hmac_sha256 callable from SQL and equal to the Column API") {
    val sql = spark.sql("SELECT hmac_sha256('payload', 'secret') AS sig").head.getString(0)
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec("secret".getBytes("UTF-8"), "HmacSHA256"))
    val expected = mac.doFinal("payload".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sql == expected)
  }

  test("lenient_timestamp parses from SQL") {
    val r = spark.sql(
      "SELECT CAST(lenient_timestamp('2024-01-02T15:04:05+07:00') AS STRING)").head.getString(0)
    assert(r == "2024-01-02 08:04:05")
  }

  test("shingle/minhash/simhash kernels callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  size(hashed_shingles(array('a','b','c','d'), 3)) AS n_sh,
        |  size(minhash_shingled(array('a','b','c','d'), 3, 16)) AS k,
        |  simhash_shingled(array('a','b','c','d'), 3) AS fp,
        |  intersect_count_sorted(array(1L, 5L, 9L), array(5L, 9L, 12L)) AS inter,
        |  intersect_count_sorted(array(1L, 5L, 9L), array(5L, 9L, 12L), 2) AS reached,
        |  intersect_count_sorted(array(1L, 5L, 9L), array(5L, 9L, 12L), 3) AS missed
        |""".stripMargin).head
    assert(row.getInt(0) == 2)
    assert(row.getInt(1) == 16)
    assert(row.getLong(3) == 2L)
    assert(row.getLong(4) == 2L)
    assert(row.getLong(5) == -1L)
  }

  test("vector kernels callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  dot_decimal(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |              array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dd,
        |  size(lsh_buckets(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 4, 2)) AS nb,
        |  rolling_fingerprint('hello world hello world', 8) AS fp
        |""".stripMargin).head
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 11.0)
    assert(row.getInt(2) == 4)
  }

  test("sum_scaled callable from SQL and NULL on empty input") {
    val r = spark.sql(
      "SELECT sum_scaled(v, 4) AS s FROM VALUES (1.25), (2.5), (CAST(NULL AS DOUBLE)) AS t(v)").head
    assert(r.getDouble(0) == 3.75)
    val empty = spark.sql(
      "SELECT sum_scaled(v, 4) AS s FROM VALUES (CAST(NULL AS DOUBLE)) AS t(v)").head
    assert(empty.isNullAt(0))
  }

  test("non-literal size argument is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_shingled(array('a','b','c'), 3, CAST(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
