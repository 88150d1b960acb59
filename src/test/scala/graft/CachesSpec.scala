package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class CachesSpecRec(id: Long, tag: String)

/** The [[Caches]] contract: a scoped frame is a leaf over its cache, and
  * a release frees every cache it owns, whether a frame ran on it
  * before or after the previous release.
  */
class CachesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Persisted RDDs in the shared context; other specs may leave their
    * own, so every check below is relative to the count at its start. */
  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("a scoped frame's analyzed plan is a single InMemoryRelation leaf") {
    val before = persisted
    val src = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
    val s = Caches.scoped(src)
    assert(s.queryExecution.analyzed.isInstanceOf[InMemoryRelation],
      s"scoped frame analyzes as\n${s.queryExecution.analyzed}")
    // a frame built on it carries the leaf, not the aggregate's lineage
    val built = s.filter(col("count") > 100).select(col("k"))
    assert(built.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[InMemoryRelation]))
    assert(s.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
    assert(built.count() == 7)
    Caches.release()
    assert(persisted == before)
  }

  test("a self-join of a scoped frame returns the right rows") {
    import spark.implicits._
    val before = persisted
    val pre = Caches.scoped(
      Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 10L), (5L, 20L)).toDF("doc_id", "s"))
    val pairs = pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs == Seq((1L, 2L), (1L, 4L), (2L, 4L), (3L, 5L)))
    Caches.release()
    assert(persisted == before)
  }

  test("a scoped typed Dataset keeps its encoder") {
    import spark.implicits._
    val before = persisted
    val ds = Seq(CachesSpecRec(2L, "b"), CachesSpecRec(1L, "a")).toDS()
    val s: Dataset[CachesSpecRec] = Caches.scoped(ds)
    assert(s.encoder.schema == ds.encoder.schema)
    assert(s.collect().sortBy(_.id).toSeq == Seq(CachesSpecRec(1L, "a"), CachesSpecRec(2L, "b")))
    assert(s.map(r => r.id * 10).collect().sorted.toSeq == Seq(10L, 20L))
    Caches.release()
    assert(persisted == before)
  }

  test("withScope frees only its own caches") {
    val before = persisted
    val outer = Caches.scoped(spark.range(0, 100).withColumn("outer", lit(1)))
    assert(outer.count() == 100)
    Caches.withScope {
      val inner = Caches.scoped(spark.range(0, 200).withColumn("inner", lit(2)))
      assert(inner.count() == 200)
      assert(persisted == before + 2)
    }
    assert(persisted == before + 1, "the scope freed a cache it did not register")
    assert(outer.count() == 100)
    Caches.release()
    assert(persisted == before)
  }

  test("a frame built on a released scoped frame is freed by the next release") {
    val before = persisted
    val s = Caches.scoped(spark.range(0, 500).withColumn("m", col("id") % 3))
    assert(s.count() == 500)
    Caches.release()
    assert(persisted == before)
    // the leaf has no lineage to fall back to: this action re-loads its cache
    assert(s.filter(col("m") === 0).count() == 167)
    Caches.release()
    assert(persisted == before, "a cache re-loaded after its release outlived the next release")
  }
}
