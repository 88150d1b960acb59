package graft

import java.io.File

import graft.etl.EtlQueries
import graft.sources.{Stores, Tables}
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, hash, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The derived stores built from a source (metrics serve store, dedup
  * and cluster serve stores, IVF and IVF-PQ indexes): rebuilt when the
  * source changes, on any Hadoop filesystem; written once whatever the
  * committer's marker setting; resolved once per commit when served. */
class StoresSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val testdata = "/root/testdata"

  /** The six registered serve queries that read a derived store. */
  private val StoreServes = Seq("etl_channel_query_store_serve", "dedup_incremental_serve",
    "dedup_clusters_incremental_serve", "sim_ann_ivf_serve", "sim_ann_ivfpq_serve",
    "sim_ann_ivfpq_res_serve")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** A private copy of a testdata dir, so every store derived from it is
    * new to this test; the copy and those stores are deleted after. */
  private def withSourceCopy[T](sf: String)(body: String => T): T = {
    val src = tmpDir("graft_stores_src")
    FileUtils.copyDirectory(new File(s"$testdata/$sf"), new File(src))
    body(src)
  }

  /** (path, length, mtime) of every file under the stores of `dir`. */
  private def listing(dir: String): Seq[(String, Long, Long)] =
    TmpDirs.derivedStores(dir).flatMap(d => FileUtils.listFiles(d, null, true).asScala)
      .map(f => (f.getPath, f.length, f.lastModified)).sorted

  /** Names of the stages every job `body` launches. */
  private def stagesOf[A](body: => A): (A, Seq[String]) = {
    val (a, starts) = ListenerDrain.jobStarts(spark.sparkContext)(body)
    (a, starts.flatMap(_.stageInfos.map(_.name)))
  }

  test("a derived store under a file: URI source is rebuilt when the source is rewritten") {
    withSourceCopy("sf0.01") { local =>
      val uri = new File(local).toURI.toString
      assert(uri.startsWith("file:"))
      val before = rows(EtlQueries.channelQueryStoreServe(spark, uri))
      assert(before == rows(EtlQueries.channelQuery(spark, uri)))
      // regenerate the source: a third of the events go away
      val events = s"$local/events.parquet"
      val staged = s"$local/events_next"
      spark.read.parquet(events).filter(pmod(hash(col("event_id")), lit(3)) =!= 0)
        .write.parquet(staged)
      FileUtils.forceDelete(new File(events))
      assert(new File(staged).renameTo(new File(events)))
      // a new session: Tables resolves each source once per session
      val next = spark.newSession()
      val fresh = rows(EtlQueries.channelQuery(next, uri))
      assert(fresh != before, "the rewrite did not change the channel query")
      assert(rows(EtlQueries.channelQueryStoreServe(next, uri)) == fresh,
        "the store-backed serve kept serving the store built from the old source")
    }
  }

  test("with the committer's markers off, a second serve call writes no store") {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    withSourceCopy("sf0.001") { dir =>
      spark.conf.set(key, "false")
      try for (name <- StoreServes) {
        val serve = SparkEntry.queries(name)
        val first = rows(serve(spark, dir))
        val built = listing(dir)
        assert(built.nonEmpty, s"$name built no store")
        val second = rows(serve(spark, dir))
        assert(listing(dir) == built, s"$name rewrote its store on the second call")
        assert(second == first, s"$name changed its rows on the second call")
      } finally {
        spark.conf.unset(key)
        Caches.release()
      }
    }
  }

  test("warm serves resolve their store once: no listing or schema job, same rows") {
    // stage names carry the call site: a store resolve runs jobs named
    // `parquet at ...` (parallel listing, schema inference)
    for (name <- Seq("sim_ann_ivf_serve", "dedup_clusters_incremental_serve")) {
      val serve = SparkEntry.queries(name)
      val dir = s"$testdata/sf0.001"
      val first = rows(serve(spark, dir))
      val (warm, stages) = stagesOf(rows(serve(spark, dir)))
      val (again, stagesAgain) = stagesOf(rows(serve(spark, dir)))
      for (s <- Seq(stages, stagesAgain))
        assert(!s.exists(_.startsWith("parquet at")),
          s"$name resolved its store on a warm call: ${s.mkString(", ")}")
      assert(warm == first && again == first)
      Caches.release()
    }
  }

  test("a clustered write with AQE off repartitions: same rows, one file per date directory") {
    // Spark drops the rebalance hint with AQE off, so such sessions
    // take Stores.clustered's plain repartition; every input partition
    // below holds every date, so an unclustered write would leave four
    // files in each date directory.
    val df = spark.range(0, 2000, 1, 4)
      .select(col("id"), expr("date_add(date'2024-01-01', cast(id % 5 as int))").as("date"))
    def written(aqe: String): (Seq[String], Seq[Int]) = {
      val dir = new File(tmpDir("graft_stores_clustered"))
      val key = "spark.sql.adaptive.enabled"
      val prior = spark.conf.get(key)
      spark.conf.set(key, aqe)
      try {
        Stores.commitTo(df, dir.getPath, Some("date"))
        val parts = dir.listFiles().toSeq.filter(_.getName.startsWith("date="))
          .map(_.listFiles().count(_.getName.startsWith("part-")))
        (rows(spark.read.parquet(dir.getPath)), parts)
      } finally spark.conf.set(key, prior)
    }
    val (on, _) = written("true")
    val (off, files) = written("false")
    assert(on.size == 2000 && off == on)
    assert(files == Seq.fill(5)(1), s"part files per date directory with AQE off: $files")
  }
}
