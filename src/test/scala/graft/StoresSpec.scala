package graft

import java.io.File
import java.lang.ref.WeakReference

import graft.etl.{EtlQueries, MetricsQueries}
import graft.operators.Pipeline
import graft.sources.{MetricsStore, Stores, Tables}
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.BroadcastPool
import org.apache.spark.sql.functions.{col, expr, hash, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The derived stores built from a source (metrics serve store, dedup
  * and cluster serve stores, IVF and IVF-PQ indexes): rebuilt when the
  * source changes, on any Hadoop filesystem; written once whatever the
  * committer's marker setting; resolved once per commit when served.
  * A source rewritten in place is read fresh by the same session, and
  * a session the caller drops is freed. */
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

  /** Regenerate `dir`'s `table` in place without a third of its rows
    * (hashed on `id`): a staged copy renamed over the original. */
  private def dropThird(dir: String, table: String, id: String): Unit = {
    val path = s"$dir/$table.parquet"
    val staged = s"$dir/${table}_next"
    spark.read.parquet(path).filter(pmod(hash(col(id)), lit(3)) =!= 0).write.parquet(staged)
    FileUtils.forceDelete(new File(path))
    assert(new File(staged).renameTo(new File(path)))
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
      dropThird(local, "events", "event_id")
      val fresh = rows(EtlQueries.channelQuery(spark, uri))
      assert(fresh != before, "the rewrite did not change the channel query")
      assert(rows(EtlQueries.channelQueryStoreServe(spark, uri)) == fresh,
        "the store-backed serve kept serving the store built from the old source")
    }
  }

  test("a same-session rewrite of documents is read by the next corpusFull") {
    withSourceCopy("sf0.01") { dir =>
      // each run releases its caches, as the Caches contract asks: a
      // cache keyed on the same path would otherwise serve the old rows
      def corpus(s: SparkSession) =
        try rows(Pipeline.corpusFull(s, dir)) finally Caches.release()
      val before = corpus(spark)
      dropThird(dir, "documents", "doc_id")
      val after = corpus(spark)
      assert(after != before, "corpusFull kept reading the old documents")
      assert(after == corpus(spark.newSession()))
    }
  }

  test("a same-session rewrite of documents is read by corpusFull with its caches still held") {
    // No release between the runs: the first run's cached frames were
    // built over the old source and must not match the second run's.
    withSourceCopy("sf0.01") { dir =>
      try {
        val before = rows(Pipeline.corpusFull(spark, dir))
        dropThird(dir, "documents", "doc_id")
        val after = rows(Pipeline.corpusFull(spark, dir))
        assert(after != before, "corpusFull served cached rows of the old documents")
        assert(after == rows(Pipeline.corpusFull(spark.newSession(), dir)))
      } finally Caches.release()
    }
  }

  test("a same-session rewrite of events is read by the next feed query") {
    withSourceCopy("sf0.01") { dir =>
      val ads = SparkEntry.queries("etl_ads_extract")
      val before = rows(ads(spark, dir))
      dropThird(dir, "events", "event_id")
      val after = rows(ads(spark, dir))
      assert(after != before, "the ads feed kept reading the old events")
      assert(after == rows(ads(spark.newSession(), dir)))
    }
  }

  test("dropped sessions that read sources, stores and the corpus pipeline are freed") {
    val dir = s"$testdata/sf0.001"
    val store = tmpDir("graft_gc_store") + "/store"
    MetricsStore.write(MetricsQueries.metrics(spark, dir), store)
    // Spark's own holds are kept off the dropped sessions: reads end in
    // head(), the corpus pipeline runs in the derived AQE-off session
    // (Spark keeps a session that ran an AQE shuffle reachable for up to
    // about a minute), and its broadcasts run on pool threads started
    // from this long-lived session.
    def dropped(): (WeakReference[SparkSession], WeakReference[SparkSession]) = {
      BroadcastPool.fill()
      val s = spark.newSession()
      Tables.events(s, dir).head()
      Tables.documents(s, dir).head()
      MetricsStore.read(s, store).head()
      Pipeline.corpusFull(s, dir).head()
      (new WeakReference(s), new WeakReference(Sessions.withoutAqe(s)))
    }
    val refs = Seq.fill(3)(dropped())
    Caches.release()
    // whether every reference clears within a few collections
    def cleared(rs: Seq[WeakReference[SparkSession]]): Boolean = (1 to 20).exists { _ =>
      System.gc()
      Thread.sleep(100)
      rs.forall(_.get == null)
    }
    assert(cleared(refs.map(_._1)), "a dropped session is still reachable")
    // the derived sessions' entries go at the map's next access
    Sessions.withoutAqe(spark)
    assert(cleared(refs.map(_._2)), "a dropped session's derived session is still reachable")
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
