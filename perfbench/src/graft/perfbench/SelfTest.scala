package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own checks, driven by perfbench/selftest.py:
  *
  *  1. every output checker passes a good result and fails each
  *     deliberately corrupted one, and an operation that leaves an RDD
  *     persisted is counted as failed;
  *  2. at sf0.01 size, the ingested metrics store and the corpus output
  *     are written out with the DuckDB oracle SQL of `etl_metrics` and
  *     `pipeline_corpus_full`, for selftest.py to compare.
  *
  * Usage: SelfTest --work <dir> --out <dir> --events <dir> --documents <dir>
  * (the two input dirs at sf0.01 size, from perfbench/inputs.py)
  */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors())
    val results = checkerCases(spark, work) ++
      oracleOutputs(spark, work, out, opt("events"), opt("documents"))
    results.foreach { case (name, ok) =>
      println(Json.obj(Seq("check" -> Json.str(name), "ok" -> ok.toString)))
    }
    spark.stop()
    sys.exit(if (results.forall(_._2)) 0 else 1)
  }

  /** (case, passed): each checker accepts the good input and rejects
    * every corruption of it. */
  private def checkerCases(spark: SparkSession, work: java.nio.file.Path)
      : Seq[(String, Boolean)] = {
    val budget = 10L
    val good = Seq(
      CorpusRow(4L, "src0", "a b c", 4L, 0L),
      CorpusRow(8L, "src1", "d e f g", 7L, 0L),
      CorpusRow(12L, "src0", "h i", 2L, 1L))
    val texts = Map(4L -> "a b c x", 8L -> "d e f g", 12L -> "h i", 16L -> "a b c x",
      20L -> "h i y")
    def corpusFails(rows: Seq[CorpusRow]) =
      Checks.corpusOutput("t", rows, texts, budget).nonEmpty
    val rows = Seq("1|a|2.0", "2|b|3.5")
    Seq(
      "sameRows accepts equal rows" -> Checks.sameRows("t", rows, rows).isEmpty,
      "sameRows rejects a changed cell" ->
        Checks.sameRows("t", rows, Seq("1|a|2.0", "2|b|3.6")).nonEmpty,
      "sameRows rejects a missing row" -> Checks.sameRows("t", rows, rows.take(1)).nonEmpty,
      "corpusOutput accepts a packed corpus" -> !corpusFails(good),
      "corpusOutput rejects a foreign doc_id" ->
        corpusFails(good :+ CorpusRow(99L, "src0", "z", 1L, 1L)),
      "corpusOutput rejects a doc past its shard's budget" ->
        corpusFails(good.updated(2, good(2).copy(shardId = 0L))),
      "corpusOutput rejects a wrong token count" ->
        corpusFails(good.updated(0, good(0).copy(nTokens = 1L))),
      "corpusOutput accepts documents cut to the same text" ->
        !corpusFails(good :+ CorpusRow(20L, "src1", "h i", 2L, 1L)),
      "corpusOutput rejects an input text kept twice" ->
        corpusFails(good :+ CorpusRow(16L, "src1", "a b c", 4L, 1L)),
      "corpusOutput rejects an empty output" -> corpusFails(Nil),
      "sameDigest accepts repeated digests" ->
        Checks.sameDigest("t", Seq(Checks.digest(good), Checks.digest(good.reverse))).isEmpty,
      "sameDigest rejects a changed repetition" -> Checks.sameDigest("t",
        Seq(Checks.digest(good), Checks.digest(good.updated(0, good(0).copy(shardId = 1L)))))
        .nonEmpty,
      "sameCorpus accepts the same corpus" -> Checks.sameCorpus("t", good, good.reverse).isEmpty,
      "sameCorpus rejects a dropped row" -> Checks.sameCorpus("t", good.tail, good).nonEmpty,
      "an operation leaving an RDD persisted fails" -> {
        val w = new Workload(Ctx(0L, 0.0, traced = false, 1, work, work, work)) {
          def name = "selftest"
          def warmup(s: SparkSession): Unit = ()
          def run(s: SparkSession, p: Option[Probe]): RunResult = {
            measure(s, p, 0, "leak", traced = false)(s.range(10).persist().count())
            result(Map.empty, Map.empty, Map.empty)
          }
        }
        val r = w.run(spark, None)
        r.ops.forall(!_.ok) && r.checkFailures.nonEmpty
      })
  }

  /** Writes the store read back and the corpus output for the oracle
    * comparison; returns no cases of its own. */
  private def oracleOutputs(spark: SparkSession, work: java.nio.file.Path,
                            out: java.nio.file.Path, events: String,
                            documents: String): Seq[(String, Boolean)] = {
    val store = work.resolve("oracle_store")
    Serve.ingest(spark, events, store)
    graft.sources.MetricsStore.read(spark, store.toString)
      .withColumn("date", col("date").cast("string"))
      .select(Serve.MetricCols.map(col): _*)
      .write.mode("overwrite").parquet(out.resolve("etl_metrics").toString)
    graft.operators.Pipeline.corpusFull(spark, documents)
      .write.mode("overwrite").parquet(out.resolve("pipeline_corpus_full").toString)
    graft.Caches.release()
    val sql = Seq("etl_metrics", "pipeline_corpus_full")
      .map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    Files.write(out.resolve("oracle_sql.json"), Json.obj(sql).getBytes("UTF-8"))
    Nil
  }
}
