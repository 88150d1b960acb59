package graft.perfbench

import graft.operators.{Curation, Dedup, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `corpus_batch`: repeated runs of `Pipeline.corpusFull` at its default
  * parameters over a seeded document corpus. */
final class Batch(ctx: Ctx) extends Workload(ctx) {
  def name = "corpus_batch"

  val BudgetTokens = 50000L // corpusFull's default shard budget
  val MinRuns = 2

  private def docsDir = ctx.input
  private def tinyDir = ctx.warmupInput

  def warmup(spark: SparkSession): Unit = {
    Pipeline.corpusFull(spark, tinyDir.toString).collect()
    graft.Caches.release()
  }

  /** The operator families corpusFull composes, each run alone on the
    * batch input (traced run only), to show where a run's time goes. */
  private val families: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "operators.exact" -> ((s, d) => Dedup.exact(s, d)),
    "operators.ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "operators.substring_apply" -> ((s, d) => Dedup.substringApply(s, d)),
    "operators.decontaminate" -> ((s, d) => Curation.decontaminate(s, d)),
    "operators.mix_corpus" -> ((s, d) => Curation.mixCorpus(s, d)),
    "operators.pack_shards" -> ((s, d) => Curation.packShards(s, d)))

  def run(spark: SparkSession, probe: Option[Probe]): RunResult = {
    val dir = docsDir.toString
    val inputText = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = inputText.size.toDouble
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    val probeJobs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || i < MinRuns) {
      val traced = tracedOp(i)
      val (rows, _) = measure(spark, probe, i, "run", traced) {
        // jobs the eager corpusFull call itself runs (size probes, rates)
        val before = probe.filter(_ => traced).map(_.snapshot())
        val df = Trace.span("operators.build")(Pipeline.corpusFull(spark, dir))
        before.foreach(b => probeJobs += (probe.get.snapshot().jobs - b.jobs).toDouble)
        Trace.span("operators.exec")(df.collect())
      }
      rows.foreach { rs =>
        val out = rs.toSeq.map(CorpusRow.of)
        failures ++= Checks.corpusOutput(s"$name run $i", out, inputText, BudgetTokens)
        digests += Checks.digest(out)
      }
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Checks.sameDigest(name, digests.toSeq).foreach(failures += _)

    val runs = ops.filter(o => o.kind == "run" && o.ok)
    val endToEnd = Map(
      "latency_p50_s" -> Stats.median(runs.map(_.seconds).toSeq),
      "requests_per_s" -> i / wall)
    val detail = Map("runs" -> i.toDouble, "docs_per_s" -> docs * i / wall)
    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val famS = families.map { case (span, f) =>
          val t = System.nanoTime()
          Trace.span(span)(f(spark, dir).write.format("noop").mode("overwrite").save())
          graft.Caches.release()
          s"${span}_s" -> (System.nanoTime() - t) / 1e9
        }
        val traced = runs.filter(_.counts.isDefined)
        def perRun(f: Counts => Double) = meanCount("run")(f)
        traceMetrics("run") ++ famS ++ Map(
          "operators.build_s" -> spanSeconds("operators.build", "run"),
          "operators.exec_s" -> spanSeconds("operators.exec", "run"),
          "operators.probe_jobs_per_run" -> Stats.mean(probeJobs.toSeq),
          "operators.stages_per_run" -> perRun(_.stages.toDouble),
          "operators.tasks_per_run" -> perRun(_.tasks.toDouble),
          "operators.task_busy_share" -> Stats.mean(traced.map(o =>
            o.counts.get.runMs / 1000.0 / (o.seconds * ctx.cores)).toSeq),
          "operators.shuffle_write_bytes_per_doc" -> perRun(_.shuffleWriteBytes.toDouble) / docs,
          "operators.spill_bytes" -> perRun(_.spillBytes.toDouble),
          "operators.peak_execution_mb" ->
            traced.map(_.peakExecBytes).foldLeft(0L)(math.max) / 1048576.0,
          "functions.codegen_compiles_per_request" -> perRun(_.codegenCompiles.toDouble),
          "functions.codegen_compile_s" -> perRun(_.codegenNs / 1e9),
          "Caches.release_s" -> spanSeconds("Caches.release", "run"))
      }
    result(endToEnd, detail, perLayer)
  }
}
