package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (see perfbench/README.md):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --input <dir> --warmup-input <dir> --work <dir> --out <dir>
  *        [--input-gen-s <s>] [--git-head <sha>]
  *
  * Builds one `Sessions.local(nproc)` session, warms up on the tiny
  * input, runs the workload's closed loop over the seeded input and
  * prints two JSON lines: the run record (metadata plus every
  * workload-specific metric) and, last, the result object. Exits 1 when
  * any output check failed.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_s" -> "s", "requests_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "Sessions.session_s" -> "s", "Sessions.warmup_s" -> "s",
    "Caches.release_s" -> "s",
    "etl.plan_s" -> "s", "etl.exec_s" -> "s",
    "etl.jobs_per_request" -> "count", "etl.stages_per_request" -> "count",
    "etl.tasks_per_request" -> "count",
    "sources.read_s" -> "s", "sources.write_s" -> "s",
    "sources.files_scanned_per_request" -> "count",
    "sources.rows_scanned_per_row_returned" -> "ratio",
    "functions.codegen_compiles_per_request" -> "count",
    "functions.codegen_compile_s" -> "s",
    "operators.build_s" -> "s", "operators.exec_s" -> "s",
    "operators.probe_jobs_per_run" -> "count",
    "operators.stages_per_run" -> "count", "operators.tasks_per_run" -> "count",
    "operators.task_busy_share" -> "ratio",
    "operators.shuffle_write_bytes_per_doc" -> "bytes",
    "operators.spill_bytes" -> "bytes", "operators.peak_execution_mb" -> "MB",
    "operators.exact_s" -> "s", "operators.ngram_jaccard_s" -> "s",
    "operators.substring_apply_s" -> "s", "operators.decontaminate_s" -> "s",
    "operators.mix_corpus_s" -> "s", "operators.pack_shards_s" -> "s",
    "trace.overhead_share" -> "ratio", "trace.span_self_share" -> "ratio")

  /** The arrival loop's own layer metrics, on top of [[PerLayer]]. */
  val Streaming: Seq[(String, String)] = Seq(
    "streaming.jobs_per_batch" -> "count", "streaming.stages_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.shuffle_write_bytes_per_batch" -> "bytes",
    "streaming.task_busy_share" -> "ratio", "streaming.batch_growth_ratio" -> "ratio",
    "streaming.compact_s" -> "s", "streaming.materialize_s" -> "s",
    "sources.store_rows_read_per_doc" -> "ratio",
    "sources.store_files_added_per_batch" -> "count",
    "sources.store_bytes_added_per_batch" -> "bytes",
    "sources.store_bytes_per_input_byte" -> "ratio")

  private val DetailUnits = Map(
    "latency_p90_s" -> "s", "ingest_s" -> "s", "materialize_s" -> "s", "restart_s" -> "s",
    "docs_per_s" -> "docs/s", "store_bytes_per_input_byte" -> "ratio",
    "failed_ratio" -> "ratio", "check_s" -> "s", "requests" -> "count", "runs" -> "count",
    "batches" -> "count", "samples_above_p90" -> "count")

  val Workloads = Seq("marketing_serve", "corpus_batch", "corpus_arrival")

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "marketing_serve" => new Serve(ctx)
    case "corpus_batch" => new Batch(ctx)
    case "corpus_arrival" => new Arrival(ctx)
  }

  private def metricsJson(values: Map[String, Double], units: Seq[(String, String)]): String =
    Json.obj(units.map { case (n, u) =>
      n -> Json.obj(Seq("value" -> Json.num(values.getOrElse(n, 0.0)), "unit" -> Json.str(u)))
    })

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = opt.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    if (!Workloads.contains(need("workload"))) {
      System.err.println(s"unknown workload ${opt("workload")}; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val traced = need("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(need("seed").toLong, need("seconds").toDouble, traced, cores,
      Paths.get(need("input")), Paths.get(need("warmup-input")), Paths.get(need("work")))
    Files.createDirectories(ctx.work)
    val out = Paths.get(need("out"))
    Files.createDirectories(out)
    val w = workload(opt("workload"), ctx)

    // The set-up runs from JVM start (inputs were generated before it)
    // to the first timed operation: session, then warm-up.
    Trace.enabled = traced
    val spark: SparkSession = Trace.span("Sessions.session")(Sessions.local(cores))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w0 = System.nanoTime()
    Trace.span("Sessions.warmup")(w.warmup(spark))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val probe = if (traced) Some(new Probe(spark)) else None
    val res = w.run(spark, probe)
    probe.foreach(_.close())

    val attempted = math.max(1, res.ops.size)
    val failed = math.min(attempted, res.ops.count(!_.ok) + res.checkFailures.size)
    res.checkFailures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val meta = Seq(
      "workload" -> Json.str(w.name), "seed" -> ctx.seed.toString,
      "seconds" -> Json.num(ctx.seconds), "trace" -> (if (traced) "1" else "0"),
      "git_head" -> Json.str(opt.getOrElse("git-head", "unknown")),
      "nproc" -> cores.toString,
      "session_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "input" -> Json.obj(Seq(
        "dir" -> Json.str(ctx.input.getFileName.toString),
        "rows" -> opt.getOrElse("input-rows", "null"),
        "bytes" -> Disk.bytes(ctx.input).toString,
        "bench.input_gen_s" -> opt.getOrElse("input-gen-s", "null"))),
      "ops" -> res.ops.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
        "s" -> Json.num(o.seconds), "ok" -> o.ok.toString, "traced" -> o.traced.toString)))
        .mkString("[", ",", "]"),
      "failures" -> res.checkFailures.map(Json.str).mkString("[", ",", "]"))
    val detail = res.detail + ("failed_ratio" -> failed.toDouble / attempted)
    val detailJson = metricsJson(detail, detail.keys.toSeq.sorted.map(k =>
      k -> DetailUnits.getOrElse(k, "")))
    val endToEnd = res.endToEnd + ("setup_s" -> setupS)
    val perLayer = res.perLayer ++ Map(
      "Sessions.session_s" -> sessionS, "Sessions.warmup_s" -> warmS)
    val metrics = if (traced) metricsJson(perLayer, w.perLayerNames)
      else metricsJson(endToEnd, EndToEnd)
    val record = Json.obj(Seq("run" -> Json.obj(meta),
      "end_to_end" -> metricsJson(endToEnd, EndToEnd), "workload_metrics" -> detailJson) ++
      (if (traced) Seq("per_layer" -> metricsJson(perLayer, w.perLayerNames)) else Nil))
    val tag = s"${w.name}-s${ctx.seed}-t${if (traced) 1 else 0}"
    Files.write(out.resolve(s"$tag.json"), record.getBytes("UTF-8"))
    if (traced) Files.write(out.resolve(s"$tag-spans.json"),
      Trace.toJson(Trace.all).getBytes("UTF-8"))
    spark.stop()

    println(record)
    println(Json.obj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
