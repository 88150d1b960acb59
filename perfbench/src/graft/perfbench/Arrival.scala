package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.Pipeline
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** `corpus_arrival`: the public `EventStream.arrivalCorpus` loop over
  * seeded documents arriving as monotone-doc_id micro-batches (one
  * parquet file each, offered to a file-source stream with a
  * checkpoint). Partway through, the stream is stopped, the store
  * compacted and the stream restarted — the documented protocol. */
final class Arrival(ctx: Ctx) extends Workload(ctx) {
  def name = "corpus_arrival"

  /** Batches before the stop/compact/restart may run: compaction folds
    * every committed batch but the newest, so it needs three. */
  val MinBeforeRestart = 3
  val MinBatches = 4

  override def perLayerNames: Seq[(String, String)] = Main.PerLayer ++ Main.Streaming

  /** The chunk files of `dir`, in doc_id order. */
  private def chunks(dir: Path): IndexedSeq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("chunk-"))
      .toIndexedSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private final class Loop(spark: SparkSession, files: IndexedSeq[Path], root: Path) {
    val watch = root.resolve("arrivals")
    val store = root.resolve("store")
    val ckpt = root.resolve("checkpoint")
    Disk.deleteTree(root)
    Files.createDirectories(watch)
    private val schema: StructType = spark.read.parquet(files.head.toString).schema
    var offered = 0

    def start(): StreamingQuery = EventStream.arrivalCorpus(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(watch.toString).select(col("doc_id"), col("source"), col("text")),
      store.toString, ckpt.toString)

    /** Copies the next chunk in under a hidden name, then renames it
      * into view, so the stream never lists a partial file. */
    def offer(): Unit = {
      val tmp = watch.resolve(f".offer-$offered%05d.parquet")
      Files.copy(files(offered), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, watch.resolve(f"batch-$offered%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      offered += 1
    }

    /** Copies of the offered chunks as a `documents.parquet` table. */
    def offeredDocs(dir: Path): Path = {
      val t = dir.resolve("documents.parquet")
      Files.createDirectories(t)
      (0 until offered).foreach(k =>
        Files.copy(files(k), t.resolve(f"part-$k%05d.parquet")))
      dir
    }

    def materialize(): Seq[CorpusRow] =
      EventStream.arrivalCorpusTrain(spark, store.toString).collect().toSeq.map(CorpusRow.of)
  }

  def warmup(spark: SparkSession): Unit = {
    val loop = new Loop(spark, chunks(ctx.warmupInput), ctx.work.resolve("warmup_arrival"))
    var q = loop.start()
    try {
      (0 until 3).foreach { _ => loop.offer(); q.processAllAvailable() }
      q.stop()
      EventStream.compactArrivalStore(spark, loop.store.toString)
      q = loop.start()
      q.processAllAvailable()
    } finally q.stop()
    loop.materialize()
    graft.Caches.release()
  }

  def run(spark: SparkSession, probe: Option[Probe]): RunResult = {
    val files = chunks(ctx.input)
    val loop = new Loop(spark, files, ctx.work.resolve("arrival"))
    val storeGrowth = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var restartS = 0.0
    var compactS = 0.0
    var restarted = false
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var q = Trace.span("streaming.start")(loop.start())
    try {
      while (loop.offered < files.size && (elapsed < ctx.seconds || loop.offered < MinBatches)) {
        if (!restarted && loop.offered >= MinBeforeRestart && elapsed >= ctx.seconds / 2) {
          val r0 = System.nanoTime()
          Trace.span("streaming.stop")(q.stop())
          val c0 = System.nanoTime()
          Trace.span("streaming.compact")(
            EventStream.compactArrivalStore(spark, loop.store.toString))
          compactS = (System.nanoTime() - c0) / 1e9
          q = Trace.span("streaming.start")(loop.start())
          restartS = (System.nanoTime() - r0) / 1e9
          restarted = true
        }
        val k = loop.offered
        val before = if (ctx.traced) Disk.stats(loop.store) else (0L, 0L)
        measure(spark, probe, k, "batch", tracedOp(k)) {
          Trace.span("sources.offer")(loop.offer())
          Trace.span("streaming.batch")(q.processAllAvailable())
        }
        if (ctx.traced) {
          val after = Disk.stats(loop.store)
          storeGrowth += ((after._1 - before._1, after._2 - before._2))
        }
      }
    } finally q.stop()
    val wall = elapsed
    if (!restarted) failures += s"$name: the stream was never restarted"

    val (got, mat) = measure(spark, probe, Int.MaxValue, "materialize", ctx.traced) {
      Trace.span("streaming.materialize")(loop.materialize())
    }
    // the StreamingSpec identity: monotone doc_id arrivals materialize
    // to exactly batch corpusFull over the same documents
    val checkDir = loop.offeredDocs(ctx.work.resolve("arrival_check"))
    val want = Pipeline.corpusFull(spark, checkDir.toString).collect().toSeq.map(CorpusRow.of)
    graft.Caches.release()
    got.foreach(g => Checks.sameCorpus(s"$name arrivalCorpusTrain vs corpusFull", g, want)
      .foreach(failures += _))

    val batches = ops.filter(o => o.kind == "batch" && o.ok).map(_.seconds).toSeq
    val docs = graft.sources.Tables.parquetRowCount(spark, checkDir.toString, "documents")
    val inputBytes = Disk.bytes(checkDir)
    val storeBytes = Disk.bytes(loop.store)
    val endToEnd = Map(
      "latency_p50_s" -> Stats.median(batches),
      "requests_per_s" -> loop.offered / wall)
    val detail = Map(
      "batches" -> loop.offered.toDouble,
      "docs_per_s" -> docs / wall,
      "materialize_s" -> mat.seconds,
      "store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
      "restart_s" -> restartS)
    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        def perBatch(f: Counts => Double) = meanCount("batch")(f)
        val third = math.max(1, batches.size / 3)
        val traced = ops.filter(o => o.kind == "batch" && o.ok && o.counts.isDefined)
        traceMetrics("batch") ++ Map(
          "streaming.jobs_per_batch" -> perBatch(_.jobs.toDouble),
          "streaming.stages_per_batch" -> perBatch(_.stages.toDouble),
          "streaming.tasks_per_batch" -> perBatch(_.tasks.toDouble),
          "streaming.shuffle_write_bytes_per_batch" -> perBatch(_.shuffleWriteBytes.toDouble),
          "streaming.task_busy_share" -> Stats.mean(traced.map(o =>
            o.counts.get.runMs / 1000.0 / (o.seconds * ctx.cores)).toSeq),
          "streaming.batch_growth_ratio" ->
            Stats.median(batches.takeRight(third)) / Stats.median(batches.take(third)),
          "sources.store_rows_read_per_doc" ->
            perBatch(_.inputRecords.toDouble) / (docs.toDouble / loop.offered),
          "sources.store_files_added_per_batch" -> Stats.mean(storeGrowth.map(_._1.toDouble).toSeq),
          "sources.store_bytes_added_per_batch" -> Stats.mean(storeGrowth.map(_._2.toDouble).toSeq),
          "streaming.compact_s" -> compactS,
          "streaming.materialize_s" -> mat.seconds,
          "sources.store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
          "functions.codegen_compiles_per_request" -> perBatch(_.codegenCompiles.toDouble),
          "functions.codegen_compile_s" -> perBatch(_.codegenNs / 1e9),
          "Caches.release_s" -> spanSeconds("Caches.release", "batch"))
      }
    result(endToEnd, detail, perLayer)
  }
}
