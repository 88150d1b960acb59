package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Wall-clock harness for the streaming ARRIVAL loops (not part of the
  * driver contract): feeds a scale dir's documents (or embeddings) as
  * N content-addressed arrival batches through the corresponding
  * `EventStream.*ArrivalBatch` store loop and prints one JSON line
  * with the PER-BATCH wall times. The number under test is not the
  * total — it is the SHAPE: each loop's scaladoc claims O(batch) cost
  * per arrival (standing state is probed through narrow hash/band-key
  * joins, never re-aggregated), so the per-batch curve must stay FLAT
  * while the standing store grows from empty to (N−1)/N of the corpus.
  * A curve that grows with batch index falsifies the claim; BASELINE's
  * arrival section records the measured curves.
  *
  * A noop-sink rows/s figure would misstate these disk-commit-dominated
  * store loops, so this harness measures the document and vector loops
  * the way they actually cost: batch in, store grown, wall second out.
  *
  * Knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_ARRIVAL_BATCHES (default 10), SPARK_GRAFT_ARRIVAL_MODE
  * (exact | neardup | clusters | vectors | vecdedup | vecdedupdrift |
  * spans | pack | corpus, default exact),
  * SPARK_GRAFT_RETRAIN_AT (batch index before which
  * Ivf.retrainArrivalStore runs — the drift-answer measurement;
  * default: never), SPARK_GRAFT_COMPACT_AT (batch index before which
  * EventStream.compactArrivalStore runs — prices mid-stream
  * compaction and the post-compaction batches that read the collapsed
  * clustered base; default: never), SPARK_GRAFT_CPUS (default: every core).
  *
  * `vecdedupdrift` replays BASELINE's occupancy-drift stress as a
  * reproducible mode instead of a one-off: batch 0 is UNIFORM random
  * unit-ish vectors (it trains the frozen quantizer), every later
  * batch puts 50% of its arrivals in ONE angular region at pairwise
  * cos ≈ 0.88 < τ — all genuinely distinct, all accepted — so the
  * hot cell's occupancy (and with it the candidate volume) grows
  * linearly until a retrain re-partitions the hot region. All values
  * derive from xxhash64 of the vec id, so the corpus is
  * bit-deterministic across runs.
  */
object ArrivalBench {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_ARRIVAL_BATCHES", "10").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_ARRIVAL_MODE", "exact")
    val retrainAt = sys.env.getOrElse("SPARK_GRAFT_RETRAIN_AT", "-1").toInt
    val compactAt = sys.env.getOrElse("SPARK_GRAFT_COMPACT_AT", "-1").toInt
    // fail fast: an index >= nBatches never fires, and emitting its
    // retrain_at/compact_at fields with sec = -1 would record a
    // phantom (negative-cost) measurement downstream tooling can
    // misread (r17 advice) — reject rather than silently skip
    require(retrainAt < nBatches,
      s"SPARK_GRAFT_RETRAIN_AT=$retrainAt never fires with $nBatches batches")
    require(compactAt < nBatches,
      s"SPARK_GRAFT_COMPACT_AT=$compactAt never fires with $nBatches batches")
    val spark = Sessions.local(Sessions.cores())
    val store = java.nio.file.Files
      .createTempDirectory(s"graft_arrival_bench_$mode").toString

    def docBatch(i: Int) = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(nBatches)) === i)
    def corpusBatch(i: Int) = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(nBatches)) === i)
    def vecBatch(i: Int) = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .filter(pmod(xxhash64(col("vec_id")), lit(nBatches)) === i)
    // the drift corpus (see the scaladoc): 50k vectors/batch, dim 64;
    // batch 0 uniform; later batches 50% hot — a +12.5·e0 offset over
    // the same uniform noise puts hot-pair cosines near 0.88 (< τ =
    // 0.95, so every hot arrival is accepted and occupancy grows)
    val DriftBatchN = 50000L
    def driftBatch(i: Int) = {
      val base = spark.range(i * DriftBatchN, (i + 1) * DriftBatchN)
        .select(col("id").as("vec_id"))
      val uniform = expr("transform(sequence(0, 63), k -> " +
        "cast((pmod(xxhash64(vec_id * 64 + k), 2001) - 1000) / 1000.0 as float))")
      val hot = expr("transform(sequence(0, 63), k -> cast(CASE WHEN k = 0 " +
        "THEN (pmod(xxhash64(vec_id * 64), 2001) - 1000) / 1000.0 + 12.5 " +
        "ELSE (pmod(xxhash64(vec_id * 64 + k), 2001) - 1000) / 1000.0 END as float))")
      base.select(col("vec_id"),
        (if (i == 0) uniform
         else when(col("vec_id") % 2 === 0, hot).otherwise(uniform))
          .as("embedding"))
    }
    // lazy: only the vector modes dereference it, and scaled doc-only
    // dirs carry no embeddings table to size it from
    // frozen merge table for the seqpack loop: trained once from the
    // dir's documents, the same table every batch and the final read use
    lazy val seqMerges = operators.Bpe.mergesFor(spark, dir)
    lazy val nlist = mode match {
      case "vecdedupdrift" =>
        operators.Ivf.autoNlist(DriftBatchN * nBatches)
      case _ => operators.Ivf.autoNlist(
        Tables.parquetRowCount(spark, dir, "embeddings"))
    }

    var retrainSec = -1.0
    var compactSec = -1.0
    val times = (0 until nBatches).map { i =>
      if (i == retrainAt) {
        val r0 = System.nanoTime()
        operators.Ivf.retrainArrivalStore(spark, store)
        retrainSec = math.round((System.nanoTime() - r0) / 1e6) / 1000.0
      }
      if (i == compactAt) {
        val c0 = System.nanoTime()
        streaming.EventStream.compactArrivalStore(spark, store)
        compactSec = math.round((System.nanoTime() - c0) / 1e6) / 1000.0
      }
      val t0 = System.nanoTime()
      mode match {
        case "exact" =>
          streaming.EventStream.dedupArrivalBatch(docBatch(i), store, i.toLong)
        case "neardup" =>
          streaming.EventStream.nearDupArrivalBatch(docBatch(i), store,
            i.toLong, 0.9, 64, 16)
        case "clusters" =>
          streaming.EventStream.clusterArrivalBatch(docBatch(i), store,
            i.toLong, 0.9, 64, 16)
        case "spans" =>
          streaming.EventStream.spanArrivalBatch(docBatch(i), store,
            i.toLong, 16)
        case "pack" =>
          streaming.EventStream.packArrivalBatch(docBatch(i), store,
            i.toLong, 50000L)
        case "seqpack" =>
          streaming.EventStream.seqPackArrivalBatch(docBatch(i), store,
            i.toLong, seqMerges, 512)
        case "corpus" =>
          streaming.EventStream.corpusArrivalBatch(corpusBatch(i), store,
            i.toLong, 0.5, 0.8, 16)
        case "vectors" =>
          operators.Ivf.vectorArrivalBatch(vecBatch(i), store, i.toLong, nlist)
        case "vecdedup" =>
          streaming.EventStream.vectorDedupArrivalBatch(vecBatch(i), store,
            i.toLong, nlist, 0.95, 4, 4)
        case "vecdedupdrift" =>
          streaming.EventStream.vectorDedupArrivalBatch(driftBatch(i), store,
            i.toLong, nlist, 0.95, 4, 4)
        case other => sys.error(s"unknown SPARK_GRAFT_ARRIVAL_MODE '$other'")
      }
      math.round((System.nanoTime() - t0) / 1e6) / 1000.0
    }
    val accepted = mode match {
      case "vectors" | "vecdedup" | "vecdedupdrift" =>
        spark.read.parquet(s"$store/cells").count()
      case "clusters" =>
        streaming.EventStream.arrivalClusterLabels(spark, store).count()
      case "spans" =>
        streaming.EventStream.arrivalSpanList(spark, store).count()
      case "pack" =>
        streaming.EventStream.arrivalPacked(spark, store).count()
      case "seqpack" =>
        streaming.EventStream.arrivalSequences(spark, store, seqMerges).count()
      case "corpus" =>
        spark.read.parquet(s"$store/clean").select("doc_id").distinct().count()
      case _ =>
        streaming.EventStream.arrivalAccepted(spark, store).count()
    }
    val total = times.sum
    // fields appear only when the operation actually ran (sec >= 0),
    // never as a -1 placeholder
    val retrainJson =
      (if (retrainSec >= 0) s""","retrain_at":$retrainAt,"retrain_sec":$retrainSec"""
       else "") +
      (if (compactSec >= 0) s""","compact_at":$compactAt,"compact_sec":$compactSec"""
       else "")
    println(s"""{"metric":"arrival_$mode","unit":"sec","batches":[${
      times.mkString(",")}],"total":$total,"accepted":$accepted,"sf":"$dir","n_batches":$nBatches$retrainJson}""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    spark.stop()
  }
}
