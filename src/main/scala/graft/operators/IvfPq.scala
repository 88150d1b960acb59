package graft.operators

import graft.functions.{IvfCells, PqCodes, VecSumF32}
import graft.sources.{Stores, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: the compressed-candidate tier of the ANN family (SURVEY
  * §2.4; r12 verdict item 5). [[Ivf]] is IVF-FLAT — every probed cell
  * ships full float32 vectors (256 B each at dim=64), so at 10^11
  * vectors a full-probe sweep reads tens of TB of candidate I/O. This
  * tier stores an 8-byte product-quantization code per vector next to
  * the cells and serves in the standard two-stage FAISS shape:
  *
  *   1. SCAN the probed cells reading only (vec_id, nf, code) — the
  *      parquet column prune skips the embedding bytes entirely, so the
  *      candidate scan pays ~3-6% of the flat tier's I/O — and score
  *      every candidate with ADC ([[graft.functions.PqAdc]]): the
  *      query's dot against each possible centroid is precomputed into
  *      an m·256 lookup table and a candidate costs m table lookups.
  *   2. RE-RANK the top k+margin survivors per query decimal-exactly
  *      from the FULL vectors — a second, id-restricted read of the
  *      probed cells whose row volume is ≤ |Q|·(k+margin); the final
  *      top-k therefore carries the same bit-exact cosine the flat
  *      serve emits, and PQ error can only cost RECALL (a true
  *      neighbor missing from the margin), never precision of the
  *      reported scores.
  *
  * Training (the [[Ivf.train]] conventions exactly): deterministic hash
  * sample bounded at 64·256 rows, per-subspace Lloyd iterations as ONE
  * distributed aggregation each (sample exploded m ways, grouped on
  * (subspace, code), sums fixed-point via [[VecSumF32]]), no RNG
  * anywhere — codes, LUTs and results are bit-deterministic. Codebooks
  * are m·256·dsub floats (64 KB at defaults) — driver/executor state of
  * the centroid-matrix class, the documented SURVEY §5 exception.
  *
  * Quantization has TWO modes, selected by `residual`:
  *
  *   - raw (FAISS by_residual=false, the r13 tier): codes quantize the
  *     vector itself; ADC alone approximates q·v.
  *   - residual (by_residual=true, r14): codes quantize r = v − c(v)
  *     where c(v) is the vector's coarse IVF centroid. The PQ only has
  *     to cover the WITHIN-cell spread instead of the whole corpus
  *     diameter, so per-subquantizer distortion drops and ADC ordering
  *     sharpens; the approximate dot becomes
  *     q·v ≈ q·c(v) + LUT(code), with q·c(v) a per-(query, probed
  *     cell) scalar the driver already pays for during probe selection
  *     (|Q|·nprobe dots — bounded state, shipped on the broadcast
  *     probe frame). Index layout is identical (cells/ carries the raw
  *     embedding for the exact re-rank either way); only the codebook
  *     space and the scoring correction differ, so both modes share
  *     every stage below. The residual frame is pure built-ins — a
  *     broadcast nlist-row centroid join + `zip_with` subtraction — no
  *     new kernel. OPQ (a learned rotation ahead of the split) is the
  *     remaining notch beyond this.
  *
  *     Measured (r14, n=800k planted RecallCorpus): serve recall 1.000
  *     both modes; pure-ADC (margin=0) raw 0.925 vs residual 0.913 —
  *     recall-NEUTRAL on this corpus, because its background is
  *     orthogonal-transformed isotropic noise: IVF cells capture no
  *     tight cluster structure, so residuals keep ~the raw spread and
  *     the coarse term strips nothing. The tier's value case is
  *     clustered real-world embeddings (the regime FAISS defaults
  *     by_residual=true for); on isotropic corpora prefer the simpler
  *     raw default. Both modes stay oracle-shaped, degeneration-pinned
  *     and recall-gated so the choice is a measurement, not a belief.
  *
  * The margin+re-rank recall each mode actually delivers is measured
  * by the spec and the RecallCorpus harness rather than assumed.
  */
object IvfPq {

  /** m=8 subspaces × 256 centroids: 8 B/vector codes at dim=64 (dsub=8)
    * — the standard FAISS operating point for 64-dim embeddings.
    */
  val M = 8

  /** Training-sample target: 64 points per centroid × 256 centroids,
    * the same per-centroid budget as [[Ivf.TrainPerCell]].
    */
  private val TrainTarget = 64L * 256L

  /** Train the PQ codebooks: per-subspace 256-centroid Lloyd k-means on
    * a deterministic hash sample. Returns flattened codebooks
    * cb[((j·256 + c)·dsub) + i]. Each iteration is ONE distributed job:
    * the sample exploded into (subspace, subvector) rows, assigned with
    * [[graft.functions.PqNearest]], grouped on (subspace, code) with
    * fixed-point sums — the driver only ever holds the ≤ m·256 stat
    * rows (the codebook itself).
    */
  private[graft] def trainPq(base: DataFrame, n: Long, dim: Int,
                             m: Int, iters: Int): Array[Float] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val every = math.max(1L, n / TrainTarget)
    val sample = graft.Caches.scoped(
      base.filter(pmod(xxhash64(col("vec_id")), lit(every)) === 0)
        .select(col("vec_id"),
          posexplode(expr(
            s"transform(sequence(0, ${m - 1}), j -> slice(embedding, j*$dsub + 1, $dsub))"))
            .as(Seq("j", "sv"))))
    val cb = new Array[Float](m * 256 * dsub)
    // Init: the first 256 sample vectors in hash order (offset +2 so the
    // init hash differs from both the sample filter and Ivf.train's
    // init), each contributing its subvector to every subspace.
    val initRows = sample.filter(col("j") === 0)
      .select(col("vec_id")).orderBy(xxhash64(col("vec_id") + 2), col("vec_id"))
      .limit(256)
      .join(sample, Seq("vec_id"))
      .select(col("vec_id"), col("j"), col("sv"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    initRows.take(256).zipWithIndex.foreach { case ((_, rows), c) =>
      rows.foreach { r =>
        val j = r.getInt(1)
        val v = r.getSeq[Float](2)
        var i = 0
        while (i < math.min(dsub, v.length)) {
          cb((j * 256 + c) * dsub + i) = v(i); i += 1
        }
      }
    }
    // Fewer sample rows than 256: remaining centroids stay zero — they
    // win only subvectors nearer to 0 than any trained centroid, which
    // is a valid (if coarse) code; the re-rank stage is exact anyway.
    var iter = 0
    while (iter < iters) {
      val snapshot = java.util.Arrays.copyOf(cb, cb.length)
      val stats = sample
        .select(col("j"), col("sv"),
          PqCodes.pq_nearest(col("j"), col("sv"), snapshot, dsub).as("code"))
        .groupBy(col("j"), col("code"))
        .agg(VecSumF32.vec_sum_f32(col("sv")).as("s"), count(lit(1)).as("cnt"))
        .collect() // ≤ m·256 rows — the codebook itself
      stats.foreach { r =>
        val j = r.getInt(0)
        val code = r.getInt(1)
        val s = r.getSeq[Double](2)
        val cnt = r.getLong(3).toDouble
        val off = (j * 256 + code) * dsub
        var i = 0
        while (i < math.min(dsub, s.length)) {
          cb(off + i) = (s(i) / cnt).toFloat; i += 1
        }
      }
      // codes no sample subvector chose keep their previous centroid
      iter += 1
    }
    cb
  }

  /** The [[Ivf.buildIndex]] store convention ([[Stores.derived]], keyed
    * by the embeddings listing stamp, nlist, m and the mode); the PQ
    * tree adds `codebooks/` and a `code` column in `cells/`.
    */
  def buildPqIndex(spark: SparkSession, dir: String,
                   nlistOverride: Option[Int] = None, iters: Int = 4,
                   residual: Boolean = false): String = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val nlist = nlistOverride.getOrElse(Ivf.autoNlist(n))
    Stores.derived(spark, "ivfpq_index", dir, "embeddings",
        s"${nlist}_$M" + (if (residual) "_res" else ""))(
        "cells", "centroids", "codebooks") { path =>
      val base = graft.Caches.scoped(Similarity.fastNormBase(spark, dir))
      val dim = base.select(size(col("embedding"))).head.getInt(0)
      val dsub = dim / M
      val cents = Ivf.train(base, n, nlist, dim, iters)
      // Cell assignment first: residual mode trains/encodes on
      // r = v − cents[cell], built with a broadcast nlist-row centroid
      // join + zip_with — the coarse assignment is shared either way.
      val withCell = base.select(col("vec_id"), col("embedding"), col("nf"),
        element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1).as("cell"))
      import spark.implicits._
      val codeInput =
        if (!residual) withCell.withColumn("pqv", col("embedding"))
        else {
          val centDf = (0 until nlist).map { c =>
            (c, (0 until dim).map(i => cents(c * dim + i)))
          }.toDF("cell", "cent")
          withCell.join(broadcast(centDf), Seq("cell"))
            .withColumn("pqv",
              expr("zip_with(embedding, cent, (x, y) -> x - y)")
                .cast("array<float>"))
            .select(col("vec_id"), col("embedding"), col("nf"), col("cell"),
              col("pqv"))
        }
      val trainBase =
        if (!residual) base
        else graft.Caches.scoped(
          codeInput.select(col("vec_id"), col("pqv").as("embedding")))
      val cb = trainPq(trainBase, n, dim, M, iters)
      Stores.commitTo(codeInput.select(col("vec_id"), col("embedding"), col("nf"),
        PqCodes.pq_encode(col("pqv"), cb, M, dsub).as("code"), col("cell")),
        s"$path/cells", Some("cell"))
      Ivf.writeCentroids(spark, cents, dim, s"$path/centroids")
      Stores.commitTo((for (j <- 0 until M; c <- 0 until 256) yield
        (j, c, (0 until dsub).map(i => cb((j * 256 + c) * dsub + i))))
        .toDF("j", "c", "centroid").repartition(1), s"$path/codebooks")
    }
  }

  /** Serving-process codebook state keyed by the immutable index path —
    * the FAISS-server RAM residency of [[Ivf.centroidsOf]]'s memo.
    */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()

  /** `sim_ann_ivfpq_serve` (raw) / `sim_ann_ivfpq_res_serve`
    * (residual): the compressed serve. Contract matches
    * [[Ivf.annIvfServe]] — (query_id, rank, vec_id, cosine), reported
    * cosines decimal-exact — with the candidate scan reading 8-byte
    * codes instead of 256-byte vectors. `margin` defaults wider than
    * the flat serve's (PQ ordering is approximate; the margin is the
    * recall knob the spec and the RecallCorpus harness measure).
    * `residual = true` scores candidates as q·c(v) + LUT(code) against
    * residual-space codebooks (see the object doc) — identical plan
    * shape, sharper ADC ordering.
    */
  def annIvfPqServe(spark: SparkSession, dir: String, k: Int = 10,
                    nlistOverride: Option[Int] = None,
                    nprobeOverride: Option[Int] = None,
                    margin: Int = 64, residual: Boolean = false): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val nlist = nlistOverride.getOrElse(Ivf.autoNlist(n))
    val nprobe = math.min(nlist, nprobeOverride.getOrElse(math.max(8, nlist / 8)))
    val path = buildPqIndex(spark, dir, Some(nlist), residual = residual)

    val cents = Ivf.centroidsOf(spark, path)
    val dim = cents.length / nlist
    val dsub = dim / M
    val cb = codebookCache.computeIfAbsent(path, _ => {
      val rows = spark.read.parquet(s"$path/codebooks").collect()
      val arr = new Array[Float](M * 256 * dsub)
      rows.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val v = r.getSeq[Float](2)
        var i = 0
        while (i < dsub) { arr((j * 256 + c) * dsub + i) = v(i); i += 1 }
      }
      arr
    })
    val qRows = Ivf.queryRowsOf(spark, dir, path)

    // Probe cells + per-query ADC lookup tables, both driver-computed
    // from bounded state (|Q|·nlist dots; |Q|·m·256 LUT entries). In
    // residual mode each probe pair also carries q·cents[cell] — the
    // coarse term of the decomposition q·v ≈ q·c(v) + LUT(code) — at
    // |Q|·nprobe extra dots of the same bounded driver state.
    val probePairs = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Float](1)
      val q = v.toArray
      val emb = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(q)
      val cellsArr = IvfCells.topCells(emb, cents, dim, nprobe)
      (0 until nprobe).map { i =>
        val c = cellsArr.getInt(i)
        var s = 0.0
        var ii = 0
        while (ii < math.min(dim, q.length)) {
          s += q(ii).toDouble * cents(c * dim + ii); ii += 1
        }
        (qid, c, s.toFloat)
      }
    }.toSeq
    val lutRows = qRows.map { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Float](1).toArray
      val lut = new Array[Float](M * 256)
      var j = 0
      while (j < M) {
        var c = 0
        while (c < 256) {
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val x = if (j * dsub + i < q.length) q(j * dsub + i).toDouble else 0.0
            s += x * cb((j * 256 + c) * dsub + i)
            i += 1
          }
          lut(j * 256 + c) = s.toFloat
          c += 1
        }
        j += 1
      }
      var ss = 0.0
      q.foreach(x => ss += x.toDouble * x.toDouble)
      (qid, lut.toSeq, math.sqrt(ss))
    }.toSeq
    import spark.implicits._
    val lutDf = lutRows.toDF("query_id", "lut", "qnf")
      .select(col("query_id"), col("lut").cast("array<float>").as("lut"), col("qnf"))
    val probes = probePairs.toDF("query_id", "cell", "qdotc")
    val qDf = Ivf.queryFrame(spark, qRows)

    val probedCells = probePairs.map(_._2).distinct
    // Stage 1: compressed candidate scan — (vec_id, nf, code) only; the
    // embedding column never leaves the parquet footer (PlanSpec pins
    // the pruned ReadSchema and the PartitionFilters cell prune).
    val scan = Stores.read(spark, s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id"), col("nf"), col("code"), col("cell"))
    val winners = scan
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        ((PqCodes.pq_adc(col("lut"), col("code")) +
          (if (residual) col("qdotc") else lit(0f))) / (col("qnf") * col("nf")))
          .as("cosine_pq"))
      .withColumn("rank_pq", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_pq").desc, col("vec_id"))))
      .filter(col("rank_pq") <= k + margin)
      .select(col("query_id"), col("vec_id"))
    // Stage 2: exact re-rank — full vectors fetched ONLY for the
    // ≤ |Q|·(k+margin) survivors via a broadcast id join against the
    // same partition-pruned cell scan.
    Ivf.exactTopK(qDf, Stores.read(spark, s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(winners), Seq("vec_id"))
      .join(broadcast(qDf), Seq("query_id")), k)
  }
}
