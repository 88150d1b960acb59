package graft.operators

import graft.functions.{IvfCells, VecSumF32}
import graft.sources.{Stores, Tables}
import graft.streaming.ArrivalStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path of SURVEY §2.4, complementing [[Similarity.annLsh]] the way
  * FAISS pairs IVF-Flat with LSH: a coarse k-means quantizer partitions
  * the corpus into `nlist` cells, each vector lives in EXACTLY ONE
  * cell, and a query scores only the vectors in its `nprobe` nearest
  * cells.
  *
  * Why a second ANN family: the LSH data side must explode `tables`
  * ways (a vector occupies one bucket in each of L tables), so its
  * candidate join shuffles tables·n rows no matter how selective the
  * probes are. IVF's data side is a plain single-assignment column —
  * the index pass is one shuffle-free map over the corpus, the
  * candidate join shuffles only the probed cells, and candidate volume
  * is nprobe·(n/nlist) per query by construction. The trade is a
  * training step (k-means needs the data; hyperplanes don't) and
  * data-dependent recall (cells follow corpus density; LSH's guarantees
  * are distribution-free).
  *
  * Scale design (§5):
  *  - training runs DISTRIBUTED on a deterministic hash sample capped
  *    at ~[[TrainPerCell]]·nlist rows (FAISS's own guidance trains the
  *    quantizer on a bounded sample); each Lloyd iteration is one
  *    map-side-partial aggregation of the sample — the only driver
  *    state is the nlist×dim centroid matrix itself, exactly what
  *    MLlib's KMeans collects per iteration.
  *  - centroid sums accumulate FIXED-POINT ([[VecSumF32]]): long
  *    arithmetic is associative, so centroids — and therefore cell
  *    assignments and ANN results — are bit-deterministic regardless
  *    of partition count or merge order.
  *  - assignment + probing are one codegen'd kernel ([[IvfCells]])
  *    carrying the normalized centroid matrix as a reference object:
  *    argmax-dot over unit centroids equals argmax-cosine, no
  *    per-row norm, no join against a centroid table.
  *  - the registered query honestly pays BUILD + SERVE each invocation
  *    (train, assign, probe, re-rank — like the store round trip); a
  *    production deployment amortizes training and assignment into the
  *    index store and pays only the probe join per batch.
  *
  * Determinism: no RNG anywhere — the training sample and the
  * initial centroids are selected by xxhash64 order (vec_id tiebreak),
  * Lloyd updates are fixed-point, tie-breaks in [[IvfCells]] prefer
  * the lower cell id. Two runs produce identical output rows.
  */
object Ivf {

  /** FAISS-style nlist ≈ √n, clamped to [16, 4096] (below 16 cells
    * probing is indistinguishable from a scan; above 4096 the
    * quantizer pass nlist·dim FMAs/row starts to rival the scan it
    * prunes at these corpus sizes).
    */
  def autoNlist(n: Long): Int =
    math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** Training-sample budget per cell. 64·nlist points is within
    * FAISS's recommended 39–256 training points per centroid.
    */
  private val TrainPerCell = 64L

  /** L2-normalize one centroid in place; a zero vector (empty cell
    * sum) is left untouched by the caller instead.
    */
  private def normalized(v: Array[Double]): Array[Float] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val inv = if (ss > 0) 1.0 / math.sqrt(ss) else 0.0
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }

  /** Train the coarse quantizer: deterministic hash sample, xxhash64
    * init, `iters` distributed Lloyd iterations. Returns the flattened
    * row-major nlist×dim centroid matrix, each row L2-normalized.
    */
  private[graft] def train(base: DataFrame, n: Long, nlist: Int, dim: Int,
                               iters: Int): Array[Float] = {
    val every = math.max(1L, n / (TrainPerCell * nlist))
    val sample = graft.Caches.scoped(
      base.filter(pmod(xxhash64(col("vec_id")), lit(every)) === 0)
        .select(col("vec_id"), col("embedding")))

    // Init: the nlist sample vectors first in xxhash64(vec_id+1) order
    // (a hash DIFFERENT from the sampling hash, so init isn't biased
    // toward the sample-filter boundary; vec_id tiebreak for full
    // determinism under hash collisions).
    val initRows = sample
      .orderBy(xxhash64(col("vec_id") + 1), col("vec_id"))
      .limit(nlist).select(col("embedding")).collect()
    val cents = new Array[Float](nlist * dim)
    var c = 0
    while (c < initRows.length) {
      val v = initRows(c).getSeq[Float](0)
      val d = new Array[Double](dim)
      var i = 0
      while (i < math.min(dim, v.length)) { d(i) = v(i).toDouble; i += 1 }
      System.arraycopy(normalized(d), 0, cents, c * dim, dim)
      c += 1
    }
    // Fewer sample rows than nlist: remaining centroids stay zero and
    // attract nothing; probing still works over the populated cells.

    var iter = 0
    while (iter < iters) {
      val snapshot = java.util.Arrays.copyOf(cents, cents.length)
      val stats = sample
        .groupBy(element_at(
          IvfCells.ivf_cells(col("embedding"), snapshot, dim, 1), 1).as("cell"))
        .agg(VecSumF32.vec_sum_f32(col("embedding")).as("s"),
          count(lit(1)).as("cnt"))
        .collect() // ≤ nlist rows of (int, 64 doubles, long) — the centroid matrix itself
      stats.foreach { r =>
        val cell = r.getInt(0)
        val s = r.getSeq[Double](1).toArray
        System.arraycopy(normalized(s), 0, cents, cell * dim, dim)
        // mean = s/cnt, but normalization is scale-invariant: the
        // count never needs touching.
      }
      // Cells no sample vector chose keep their previous centroid.
      iter += 1
    }
    cents
  }

  /** `sim_ann_ivf`: IVF top-k for the registered vec_id < 8 query set.
    * Build (train + assign) + serve (probe join, fast-double prune,
    * decimal-exact re-rank) in one invocation. Output contract matches
    * [[Similarity.annLsh]]: one row per (query, rank) plus a
    * null-candidate row for queries whose probed cells were all empty.
    *
    * `nprobe` defaults to nlist/8 (≈12.5% of cells — candidates ≈ n/8
    * per query at the √n default nlist; the r9 sweep on the n=800k
    * planted corpus measured recall@10 0.875/0.950 at nlist/28 and
    * nlist/14, so /8 buys headroom past the 0.9 bar while staying
    * under the LSH path's ~19% candidate volume), floor 8 (below 8
    * probes the probe set is too coarse to track cell-boundary
    * neighbors at any n; the floor only binds under nlist = 64, i.e.
    * tiny corpora). nprobe = nlist
    * degenerates to the exact scan: every vector becomes a candidate,
    * so the result EQUALS the brute-force top-k (SimilaritySpec pins
    * this identity; the FAISS nprobe→flat degeneration).
    *
    * Deliberately NO dense-scan fallback here (unlike
    * [[Similarity.annLsh]]'s hybrid): for a one-shot 8-query batch
    * dense is always cheaper than paying the quantizer, so a cost gate
    * would make this operator never run its own machinery. The
    * one-query-set cost model that MOTIVATES IVF — build once, serve
    * many — is [[annIvfServe]]; this entry point is the build+serve
    * round trip, the analogue of `etl_channel_query_store`.
    */
  def annIvf(spark: SparkSession, dir: String, k: Int = 10,
             nlistOverride: Option[Int] = None, nprobeOverride: Option[Int] = None,
             margin: Int = 16, iters: Int = 4): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val base = graft.Caches.scoped(Similarity.fastNormBase(spark, dir))
    annIvfCore(base, base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nf").as("qnf")),
      n, k, nlistOverride, nprobeOverride, margin, iters)
  }

  /** Generic library entry (the [[graft.operators.Curation.packShardsFrom]]
    * pattern): IVF top-k of ANY `(query_id, embedding)` query set
    * against ANY `(vec_id, embedding)` corpus — the queries need not be
    * corpus members (rows where `vec_id == query_id` are excluded as
    * self-matches either way). Same plan, knobs, determinism, and output
    * contract as the registered [[annIvf]]; the corpus cardinality that
    * sizes nlist comes from one `count()` since a generic frame has no
    * parquet footer to read it from.
    */
  def annIvfFrom(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                 nlistOverride: Option[Int] = None, nprobeOverride: Option[Int] = None,
                 margin: Int = 16, iters: Int = 4): DataFrame = {
    val base = graft.Caches.scoped(Similarity.withFastNorm(
      corpus.select(col("vec_id"), col("embedding"))))
    val q = queries.select(col("query_id"), col("embedding").as("qe"))
      .withColumn("qnf", sqrt(graft.functions.DotF32.dot_f32(col("qe"), col("qe"))))
    annIvfCore(base, q, base.count(), k, nlistOverride, nprobeOverride, margin, iters)
  }

  /** Shared plan behind [[annIvf]] / [[annIvfFrom]]: `base` is the
    * fast-normed corpus, `queriesDf` carries (query_id, qe, qnf).
    */
  private def annIvfCore(base: DataFrame, queriesDf: DataFrame, n: Long, k: Int,
                         nlistOverride: Option[Int], nprobeOverride: Option[Int],
                         margin: Int, iters: Int): DataFrame = {
    val nlist = nlistOverride.getOrElse(autoNlist(n))
    val nprobe = math.min(nlist, nprobeOverride.getOrElse(math.max(8, nlist / 8)))
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    val cents = train(base, n, nlist, dim, iters)

    val cells = base.select(col("vec_id"), col("embedding"), col("nf"),
      element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1).as("cell"))
    val q = queriesDf.select(col("query_id"), col("qe"), col("qnf"),
      explode(IvfCells.ivf_cells(col("qe"), cents, dim, nprobe)).as("cell"))
    // One cell per data vector and distinct probed cells per query →
    // (query_id, vec_id) pairs are already unique: no dropDuplicates
    // (the LSH path needs one because L tables overlap).
    val winners = broadcast(q).join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.fastCosine(col("qe"), col("qnf"), col("embedding"), col("nf")))
      .withColumn("rank_f", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_fast").desc, col("vec_id"))))
      .filter(col("rank_f") <= k + margin)
      .select(col("query_id"), col("vec_id"))

    queriesDf.select(col("query_id"))
      // shuffle_hash (r18): decorate join back to the query-id set —
      // SMJ sorted both sides for a ≤ k-rows/query right side
      // (plans/r18/sim_ann_ivf node 51).
      .join(exactTopKFrom(base, queriesDf, winners, k).hint("shuffle_hash"),
        Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[Similarity.exactTopK]] generalized to an explicit query frame:
    * decimal-exact re-rank of the O(|Q|·(k+margin)) winners, candidate
    * embeddings fetched back from `base` via broadcast hash joins, same
    * kernel and expression shapes so cosines crossing the oracle
    * boundary stay bit-identical.
    */
  private def exactTopKFrom(base: DataFrame, queriesDf: DataFrame,
                            winners: DataFrame, k: Int): DataFrame = {
    val dotDec = graft.functions.DotDecimal.dot_decimal _
    def exactNorm(c: org.apache.spark.sql.Column) = sqrt(dotDec(c, c))
    val qSide = queriesDf.select(col("query_id"), col("qe"), exactNorm(col("qe")).as("qn"))
    val candVecs = base
      .join(broadcast(winners), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        exactNorm(col("embedding")).as("nrm"))
    candVecs
      .join(broadcast(qSide), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dotDec(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
  }

  // ---------------------------------------------------------------- //
  // Batch kNN self-join                                               //
  // ---------------------------------------------------------------- //

  /** `sim_knn_join`: approximate k-nearest-neighbor SELF-join — every
    * corpus vector gets its top-k cosine neighbors. This is the batch
    * building block the per-query paths can't serve: embedding-based
    * cluster seeding, diversity sampling, and graph-construction
    * passes all start from "kNN of everything against everything".
    *
    * Plan: one IVF quantizer (shared [[train]]), the corpus assigned
    * one home cell each, and each vector PROBES its `probes` nearest
    * cells — candidates are the probe×cell co-group, so volume is
    * exactly n·probes·(n/nlist) pairs by construction (nlist=√n ⇒
    * probes·n^1.5 dots — the same count a FAISS batch self-query
    * pays; nlist is the knob that trades quantizer cost against
    * candidate volume). No broadcast anywhere: the cell join is a
    * hint-pinned shuffle-hash co-group, top-k is the bounded
    * primitive-heap `top_k_pairs` aggregate (r11 — the rank-window
    * form it replaced SORTED the full candidate stream per partition,
    * which spilled >60 GB and died at the 200k-vector ladder point;
    * the heap's map-side partial forwards ≤ k candidates per query per
    * task instead), and the output is one row per (vector, rank ≤ k).
    *
    * Cosines are the fast-double kernel ([[Similarity.fastCosine]])
    * WITHOUT the decimal re-rank the per-query paths add: re-ranking
    * n·k candidates decimal-exact would dominate the whole join, and
    * the operator is honestly approximate already (recall is the
    * probes knob; SimilaritySpec measures it and pins the
    * probes = nlist exact-degeneration identity).
    *
    * Output: (query_id, rank, nbr_id, cosine), rank 1..k per query_id
    * (fewer when the probed cells hold < k other vectors).
    */
  def knnSelfJoin(spark: SparkSession, dir: String, k: Int = 5,
                  probes: Int = 0, nlistOverride: Option[Int] = None,
                  iters: Int = 4): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val base = graft.Caches.scoped(Similarity.fastNormBase(spark, dir))
    knnSelfJoinFrom(base, n, k, probes, nlistOverride, iters)
  }

  /** [[knnSelfJoin]] over any pre-normed (vec_id, embedding, nf) frame.
    * `probes ≤ 0` = auto: max(8, min(32, nlist/8)). The /8 fraction is
    * [[annIvf]]'s retuned per-query default; the 32-cap is the r11
    * self-join finding from the n=800k planted RecallCorpus sweep
    * (BASELINE.md): probes 4/8/16/32 → recall@5 0.525/0.700/0.850/
    * 0.975 — 32 probes already matches the recall the uncapped
    * nlist/8 = 111 default bought with 3.5× the candidate volume.
    * The cap also changes the SCALING LAW: candidate volume is
    * n·probes·(n/nlist) = probes·n^1.5 at the √n nlist default, so
    * probes ∝ √n (the uncapped rule) made the join quadratic in n
    * while the cap keeps it at n^1.5 — 3.2× per decade, not 10×.
    * Callers chasing the last few recall points pass `probes`
    * explicitly. The small-corpus curve on the 500-vector testdata
    * (near-random embeddings — IVF's WORST case; real embedding
    * corpora cluster): probes 3/4/6/8/11 → recall@5
    * 0.47/0.54/0.66/0.75/0.85.
    */
  private[graft] def knnSelfJoinFrom(base: DataFrame, n: Long, k: Int,
                                     probes: Int, nlistOverride: Option[Int],
                                     iters: Int): DataFrame = {
    val nlist = nlistOverride.getOrElse(autoNlist(n))
    val auto = if (probes <= 0) math.max(8, math.min(32, nlist / 8)) else probes
    val p = math.max(1, math.min(nlist, auto))
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    val cents = train(base, n, nlist, dim, iters)
    val cells = base.select(col("vec_id"), col("embedding"), col("nf"),
      element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1).as("cell"))
    val probeSide = base.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nf").as("qnf"),
      explode(IvfCells.ivf_cells(col("embedding"), cents, dim, p)).as("cell"))
    // Top-k per query via a bounded-heap aggregate, NOT a rank
    // window: the candidate stream is n·probes·cellsize rows (≈5·10^9
    // at 200k vectors), and row_number's per-partition sort of that
    // stream spilled >60 GB before dying at the sf10 ladder point
    // (measured, r11) — the one plan shape here that did NOT survive a
    // scale decade. The heap keeps k elements per query in the partial
    // aggregate: map tasks forward ≤ k candidates per (query, map
    // partition), nothing is globally sorted, and shuffle volume is
    // bounded by the probe fan-out, not the candidate count. The
    // specific heap is [[graft.functions.TopKPairs]], the
    // primitive-specialized (double, long) twin of Spark's
    // CollectTopK: at ~10^10 candidates the generic collector's
    // per-candidate cost (InternalRow copy + boxed-queue insert under
    // an interpreted ordering) is paid once per distance eval, so it
    // competes with the codegen'd dot itself — BASELINE.md's
    // sim_knn_join section carries the sf10 history (window FAILED /
    // generic 198 s / this plan 68 s) and the one-JVM heap-vs-probe-cap
    // attribution matrix. top_k_pairs orders (score DESC, id ASC) and
    // returns best-first, so position+1 IS the rank.
    probeSide.join(cells.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        Similarity.fastCosine(col("qe"), col("qnf"), col("embedding"), col("nf")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("cosine_fast"), col("nbr_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("nbr_id"), col("t.score").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- //
  // On-disk index + serve-only path                                   //
  // ---------------------------------------------------------------- //

  /** Build the on-disk index: train, assign, and write the corpus
    * PARTITIONED BY CELL (`cells/cell=N/` part files) plus the centroid
    * matrix (`centroids/`). Cell directories are what make serving
    * O(candidates): a probe set becomes a PartitionFilters prune that
    * LISTS nprobe directories instead of scanning n rows. The write
    * clusters on the partition column first ([[Stores.clustered]]):
    * unclustered, w upstream tasks × nlist cells spray w·nlist
    * near-empty files and directory listing eats the prune's win. The
    * index is a [[Stores.derived]] store keyed by the embeddings
    * table's listing stamp AND nlist (a knob change is a different
    * index), reused only once both trees are committed.
    */
  def buildIndex(spark: SparkSession, dir: String,
                 nlistOverride: Option[Int] = None, iters: Int = 4): String = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val nlist = nlistOverride.getOrElse(autoNlist(n))
    Stores.derived(spark, "ivf_index", dir, "embeddings", nlist.toString)(
        "cells", "centroids") { path =>
      // Registered through Caches like every operator-path persist;
      // the CALLER releases after its terminal action (build runs at
      // most once per index key, so later invocations register nothing).
      val base = graft.Caches.scoped(Similarity.fastNormBase(spark, dir))
      val dim = base.select(size(col("embedding"))).head.getInt(0)
      val cents = train(base, n, nlist, dim, iters)
      Stores.commitTo(base.select(col("vec_id"), col("embedding"), col("nf"),
        element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1).as("cell")),
        s"$path/cells", Some("cell"))
      writeCentroids(spark, cents, dim, s"$path/centroids")
    }
  }

  /** `sim_ann_ivf_serve`: the amortized-index serving path. The build
    * runs at most once per [[buildIndex]] key (the embeddings table's
    * listing stamp and nlist) — Bench's cold rep pays it, every warm
    * rep times the serve alone, which is the cost model of a production
    * ANN service (FAISS builds the IVF index once and answers queries
    * against it).
    *
    * Serve = centroid matrix read back (nlist rows), query vectors
    * read via a vec_id-pushdown scan (8 rows — the query set is the
    * API input here, exactly like the channel query's parameters),
    * probe cells computed driver-side from those 8×nlist dots, then
    * ONE pruned scan of the probed cell directories
    * (`PartitionFilters: cell IN (...)` — PlanSpec-asserted) joined
    * against the broadcast (query, cell) probe pairs, fast-cosine
    * pruned to k+margin, and re-ranked decimal-exactly FROM THE
    * STORE-RESIDENT rows — the corpus itself is never rescanned: the
    * serve READS only the probed fraction of the store (nprobe/nlist
    * ≈ 1/8 at defaults — an 8× I/O prune; at a FIXED nprobe the serve
    * is O(nprobe·n/nlist) = sub-linear, and nprobe is the standard
    * IVF recall↔cost knob). The cell store itself is resolved once per
    * commit ([[Stores.read]]).
    */
  def annIvfServe(spark: SparkSession, dir: String, k: Int = 10,
                  nlistOverride: Option[Int] = None, nprobeOverride: Option[Int] = None,
                  margin: Int = 16): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val nlist = nlistOverride.getOrElse(autoNlist(n))
    val nprobe = math.min(nlist, nprobeOverride.getOrElse(math.max(8, nlist / 8)))
    val path = buildIndex(spark, dir, Some(nlist))
    val cents = centroidsOf(spark, path)
    probeServe(spark, cents, cents.length / nlist, nprobe, queryRowsOf(spark, dir, path),
      Stores.read(spark, s"$path/cells"), k, margin)
  }

  /** Serving-process state of an immutable index path (the path embeds
    * the source's listing stamp — a regenerated source is a NEW path —
    * so entries never go stale; a few hundred KB each): the centroid
    * matrix and the 8 query vectors, held resident exactly as a FAISS
    * server keeps nlist×dim floats + |Q| rows in RAM. Without the memo
    * every warm serve pays two extra collect jobs just to re-read what
    * cannot have changed. Shared by [[annIvfServe]] and
    * [[IvfPq.annIvfPqServe]].
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private val queryCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[org.apache.spark.sql.Row]]()

  private[graft] def centroidsOf(spark: SparkSession, path: String): Array[Float] =
    centroidCache.computeIfAbsent(path,
      _ => readCentroidMatrix(spark, s"$path/centroids")._1)

  /** The 8 query vectors: a vec_id-pushdown scan (row-group stats skip
    * everything else), collected — bounded by the query-set size, the
    * same class of driver-side state as the channel query's params. */
  private[graft] def queryRowsOf(spark: SparkSession, dir: String,
                                 path: String): Array[org.apache.spark.sql.Row] =
    queryCache.computeIfAbsent(path, _ =>
      Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).collect())

  /** The serve tail [[annIvfServe]] and [[arrivalAnnServe]] share:
    * probe cells computed driver-side from the resident centroid
    * matrix for the collected (query_id, embedding) rows, ONE scan of
    * `cellStore` pruned to the probed cells (literal IN → PartitionFilters
    * on a cell-partitioned tree), fast-cosine k+margin prune, and the
    * decimal-exact re-rank from store-resident rows.
    */
  private def probeServe(spark: SparkSession, cents: Array[Float], dim: Int,
                         nprobe: Int, qRows: Array[org.apache.spark.sql.Row],
                         cellStore: DataFrame, k: Int, margin: Int): DataFrame = {
    val probePairs = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Float](1)
      val emb = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray)
      val cellsArr = IvfCells.topCells(emb, cents, dim, nprobe)
      (0 until nprobe).map(i => (qid, cellsArr.getInt(i)))
    }.toSeq
    import spark.implicits._
    val qDf = queryFrame(spark, qRows)
    val probes = probePairs.toDF("query_id", "cell")

    val probedCells = probePairs.map(_._2).distinct
    val store = cellStore
      .filter(col("cell").isin(probedCells: _*)) // literal IN → PartitionFilters
    val qFast = qDf.select(col("query_id"), col("qe"),
      sqrt(graft.functions.DotF32.dot_f32(col("qe"), col("qe"))).as("qnf"))
    val cands = store
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qFast), Seq("query_id"))
    val winners = cands
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qe"),
        Similarity.fastCosine(col("qe"), col("qnf"), col("embedding"), col("nf")))
      .withColumn("rank_f", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_fast").desc, col("vec_id"))))
      .filter(col("rank_f") <= k + margin)
    // Decimal-exact re-rank on the ≤ |Q|·(k+margin) surviving rows —
    // all data store-resident or broadcast; the corpus is not rescanned.
    exactTopK(qDf, winners, k)
  }

  /** The collected (query_id, embedding) rows as the (query_id, qe)
    * query frame both serves broadcast. */
  private[graft] def queryFrame(spark: SparkSession,
                                qRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    qRows.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
  }

  /** The serve tail [[probeServe]] and [[IvfPq.annIvfPqServe]] share:
    * the decimal-exact top k per query over (query_id, vec_id, qe,
    * embedding) candidate rows, decorated back onto every query id. */
  private[graft] def exactTopK(qDf: DataFrame, cands: DataFrame, k: Int): DataFrame = {
    val exactNorm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => sqrt(graft.functions.DotDecimal.dot_decimal(c, c))
    val ranked = cands
      .select(col("query_id"), col("vec_id"),
        (graft.functions.DotDecimal.dot_decimal(col("qe"), col("embedding")) /
          (exactNorm(col("qe")) * exactNorm(col("embedding")))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
    qDf.select(col("query_id"))
      // shuffle_hash (r18): decorate join back to the query-id set (see
      // annIvf) — drops both SMJ sorts, same exchanges.
      .join(ranked.hint("shuffle_hash"), Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ARRIVAL-INDEX maintenance (r14): the standing ANN index as a
    * store unbounded vector arrivals grow — FAISS's add-after-train
    * cost model ([[buildIndex]] is the immutable once-per-source shape;
    * this is the shape a live embedding pipeline needs). The FIRST
    * batch with data trains the coarse quantizer (deterministic —
    * [[train]]'s hash-sampled Lloyd — so a crashed first attempt
    * retrains to identical centroids) and writes `centroids/`; EVERY
    * batch assigns its vectors to their nearest cell with the frozen
    * centroids and appends ONE batchId-keyed cell-partitioned directory
    * (`cells/batch=<id>/cell=N/`). Writes are idempotent per batchId
    * (mode overwrite of that batch's own dir), the same replay contract
    * as the other arrival stores. Quantizer drift under a shifting
    * distribution is the documented operational knob (FAISS's too):
    * retrain = build a new store, cut over, not mutate this one.
    */
  def vectorArrivalBatch(batch: DataFrame, storeDir: String, batchId: Long,
                         nlist: Int, iters: Int = 4): Unit = graft.Caches.withScope {
    val spark = batch.sparkSession
    val base = Similarity.withFastNorm(
      batch.select(col("vec_id"), col("embedding"))).transform(graft.Caches.scoped(_))
    if (!base.isEmpty) {
      val dim = base.select(size(col("embedding"))).head.getInt(0)
      val cents = ensureCentroids(spark, base, storeDir, nlist, dim, iters)
      Stores.commitTo(base.select(col("vec_id"), col("embedding"), col("nf"),
          element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1)
            .as("cell")),
        ArrivalStore.batchDir(s"$storeDir/cells", batchId), Some("cell"))
    }
  }

  /** Train-once coarse quantizer shared by the arrival loops: read the
    * frozen `centroids/` table if committed, else train on `base` (the
    * FIRST data batch — deterministic hash-sampled Lloyd, so a crashed
    * first attempt retrains to identical centroids) and freeze it.
    */
  private[graft] def ensureCentroids(spark: SparkSession, base: DataFrame,
                                     storeDir: String, nlist: Int, dim: Int,
                                     iters: Int): Array[Float] = {
    val centPath = s"$storeDir/centroids"
    if (Stores.committed(centPath)) readCentroidMatrix(spark, centPath)._1
    else {
      val c = train(base, base.count(), nlist, dim, iters)
      writeCentroids(spark, c, dim, centPath)
      c
    }
  }

  /** The one centroid-table writer: the flattened row-major matrix as
    * a single-file (cell, centroid) table, marked committed. */
  private[graft] def writeCentroids(spark: SparkSession, cents: Array[Float],
                                    dim: Int, path: String): Unit = {
    import spark.implicits._
    Stores.commitTo((0 until cents.length / dim).map { c =>
      (c, (0 until dim).map(i => cents(c * dim + i)))
    }.toDF("cell", "centroid").repartition(1), path)
  }

  /** The one centroid-table reader: (row-major matrix, nlist, dim). */
  private[graft] def readCentroidMatrix(spark: SparkSession,
                                        path: String): (Array[Float], Int, Int) = {
    val rows = spark.read.parquet(path).collect()
    val d = rows.head.getSeq[Float](1).length
    val m = new Array[Float](rows.length * d)
    rows.foreach { r =>
      val c = r.getInt(0); val v = r.getSeq[Float](1)
      var i = 0
      while (i < d) { m(c * d + i) = v(i); i += 1 }
    }
    (m, rows.length, d)
  }

  /** Arrival-store centroid tables are MUTABLE across processes — a
    * [[retrainArrivalStore]] cutover replaces the whole table in
    * place, unlike [[buildIndex]]'s source-stamped immutable paths —
    * so the serving memo is keyed by (path, [[Tables.listingStamp]] of
    * the live `centroids/` tree). A serve
    * in ANY process after a cutover sees a new stamp and reloads; the
    * stale matrix can never be divided by the fresh table's row count
    * (the r17 cross-process staleness advice). Value carries (matrix,
    * nlist, dim) read in ONE job.
    */
  private val arrivalCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Float], Int, Int)]()

  private[graft] def centroidTableStamped(spark: SparkSession,
                                          path: String): (Array[Float], Int, Int) = {
    val stamp = Tables.listingStamp(spark, path)
    if (arrivalCentroidCache.size > 64) arrivalCentroidCache.clear() // retired stamps
    arrivalCentroidCache.computeIfAbsent(s"$path@$stamp",
      _ => readCentroidMatrix(spark, path))
  }

  /** Serve over the arrival-grown index: [[annIvfServe]]'s probe shape
    * — driver-computed probe cells from the resident centroid matrix,
    * ONE cell-pruned scan of the probed directories, fast-cosine
    * k+margin prune, decimal-exact re-rank from store-resident rows —
    * against the union of every COMMITTED arrival directory (dirs with
    * `_SUCCESS` only, so a crashed in-flight batch is never served; the
    * `cell=` partition prune applies inside each batch dir). `queries`
    * is the caller's bounded (query_id, embedding) API input, exactly
    * [[annIvfFrom]]'s convention.
    */
  def arrivalAnnServe(spark: SparkSession, storeDir: String, queries: DataFrame,
                      k: Int = 10, nprobeOverride: Option[Int] = None,
                      margin: Int = 16): DataFrame = {
    val (cents, nlistRows, dim) =
      centroidTableStamped(spark, s"$storeDir/centroids")
    val nprobe = math.min(nlistRows,
      nprobeOverride.getOrElse(math.max(8, nlistRows / 8)))
    // the shared arrival-store contract: committed (_SUCCESS) batch
    // dirs only, through the store path's own Hadoop FileSystem
    val committed = ArrivalStore
      .standingDirs(s"$storeDir/cells", Long.MaxValue, committedOnly = true)
    require(committed.nonEmpty, s"no committed arrival batches under $storeDir")
    probeServe(spark, cents, dim, nprobe,
      queries.select(col("query_id"), col("embedding")).collect(),
      spark.read.option("basePath", s"$storeDir/cells").parquet(committed: _*),
      k, margin)
  }

  /** Test hook: when set, [[retrainArrivalStore]] throws AFTER the
    * staged tree + commit marker are written and BEFORE the live swap
    * — the worst crash window. */
  private[graft] var retrainCrashBeforeSwap: Boolean = false

  /** RETRAIN + CUTOVER of an arrival vector store (r17, r16 verdict
    * item 3): the operational answer to measured quantizer drift. The
    * arrival loops FREEZE the coarse quantizer at first-batch training
    * (the FAISS add-after-train model); when the arriving distribution
    * later shifts, genuinely-new mass concentrates in a few hot cells
    * and the per-batch candidate volume — bounded by probes × cell
    * occupancy — grows with the hot mass (BASELINE's occupancy-drift
    * stress measured 26→42 s/batch growing, one 28k-row cell). No
    * mitigation exists INSIDE the loop, because every hot arrival is
    * new content in a frozen partitioning; the fix is the documented
    * FAISS knob, implemented here:
    *
    *   1. train a FRESH quantizer on the standing accepted store
    *      (same deterministic hash-sampled Lloyd — [[train]] — so a
    *      crashed attempt retrains to identical centroids); Lloyd run
    *      ON the drifted density splits the hot region across many
    *      cells, restoring balanced occupancy;
    *   2. reassign every standing vector and write the new tree to a
    *      `_staging_retrain` subtree (underscore-prefixed — invisible
    *      to readers; the OLD tree serves untouched throughout),
    *      collapsed to ONE cell-partitioned `cells/batch=<maxId>` dir;
    *   3. commit point: a `_RETRAIN` marker written AFTER the staged
    *      `_SUCCESS`es; then the live `cells/` + `centroids/` are
    *      swapped out per subtree. A crash before the marker leaves
    *      the store untouched (staging discarded on re-run); after
    *      it, re-running completes the swap from the staged copy —
    *      each subtree swaps only while its staged copy still exists,
    *      so recovery is idempotent ("run it again", the
    *      compactArrivalStore protocol).
    *
    * MUST run with the arrival stream STOPPED and its final batch
    * committed to the checkpoint — and the stop contract covers
    * SERVING processes as well: a serve issued inside the two-rename
    * cutover window can see a transiently missing subtree (it errors
    * cleanly and succeeds on retry — [[centroidTableStamped]] re-keys
    * on the fresh table's listing digest, so no process ever probes
    * new cells under old centroids); quiescing serves across the
    * seconds-long cutover is the zero-error deployment. The rewrite
    * folds every batch's rows
    * into one directory, so — unlike compaction, which spares the max
    * id — a post-cutover retry of the max batch would overwrite folded
    * state. Stopping the stream at a committed offset is the operator
    * action the knob already implies. Post-cutover arrivals assign
    * under the NEW frozen centroids (ensureCentroids reads the swapped
    * table) into higher batch dirs, and serves see one coherent store:
    * every standing row's `cell` was assigned under the live quantizer.
    */
  def retrainArrivalStore(spark: SparkSession, storeDir: String,
                          nlistOverride: Option[Int] = None,
                          iters: Int = 4): Unit = graft.Caches.withScope {
    import org.apache.hadoop.fs.Path
    val (fs, rootP) = Stores.fsFor(storeDir)
    val staging = new Path(rootP, "_staging_retrain")
    val marker = new Path(staging, "_RETRAIN")
    if (!fs.exists(marker)) {
      if (fs.exists(staging)) // interrupted WRITE: live store intact, discard
        fs.delete(staging, true)
      val dirs = ArrivalStore
        .standingDirs(s"$storeDir/cells", Long.MaxValue, committedOnly = true)
      require(dirs.nonEmpty, s"no committed arrival batches under $storeDir")
      val tid = dirs.map(ArrivalStore.batchIdOf).max
      val standing = graft.Caches.scoped(Similarity.withFastNorm(
        spark.read.option("basePath", s"$storeDir/cells").parquet(dirs: _*)
          .select(col("vec_id"), col("embedding"))))
      val n = standing.count()
      val dim = standing.select(size(col("embedding"))).head.getInt(0)
      val nlist = nlistOverride.getOrElse(autoNlist(n))
      val cents = train(standing, n, nlist, dim, iters)
      val reassigned = standing
        .select(col("vec_id"), col("embedding"), col("nf"),
          element_at(IvfCells.ivf_cells(col("embedding"), cents, dim, 1), 1)
            .as("cell"))
      // Match the OWNING loop's cell layout — post-cutover batches keep
      // appending in their native shape, and parquet partition
      // discovery rejects mixed directory depths under one basePath:
      // the index-building loop (vectorArrivalBatch) uses cell=N
      // partition DIRS (dir-prune pays on a corpus-sized store); the
      // dedup loop (vectorDedupArrivalBatch) keeps `cell` as a sorted
      // DATA column (the r16 fs-metadata lesson — its store is small
      // by regime). Detected from the standing dirs themselves.
      val dirLayout = {
        val (dfs, first) = Stores.fsFor(dirs.head)
        dfs.listStatus(first).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("cell="))
      }
      // the staged dir carries its own _SUCCESS through the swap, so
      // the committedOnly readers see the retrained index
      val stagedCells = ArrivalStore.batchDir(s"$staging/cells", tid)
      if (dirLayout) Stores.commitTo(reassigned, stagedCells, Some("cell"))
      else Stores.commitTo(
        Stores.clustered(reassigned, "cell").sortWithinPartitions(col("cell")), stagedCells)
      writeCentroids(spark, cents, dim, s"$staging/centroids")
      val out = fs.create(marker, true)
      try out.write(tid.toString.getBytes("UTF-8")) finally out.close()
    }
    if (retrainCrashBeforeSwap)
      throw new RuntimeException("injected retrain crash before swap")
    // SWAP, idempotent under recovery: a subtree whose staged copy
    // still exists has NOT been swapped — its live tree is the old
    // one. Two RENAMES per subtree (retire live aside under staging,
    // rename staged in), not delete-then-rename: a recursive delete
    // holds the live tree half-missing for its whole file count,
    // while the rename pair's unreadable window is two metadata ops
    // (r17 advice). Concurrent serves still race that window — the
    // stream-stopped contract above covers serving processes too:
    // quiesce serves across the cutover, or tolerate one transient
    // missing-path error and retry (the stamp-keyed centroid memo
    // reloads the fresh table on the retry by itself).
    for (sub <- Seq("cells", "centroids")) {
      val staged = new Path(staging, sub)
      val live = new Path(rootP, sub)
      if (fs.exists(staged)) {
        val retired = new Path(staging, s"_retired_$sub")
        if (fs.exists(retired)) fs.delete(retired, true) // prior partial attempt
        if (fs.exists(live) && !fs.rename(live, retired))
          throw new java.io.IOException(s"retrain retire failed: $live -> $retired")
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"retrain rename failed: $staged -> $live")
      }
    }
    fs.delete(staging, true) // retired trees ride out with the staging dir
  }
}
