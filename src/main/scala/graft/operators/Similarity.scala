package graft.operators

import graft.functions.DotF32
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2.4,
  * 64-dim float vectors).
  *
  * Scale design (§5): brute force is the correctness baseline — the
  * tiny query set broadcasts and streams past the big side with no
  * shuffle of the embeddings at all. The LSH path buckets the big side
  * by random-hyperplane signatures so each query only scores candidates
  * sharing a bucket in one of L tables (equi-join on (table, bucket),
  * shuffle bounded by bucket sizes, never all-pairs).
  *
  * Determinism (§4): only the cosines that cross the oracle boundary
  * are computed with the exact order-independent decimal kernel
  * ([[graft.functions.DotDecimal]]). Candidate SELECTION runs on the
  * plain-double [[DotF32]] kernel — 64 fused multiply-adds per pair vs
  * 64 BigDecimal allocations — and the exact kernel re-ranks only the
  * ~k survivors per query (the pattern proven in Dedup.embedCosine).
  */
object Similarity {

  /** Exact, order-independent dot product (scale-12 decimal
    * accumulation) — used ONLY where a value crosses the oracle
    * boundary; see [[DotF32]] for candidate scoring.
    */
  private def dotDec(a: Column, b: Column): Column =
    graft.functions.DotDecimal.dot_decimal(a, b)

  private[graft] def fastCosine(qe: Column, qn: Column, e: Column, n: Column): Column =
    (DotF32.dot_f32(qe, e) / (qn * n)).as("cosine_fast")

  /** Big side with the cheap double norm for candidate scoring. */
  private[graft] def withFastNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nf", sqrt(DotF32.dot_f32(col("embedding"), col("embedding"))))

  /** Exact decimal re-rank of a small (query_id, vec_id) candidate set:
    * fetches embeddings back from `base` via broadcast hash joins (the
    * candidate set is O(queries·k) rows — the big side streams, nothing
    * shuffles), recomputes norms and cosines decimal-exactly, and keeps
    * the top k per query by (cosine desc, vec_id).
    */
  private[operators] def exactTopK(base: DataFrame, winners: DataFrame, k: Int): DataFrame = {
    val exactNorm = sqrt(dotDec(col("embedding"), col("embedding")))
    val qSide = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        exactNorm.as("qn"))
    val candVecs = base
      .join(broadcast(winners), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        exactNorm.as("nrm"))
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

  /** `sim_cosine_topk`: brute-force cosine top-k for the query set
    * (vec_id < 8) against every other vector. The query side is
    * broadcast, so the fast-scoring plan is a BroadcastNestedLoopJoin
    * streaming the big side once — the right brute-force shape at any
    * scale where the query set is small. The rank<= filter compiles to
    * a map-side WindowGroupLimit, so only ~(k+margin) rows per query
    * per map task reach the ranking shuffle.
    *
    * `margin` guards the fast→exact hand-off: |fast − exact| per cosine
    * is bounded by the 64 scale-12 roundings plus double summation
    * error (≲1e-9 total), so the exact top-k can only differ from the
    * fast top-(k+margin) if >margin candidates crowd within ~2e-9 of
    * the k-th cosine — which real embeddings don't do (and the oracle
    * hash-checks the result at two scale factors).
    */
  def cosineTopk(spark: SparkSession, dir: String, k: Int = 10,
                 margin: Int = 16): DataFrame = {
    val base = withFastNorm(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
      .transform(graft.Caches.scoped(_)) // reused: fast scan side + exact re-rank fetch
    exactTopK(base, cosineTopkCandidates(base, k, margin), k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** `sim_knn_exact`: EXACT cosine top-k for EVERY corpus vector — the
    * oracle-gated anchor of the kNN family (the one member whose full
    * result DuckDB re-derives and hash-checks, where `sim_knn_join` is
    * approximate by contract and gated by recall properties).
    *
    * Candidates are the fast-double top-(k+margin) per vector from
    * [[Ivf.knnSelfJoinFrom]] run in its probes=nlist exact-degeneration
    * mode: every pair is scored exactly once through the cell co-group.
    * That is an all-pairs pass BY CONSTRUCTION — exact kNN costs O(n²)
    * distance evals in any engine — so this operator is the
    * small-to-mid-corpus tool and the correctness anchor; at corpus
    * scale you run [[graft.operators.Ivf.knnSelfJoin]] and buy recall
    * with the probes knob. The decimal-exact re-rank then touches only
    * n·(k+margin) pairs (linear), and every re-rank join is a
    * hint-pinned shuffle-hash on ids — unlike [[cosineTopk]], whose
    * 8-query side can broadcast, NOTHING here is corpus-sized on a
    * build side that grows past executor memory: embeddings ride the
    * id joins, norms are recomputed per consumer off the cached base,
    * and the rank window sorts ≤ k+margin rows per query. The margin
    * guard is the same ≲1e-9 fast-vs-exact bound documented on
    * [[cosineTopk]]; SimilaritySpec additionally pins this plan's
    * result to the [[cosineTopk]] slice it must agree with.
    */
  def knnExact(spark: SparkSession, dir: String, k: Int = 5,
               margin: Int = 16): DataFrame = {
    val base = graft.Caches.scoped(fastNormBase(spark, dir))
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val winners = Ivf
      .knnSelfJoinFrom(base, n, k + margin, probes = Int.MaxValue,
        nlistOverride = None, iters = 4)
      .select(col("query_id"), col("nbr_id").as("vec_id"))
    val exactNorm = sqrt(dotDec(col("embedding"), col("embedding")))
    val qSide = base.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), exactNorm.as("qn"))
    val cand = winners.join(
      base.select(col("vec_id"), col("embedding"), exactNorm.as("nrm"))
        .hint("shuffle_hash"), Seq("vec_id"))
    cand.join(qSide.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dotDec(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
  }

  /** The fast-double prune: top-(k+margin) per query by [[DotF32]]
    * cosine. Package-visible so SimilaritySpec can assert the hand-off
    * invariant directly — the survivors must contain the EXACT top-k,
    * or the margin is too small for the corpus.
    */
  private[graft] def cosineTopkCandidates(base: DataFrame, k: Int, margin: Int): DataFrame = {
    val q = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nf").as("qnf"))
    broadcast(q)
      .join(base, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fastCosine(col("qe"), col("qnf"), col("embedding"), col("nf")))
      .withColumn("rank_f", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine_fast").desc, col("vec_id"))))
      .filter(col("rank_f") <= k + margin)
      .select(col("query_id"), col("vec_id"))
  }

  private[graft] def fastNormBase(spark: SparkSession, dir: String): DataFrame =
    withFastNorm(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** Per-row array of L bucket ids: bucket bit j of table t is the sign
    * of the projection onto a deterministic ±1 hyperplane (integer-hash
    * parity, no RNG). One codegen'd pass via
    * [[graft.functions.LshBuckets]].
    */
  private def bucketCol(tables: Int, bits: Int): Column =
    graft.functions.LshBuckets.lsh_buckets(col("embedding"), tables, bits)

  /** `sim_ann_lsh`: approximate top-k, HYBRID between two physical
    * plans the way production ANN indexes are (FAISS IVF's nprobe →
    * flat degeneration):
    *
    * 1. **Bucket join** — L random-hyperplane hash tables with
    *    QUERY-DIRECTED MULTIPROBE (Lv et al., VLDB'07): candidates =
    *    vectors whose exact bucket matches any of the query's `probes`
    *    best probe buckets per table (the exact bucket plus the
    *    lowest-margin ≤3-bit perturbations, see
    *    [[graft.functions.LshProbes]]). Multiprobe lives on the QUERY
    *    side only: the data side explodes `tables` ways regardless of
    *    probe depth, and the probe fan-out (tables·probes rows per
    *    query) broadcasts.
    * 2. **Dense scan** — chosen on COST (r9): both plans are linear
    *    in n for an index-free pass, but with different constants —
    *    dense streams the base once computing |Q| dots per row (a
    *    broadcast nested loop, no shuffle); the bucket join explodes
    *    the base `tables` ways and shuffles that into a join before a
    *    single dot is computed. So dense wins whenever |Q| ≤ tables
    *    (the registered 8-query set against 16 tables: at EVERY n),
    *    and also whenever estimated candidate volume
    *    tables·probes·occupancy reaches half the corpus (probing
    *    would score most of the table anyway). The bucket path is the
    *    plan for the regimes the gate leaves it: many-query batch kNN
    *    (|Q| > tables amortizes the explode) and serving from a
    *    PRE-BUILT bucket index where the explode is amortized into
    *    the store — its recall there is measured at 1.000
    *    (BASELINE.md r9 ANN section, n=800k planted near-dups).
    *
    * Fast cosine prunes candidates to k+margin and the exact kernel
    * re-ranks those. Emits one row per (query, rank) plus a
    * null-candidate row for queries whose buckets were empty, so the
    * output always covers the query set.
    *
    * Bucket width SCALES WITH THE DATA: bits = [[Dedup.adaptiveLshBits]]
    * = log2(n/64) from parquet footer metadata — expected bucket
    * occupancy stays ~64 regardless of n, so candidate volume is
    * ~tables·probes·64 per query instead of degrading toward a full
    * scan the way a fixed bucket count does (16 fixed buckets at
    * sf0.1 already put ~300 vectors in every bucket; at 100 TB each
    * bucket would BE the table).
    *
    * Recall@10 vs brute force is asserted in SimilaritySpec and, at
    * n=50k, in ScaleSpec — for BOTH paths: the default hybrid (dense
    * at that n, exact) and the forced bucket path. The regime where
    * the planner actually takes the bucket path is measured offline by
    * [[graft.RecallProbe]] on [[graft.RecallCorpus]]'s n=800k corpus
    * with planted realistic near-dups (cosine 0.72–0.94 — the class
    * the bucket path serves) and recorded in BASELINE.md: **recall@10
    * = 1.000 on the planner-selected bucket path**, and 1.000 on the
    * gapless sf10 spec corpus too, at every swept knob setting down to
    * probes=96.
    *
    * History (r9): the r8 probes the bucket path measured 0.663–0.812
    * on — the numbers that pushed the default probe budget to 192 and
    * the dense crossover out to n≈400k — were NOT the gapless-regime
    * physics they were attributed to, but a broken hash family:
    * [[graft.functions.LshBuckets.planeComponent]]'s original
    * single-multiply hash made every plane a phase shift of one
    * period-7 ±1 pattern (see its scaladoc), so the "16 independent
    * tables" were one direction in disguise and no probe budget could
    * recover the lost dimensions. With the splitmix64 family the
    * default budget returns to 96 — half the candidate volume, and
    * the scalable bucket path engages from n≈200k instead of 400k.
    */
  def annLsh(spark: SparkSession, dir: String, k: Int = 10,
             tables: Int = 16, margin: Int = 16, probes: Int = 96): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val bits = Dedup.adaptiveLshBits(n)
    val effProbes = math.min(probes, graft.functions.LshProbes.probeFamilySize(bits))
    val estCandidates = tables.toLong * effProbes * math.max(n >> bits, 1L)
    val nQueries = 8L // the registered vec_id < 8 query set
    val base = withFastNorm(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
      .transform(graft.Caches.scoped(_))
    val winners =
      if (graft.Tiers.small(graft.Tiers.LshDense)(
          nQueries <= tables || estCandidates * 2L >= n)) {
        cosineTopkCandidates(base, k, margin)
      } else {
        val bucketed = base.select(col("vec_id"), col("embedding"), col("nf"),
          posexplode(bucketCol(tables, bits)).as(Seq("table_id", "bucket")))
        val q = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nf").as("qnf"),
            explode(graft.functions.LshProbes.lsh_probes(
              col("embedding"), tables, bits, probes)).as("pb"))
          .select(col("query_id"), col("qe"), col("qnf"),
            shiftrightunsigned(col("pb"), 32).cast("int").as("table_id"),
            col("pb").bitwiseAND(lit(0xffffffffL)).cast("int").as("bucket"))
        broadcast(q).join(bucketed, Seq("table_id", "bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("qe"), col("qnf"), col("vec_id"),
            col("embedding"), col("nf"))
          .dropDuplicates("query_id", "vec_id")
          .select(col("query_id"), col("vec_id"),
            fastCosine(col("qe"), col("qnf"), col("embedding"), col("nf")))
          .withColumn("rank_f", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cosine_fast").desc, col("vec_id"))))
          .filter(col("rank_f") <= k + margin)
          .select(col("query_id"), col("vec_id"))
      }
    base.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"))
      // shuffle_hash (r18): the decorate join back to the query-id set
      // planned sort-merge; the ranked side is ≤ k rows/query and hashes
      // in place of two sorts (plans/r18/sim_ann_lsh node 49).
      .join(exactTopK(base, winners, k).hint("shuffle_hash"),
        Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
}
