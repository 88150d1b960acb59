package graft.operators

import graft.Tiers
import graft.sources.Stores
import org.apache.spark.sql.{DataFrame, GraftCache, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution (SURVEY §2.3): the step between "near-dup
  * PAIRS" (ngram/minhash/simhash/embed emit them) and "deduplicated
  * CORPUS" (drop everything but one canonical doc per duplicate group).
  * Pairs are not enough on their own: A≈B and B≈C puts A,B,C in one
  * group even when A≈C itself scored below tau, so the group structure
  * is the connected components of the pair graph.
  *
  * The components are computed with the alternating large-star /
  * small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
  * Vassilvitskii — "Connected Components in MapReduce and Beyond",
  * SoCC 2014): each round is two bounded shuffles over (long, long)
  * edges, and the edge set provably converges to star graphs centered
  * at each component's minimum id in O(log n) rounds (the paper's
  * Theorem 5; label propagation by contrast needs O(diameter) rounds —
  * identical on the chain-shaped corpora that make CC hard).
  *
  * Scale design: nothing driver-side ever holds a component — the
  * driver sees only per-iteration COUNTS (convergence test). Shuffles
  * carry 16-byte edges, never document payloads; each iteration's edge
  * set is ≤ the candidate-pair volume, which the upstream generators
  * already bound sub-quadratically. Every round's edge set is cut to a
  * checkpointed leaf ([[materialized]]): round k's plan and its tasks
  * then carry one leaf, not every earlier round.
  */
object Clusters {

  /** `df` cut to a [[graft.Caches.checkpointed]] leaf of `noAqe`, plus
    * (count, order-independent xor checksum): ONE job computes the cut
    * and feeds the convergence test. */
  private def materialized(df: DataFrame, noAqe: SparkSession): (DataFrame, Long, Long) = {
    val cut = graft.Caches.checkpointed(df, noAqe)
    val r = cut.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (cut, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** `df` hash-partitioned on `u` into `k` partitions, when sized: the
    * per-node min and the join on u then need no shuffle of their own. */
  private def byU(df: DataFrame, k: Option[Int]): DataFrame =
    k.fold(df)(df.repartition(_, col("u")))

  /** Large-star round: every node u points each LARGER neighbor v at
    * m = min(N(u) ∪ {u}). Runs on the symmetrized edge list.
    */
  private[graft] def largeStar(edges: DataFrame, k: Option[Int]): DataFrame = {
    val sym = byU(edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v"))), k)
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // shuffle_hash: without the hint Catalyst sort-merges (and mins —
    // one row per NODE — must never be broadcast at scale). No distinct here:
    // small-star's terminal distinct collapses duplicates one round
    // later, saving a full shuffle per round for a ≤2× temporary fanout.
    sym.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star round: every node u points each SMALLER-or-equal
    * neighbor (and itself) at m = min of that set. Orients each edge
    * large→small first, so no symmetrization is needed. The distinct
    * reads its input hashed on u at k, which clusters (u, v) too.
    */
  private[graft] def smallStar(edges: DataFrame, k: Option[Int]): DataFrame = {
    val dir = byU(edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v")), k)
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    byU(dir.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v"))), k)
      .distinct()
  }

  /** Connected components of an undirected pair graph. Input: any
    * two-column frame of node-id pairs (castable to long). Output:
    * `(doc_id, cluster_id)` — one row per node that appears in an
    * edge, labeled with its component's minimum id (the canonical
    * "keeper" under the same min-id convention [[Dedup.exact]] uses).
    *
    * Iterates large-star/small-star to a FIXPOINT, verified by edge-set
    * equality (see the loop), not by an iteration budget: a converged
    * small-star output is exactly the star edge set {(x, min C) : x ∈
    * C, x ≠ min C}, which is the label assignment itself. `maxIter` is
    * a backstop against a non-terminating bug, not a tuning knob — the
    * paper bounds convergence at O(log n) rounds; hitting the backstop
    * throws rather than silently returning partial components.
    *
    * A size-gated SMALL-GRAPH tier (r13, the [[Dedup.exact]]-style
    * measured-gate idiom): once the init job has COUNTED the distinct
    * edge set, a graph at or under [[Tiers.CcMaxEdges]] is solved by
    * driver union-find on the collected edges instead of the star loop —
    * the loop pays ~6 scheduling rounds per iteration × O(log n)
    * iterations, which dominated dedup_semantic's sweep cell (3.39 s for
    * a 262-edge graph at sf0.1). Driver memory is bounded BY the gate:
    * at its 2^17 bound that is ~131k collected Rows plus the LongMap
    * state — tens of MB of boxed heap, not the raw 16 B/edge (boxed
    * Rows/tuples cost ~10× the primitive payload, which is why the gate
    * sits at 2^17 rather than the 2^20 an id-bytes estimate would
    * suggest). Outputs are identical by the min-label convention
    * (ClustersSpec gates both branches against the same reference).
    */
  /** Driver union-find with path compression over a collected edge
    * list (unions attach the larger root under the smaller and initial
    * roots are node ids, so every root is its component's MINIMUM id —
    * exactly the star loop's label convention), returned as a
    * parallelized (doc_id, cluster_id) frame. Shared by
    * [[connectedComponents]]' small-graph tier and [[mergeParts]]'
    * driver merge tier. Self-edges are skipped WITHOUT registering the
    * node, matching the star path's init filter (a node appearing only
    * in self-pairs gets no label). Parallelize instead of
    * LocalRelation: a collected result embedded in the plan would ship
    * the whole label set inside every downstream task closure.
    */
  private def unionFindLabels(spark: SparkSession,
                              edges: Iterator[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (u, v) =>
      if (u != v) {
        nodes(u) = (); nodes(v) = ()
        val a = find(u); val b = find(v)
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    val labelRows = nodes.keysIterator
      .map(x => org.apache.spark.sql.Row(x, find(x))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          labelRows.size / 4096 + 1))), schema)
  }

  def connectedComponents(spark: SparkSession, pairs: DataFrame,
                          maxIter: Int = 40): DataFrame = {
    val cols = pairs.columns
    require(cols.length == 2, s"pair graph needs 2 columns, got ${cols.mkString(",")}")
    // Integral ids only: a lossy cast (string keys, decimals) would null
    // out non-castable ids and the u =!= v filter would silently DROP
    // those edges — returning incomplete components instead of failing.
    // String-keyed corpora should pre-map ids (xxhash64 or a dimension
    // join) before clustering; rejecting here keeps that contract loud.
    pairs.schema.fields.foreach { f =>
      require(Set("byte", "short", "integer", "long")(f.dataType.typeName),
        s"pair column ${f.name} is ${f.dataType.typeName}; connectedComponents " +
          "needs integral node ids (pre-hash string keys with xxhash64)")
    }
    // NULL ids are data corruption, not an edge to drop: fail the job
    // (raise_error stays inside codegen — no extra pass over the edges).
    def guarded(c: String) = when(col(c).isNull,
      raise_error(lit(s"connectedComponents: null node id in column $c"))
        .cast("long")).otherwise(col(c).cast("long")).as(c)
    val init = pairs
      .select(col(cols(0)).as("u"), col(cols(1)).as("v"))
      .select(guarded("u"), guarded("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // The upstream pair plan runs once, in the caller's session. The
    // rounds plan in Sessions.withoutAqe: their shuffles are bounded by
    // the counted edge volume and their joins pinned by hint, so AQE's
    // per-stage re-plans (~0.15 s each, ~6 stages/round) buy nothing.
    val noAqe = graft.Sessions.withoutAqe(spark)
    var (edges, n, ck) = materialized(init, noAqe)
    if (Tiers.small(Tiers.CcUnionFind)(n <= Tiers.CcMaxEdges)) {
      // Small-graph tier: the init job already bounded the edge count,
      // so the collect is ≤ gate rows.
      val rows = edges.collect()
      graft.Caches.free(edges)
      return unionFindLabels(spark,
        rows.iterator.map(r => (r.getLong(0), r.getLong(1))))
    }
    // Star shuffles sized in the plan from the MEASURED edge count
    // (~50k edges/partition, capped at the caller's shuffle partitions,
    // unsized when that is not numeric, e.g. a managed session's "auto").
    val k = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toLong)
      .toOption.map(p => math.max(1L, math.min(p, n / 50000L)).toInt)
    var converged = n == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val (next, nn, nck) = materialized(smallStar(largeStar(edges, k), k), noAqe)
      // Sets (both sides are distinct): the (count, xor) fingerprint
      // decides NON-convergence for free; only a MATCH runs the exact
      // exceptAll, once per query (at the fixpoint), not once per round.
      converged = nn == n && nck == ck && next.exceptAll(edges).isEmpty
      // The new cut no longer reaches the old one: free it NOW, not
      // O(log n) edge-set copies later at the caller's release.
      graft.Caches.free(edges)
      edges = next
      n = nn
      ck = nck
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($n edges live) — cycle in the star iteration, please report")
    // Star edges point member→min; the center labels itself. In the
    // caller's session, like the small tier's labels.
    val star = GraftCache.rddLeaf(edges, spark)
    star.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(
        star.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
  }

  /** `dedup_clusters`: duplicate groups of the documents corpus —
    * connected components over the EXACT 3-gram-Jaccard ≥ tau pair
    * graph (the verified [[Dedup.ngramJaccard]] output, so the cluster
    * input is the oracle-checked pair set, not a sketch). One row per
    * clustered document: its component label (= minimum member id),
    * the component size, and whether this doc is the canonical keeper.
    */
  def clusters(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    clustersFrom(spark,
      Dedup.ngramJaccard(spark, dir, tau).select(col("doc_a"), col("doc_b")))

  /** `dedup_clusters_sketch`: the 100 TB clustering recipe end-to-end —
    * MinHash-banded candidates, exact Jaccard only on the survivors,
    * connected components over the verified pairs. The registered
    * [[clusters]] feeds CC the complete prefix-filter pair graph,
    * which is exact but pays the posting join on the whole corpus;
    * this path's candidate volume is the banded collision set (sized
    * linear in n by the adaptive band knobs), so it is the variant a
    * web-scale dedup actually runs. tau = 0.9: at the registered
    * banding (16×4) the LSH miss probability for a J ≥ 0.9 pair is
    * ≈ 3.8·10⁻⁸ (see [[Dedup.minhashVerifiedPairs]]), so the output
    * equals [[clusters]] at the same tau up to that bound — which is
    * why the DuckDB oracle (the exact recursive closure) gates it.
    */
  def clustersSketch(spark: SparkSession, dir: String, tau: Double = 0.9): DataFrame =
    clustersFrom(spark,
      Dedup.minhashVerifiedPairs(spark, dir, tau).select(col("doc_a"), col("doc_b")))

  /** `dedup_semantic`: SEMANTIC duplicate-cluster resolution (r12) —
    * the SemDeDup-class recipe (Abbas et al., 2023: embedding-space
    * groups, keep one representative per group) as a registered,
    * end-to-end query: connected components over the
    * [[Dedup.embedCosine]] cosine ≥ tau pair graph, exactly the
    * clustersFrom("ANY pair frame") contract exercised on the
    * embedding family instead of the shingle family. Output mirrors
    * `dedup_clusters`: (doc_id, cluster_id = component min,
    * cluster_size, is_keeper).
    *
    * Scale shape is inherited from both stages and stays bounded: the
    * pair generator's candidates are ≤ tables·n·blockSize/2 by
    * construction with the emitted edge set ≤ n·maxPairsPerDoc (the
    * one-sided cap), and CC is O(log n) rounds of bounded edge
    * shuffles. tau defaults to the pair operator's registered 0.35 —
    * the reporting threshold; a production SemDeDup prune would raise
    * it (the knob is the caller's) and feed `clustersFrom` the same
    * way. The cap can split a would-be component only by dropping its
    * lowest-cosine edges — acceptable for semantic grouping, where the
    * retained top-k edges are exactly the strongest evidence.
    */
  def clustersEmbed(spark: SparkSession, dir: String, tau: Double = 0.35): DataFrame =
    clustersFrom(spark,
      Dedup.embedCosine(spark, dir, tau).select(col("doc_a"), col("doc_b")))

  /** [[clusters]] over any pre-computed pair frame — the library entry
    * (feed it minhash/simhash/embed candidates to cluster a 100 TB
    * corpus where exact Jaccard is only run on survivors).
    */
  def clustersFrom(spark: SparkSession, pairs: DataFrame): DataFrame =
    decorate(connectedComponents(spark, pairs))

  /** (doc_id, cluster_id) labels → the registered cluster-report shape.
    * Component size as a count-over-window: ONE shuffle on cluster_id
    * (vs groupBy + join back = two label shuffles + a join). Key
    * cardinality = component count, sizes bounded by component sizes —
    * no skew a duplicate-cluster graph can produce beats the upstream
    * pair generator's own worst case.
    */
  private def decorate(labels: DataFrame): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    labels
      .select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(byCluster).as("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Incremental cluster maintenance (r14): absorb a batch's new pairs
    * into a STANDING label table without re-running CC over the full
    * pair graph. A standing corpus's component labels are exactly a
    * star edge set (member → component min), so the merge is:
    *
    *   1. components TOUCHED by the batch = cluster ids of any new
    *      pair's endpoints (one semi join against the labels);
    *   2. re-solve CC only over (touched components' star edges ∪ new
    *      pairs) — correct because components are disjoint: an edge
    *      can only fuse/extend/relabel components it touches;
    *   3. untouched labels pass through verbatim (anti join).
    *
    * The CC WORK is bounded by the batch-touched subgraph (new pairs +
    * the affected components' star edges — at the default small-graph
    * gate that is usually one driver union-find, no star loop); the
    * standing table contributes only two narrow 16-byte-row semi/anti
    * joins, the unavoidable cost of emitting the full merged table
    * (a production pipeline keeping labels as a store would write only
    * the re-solved delta — `subLabels` here — plus a tombstone for the
    * touched components).
    *
    * Inputs: `labels` any (doc_id, cluster_id)-shaped frame under the
    * min-label convention (center rows (c, c) included, as
    * [[clustersFrom]] emits); `newPairs` any two-column pair frame.
    * Output: merged (doc_id, cluster_id), same convention —
    * ClustersSpec gates identity with a full [[connectedComponents]]
    * recompute over arrival sequences.
    */
  def mergeIncrementalLabels(spark: SparkSession, labels: DataFrame,
                             newPairs: DataFrame): DataFrame = {
    val (lab, touchedClusters, subLabels) = mergeParts(spark, labels, newPairs)
    // re-select: a using-column join moves cluster_id first, and the
    // contract (like connectedComponents') is (doc_id, cluster_id).
    // touchedClusters carries its own join-strategy hint (broadcast
    // from the driver tier, shuffle_hash from the distributed one).
    lab.join(touchedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(subLabels)
  }

  /** The DELTA of [[mergeIncrementalLabels]] — only the re-solved
    * labels of batch-touched components (the scaladoc's "a production
    * pipeline keeping labels as a store would write only the re-solved
    * delta"): every member of every touched component re-stated with
    * its merged label, nothing for untouched components. The streaming
    * label store ([[graft.streaming.EventStream.clusterArrivalBatch]])
    * writes exactly this per micro-batch under latest-batch-wins read
    * semantics — no tombstones needed, because a fused component's
    * every member appears in the delta.
    */
  def mergeIncrementalDelta(spark: SparkSession, labels: DataFrame,
                            newPairs: DataFrame): DataFrame =
    mergeParts(spark, labels, newPairs)._3

  /** The shared decomposition of both merge entries: (cached standing
    * labels, touched-cluster ids carrying their join hint, re-solved
    * subgraph labels).
    *
    * DRIVER MERGE TIER (r16, the clserve constant trim): when the
    * batch pair graph fits the small-graph gate — which it is by
    * construction in every arrival/serve regime, where pairs are
    * O(batch collisions) — the whole touched-subgraph resolution runs
    * as THREE bounded jobs instead of the distributed prep's
    * distinct/semi-join/CC-init cascade (~6 extra scheduling rounds
    * measured as ~0.8 s of the sf0.1 serve row): (1) collect the
    * (limit-guarded) pair list; (2) one broadcast semi join fetches
    * the touched docs' labels; (3) one more fetches the affected
    * components' star rows, limit-guarded too — a batch touching a
    * component larger than the gate falls back to the distributed
    * path, so driver memory stays bounded BY the gate exactly as in
    * [[connectedComponents]]' small tier. The union-find itself is the
    * same [[unionFindLabels]] solver, so both tiers share one label
    * convention; ClustersSpec gates tier identity by running its
    * arrival sequences with [[Tiers.MergeDriver]] forced either way,
    * and with the pair probe passing but [[Tiers.MergeStar]] forced to
    * fall back.
    * The standing label table is still never collected — only
    * batch-proportional slices of it.
    */
  private def mergeParts(spark: SparkSession, labels: DataFrame,
                         newPairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val lc = labels.columns
    require(lc.length == 2, s"label table needs 2 columns, got ${lc.mkString(",")}")
    val pc = newPairs.columns
    val lab = labels.select(col(lc(0)).as("doc_id"), col(lc(1)).as("cluster_id"))
      .transform(graft.Caches.scoped(_)) // read by both joins below
    val pairs = newPairs
      .select(col(pc(0)).cast("long").as("u"), col(pc(1)).cast("long").as("v"))
      .transform(graft.Caches.scoped(_)) // endpoints + subgraph union
    val probe = Tiers.collectUpTo(Tiers.MergeDriver, pairs, Tiers.MergeMaxEdges)
    if (probe.exists(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))) {
      val pairEdges = probe.get.map(r => (r.getLong(0), r.getLong(1)))
      val touchedIds = pairEdges.iterator
        .flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
      val touchedLab = lab
        .join(broadcast(longColDF(spark, "doc_id", touchedIds)),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
        .collect() // bounded: one label row per touched doc
      val clusterIds = touchedLab.map(_.getLong(1)).distinct.toSeq
      val clusterDF = longColDF(spark, "cluster_id", clusterIds)
      val starProbe = Tiers.collectUpTo(Tiers.MergeStar, lab
          .join(broadcast(clusterDF), Seq("cluster_id"), "left_semi")
          .select(col("doc_id").cast("long"), col("cluster_id").cast("long")),
        Tiers.MergeMaxEdges)
      if (starProbe.isDefined) {
        val subLabels = unionFindLabels(spark,
          starProbe.get.iterator.map(r => (r.getLong(0), r.getLong(1))) ++ pairEdges.iterator)
        return (lab, broadcast(clusterDF), subLabels)
      }
      // an affected component outgrew the gate: fall through — the
      // distributed path recomputes touched/affected from the cached
      // inputs (the probe collects above are batch-bounded throwaways)
    }
    // One read of the pairs leaf, not a self-union: Spark re-instances
    // the second copy of a cached relation without remapping its output
    // ordering, and a plan holding that copy fails to canonicalize.
    val touched = pairs.select(explode(array(col("u"), col("v"))).as("doc_id")).distinct()
    val touchedClusters = lab
      .join(touched.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
      .transform(graft.Caches.scoped(_)) // semi + anti below
    val affectedStar = lab
      .join(touchedClusters.hint("shuffle_hash"), Seq("cluster_id"), "left_semi")
    val subLabels = connectedComponents(spark,
      affectedStar.select(col("doc_id").as("u"), col("cluster_id").as("v"))
        .unionByName(pairs))
    (lab, touchedClusters.hint("shuffle_hash"), subLabels)
  }

  /** NON-KEEPER ids of a pair graph's components (everything but each
    * component's min id) — the "drop list" the dedup loops consume.
    * Driver tier below the gate (one limit-guarded collect + the shared
    * union-find, returned broadcast-hinted — a micro-batch's verified
    * pair set is O(batch collisions) by construction, and the r16
    * vecdedup decomposition measured the full clustersFrom path at
    * ~4 s of scheduling rounds for a 1,875-pair graph); the
    * distributed CC path above it, shuffle-hash-hinted.
    */
  private[graft] def clusterLosers(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val probe = Tiers.collectUpTo(Tiers.LosersDriver, pairs, Tiers.LosersMaxPairs)
    if (probe.exists(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1))))
      return broadcast(
        unionFindLabels(spark,
          probe.get.iterator.map(r => (r.getLong(0), r.getLong(1))))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id")))
    connectedComponents(spark, pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
      .hint("shuffle_hash")
  }

  /** Single-long-column driver frame for the broadcast semi joins of
    * the driver merge tier (bounded by the merge gate). */
  private def longColDF(spark: SparkSession, name: String,
                        ids: Seq[Long]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(name,
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(org.apache.spark.sql.Row(_)), 1), schema)
  }

  /** `dedup_clusters_incremental`: the arrival-shaped cluster query —
    * standing labels from the store side (content-addressed split,
    * same batchBucket convention as [[Dedup.incremental]]), then
    * [[mergeIncrementalLabels]] absorbs every pair the arriving batch
    * touches. The merged output must equal a full recompute, so the
    * registered query is gated by the SAME recursive-CTE DuckDB oracle
    * as `dedup_clusters` — the merge algebra is oracle-checked end to
    * end every round, not just spec-sampled.
    *
    * The pair graph is computed once and split by bucket (testdata
    * ships no materialized label store — the same honesty note as
    * [[Dedup.incremental]]: a production pipeline reads `labels` from
    * the standing store and computes only the batch-touching pairs,
    * which is O(batch postings) under the prefix-filter join).
    */
  def clustersIncremental(spark: SparkSession, dir: String, tau: Double = 0.8,
                          batchBucket: Int = 80): DataFrame = {
    val pairs = graft.Caches.scoped(
      Dedup.ngramJaccard(spark, dir, tau).select(col("doc_a"), col("doc_b")))
    val storePairs = pairs.filter(
      Curation.splitBucket(col("doc_a")) < batchBucket &&
        Curation.splitBucket(col("doc_b")) < batchBucket)
    val batchPairs = pairs.filter(
      Curation.splitBucket(col("doc_a")) >= batchBucket ||
        Curation.splitBucket(col("doc_b")) >= batchBucket)
    decorate(mergeIncrementalLabels(spark,
      connectedComponents(spark, storePairs), batchPairs))
  }

  /** On-disk standing label + candidate-index store for the incremental
    * cluster path (r14 verdict item 1: the [[clustersIncremental]]
    * registered row re-derived the FULL pair graph and re-ran CC over
    * the store side on every call — measured 8.68 s at sf10 against
    * the 3.59 s full recompute it is supposed to undercut). A
    * [[Stores.derived]] store keyed by the documents table's listing
    * stamp, tau and the batch bucket (the same key as
    * [[Dedup.buildIncrementalStore]]; reused only once all three tables
    * are committed), holding the three tables a production pipeline
    * keeps between arrivals:
    *   - `labels/`   — the standing corpus's resolved (doc_id,
    *     cluster_id) star table: CC over the store-side exact pair
    *     graph runs at BUILD time, never at serve time;
    *   - `postings/` — the store docs' prefix-filter postings
    *     (doc_id, n, p, s) — the exact-candidate index the batch joins
    *     against, complete for J ≥ tau by the prefix theorem;
    *   - `shingles/` — the store docs' sorted shingle-hash arrays, the
    *     verification side fetched O(collisions) by semi join.
    * Build-time caches release via [[graft.Caches.withScope]] so a
    * shared session keeps its own scoped caches.
    */
  def buildIncrementalClusterStore(spark: SparkSession, dir: String,
                                   tau: Double = 0.8,
                                   batchBucket: Int = 80): String =
    Stores.derived(spark, "clstore", dir, "documents", s"${tau}_$batchBucket")(
        "labels", "postings", "shingles") { path =>
      graft.Caches.withScope {
        Stores.commitTo(Dedup.shingledHashed(spark, dir)
          .filter(Curation.splitBucket(col("doc_id")) < batchBucket), s"$path/shingles")
        val storeSh = Stores.read(spark, s"$path/shingles")
        Stores.commitTo(Dedup.prefixPostings(storeSh, tau), s"$path/postings")
        Stores.commitTo(connectedComponents(spark,
          Dedup.ngramJaccardFrom(storeSh, tau).select(col("doc_a"), col("doc_b"))),
          s"$path/labels")
      }
    }

  /** `dedup_clusters_incremental_serve`: [[clustersIncremental]]'s
    * store-resident twin — identical merged output, gated by the same
    * recursive-CTE closure oracle, but the standing side comes from
    * the materialized store: labels are READ (no store-side CC),
    * batch↔store candidates come from the posting index (no store-side
    * shingling and no full-corpus prefix self-join), and verification
    * fetches only COLLIDING store docs' shingle arrays by semi join.
    * Per-arrival cost: O(batch) shingling + collision-bounded posting
    * joins + CC on the batch-touched subgraph + the narrow label-store
    * merge joins — never O(store) compute. These are the economics the
    * incremental row claims; the streaming twin with the same shape is
    * [[graft.streaming.EventStream.arrivalClusters]].
    */
  def clustersIncrementalServe(spark: SparkSession, dir: String,
                               tau: Double = 0.8,
                               batchBucket: Int = 80): DataFrame = {
    val path = buildIncrementalClusterStore(spark, dir, tau, batchBucket)
    val batchPairs = serveBatchPairs(spark, dir, tau, batchBucket, path)
    decorate(mergeIncrementalLabels(spark,
      Stores.read(spark, s"$path/labels"), batchPairs))
  }

  /** The serve's batch-pair stage as a LAZY frame (factored out so
    * PlanSpec can audit the store-read plan shape — the merge phase
    * materializes eagerly and hides these scans behind a LogicalRDD).
    */
  private[graft] def serveBatchPairs(spark: SparkSession, dir: String,
                                     tau: Double, batchBucket: Int,
                                     path: String): DataFrame = {
    val batchSh = Dedup.shingledHashed(spark, dir)
      .filter(Curation.splitBucket(col("doc_id")) >= batchBucket)
      .transform(graft.Caches.scoped(_)) // postings + verification
    // SMALL-BATCH BROADCAST TIER (r16, the serve constant trim): the
    // batch size is known for FREE from the parquet footers (row count
    // × the content-addressed batch fraction — no job), so below the
    // gate every batch-or-candidate-sided join pins broadcast instead
    // of shuffle_hash: the three candidate/fetch joins and the two
    // verification joins collapse from two-exchange shuffles of tiny
    // posting tables to single-stage streams over the store side —
    // which also removes the one O(store) exchange this path had (the
    // shingle-fetch semi join shuffled the whole store shingle table
    // to meet the candidate ids; broadcasting the collision-bounded id
    // set streams the store scan instead). Above the gate the original
    // hint-pinned shuffle plan is unchanged.
    //
    // The gate bounds BYTES, not just docs (r17, r16 advice): what
    // broadcasts are posting and shingle-ARRAY frames whose size is
    // docs × shingle width, so a doc-count gate alone admits hundreds
    // of MB on long documents. The batch's estimated in-memory bytes
    // come from the same footers — on-disk table bytes × the batch
    // fraction, × 4 for parquet-compression + array-layout expansion
    // (shingle arrays ≈ 8 B/word ≈ 1.3 × raw text, raw ≈ 2.5-3 × the
    // compressed file) — and must clear a 64 MB broadcast budget.
    val small = Tiers.small(Tiers.ServeBatch) {
      val nDocs = graft.sources.Tables.parquetRowCount(spark, dir, "documents")
      val estBatchBytes = graft.sources.Tables
        .parquetByteSize(spark, dir, "documents") *
        (100 - batchBucket) / 100 * 4
      nDocs * (100 - batchBucket) / 100 <= Tiers.ServeBatchMaxDocs &&
        estBatchBytes <= Tiers.ServeBatchMaxBytes
    }
    def batchSide(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    val batchPre = Dedup.prefixPostings(batchSh, tau)
      .transform(graft.Caches.scoped(_)) // cross + self candidate joins
    val storePre = Stores.read(spark, s"$path/postings")
    // CROSS candidates (batch × store): the sides are disjoint by
    // bucket, so no id-order predicate — completeness only needs the
    // smallest common hash inside BOTH prefixes, which the prefix
    // theorem gives regardless of id order. The STORE posting table
    // never broadcasts at any scale — only the gated batch side does.
    val crossCand = storePre.as("b")
      .join(batchSide(batchPre.as("a")), Dedup.ppjoinCond(tau))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val selfCand = batchPre.as("a")
      .join(batchSide(batchPre.as("b")),
        Dedup.ppjoinCond(tau) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cand = crossCand.unionByName(selfCand)
      .transform(graft.Caches.scoped(_)) // semi-join prune + verification
    val storeShNeeded = Stores.read(spark, s"$path/shingles")
      .join(batchSide(cand.select(col("doc_b").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .transform(graft.Caches.scoped(_)) // db-side verify join input
    // doc_a is always a batch doc (cross puts the batch on "a"; self is
    // batch×batch), so the da side joins the GATE-bounded batch arrays
    // alone and may broadcast below the gate. doc_b mixes batch (self)
    // and fetched store docs (cross) — that union is COLLISION-bounded,
    // not gate-bounded, so it never broadcasts (r16 advice): its verify
    // join shuffles two already-bounded frames instead of betting the
    // driver on a collision estimate.
    Dedup.verifyJaccardSides(batchSh, small,
        batchSh.unionByName(storeShNeeded), false, cand, tau)
      .select(col("doc_a"), col("doc_b"))
  }

  /** `dedup_prune`: the end-to-end corpus deduplication — documents
    * minus every clustered non-keeper (transitive near-dup closure at
    * tau, min-id survivor). This is the frame a training pipeline
    * actually trains on; `dedup_clusters` is its audit view. The text
    * column is dropped from the OUTPUT (id + metadata identify the
    * kept row; re-join to fetch text) so the result shuffle carries no
    * payloads — the anti-join itself streams the corpus once against a
    * broadcast-or-hashed id set.
    */
  def prune(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame = {
    // clusterLosers, not clusters().filter(!is_keeper) (r19): the prune
    // only consumes the NON-KEEPER id set — Catalyst already pruned the
    // decorate window out of the r18 plan, but the drop side still built
    // a shuffled hash table, forcing the CORPUS side through its own
    // exchange (plans/r18/dedup_prune nodes 3/7). clusterLosers' driver
    // tier (the same size-gated union-find the CC small tier runs)
    // returns the id set BROADCAST below the gate, so the anti join
    // streams the corpus scan with zero exchange — guide §3.1's
    // strategy order. Above the gate nothing changes: distributed CC +
    // the r18 shuffle_hash pin. BUILD-SIZE ASSUMPTION (r18 ADVICE): the
    // build/broadcast is the non-keeper id set — 8 B/dropped doc,
    // scaling with the duplicate rate (and bounded by the driver-tier
    // gate on the broadcast branch); see the same note at
    // Pipeline.cleanSurvivors' anti join for the arithmetic.
    val drop = clusterLosers(spark,
      Dedup.ngramJaccard(spark, dir, tau).select(col("doc_a"), col("doc_b")))
    val docs = graft.sources.Tables.documents(spark, dir)
    // Project the metadata columns that EXIST: the full testdata carries
    // (lang, source, n_chars) and the oracle gate checks all of them;
    // the ScaleData perf ladder keeps only (doc_id, text), and the prune
    // semantics don't depend on the metadata projection.
    val meta = Seq("lang", "source", "n_chars").filter(docs.columns.contains)
    docs.select(("doc_id" +: meta).map(col): _*)
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }
}
