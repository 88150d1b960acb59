package graft

import graft.operators.{Clusters, Dedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Connected-component duplicate clustering (operators/Clusters.scala):
  * the star-iteration labels are checked against an independent
  * union-find on crafted graph shapes, on seeded random graphs, and on
  * the registered queries' own pair input at sf0.001.
  */
class ClustersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  /** Independent ground truth: textbook union-find with path halving. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        parent(r) = parent.getOrElse(parent(r), parent(r))
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // Root by construction is NOT guaranteed minimal under arbitrary
    // union order — normalize to the component min explicitly.
    val byRoot = parent.keys.toSeq.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }.toMap
  }

  /** Large forces the star loop (the scale path) — the structural
    * tests must keep exercising it now that the gate routes every
    * test-sized graph to the driver union-find tier.
    */
  private def ccLabels(edges: Seq[(Long, Long)], side: Tiers.Side = Tiers.Large,
                       release: Boolean = true): Map[Long, Long] = {
    import spark.implicits._
    val (labels, _) = Tiers.forcing(Tiers.CcUnionFind -> side) {
      Clusters.connectedComponents(spark, edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    if (release) graft.Caches.release()
    labels
  }

  test("star iteration matches union-find on crafted graph shapes") {
    val shapes = Seq(
      "chain" -> (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // worst case for label propagation: long path presented in an
      // order where min labels must travel the whole diameter
      "reversed chain" -> (1L to 9L).sliding(2).map(s => (s(1), s(0))).toSeq.reverse,
      "cycle" -> ((1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq :+ (6L -> 1L)),
      "star" -> (2L to 8L).map(5L -> _),
      "two components" -> Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L)),
      "self loops + duplicates" -> Seq((4L, 4L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 7L)),
      "non-contiguous ids" -> Seq((1000000007L, 3L), (3L, 999L), (42L, 1000000007L))
    )
    shapes.foreach { case (name, edges) =>
      val expected = unionFindLabels(edges.filter(e => e._1 != e._2))
      assert(ccLabels(edges) == expected, s"shape '$name'")
    }
  }

  test("star iteration matches union-find on seeded random graphs") {
    val rnd = new scala.util.Random(9)
    (0 until 5).foreach { trial =>
      val n = 40 + trial * 30
      // sparse (m ~ 0.8n) keeps many mid-size components with real
      // transitive chains instead of one giant blob
      val edges = Seq.fill((n * 0.8).toInt)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      assert(ccLabels(edges) == unionFindLabels(edges), s"trial $trial n=$n")
    }
  }

  test("small-graph tier equals the star loop on both crafted and random graphs") {
    // The r13 size gate must be a cost change only: below the gate the
    // driver union-find tier, above it (forced Large) the star
    // loop — identical labels on every shape either path sees.
    val rnd = new scala.util.Random(31)
    val cases: Seq[Seq[(Long, Long)]] =
      Seq((1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq,
        (2L to 8L).map(5L -> _),
        Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))) ++
        (0 until 3).map(_ => Seq.fill(80)(
          (rnd.nextInt(70).toLong, rnd.nextInt(70).toLong)).filter(e => e._1 != e._2))
    cases.zipWithIndex.foreach { case (edges, i) =>
      assert(ccLabels(edges, Tiers.Small) == ccLabels(edges, Tiers.Large),
        s"case $i: tiers disagree")
    }
  }

  test("small-graph gate is plan-pinned: local leaf below, star output above") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, UnionExec}
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("u", "v")
    // the plans that ran, walked through AQE stages and cached relations
    def ran(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      PlanSpec.deepNodes(df.queryExecution.executedPlan)
    }
    // The small tier's leaf is an RDD scan (r14: parallelize, NOT a
    // LocalTableScan — a LocalRelation would embed every label in the
    // plan and re-ship them inside each downstream task closure).
    val small = ran(Clusters.connectedComponents(spark, edges))
    assert(small.exists(_.isInstanceOf[RDDScanExec]) &&
      !small.exists(_.isInstanceOf[LocalTableScanExec]) &&
      !small.exists(_.isInstanceOf[UnionExec]),
      "below the gate the labels must come from the driver union-find " +
        "(parallelized RDD leaf), not the star loop or a LocalRelation")
    // forced Large runs the distributed star loop: the member∪center
    // union over the last round's checkpointed leaf
    val (star, _) = Tiers.forcing(Tiers.CcUnionFind -> Tiers.Large)(
      ran(Clusters.connectedComponents(spark, edges)))
    assert(star.exists(_.isInstanceOf[UnionExec]) && star.exists(_.isInstanceOf[RDDScanExec]),
      "forced Large must run the distributed star loop (member∪center union plan)")
    graft.Caches.release()
  }

  test("star loop leaves the caller's conf alone while another thread plans") {
    // The rounds plan in Sessions.withoutAqe: a second thread polling
    // the caller's session during a multi-round loop must always read
    // AQE on and plan adaptively.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val chain = (1L to 3000L).sliding(2).map(s => (s(0), s(1))).toSeq
    @volatile var looping = true
    val flags = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val polls = new java.util.concurrent.atomic.AtomicInteger()
    val poller = new Thread(() => while (looping) {
      flags.add(spark.conf.get("spark.sql.adaptive.enabled"))
      roots.add(spark.range(0, 100).groupBy((col("id") % 3).as("k")).count()
        .queryExecution.executedPlan.getClass.getSimpleName)
      polls.incrementAndGet()
    })
    poller.start()
    val labels = try ccLabels(chain) finally { looping = false; poller.join() }
    assert(labels == unionFindLabels(chain))
    assert(polls.get > 10, s"only ${polls.get} polls ran during the loop")
    assert(flags.asScala == Set("true"), s"the caller's session read AQE as $flags during the loop")
    assert(roots.asScala == Set(classOf[AdaptiveSparkPlanExec].getSimpleName),
      s"a query planned on the caller's session during the loop had root $roots")
  }

  test("a 20,000-node path converges with one round pinned at a time") {
    // Each round is cut to a local checkpoint, so round k's tasks carry
    // no earlier round and run on the default thread stack, and a
    // superseded round is freed as soon as the next one exists.
    val sc = spark.sparkContext
    graft.Caches.release()
    val before = sc.getPersistentRDDs.size
    val path = (1L until 20000L).map(i => (i, i + 1))
    @volatile var looping = true
    val pinned = new java.util.concurrent.atomic.AtomicInteger()
    val sampler = new Thread(() => while (looping) {
      pinned.accumulateAndGet(sc.getPersistentRDDs.size - before, (a, b) => math.max(a, b))
      Thread.sleep(5)
    })
    sampler.start()
    val labels = try ccLabels(path, release = false) finally { looping = false; sampler.join() }
    assert(labels == unionFindLabels(path))
    assert(pinned.get <= 2, s"${pinned.get} persisted RDDs at once during the loop")
    graft.Caches.release()
    assert(sc.getPersistentRDDs.size == before, "the loop left persisted RDDs after release")
  }

  test("dedup_clusters agrees with union-find over its own pair input") {
    val pairs = Dedup.ngramJaccard(spark, dir, tau = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "testdata should contain near-dup pairs")
    val expected = unionFindLabels(pairs)
    val got = Clusters.clusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    graft.Caches.release()
    assert(got.map(r => r._1 -> r._2).toMap == expected)
    // keeper flag and size audit against the label map itself
    val sizes = expected.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    got.foreach { case (doc, cluster, size, keeper) =>
      assert(size == sizes(cluster))
      assert(keeper == (doc == cluster))
    }
    // output is per-doc unique and covers exactly the clustered nodes
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("dedup_semantic agrees with union-find over the embed-cosine pair graph") {
    // the registered semantic-clusters query: CC over the embedding
    // near-dup pairs must equal independent union-find on exactly the
    // pair set the operator emits, with the same keeper/size contract
    val pairs = Dedup.embedCosine(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.release()
    assert(pairs.nonEmpty, "testdata should contain embed-cosine pairs")
    val expected = unionFindLabels(pairs)
    val got = Clusters.clustersEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    graft.Caches.release()
    assert(got.map(r => r._1 -> r._2).toMap == expected)
    val sizes = expected.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    got.foreach { case (doc, cluster, size, keeper) =>
      assert(size == sizes(cluster))
      assert(keeper == (doc == cluster))
    }
  }

  test("dedup_prune = documents minus non-keeper cluster members") {
    val all = graft.sources.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nonKeepers = Clusters.clusters(spark, dir)
      .filter(!col("is_keeper")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    graft.Caches.release()
    val kept = Clusters.prune(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    graft.Caches.release()
    assert(kept == all -- nonKeepers)
    assert(nonKeepers.nonEmpty, "prune should actually drop something at sf0.001")
  }

  test("sketch-candidate clusters equal exact-pair clusters at tau=0.9") {
    // dedup_clusters_sketch's whole claim: MinHash banding + exact
    // verification on survivors reaches the SAME clusters as the
    // complete prefix-filter path (up to the 16x4 banding's ~4e-8 miss
    // bound). Checked end-to-end on both small corpora; the DuckDB
    // recursive-closure oracle re-checks it at sf0.01 every round.
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val exact = Clusters.clusters(spark, d, tau = 0.9).collect().map(_.toString).sorted
      graft.Caches.release()
      val sketch = Clusters.clustersSketch(spark, d, tau = 0.9)
        .collect().map(_.toString).sorted
      graft.Caches.release()
      assert(exact.nonEmpty, s"$d: no clusters at tau=0.9")
      assert(sketch.sameElements(exact), s"$d: sketch clusters diverge from exact")
    }
  }

  test("minhash-verified pairs equal the exact pair graph at tau=0.9") {
    val exact = Dedup.ngramJaccard(spark, "/root/testdata/sf0.01", tau = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.release()
    val sketch = Dedup.minhashVerifiedPairs(spark, "/root/testdata/sf0.01")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.release()
    assert(exact.nonEmpty)
    // Exact verification can only FILTER candidates, so sketch ⊆ exact
    // always; equality is the measured-recall claim.
    assert(sketch == exact,
      s"missed ${(exact -- sketch).size}, spurious ${(sketch -- exact).size}")
  }

  test("clustersFrom clusters an arbitrary pair frame (library entry)") {
    import spark.implicits._
    val pairs = Seq((100L, 200L), (200L, 300L), (7L, 9L)).toDF("a", "b")
    val got = Clusters.clustersFrom(spark, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    graft.Caches.release()
    assert(got == Set(
      (100L, 100L, 3L, true), (200L, 100L, 3L, false), (300L, 100L, 3L, false),
      (7L, 7L, 2L, true), (9L, 7L, 2L, false)))
  }

  /** Run [[Clusters.mergeIncrementalLabels]] over an arrival sequence:
    * standing labels start from the first batch's CC, then every later
    * batch is absorbed through the merge; returns the final label map.
    */
  private def mergeSequence(batches: Seq[Seq[(Long, Long)]],
                            tier: Seq[(String, Tiers.Side)]): Map[Long, Long] = {
    import spark.implicits._
    val (out, consulted) = Tiers.forcing(tier: _*) {
      var labels = Clusters.connectedComponents(spark, batches.head.toDF("u", "v"))
      for (b <- batches.tail)
        labels = Clusters.mergeIncrementalLabels(spark, labels, b.toDF("u", "v"))
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(batches.size < 2 || tier.forall(g => consulted(g._1)), s"$tier consulted only $consulted")
    graft.Caches.release()
    out
  }

  /** The merge's three paths, which must produce identical labels: the
    * driver tier, the distributed path, and the driver pair probe
    * FALLING BACK to the distributed path once a component's star
    * outgrows the gate. */
  private val mergeTiers = Seq(
    Seq(Tiers.MergeDriver -> Tiers.Small, Tiers.MergeStar -> Tiers.Small),
    Seq(Tiers.MergeDriver -> Tiers.Large),
    Seq(Tiers.MergeDriver -> Tiers.Small, Tiers.MergeStar -> Tiers.Large))

  test("incremental merge equals full recompute on crafted arrival shapes") {
    val shapes = Seq(
      // new pair FUSES two standing components (min label must win)
      "fuse" -> Seq(Seq((1L, 2L), (10L, 11L)), Seq((2L, 10L))),
      // arriving node with a SMALLER id relabels the whole component
      "new min" -> Seq(Seq((5L, 6L), (6L, 7L)), Seq((0L, 7L))),
      // edge inside an existing component — a no-op that must not
      // disturb the labels
      "interior" -> Seq(Seq((1L, 2L), (2L, 3L)), Seq((1L, 3L))),
      // brand-new component, disjoint from everything standing
      "fresh" -> Seq(Seq((1L, 2L)), Seq((100L, 200L))),
      // chain built one edge per arrival — min must propagate across
      // every merge round
      "chain arrivals" -> (1L to 6L).sliding(2).map(s => Seq((s(1), s(0)))).toSeq)
    for ((name, batches) <- shapes; tier <- mergeTiers) {
      val got = mergeSequence(batches, tier)
      val want = unionFindLabels(batches.flatten)
      assert(got == want, s"$name ($tier): got $got want $want")
    }
  }

  test("incremental merge equals full recompute on seeded random arrival sequences") {
    val rnd = new scala.util.Random(14)
    for (trial <- 1 to 3; tier <- mergeTiers) {
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val batches = edges.grouped(edges.size / 3 + 1).toSeq
      val got = mergeSequence(batches, tier)
      val want = unionFindLabels(edges)
      assert(got == want, s"trial $trial ($tier) diverged")
    }
  }

  test("dedup_clusters_incremental equals the full dedup_clusters recompute") {
    val full = Clusters.clusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    graft.Caches.release()
    val inc = Clusters.clustersIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    graft.Caches.release()
    assert(inc == full,
      s"missed=${(full -- inc).size} extra=${(inc -- full).size}")
    // the split must actually exercise the merge: some pairs on each side
    val pairs = graft.operators.Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.release()
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.map("%02x".format(_)).mkString
      (hex(0).toLong * 65536 + hex(1).toLong * 256 + hex(2).toLong) % 100
    }
    val store = pairs.count { case (a, b) => bucket(a) < 80 && bucket(b) < 80 }
    assert(store > 0 && store < pairs.length,
      s"split degenerate: $store of ${pairs.length} pairs store-side")
  }
}
