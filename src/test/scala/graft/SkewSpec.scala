package graft

import graft.functions.dsum
import graft.operators.Skew
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  test("salted two-phase aggregation equals the direct groupBy bit-for-bit") {
    val ev = Tables.events(spark, dir)
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
        max(col("value")).as("mx"))
    val salted = Skew.saltedAgg(ev, Seq(col("event_type")), buckets = 8,
      partials = Seq(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("total_d"),
        max(col("value")).as("mx")),
      merges = Seq(sum(col("n")).as("n"), sum(col("total_d")).cast("double").as("total"),
        max(col("mx")).as("mx")))
    assert(salted.count() == direct.count())
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("phase-1 spreads a hot key across salts (no single-reducer key)") {
    import spark.implicits._
    // one pathological key with 10k rows + a cold key
    val hot = (1 to 10000).map(i => ("hot", i.toDouble)) ++ Seq(("cold", 1.0))
    val df = hot.toDF("k", "v")
    val phase1Groups = df.withColumn("__salt",
        pmod(hash(df.columns.map(col): _*), lit(8)))
      .groupBy(col("k"), col("__salt")).count()
      .filter(col("k") === "hot")
    val n = phase1Groups.count()
    assert(n >= 4, s"hot key only split into $n sub-groups")
    // no sub-group carries more than half the hot rows
    assert(phase1Groups.agg(max(col("count"))).head.getLong(0) <= 6000)
  }

  test("salted replicate join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // Zipf-ish posting shape: one word in every doc, a mid word in
    // some, plus per-doc unique words — fact side (doc, word), dim
    // side one row per word.
    val facts = ((1 to 5000).map(i => (i.toLong, "the")) ++
      (1 to 500).map(i => (i.toLong, s"mid${i % 7}")) ++
      (1 to 5000).map(i => (i.toLong, s"uniq$i"))).toDF("doc_id", "word")
    val dim = facts.groupBy("word").agg(count(lit(1)).as("df"))
    val plain = facts.join(dim, Seq("word"))
    val salted = Skew.saltedReplicateJoin(facts, dim, "word", fanout = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("word", "doc_id", "df")
      .exceptAll(plain.select("word", "doc_id", "df")).isEmpty)
    // plan shape: hint-pinned shuffle-hash, never a broadcast (the dim
    // side is replicated precisely because it is assumed unbroadcastable)
    val s = salted.queryExecution.executedPlan.toString
    assert(s.contains("ShuffledHashJoin"), s"salted join must shuffle-hash:\n$s")
    assert(!s.contains("BroadcastExchange"), "salted join broadcast its dimension")
    // the hot key's fact rows actually spread: every salt bucket holds
    // some of "the", none holds more than half
    val spread = facts.withColumn("__salt",
        pmod(hash(facts.columns.map(col): _*), lit(8)))
      .filter(col("word") === "the").groupBy("__salt").count()
    assert(spread.count() >= 6, "hot word collapsed into few salt buckets")
    assert(spread.agg(max(col("count"))).head.getLong(0) <= 2500)
  }

  test("text_keywords: salted path and broadcast path produce identical rows") {
    import graft.operators.TextAnalysis
    val d01 = "/root/testdata/sf0.01"
    def keywords(side: Tiers.Side) = try Tiers.forcing(Tiers.KeywordsVocab -> side)(
      TextAnalysis.keywords(spark, d01).collect())._1 finally Caches.release()
    val viaBroadcast = keywords(Tiers.Small)
    val viaSalt = keywords(Tiers.Large)
    assert(viaSalt.length == viaBroadcast.length && viaSalt.length > 0)
    assert(viaSalt.map(_.toString).sorted.sameElements(
      viaBroadcast.map(_.toString).sorted))
  }

  test("corpus_contamination: Zipfian hot-shingle corpus, both df-gate branches identical, salted plan pinned") {
    import graft.operators.Curation
    import spark.implicits._
    // Stress corpus: 3000 docs, a HOT 3-word phrase in ~30% of them
    // (one shingle whose posting list covers a third of the corpus —
    // the Zipf head that pins a reducer under plain hash partitioning),
    // unique filler words everywhere else. Contamination is planted by
    // twinning: doc i+N carries doc i's exact text, so any test-split
    // doc whose twin landed in train is a true containment-1.0 hit.
    val n = 1500
    def text(i: Int): String = {
      val filler = s"w${i}a w${i}b w${i}c w${i}d w${i}e"
      if (i % 10 < 3) s"hot alpha beta $filler" else filler
    }
    val docs = ((0 until n).map(i => (i.toLong, text(i))) ++
      (0 until n).map(i => ((i + n).toLong, text(i)))).toDF("doc_id", "text")

    // The gates' own rule: vocab ≈ 15k shingles → broadcast branch.
    val viaBroadcast = Curation.contaminationFrom(docs, 2L * n, minContain = 0.3)
    val b = viaBroadcast.collect()
    val bPlan = viaBroadcast.queryExecution.executedPlan.toString
    Caches.release()
    // Forced Large takes the web-scale branch: the df attach must be
    // the salted replicate join (salt visible in the join keys), never
    // a broadcast of the dictionary. (Other broadcasts — the test-
    // vocabulary pushdown, the test-array fetch — are legitimately
    // small-side and stay.)
    val (viaSalt, _) = Tiers.forcing(Tiers.ContaminationDf -> Tiers.Large)(
      Curation.contaminationFrom(docs, 2L * n, minContain = 0.3))
    val s = viaSalt.collect()
    val sPlan = viaSalt.queryExecution.executedPlan.toString
    Caches.release()

    assert(b.length > 10, s"stress corpus planted no contamination (got ${b.length})")
    assert(b.forall(_.getDouble(2) >= 0.3))
    assert(s.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "salted and broadcast df-gate branches disagree")
    assert(!bPlan.contains("__salt"), "default gate took the salted branch on a tiny vocab")
    assert(sPlan.contains("__salt") && sPlan.contains("ShuffledHashJoin"),
      s"forced-salted branch did not materialize the salted shuffle-hash df join:\n$sPlan")
  }

  test("q17 median survives pathological value skew without a row sort") {
    import graft.operators.Relational
    import spark.implicits._
    // Two distributions the r5 verdict flagged as the residual corner:
    //  - "massone": 99% of the group at a single value (constant-price
    //    SKUs / zero-valued events) — ~n rows collapsing to one
    //    histogram entry.
    //  - "squeeze": one huge outlier plus ~n all-distinct values — the
    //    documented worst case, an O(distinct) cumulative pass that must
    //    still be exact.
    val rows: Seq[(String, Double, Long)] =
      (1 to 99000).map(i => ("massone", 5.0, i.toLong)) ++
      (1 to 1000).map(i => ("massone", 5.0 + i, 99000L + i)) ++
      (1 to 9999).map(i => ("squeeze", i / 1e7, 200000L + i)) ++
      Seq(("squeeze", 1e12, 210000L))
    val ev = rows.toDF("event_type", "value", "event_id")
    val out = Relational.medianDisc(ev)
    // exactness vs the definition: value at rank (n+1)/2 under sorted order
    def expected(g: String): Double = {
      val vs = rows.collect { case (`g`, v, _) => v }.sorted
      vs(((vs.size + 1) / 2) - 1)
    }
    val got = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("massone") == expected("massone")) // 5.0
    assert(got("squeeze") == expected("squeeze"))
    // plan shape: every window runs over aggregated counts — no window
    // (and in particular no row_number) ever sees raw rows, so a skewed
    // group can never collapse the selection into one O(n) sorting task
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def aggBelow(p: SparkPlan): Boolean =
      PlanSpec.deepNodes(p).exists(_.isInstanceOf[BaseAggregateExec])
    val windows = PlanSpec.deepNodes(Relational.medianDisc(ev).queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "medianDisc planned no WindowExec: the check saw nothing")
    val raw = windows.filter(w => !aggBelow(w.child))
    assert(raw.isEmpty, s"${raw.size} window(s) run over un-aggregated rows")
  }

  test("vector dedup under hot-cell skew: full-probe identity + dedup absorbs duplicate mass") {
    // Cell-occupancy skew is the regime the vecdedup loop's
    // "bounded by probes × cell occupancy" argument is weakest in
    // (r15 verdict item 6). Two skew shapes, one crafted corpus:
    //   - DUPLICATE skew (cos ≥ τ against the cluster head): the hot
    //     mass collapses to its first arrival — first-arrival-wins
    //     dedup IS the occupancy mitigation, the accepted hot cell
    //     stays O(distinct);
    //   - DISTINCT-cluster skew (pairwise cos < τ, same cell): every
    //     member is genuinely new and must be ACCEPTED — occupancy
    //     honestly grows with the distinct mass (BASELINE measures
    //     that regime's cost curve; correctness must hold regardless).
    import spark.implicits._
    val store = tmpDir("graft_skew_vdd")
    val tau = 0.95
    def unit(v: Seq[Float]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def hotDup(i: Int): Seq[Float] = { // cos ≈ 0.985 vs e0: duplicate tier
      val noise = Seq.tabulate(4)(j => (((i * 31 + j * 7) % 11) - 5) / 40f)
      unit(Seq(1f) ++ noise.map(_ * 0.17f) ++ Seq.fill(59)(0f))
    }
    def hotDistinct(i: Int): Seq[Float] = { // pairwise cos ≈ 0.85-0.92: accepted
      val d = 1 + (i % 8)
      unit(Seq(2.2f) ++ Seq.fill(63)(0f).updated(d - 1, 1f))
    }
    def cold(i: Int): Seq[Float] =
      unit(Seq.fill(64)(0f).updated(8 + (i % 50), 1f))
    val batches: Seq[Seq[(Long, Seq[Float])]] = Seq(
      (0 until 12).map(i => (100L + i, if (i % 3 == 0) hotDup(i)
        else if (i % 3 == 1) hotDistinct(i) else cold(i))),
      (0 until 12).map(i => (200L + i, if (i % 3 == 0) hotDup(i + 50)
        else if (i % 3 == 1) hotDistinct(i) else cold(i + 17))),
      (0 until 12).map(i => (300L + i, if (i % 3 == 0) hotDup(i + 90)
        else if (i % 3 == 1) hotDistinct(i + 3) else cold(i + 31))))
    val nlist = 2 // tiny quantizer: the hot mass shares one cell by design
    batches.zipWithIndex.foreach { case (b, id) =>
      graft.streaming.EventStream.vectorDedupArrivalBatch(
        b.toDF("vec_id", "embedding"), store, id.toLong, nlist, tau,
        probes = nlist, iters = 4)
    }
    val got = spark.read.parquet(s"$store/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // Brute-force first-arrival fold (within-batch CC/min-id, the
    // documented contract) over the same arrival sequence.
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    val accepted = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    batches.foreach { b =>
      val survivors = b.filter { case (_, v) =>
        !accepted.exists { case (_, s) => cos(v, s) >= tau } }
      // within-batch: CC over >= tau pairs, min id kept
      val ids = survivors.map(_._1)
      val parent = scala.collection.mutable.Map[Long, Long]() ++ ids.map(i => i -> i)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for (a <- survivors; bb <- survivors if a._1 < bb._1 && cos(a._2, bb._2) >= tau) {
        val (ra, rb) = (find(a._1), find(bb._1))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val keep = survivors.filter { case (id, _) => find(id) == id }
      accepted ++= keep
    }
    val want = accepted.map(_._1).toSet
    assert(got == want, s"skew corpus diverged: got $got want $want")
    // duplicate mass collapsed: of the 12 hotDup arrivals (ids ≡ 0
    // mod 3 offset within each batch), exactly the FIRST survives —
    // the accepted hot cell stays O(distinct) under duplicate skew.
    val hotDupIds = Set(100L, 103L, 106L, 109L, 200L, 203L, 206L, 209L,
      300L, 303L, 306L, 309L)
    assert(got.intersect(hotDupIds) == Set(100L),
      s"duplicate skew must collapse to the first arrival: ${got.intersect(hotDupIds)}")
  }
}
