package graft

import graft.operators.{Curation, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  test("pii scrub redacts emails, ips and phones from crafted text") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "contact bob.smith+spam@mail.example.org for details"),
      (2L, "server at 192.168.10.254 timed out"),
      (3L, "call +1 415 555-0173 or 020 7946 0958 today"),
      (4L, "no pii here at all"),
      (5L, "a@b.io and 10.0.0.1 and +44 7700 900123 mixed")
    ).toDF("doc_id", "text")
    val rows = Curation.piiScrubFrom(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1).getLong(1) == 1 && rows(1).getString(4)
      == "contact [EMAIL] for details")
    assert(rows(2).getLong(2) == 1 && rows(2).getString(4)
      == "server at [IP] timed out")
    assert(rows(3).getLong(3) == 2 && rows(3).getString(4)
      == "call [PHONE] or [PHONE] today")
    assert(rows(4).getString(4) == "no pii here at all"
      && (1 to 3).forall(i => rows(4).getLong(i) == 0))
    // the IP must be eaten by the IP pattern, not half-eaten as a phone
    assert(rows(5).getString(4) == "[EMAIL] and [IP] and [PHONE] mixed")
  }

  test("pii scrub over the corpus is a verified no-op (corpus is synthetic)") {
    val out = Curation.piiScrub(spark, dir)
    assert(out.agg(sum(col("n_emails") + col("n_ips") + col("n_phones")))
      .head.getLong(0) == 0)
  }

  test("split assignment is deterministic, complete, and near 90/5/5") {
    val a = Curation.splitAssign(spark, dir).collect()
    val b = Curation.splitAssign(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "split must be reproducible run-to-run")
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 100))
    val n = a.length.toDouble
    val frac = a.groupBy(_.getString(2)).map { case (s, rs) => s -> rs.length / n }
    info(s"split fractions: $frac")
    // 500 docs: binomial noise on 90% is ~1.3pp; generous 3x bounds
    assert(frac("train") > 0.85 && frac("train") < 0.95)
    assert(frac.getOrElse("val", 0.0) < 0.10 && frac.getOrElse("test", 0.0) < 0.10)
  }

  test("stratified sample is deterministic, rate-correct, and split-decorrelated") {
    val a = Curation.sampleStratified(spark, dir).collect()
    val b = Curation.sampleStratified(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "sample must be reproducible run-to-run")
    val langs = TextAnalysis.langid(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    val keptEn = a.count(_.getString(1) == "en")
    val totalEn = langs.values.count(_ == "en")
    val keptOther = a.count(_.getString(1) != "en")
    val totalOther = langs.size - totalEn
    assert(totalEn > 50, "corpus must have an 'en' stratum for this test to bite")
    val enRate = keptEn.toDouble / totalEn
    info(s"en kept $keptEn/$totalEn = $enRate; other kept $keptOther/$totalOther")
    assert(enRate > 0.35 && enRate < 0.65, s"en keep rate $enRate far from 50%")
    assert(keptOther == totalOther, "non-en strata must be kept whole at default rates")
    // decorrelation from the train/val/test split: the kept 'en' docs
    // must not be (close to) exactly the train docs
    val train = Curation.splitAssign(spark, dir).collect()
      .filter(_.getString(2) == "train").map(_.getLong(0)).toSet
    val keptEnIds = a.filter(_.getString(1) == "en").map(_.getLong(0)).toSet
    val trainOverlap = keptEnIds.count(train).toDouble / keptEnIds.size
    info(s"kept-en ∩ train fraction = $trainOverlap (split train rate 0.9)")
    assert(trainOverlap > 0.75 && trainOverlap < 0.99,
      "sample correlates suspiciously with the split assignment")
  }

  test("shard packing equals sequential greedy prefix packing, budget respected") {
    val got = Curation.packShards(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force: walk docs in id order, exclusive running sum DIV budget
    val byId = got.sortBy(_._1)
    var cum = 0L
    byId.foreach { case (id, toks, shard) =>
      assert(shard == cum / 50000L, s"doc $id: shard $shard != ${cum / 50000L}")
      cum += toks
    }
    // shard ids are dense and non-decreasing in doc order
    val shards = byId.map(_._3)
    assert(shards.zip(shards.tail).forall { case (x, y) => y == x || y == x + 1 || y > x })
    // every shard's token mass stays within budget + one straddling doc
    val maxDoc = byId.map(_._2).max
    byId.groupBy(_._3).foreach { case (s, rs) =>
      assert(rs.map(_._2).sum <= 50000L + maxDoc, s"shard $s overflows")
    }
  }

  test("generic shard packing handles string doc ids (non-numeric, non-dense)") {
    import spark.implicits._
    // hash-shaped string keys in no particular insertion order
    val rnd = new scala.util.Random(7)
    val docs = rnd.shuffle((0 until 3000).toList)
      .map(i => (f"doc-${i * 2654435761L % 100000}%05d-$i", 100L + i % 900))
      .toDF("doc_id", "n_tokens")
    val budget = 10000L
    val got = Curation.packShardsFrom(docs, budget, blocks = 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // brute force: walk docs in STRING order, exclusive running sum DIV budget
    val byId = got.sortBy(_._1)
    var cum = 0L
    byId.foreach { case (id, toks, shard) =>
      assert(shard == cum / budget, s"doc $id: shard $shard != ${cum / budget}")
      cum += toks
    }
  }

  test("contamination check equals brute-force test-in-train containment") {
    val split = Curation.splitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // both the 3-gram default and the registered 2-gram/0.1 variant — the
    // latter has enough mass to exercise multi-contaminator aggregation
    // (n_contaminating > 1) and the max-struct tie-break through real data
    for ((n, minC) <- Seq((3, 0.3), (2, 0.1))) {
      val shingles = graft.sources.Tables.documents(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" "))
        .filter(_._2.length >= n)
        .map { case (id, w) => id -> w.sliding(n).map(_.mkString(" ")).toSet }
      val test = shingles.filter(d => split(d._1) == "test")
      val train = shingles.filter(d => split(d._1) == "train")
      val brute = test.flatMap { case (tid, tsh) =>
        val hits = train.map { case (rid, rsh) =>
          (rid, (tsh & rsh).size.toDouble / tsh.size)
        }.filter(_._2 >= minC)
        if (hits.isEmpty) None
        else Some(tid -> (hits.length.toLong, hits.map(_._2).max,
          hits.filter(_._2 == hits.map(_._2).max).map(_._1).max))
      }.toMap
      val got = Curation.contamination(spark, dir, minC, n).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
      assert(got == brute,
        s"n=$n missed=${brute.keySet -- got.keySet} extra=${got.keySet -- brute.keySet}")
      info(s"n=$n: ${got.size} of ${test.length} test docs contaminated at c>=$minC")
      assert(got.nonEmpty, "testdata should contain at least one cross-split near-dup")
      if (n == 2)
        assert(got.values.exists(_._1 > 1),
          "2-gram variant must exercise multi-contaminator aggregation")
    }
  }

  test("contamination pushdown branches (set / bloom / none) are row-identical") {
    // The vocabulary pushdown is a pure volume optimization: the exact
    // set semi-join, the Bloom-filter bit test (false positives admit
    // train postings into exact joins where they match nothing), and no
    // pushdown at all must return the same rows — at the registered
    // knobs AND at a selective threshold where the prefix plan (whose
    // df values see the filtered stream) runs instead of the count plan.
    for (minC <- Seq(0.05, 0.3)) {
      val branches = Seq("set", "bloom", "none").map { p =>
        p -> Curation.contamination(spark, dir, minContain = minC, pushdown = p)
          .collect().map(_.toString).sorted.toSeq
      }
      val (_, ref) = branches.head
      assert(ref.nonEmpty, s"no contamination rows at c>=$minC")
      branches.foreach { case (p, rows) =>
        assert(rows == ref, s"pushdown=$p diverged from set at c>=$minC")
      }
    }
  }

  test("contamination auto pushdown is three-tier: set, bloom, then none by corpus size") {
    // `auto` must pick the cheapest correct pruning for the regime the
    // corpus size implies: exact broadcast set within the budget, the
    // Bloom bit test for the next ~20x, unfiltered beyond. The corpus is
    // tiny; nDocs is the caller-supplied size signal, so the tiers are
    // pinned by plan shape at three crafted sizes.
    val docs = graft.sources.Tables.documents(spark, dir)
    def plan(nDocs: Long): String = Curation
      .contaminationFrom(docs, nDocs, minContain = 0.05, pushdown = "auto")
      .queryExecution.executedPlan.toString
    val set = plan(1000L)
    assert(set.contains("BroadcastExchange") && !set.contains("bloom_contains"),
      "small corpus must take the exact broadcast-set tier")
    val bloom = plan(10000000L)
    assert(bloom.contains("bloom_contains") && !bloom.contains("BroadcastExchange"),
      "mid corpus must take the bloom tier (no vocabulary broadcast)")
    val none = plan(100000000L)
    assert(!none.contains("bloom_contains") && !none.contains("BroadcastExchange"),
      "huge corpus must run unfiltered (no pushdown)")
  }

  test("corpus stats reconcile with the per-document operators") {
    val stats = Curation.corpusStats(spark, dir).collect()
    val docs = graft.sources.Tables.documents(spark, dir).count()
    assert(stats.map(_.getLong(1)).sum == docs, "language partition must cover corpus")
    val tokenTotal = TextAnalysis.tokens(spark, dir)
      .agg(sum("n_tokens")).head.getLong(0)
    assert(stats.map(_.getLong(2)).sum == tokenTotal)
    val hiQ = TextAnalysis.quality(spark, dir)
      .filter(col("quality_score") >= 0.5).count()
    assert(stats.map(_.getLong(4)).sum == hiQ)
    stats.foreach { r =>
      assert(r.getDouble(5) == r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
  }

  /** From-scratch contamination spans: window STRINGS (no shared
    * hashing), split from the registered assignment, island merge in
    * plain Scala.
    */
  private def bruteContaminationSpans(d: String, w: Int): Set[(Long, Long, Long, Long)] = {
    val split = Curation.splitAssign(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val docs = graft.sources.Tables.documents(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= w)
    val trainWins = docs.filter(x => split(x._1) == "train")
      .flatMap(_._2.sliding(w).map(_.mkString(" "))).toSet
    (for ((id, ws) <- docs if split(id) == "test") yield {
      val hits = ws.sliding(w).zipWithIndex
        .collect { case (win, p) if trainWins(win.mkString(" ")) => p }.toSeq
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start, prev, n = -1
      def flush(): Unit = if (start >= 0)
        spans += ((id, start.toLong, (prev + w - 1).toLong, n.toLong))
      for (p <- hits) {
        if (start < 0 || p - prev > w - 1) { flush(); start = p; n = 0 }
        prev = p; n += 1
      }
      flush()
      spans
    }).flatten.toSet
  }

  test("corpus_mix: rates follow the integer mixture formula, saturation takes all") {
    // Crafted corpus: source "big" 200 docs, "small" 10 docs. Weights
    // big=1, small=10, budget 50%: total=210, budget=105, ΣW=11;
    // n_big = 105·1/11 = 9 → rate 100·9/200 = 4; n_small = 105·10/11
    // = 95 > 10 → rate min(100, 950) = 100 (saturation: every small
    // doc survives, the formula never invents mass).
    import spark.implicits._
    val tmp = tmpDir("graft_mix_spec")
    ((0L until 200L).map(i => (i, s"text $i", "en", "big", 10L)) ++
      (200L until 210L).map(i => (i, s"text $i", "en", "small", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Curation.mixCorpus(spark, tmp,
        weights = Map("small" -> 10), defaultWeight = 1, budgetPct = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = got.groupBy(_._2)
    assert(bySource("small").length == 10, "saturated source must keep all docs")
    assert(bySource("small").forall(_._3 == 100L))
    assert(bySource("big").forall(_._3 == 4L),
      s"big-source rate: ${bySource("big").head._3} != 4")
    // Acceptance = the content-addressed bucket rule, re-derived
    // from scratch (md5 of doc_id||":mix") — no doc outside it.
    def bucketOf(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:mix".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (h(0).toInt * 65536 + h(1).toInt * 256 + h(2).toInt) % 100
    }
    val expectBig = (0L until 200L).filter(bucketOf(_) < 4).toSet
    assert(bySource("big").map(_._1).toSet == expectBig,
      "big-source acceptance diverged from the content-addressed rule")
  }

  test("pipeline_corpus_train cuts survivor-corpus repeated spans the clean stages can't") {
    // Two NON-duplicate docs (J « 0.8 — only the planted passage's
    // shingles are shared) that both survive quality/exact/near-dup,
    // each carrying the same 16-word passage: doc-level dedup keeps
    // both, and the span stage must cut the passage from BOTH. On the
    // driver testdata the composed cut is a verified pass-through
    // (repetition lives between duplicates the earlier stages remove —
    // the design claim); this corpus pins the firing path.
    import spark.implicits._
    val w = 16
    // Stopword-laced unique filler keeps quality ≥ 0.5 without sharing
    // any trigram between docs (each trigram contains a unique token).
    def filler(p: String, n: Int) =
      (0 until n).flatMap(i => Seq("the", s"$p$i")).mkString(" ")
    val passage = (0 until w).map(i => s"shared$i").mkString(" ")
    val tmp = tmpDir("graft_train_spec")
    Seq(
      (1L, s"${filler("a", 12)} $passage ${filler("b", 12)}"),
      (2L, s"${filler("c", 12)} $passage ${filler("d", 12)}"),
      (3L, filler("e", 30)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.Pipeline.corpusTrain(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    graft.Caches.release()
    assert(got.keySet == Set(1L, 2L, 3L),
      s"all three non-duplicate docs must survive the clean stages: ${got.keySet}")
    // The passage occupies word offsets 24..39 (12 filler pairs = 24
    // words ahead of it) — and BOTH docs continue with "the" at offset
    // 40, so the window at pos 25 (shared1..15 + "the") repeats too
    // and the maximal span is [24, 40]: 17 words, demonstrating
    // span growth through shared boundary tokens, exactly the
    // Lee-et-al maximal-match semantics. 64 − 17 = 47 tokens remain.
    for (id <- Seq(1L, 2L)) {
      val (text, nClean, nSpans) = got(id)
      assert(nSpans == 1L && nClean == 47L,
        s"doc $id: expected one 17-word maximal span cut of 64 words, got $nSpans/$nClean")
      assert(!text.contains("shared"), s"doc $id still contains the passage")
    }
    assert(got(3L)._3 == 0L && got(3L)._2 == 60L, "clean doc was modified")
  }

  test("pipeline_corpus_full: every stage fires on a crafted corpus") {
    // One corpus where each composed stage provably does work: a
    // low-quality doc (quality gate), an exact duplicate pair, a
    // near-dup pair (J ≈ 0.91), a repeated 16-word passage between two
    // train survivors (span dedup), a passage shared between a train
    // doc and a TEST doc (decontamination), a clean control doc, and a
    // 200-doc bulk source (mix rates + shard packing). Split and mix
    // buckets are content-addressed, so the test LEARNS them first
    // (same technique as the contamination-spans spec).
    import spark.implicits._
    def hashBucket(s: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (h(0).toInt * 65536 + h(1).toInt * 256 + h(2).toInt) % 100
    }
    def splitOf(id: Long): Int = hashBucket(id.toString)
    def mixOf(id: Long): Int = hashBucket(s"$id:mix")
    val trainPool = (0L until 4000L).filter(splitOf(_) < 90).iterator
    val testPool = (0L until 4000L).filter(splitOf(_) >= 95).iterator
    def nt() = trainPool.next()
    def filler(p: String, n: Int) =
      (0 until n).flatMap(i => Seq("the", s"$p$i")).mkString(" ")
    val spanPassage = (0 until 16).map(i => s"sp$i").mkString(" ")
    val contPassage = (0 until 16).map(i => s"ct$i").mkString(" ")
    val lowQ = nt(); val dup1 = nt(); val dup2 = nt()
    val near1 = nt(); val near2 = nt()
    val spanA = nt(); val spanB = nt(); val contTrain = nt()
    val cleanDoc = nt(); val contTest = testPool.next()
    val nearWordsA = (0 until 32).flatMap(i => Seq("the", s"na$i"))
    val nearWordsB = nearWordsA.init :+ "nb0" // last token differs: J = 59/65
    val dupText = filler("dup", 32)
    val small = Seq(
      (lowQ, (0 until 40).map(i => s"Q$i").mkString(" ")), // quality < 0.5
      (dup1, dupText), (dup2, dupText),
      (near1, nearWordsA.mkString(" ")), (near2, nearWordsB.mkString(" ")),
      (spanA, s"${filler("sa", 12)} $spanPassage ${filler("sb", 12)}"),
      (spanB, s"${filler("sc", 12)} $spanPassage ${filler("se", 12)}"),
      (contTrain, s"${filler("ka", 12)} $contPassage ${filler("kb", 12)}"),
      (cleanDoc, filler("cl", 30)),
      (contTest, s"${filler("qa", 12)} $contPassage ${filler("qb", 12)}"))
    val bulkIds = (0 until 200).map(_ => nt())
    val bulk = bulkIds.zipWithIndex.map { case (id, i) => (id, filler(s"m${i}x", 30)) }
    val tmp = tmpDir("graft_full_spec")
    (small.map { case (id, t) => (id, t, "small") } ++
      bulk.map { case (id, t) => (id, t, "big") })
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.Pipeline.corpusFull(spark, tmp,
        weights = Map("small" -> 10), defaultWeight = 1, budgetPct = 50,
        budgetTokens = 100L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    graft.Caches.release()
    // Stage 1-3 drops: quality, exact (higher id), near-dup (higher id);
    // test/val docs never emit.
    for (id <- Seq(lowQ, math.max(dup1, dup2), math.max(near1, near2), contTest))
      assert(!got.contains(id), s"doc $id should have been dropped/excluded")
    // Mix: small saturates (6 survivors, rate 100); big resamples at the
    // integer rate — counts: small 6, big 200, total 206, budget 103,
    // ΣW = 11, n_small = 93 → rate 100; n_big = 9 → rate 100·9/200 = 4.
    val smallSurvivors = Set(math.min(dup1, dup2), math.min(near1, near2),
      spanA, spanB, contTrain, cleanDoc)
    val expectBig = bulkIds.filter(mixOf(_) < 4).toSet
    assert(got.keySet == smallSurvivors ++ expectBig,
      s"mix acceptance diverged: got=${got.keySet.size} want=${(smallSurvivors ++ expectBig).size}")
    // Span dedup: the repeated passage (plus its shared 'the' boundary,
    // the corpusTrain spec's maximal-match argument) cut from BOTH
    // train survivors — 64 − 17 = 47 tokens remain.
    for (id <- Seq(spanA, spanB)) {
      assert(!got(id)._2.contains("sp"), s"doc $id still contains the repeated passage")
      assert(got(id)._3 == 47L, s"doc $id n_tokens: ${got(id)._3} != 47")
    }
    // Decontamination: the train↔test passage cut from the TRAIN doc
    // (the near-dup keeper's shared windows died with the dropped copy,
    // so IT keeps all 64 tokens — spans run over what remains).
    assert(!got(contTrain)._2.contains("ct"), "train doc still leaks the test passage")
    assert(got(contTrain)._3 == 47L)
    assert(got(math.min(near1, near2))._3 == 64L,
      "near-dup keeper must keep its text once the duplicate is gone")
    assert(got(cleanDoc)._3 == 60L && got(cleanDoc)._2 == filler("cl", 30),
      "clean control doc was modified")
    // Pack: shard_id is the exclusive prefix sum of n_tokens in doc_id
    // order DIV the budget — recomputed from the output itself.
    val ordered = got.toSeq.sortBy(_._1)
    var prefix = 0L
    for ((id, (_, _, toks, shard)) <- ordered) {
      assert(shard == prefix / 100L, s"doc $id shard ${shard} != ${prefix / 100L}")
      prefix += toks
    }
  }

  test("contamination spans equal a from-scratch reimplementation") {
    val w = 16
    val got = Curation.contaminationSpans(spark, dir, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caches.release()
    val want = bruteContaminationSpans(dir, w)
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  test("contamination spans flag exactly the planted test↔train passage") {
    // Build a corpus where the split is KNOWN (content-addressed on
    // doc_id, so learn it first), then plant one ≥w-word passage shared
    // between a train doc and the middle of a test doc. The operator
    // must flag exactly that span of the test doc — filler is unique
    // per doc, so nothing else may fire.
    import spark.implicits._
    val w = 16
    val tmp = tmpDir("graft_cspan_spec")
    def filler(id: Long, n: Int): Seq[String] = (0 until n).map(i => s"f${id}x$i")
    val probe = (0L until 200L).map(id => (id, filler(id, 40).mkString(" ")))
    // two directories: Spark's file-status cache may serve a stale
    // listing if the same path were overwritten between reads
    probe.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/probe/documents.parquet")
    val split = Curation.splitAssign(spark, s"$tmp/probe").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val trainId = split.collect { case (id, "train") => id }.min
    val testId = split.collect { case (id, "test") => id }.min
    val passage = (0 until w).map(i => s"shared$i")
    val planted = probe.map { case (id, text) =>
      if (id == trainId) (id, (filler(id, 5) ++ passage ++ filler(id + 1000, 5)).mkString(" "))
      else if (id == testId) (id, (filler(id, 7) ++ passage ++ filler(id + 2000, 9)).mkString(" "))
      else (id, text)
    }
    planted.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/final/documents.parquet")
    val got = Curation.contaminationSpans(spark, s"$tmp/final", w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caches.release()
    // the test doc's passage occupies word offsets 7 .. 7+w-1
    assert(got == Set((testId, 7L, (7 + w - 1).toLong, 1L)),
      s"expected exactly the planted span of doc $testId, got $got")
    // The APPLY flips the direction: corpus_decontaminate must cut the
    // passage from the TRAIN doc (offsets 5 .. 5+w-1), leave every
    // other train doc byte-identical, and emit no val/test docs at all.
    val cleaned = Curation.decontaminate(spark, s"$tmp/final", w).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.Caches.release()
    val trainIds = split.collect { case (id, "train") => id }.toSet
    assert(cleaned.keySet == trainIds,
      s"decontaminate must emit exactly the train split, got ${cleaned.keySet.size}")
    val expectClean = (filler(trainId, 5) ++ filler(trainId + 1000, 5)).mkString(" ")
    assert(cleaned(trainId) == ((expectClean, 10L, 1L, w.toLong)),
      s"train doc not cut as planted: ${cleaned(trainId)}")
    val untouched = planted.toMap
    (trainIds - trainId).foreach { id =>
      assert(cleaned(id) == ((untouched(id), 40L, 0L, 0L)),
        s"clean train doc $id was modified: ${cleaned(id)}")
    }
  }

  test("pipeline_corpus_full_bpe: the whitespace pipeline re-priced by a sequential subword fold") {
    // r17 (r16 verdict item 4): the BPE-priced tail must change ONLY
    // the billing unit — same cleaned/mixed documents as the
    // whitespace pipeline, n_tokens = the kernel's subword count of
    // each clean text, shard ids = the sequential doc_id-ordered
    // prefix fold over those counts (the pack contract).
    val merges = graft.operators.Bpe.mergesFor(spark, dir)
    val budget = 500L
    val got = graft.operators.Pipeline
      .corpusFull(spark, dir, budgetTokens = budget, bpeMerges = Some(merges))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    graft.Caches.release()
    val base = graft.operators.Pipeline.corpusFull(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    graft.Caches.release()
    val fp = graft.functions.BpeCount.fingerprint(merges)
    var cum = 0L
    val want = base.map { case (id, src, txt) =>
      val c = graft.functions.BpeCount.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(txt), merges, fp)
      val shard = cum / budget
      cum += c
      (id, src, txt, c, shard)
    }
    assert(got.sortBy(_._1).toSeq == want.toSeq,
      "bpe-priced pipeline diverged from the re-priced sequential fold")
  }

  test("normalized decontamination catches a re-cased/re-punctuated leak at exact offsets") {
    // r18 (r17 verdict item 2): the standard evasion — a test passage
    // re-CASED and re-punctuated in a train doc slips past raw window
    // hashes (corpus_decontaminate must NOT cut) but the normalized
    // tier folds case/punct per word and must cut the EXACT raw span.
    import spark.implicits._
    val w = 16
    val tmp = tmpDir("graft_normdecon_spec")
    def filler(id: Long, n: Int): Seq[String] = (0 until n).map(i => s"f${id}x$i")
    val probe = (0L until 200L).map(id => (id, filler(id, 40).mkString(" ")))
    probe.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/probe/documents.parquet")
    val split = Curation.splitAssign(spark, s"$tmp/probe").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val trainId = split.collect { case (id, "train") => id }.min
    val testId = split.collect { case (id, "test") => id }.min
    // test doc carries the canonical passage; train doc a VARIANT
    // whose per-word normalized form is identical ("ShArEd3!!" ->
    // "shared3") but whose raw words all differ
    val canonical = (0 until w).map(i => s"shared$i")
    val variant = (0 until w).map(i => s"ShArEd$i!!")
    assert(canonical.zip(variant).forall { case (a, b) => a != b })
    val planted = probe.map { case (id, text) =>
      if (id == trainId) (id, (filler(id, 5) ++ variant ++ filler(id + 1000, 5)).mkString(" "))
      else if (id == testId) (id, (filler(id, 7) ++ canonical ++ filler(id + 2000, 9)).mkString(" "))
      else (id, text)
    }
    planted.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/final/documents.parquet")
    // raw tier: the variant evades — no train doc is cut
    val raw = Curation.decontaminate(spark, s"$tmp/final", w).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    graft.Caches.release()
    assert(raw(trainId)._2 == 0L,
      "raw window hashes flagged the case-variant passage — fixture broken")
    // normalized tier: cut at EXACT raw offsets 5 .. 5+w-1, raw words
    // preserved elsewhere, all other train docs byte-identical
    val norm = Curation.decontaminate(spark, s"$tmp/final", w, normalize = true)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.Caches.release()
    val trainIds = split.collect { case (id, "train") => id }.toSet
    assert(norm.keySet == trainIds)
    val expectClean = (filler(trainId, 5) ++ filler(trainId + 1000, 5)).mkString(" ")
    assert(norm(trainId) == ((expectClean, 10L, 1L, w.toLong)),
      s"normalized tier did not cut the planted span exactly: ${norm(trainId)}")
    val untouched = planted.toMap
    (trainIds - trainId).foreach { id =>
      assert(norm(id)._1 == untouched(id), s"clean train doc $id was modified")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def kernelEncode(txt: String, merges: Array[String]): Array[Int] =
    graft.functions.BpeCount.encode(
      org.apache.spark.unsafe.types.UTF8String.fromString(txt), merges,
      graft.functions.BpeCount.fingerprint(merges)).toIntArray()

  /** Sequential from-scratch pack reference: encode each doc, append
    * EOS, concatenate in (md5 shuffle key, doc_id) order, chunk to
    * ctxLen, pad only the tail. */
  private def refSequencePack(docs: Seq[(Long, String)], merges: Array[String],
                              ctxLen: Int): Seq[(Long, Seq[Int], Long)] = {
    val eos = graft.functions.BpeCount.eosId(merges.length)
    val pad = graft.functions.BpeCount.padId(merges.length)
    val stream = docs
      .sortBy { case (id, _) => (md5hex(id.toString + ":shuffle"), id) }
      .flatMap { case (_, txt) => kernelEncode(txt, merges).toSeq :+ eos }
    stream.grouped(ctxLen).zipWithIndex.map { case (chunk, i) =>
      val padded = chunk ++ Seq.fill(ctxLen - chunk.size)(pad)
      (i.toLong, padded, (ctxLen - chunk.size).toLong)
    }.toSeq
  }

  test("sequence pack: crafted corpus — boundary crossing, empty doc, exact fit") {
    // r18 (r17 verdict item 1): the distributed fixed-context packer
    // against a hand-checkable sequential fold. ctxLen=5 with docs
    // longer than a context (multi-fragment), an EMPTY doc (one EOS),
    // and enough total tokens that only the final sequence pads.
    import spark.implicits._
    val merges = graft.operators.Bpe.train(Seq(("aaaa", 9L), ("bb", 5L)), 4)
    assert(merges.nonEmpty)
    val docs = Seq(
      (1L, "aaaa bb aaaa aaaa"), (2L, ""), (3L, "aaaa aaaa aaaa aaaa aaaa"),
      (4L, "bb"), (5L, "a b aaaa"), (6L, "bb bb bb"))
    val ctx = 5
    val want = refSequencePack(docs, merges, ctx)
    val got = graft.operators.Bpe.sequencePack(
        docs.toDF("doc_id", "clean_text"), merges, ctx, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    graft.Caches.release()
    assert(got == want, s"crafted pack diverged:\n got $got\nwant $want")
    // structural invariants: ids contiguous from 0, every sequence
    // exactly ctx wide, padding confined to the last sequence
    assert(got.map(_._1) == got.indices.map(_.toLong))
    assert(got.forall(_._2.size == ctx))
    assert(got.init.forall(_._3 == 0L), "padding leaked off the tail sequence")
  }

  test("pipeline_corpus_tokenized equals the sequential encode+pack over the mixed corpus") {
    // The registered tensor-feed tail on the REAL corpus: the mixed
    // train frame (already oracle-gated through pipeline_corpus_full)
    // encoded and packed must equal the sequential reference, and the
    // non-pad token mass must be exactly sum(bpe_count) + one EOS per
    // doc — the count↔encode identity threaded through the pipeline.
    val ctx = 64
    val got = graft.operators.Pipeline.corpusTokenized(spark, dir, ctxLen = ctx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    graft.Caches.release()
    val merges = graft.operators.Bpe.mergesFor(spark, dir)
    val mixed = graft.operators.Pipeline.mixedTrain(spark, dir)
      .select("doc_id", "clean_text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.Caches.release()
    assert(mixed.nonEmpty && got.nonEmpty)
    val want = refSequencePack(mixed, merges, ctx)
    assert(got == want, "tokenized pipeline diverged from the sequential reference")
    val fp = graft.functions.BpeCount.fingerprint(merges)
    val totalCnt = mixed.map { case (_, txt) =>
      graft.functions.BpeCount.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(txt), merges, fp)
    }.sum
    val nonPad = got.map(s => ctx - s._3).sum
    assert(nonPad == totalCnt + mixed.size,
      s"token mass $nonPad != bpe_count total $totalCnt + ${mixed.size} EOS")
  }
}
