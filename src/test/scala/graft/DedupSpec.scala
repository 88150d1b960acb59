package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  test("exact dedup partitions all documents into hash groups") {
    val total = graft.sources.Tables.documents(spark, dir).count()
    val groups = Dedup.exact(spark, dir)
    assert(groups.agg(sum("n_copies")).head.getLong(0) == total)
    assert(groups.filter(col("n_copies") < 1).isEmpty)
  }

  /** High-Jaccard ground truth from the exact n-gram operator. */
  private lazy val truePairs: Set[(Long, Long)] =
    Dedup.ngramJaccard(spark, dir, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("testdata contains planted near-duplicates (ground truth non-trivial)") {
    assert(truePairs.nonEmpty)
  }

  test("minhash LSH candidates contain every Jaccard>=0.9 pair (recall)") {
    val cands = Dedup.minhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truePairs -- cands
    assert(missed.isEmpty, s"LSH missed true near-dup pairs: $missed")
  }

  test("minhash estimated Jaccard tracks exact Jaccard on true pairs") {
    val exact = Dedup.ngramJaccard(spark, dir, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val perDoc = Dedup.minhashLsh(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    exact.foreach { case ((a, b), j) =>
      // Each side of a true pair must see an estimated best >= j - 3σ
      // (σ ≈ sqrt(j(1-j)/64) ≈ 0.04 at j=0.9; 0.25 is a generous bound).
      assert(perDoc(a) >= j - 0.25, s"doc $a best_est ${perDoc(a)} << $j")
      assert(perDoc(b) >= j - 0.25, s"doc $b best_est ${perDoc(b)} << $j")
    }
  }

  /** Independent reimplementation of the content-addressed split bucket
    * (md5-hex chars, same as Curation.splitBucket / the DuckDB oracle).
    */
  private def splitBucketOf(id: Long): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (h(0).toInt * 65536 + h(1).toInt * 256 + h(2).toInt) % 100
  }

  test("incremental dedup equals brute-force batch-vs-store semantics") {
    val docs = graft.sources.Tables.documents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val batch = docs.filter(d => splitBucketOf(d._1) >= 80)
    val store = docs.filter(d => splitBucketOf(d._1) < 80).map(_._2).toSet
    assert(batch.nonEmpty && store.nonEmpty, "split produced an empty side")
    val expect = batch.groupBy(_._2).filter { case (text, _) => !store(text) }
      .map { case (_, copies) => (copies.map(_._1).min, copies.size.toLong) }
      .toSet
    val got = Dedup.incremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == expect,
      s"missed=${expect -- got} extra=${got -- expect}")
  }

  test("incremental near-dup matches equal brute-force cross batch-store Jaccard >= 0.9") {
    // Two-dir fallback: the planted near-dup pairs only count here when
    // the content-addressed split puts their members on OPPOSITE sides
    // (~32% per pair) — take the first corpus where the brute-force
    // cross set is non-empty so the test never goes vacuous.
    val checked = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").iterator
      .map { d =>
        val docs = graft.sources.Tables.documents(spark, d)
          .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
          .filter(_._2.length >= 3)
        val sh = docs.map { case (id, w) =>
          id -> w.sliding(3).map(_.mkString(" ")).toSet
        }.toMap
        val batchIds = sh.keys.filter(splitBucketOf(_) >= 80).toArray.sorted
        val storeIds = sh.keys.filter(splitBucketOf(_) < 80).toArray.sorted
        val brute = (for {
          b <- batchIds.iterator; s <- storeIds.iterator
          a = sh(b); c = sh(s); i = (a & c).size
          if i.toDouble / (a.size + c.size - i) >= 0.9
        } yield (b, s)).toSet
        (d, brute)
      }
      .collectFirst { case (d, brute) if brute.nonEmpty => (d, brute) }
    assert(checked.nonEmpty,
      "no cross-side near-dup pair in either corpus — ground truth vacuous")
    val (d, brute) = checked.get
    val got = Dedup.incrementalNearDup(spark, d, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16x4 banding misses a J>=0.9 pair with p ~ 3.8e-8 — exact equality
    // is the honest assertion at corpus sizes this small.
    assert(got == brute, s"missed=${brute -- got} extra=${got -- brute}")
  }

  test("incremental serve twins are row-identical to the from-text forms") {
    // The store-resident serve paths must compute the SAME relation as
    // the from-text operators — the materialized hashes/bands tables are
    // a cost change, never a semantics change.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exactA = Dedup.incremental(spark, d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val exactB = Dedup.incrementalServe(spark, d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(exactA == exactB,
        s"$d exact serve: missed=${exactA -- exactB} extra=${exactB -- exactA}")
      val nearA = Dedup.incrementalNearDup(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      graft.Caches.release()
      val nearB = Dedup.incrementalNearDupServe(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      graft.Caches.release()
      assert(nearA == nearB,
        s"$d near serve: missed=${nearA -- nearB} extra=${nearB -- nearA}")
    }
  }

  test("substring spans equal a from-scratch repeated-window reimplementation") {
    // Independent oracle: plain Scala maps — w-word windows as STRINGS
    // (no shared hashing with the operator), count >= 2 corpus-wide,
    // overlapping flagged windows merged into maximal spans.
    val w = 16
    val docs = graft.sources.Tables.documents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= w)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, ws) <- docs; win <- ws.sliding(w)) {
      val s = win.mkString(" ")
      counts(s) = counts.getOrElse(s, 0) + 1
    }
    val expect = (for ((id, ws) <- docs) yield {
      val dupPos = ws.sliding(w).zipWithIndex
        .collect { case (win, p) if counts(win.mkString(" ")) >= 2 => p }.toSeq
      // merge: gap > w-1 starts a new span
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start, prev, n = -1
      def flush(): Unit = if (start >= 0)
        spans += ((id, start.toLong, (prev + w - 1).toLong, n.toLong))
      for (p <- dupPos) {
        if (start < 0 || p - prev > w - 1) { flush(); start = p; n = 0 }
        prev = p; n += 1
      }
      flush()
      spans
    }).flatten.toSet
    assert(expect.nonEmpty, "testdata should contain repeated spans")
    val got = graft.operators.Dedup.substringSpans(spark, dir, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caches.release()
    assert(got == expect, s"missed=${expect -- got} extra=${got -- expect}")
  }

  test("substring apply cuts exactly the flagged spans (from-scratch reimplementation)") {
    // Same independent window-string counting as the spans test, then
    // the cut applied in plain Scala — clean text, token accounting,
    // span accounting, all compared per document.
    val w = 16
    val docs = graft.sources.Tables.documents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, ws) <- docs if ws.length >= w; win <- ws.sliding(w)) {
      val s = win.mkString(" ")
      counts(s) = counts.getOrElse(s, 0) + 1
    }
    val expect = docs.map { case (id, ws) =>
      val covered = new Array[Boolean](ws.length)
      val dupPos = if (ws.length >= w)
        ws.sliding(w).zipWithIndex
          .collect { case (win, p) if counts(win.mkString(" ")) >= 2 => p }.toSeq
      else Seq.empty
      dupPos.foreach(p => (p until p + w).foreach(covered(_) = true))
      // span count = maximal islands of flagged windows (gap > w-1)
      val nSpans = dupPos.foldLeft((0L, -w.toLong)) { case ((n, prev), p) =>
        (if (p - prev > w - 1) n + 1 else n, p.toLong)
      }._1
      val kept = ws.indices.filter(!covered(_)).map(ws)
      id -> (kept.mkString(" "), kept.size.toLong, nSpans,
        covered.count(identity).toLong)
    }.toMap
    val got = graft.operators.Dedup.substringApply(spark, dir, w).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.Caches.release()
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)} expected $e")
    }
    assert(expect.values.exists(_._3 > 0), "testdata should contain cut documents")
  }

  test("normalization lifts dedup recall on case/punctuation variants (crafted corpus)") {
    // Two documents with identical content under the canonical rule but
    // different bytes — plus distinct filler so nothing else pairs.
    // Written as a real documents.parquet so the registered dir-based
    // operators (exact, exactNormalized, ngramJaccard raw + normalized)
    // run exactly as registered.
    val tmp = tmpDir("graft_norm_spec")
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (0L, base),
      (1L, base.capitalize.replace(" fox ", " Fox, ") + "!"),
      (2L, "completely different filler content with no overlap at all here now"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val exactRaw = Dedup.exact(spark, tmp).count()
    val exactNorm = Dedup.exactNormalized(spark, tmp).count()
    assert(exactRaw == 3L, s"raw exact must see 3 distinct texts, got $exactRaw")
    assert(exactNorm == 2L, s"normalized exact must merge the variants, got $exactNorm")
    val rawPairs = Dedup.ngramJaccard(spark, tmp, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.release()
    val normPairs = Dedup.ngramJaccard(spark, tmp, 0.8, normalize = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    graft.Caches.release()
    assert(rawPairs.isEmpty, s"raw shingles must miss the variant pair, got $rawPairs")
    assert(normPairs.map(p => (p._1, p._2)) == Set((0L, 1L)),
      s"normalized shingles must find exactly the variant pair, got $normPairs")
    assert(normPairs.head._3 == 1.0, "normalized variants are shingle-identical")
  }

  test("ngram Jaccard equals brute-force all-pairs exactly (prefix filter is complete)") {
    // The operator's contract since the prefix-filter rewrite: EVERY
    // pair with Jaccard >= tau, not a heuristic subset. Verified against
    // a from-scratch O(n^2) reimplementation (plain Scala sets, no
    // shared code with the operator's shingle hashing).
    val docs = graft.sources.Tables.documents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 3)
    val shingles = docs.map { case (id, w) =>
      id -> w.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val ids = shingles.keys.toArray.sorted
    for (tau <- Seq(0.8, 0.9)) {
      val brute = (for {
        i <- ids.indices.iterator; j <- (i + 1) until ids.length
        a = shingles(ids(i)); b = shingles(ids(j))
        c = (a & b).size
        if c.toDouble / (a.size + b.size - c) >= tau
      } yield (ids(i), ids(j))).toSet
      val got = Dedup.ngramJaccard(spark, dir, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"tau=$tau: missed=${brute -- got} extra=${got -- brute}")
    }
  }

  test("simhash banding is complete for Hamming <= maxHamming (pigeonhole)") {
    // Every pair whose fingerprints are within the verification radius
    // MUST be surfaced — with 4 bands of 16 bits and single-bit
    // multiprobe, Hamming <= 7 implies some band differs in <= 1 bit
    // and therefore collides with a probe key, so a miss here is an
    // implementation bug, not noise.
    val rows = Dedup.simhash(spark, dir).collect()
    val fp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (a <- fp.keys; b <- fp.keys if a < b) {
      if (java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 6) {
        assert(near(a) >= 1 && near(b) >= 1,
          s"pair ($a,$b) within Hamming 6 but not surfaced")
      }
    }
  }

  test("simhash candidate set: complete for Hamming<=7, and far from all-pairs") {
    val fp = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cands = Dedup.simhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val within7 = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 7
    } yield (a, b)).toSet
    assert((within7 -- cands).isEmpty, "banding+probe missed an in-radius pair")
    // Volume: random band collisions run at p <= 4*17/2^16 per pair;
    // everything beyond that must be real structure (pairs within a
    // small Hamming ball). Assert the candidate set stays a sliver of
    // the pair matrix — the property a fixed-width 8x8 banding (p=1/32)
    // loses at scale.
    val n = fp.size.toLong
    val allPairs = n * (n - 1) / 2
    val pRandom = 4.0 * 17.0 / 65536.0
    val bound = within7.size + (allPairs * pRandom * 10).toLong + 50
    info(s"simhash candidates = ${cands.size} of $allPairs pairs " +
      s"(in-radius ${within7.size}, random-collision expectation ${(allPairs * pRandom).round})")
    assert(cands.size <= bound,
      s"candidate volume ${cands.size} exceeds structural+random bound $bound")
  }

  test("simhash detects most Jaccard>=0.95 near-duplicates (statistical recall)") {
    val near = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val strong = Dedup.ngramJaccard(spark, dir, tau = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(strong.nonEmpty)
    val found = strong.count { case (a, b) => near(a) >= 1 && near(b) >= 1 }
    val recall = found.toDouble / strong.length
    info(s"simhash recall on J>=0.95 pairs = $recall")
    // SimHash on ~50-90-shingle docs is noisy (a J=0.95 pair can land at
    // Hamming 9); 0.8 catches a broken fingerprint while tolerating that.
    assert(recall >= 0.8, s"simhash recall collapsed: $recall")
  }

  test("embedding-cosine near-dup: exact precision, high recall vs brute force") {
    val tau = 0.35
    val got = Dedup.embedCosine(spark, dir, tau).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.nonEmpty, "no embedding near-dup pairs found at tau=0.35")
    // precision: every emitted pair really is >= tau (re-checked in Scala)
    val emb = graft.sources.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    got.foreach { case ((a, b), c) =>
      assert(math.abs(cos(emb(a), emb(b)) - c) < 1e-9 && c >= tau)
    }
    // recall: brute-force all pairs >= tau, LSH must surface most
    val ids = emb.keys.toArray.sorted
    val brute = for {
      i <- ids.indices.iterator; j <- ((i + 1) until ids.length).iterator
      if cos(emb(ids(i)), emb(ids(j))) >= tau
    } yield (ids(i), ids(j))
    val bruteSet = brute.toSet
    val recall = bruteSet.count(got.contains).toDouble / math.max(bruteSet.size, 1)
    info(s"embed-cosine recall = $recall over ${bruteSet.size} true pairs")
    assert(recall >= 0.6, s"LSH recall collapsed: $recall")
  }

  test("simhash band width adapts to corpus size; random collisions stay O(n)") {
    // The thresholds: w=16 while n*(64/w)*(w+1)/2^w <= 1, then 32, then 64.
    assert(Dedup.simhashBandWidth(500) == 16)
    assert(Dedup.simhashBandWidth(5000) == 32)
    assert(Dedup.simhashBandWidth(10000000) == 32)
    assert(Dedup.simhashBandWidth(100000000) == 64)
    assert(Dedup.simhashBandWidth(100000000000L) == 64)
    // the linearity property itself: expected random candidates <= n/2
    // at every scale (this is what a fixed width loses)
    for (n <- Seq(100L, 10000L, 1000000L, 100000000L, 10000000000L)) {
      val w = Dedup.simhashBandWidth(n)
      val expectedRandom = n.toDouble * (n - 1) / 2 * (64.0 / w) * (w + 1) / math.pow(2.0, w.toDouble)
      assert(expectedRandom <= n / 2.0 + 1,
        s"n=$n w=$w: expected random candidates $expectedRandom super-linear")
    }
  }

  test("simhash banding at width 32 is complete for Hamming <= 3 (pigeonhole)") {
    // 2 bands of 32 bits, single-bit multiprobe: a pair within Hamming 3
    // has >= 1 band differing in <= 1 bit. The verdict-requested second
    // width: completeness must hold at the wide setting too, just with
    // the narrower radius the docstring derives.
    val fp = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cands = Dedup.simhashCandidates(spark, dir, widthOverride = Some(32)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val within3 = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 3
    } yield (a, b)).toSet
    assert(within3.nonEmpty, "testdata has no Hamming<=3 pairs — property vacuous")
    assert((within3 -- cands).isEmpty,
      s"width-32 banding missed in-radius pairs: ${within3 -- cands}")
  }

  test("simhash at sf0.1 (auto width 32): complete to radius 3, measured recall beyond") {
    // At n=5000 the adaptive width selects w=32, whose banding is
    // pigeonhole-complete only to Hamming 3 while the default verification
    // radius is 6 — the r5 ADVICE scale-dependence concern. Ground truth
    // is a driver-side brute force over all C(5000,2) fingerprint pairs.
    val big = "/root/testdata/sf0.1"
    assert(Dedup.simhashBandWidth(
      graft.sources.Tables.parquetRowCount(spark, big, "documents")) == 32)
    val fp = Dedup.simhash(spark, big).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val cands = Dedup.simhashCandidates(spark, big).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = fp.map(_._1); val fps = fp.map(_._2)
    var in3 = Vector.empty[(Long, Long)]; var in46 = Vector.empty[(Long, Long)]
    for (i <- fps.indices; j <- (i + 1) until fps.length) {
      val h = java.lang.Long.bitCount(fps(i) ^ fps(j))
      if (h <= 6) {
        val p = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
        if (h <= 3) in3 :+= p else in46 :+= p
      }
    }
    assert(in3.nonEmpty, "sf0.1 has no Hamming<=3 pairs — property vacuous")
    assert((in3.toSet -- cands).isEmpty,
      s"width-32 banding missed guaranteed-radius pairs: ${in3.toSet -- cands}")
    val recall46 =
      if (in46.isEmpty) 1.0
      else in46.count(cands).toDouble / in46.size
    info(s"sf0.1 w=32: ${in3.size} pairs at h<=3 (all found), " +
      s"${in46.size} at h=4..6, recall beyond complete radius = $recall46")
    // per-pair analytic floor is ~0.20 at h=6 (hypergeometric bit split
    // across 2 bands); 0.15 catches a broken probe without flaking on
    // the distance mix of the day's testdata
    assert(in46.isEmpty || recall46 >= 0.15,
      s"multiprobe recall collapsed beyond complete radius: $recall46")
  }

  test("simhash candidate volume grows sub-quadratically from sf0.01 to sf0.1") {
    // 10x documents (500 -> 5000). A fixed 4x16 banding pays ~100x more
    // random collisions; the adaptive width flips to 32 bits at n=5000
    // so candidates track the planted structure (~linear), not n^2.
    val small = Dedup.simhashCandidates(spark, "/root/testdata/sf0.01").count()
    val big = Dedup.simhashCandidates(spark, "/root/testdata/sf0.1").count()
    info(s"simhash candidates: sf0.01=$small sf0.1=$big (${big.toDouble / small}x on 10x docs)")
    assert(big <= small * 30,
      s"candidate growth ${big.toDouble / small}x on 10x data — quadratic regime")
  }

  test("embed-cosine output is linear: per-doc pair cap enforced, top pairs kept") {
    val capped = Dedup.embedCosine(spark, dir, tau = 0.35, maxPairsPerDoc = 2).collect()
    val perDoc = capped.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perDoc.values.forall(_ <= 2), "a doc_a exceeded the pair cap")
    // the kept pairs are each doc's best: every kept cosine >= every
    // dropped cosine for the same doc_a
    val uncapped = Dedup.embedCosine(spark, dir, tau = 0.35, maxPairsPerDoc = Int.MaxValue).collect()
      .groupBy(_.getLong(0))
    capped.groupBy(_.getLong(0)).foreach { case (a, kept) =>
      val keptMin = kept.map(_.getDouble(2)).min
      val droppedMax = uncapped(a).map(_.getDouble(2)).sorted(Ordering[Double].reverse)
        .drop(kept.length).headOption.getOrElse(Double.NegativeInfinity)
      assert(keptMin >= droppedMax, s"doc $a kept a worse pair than it dropped")
    }
  }

  test("embed-cosine default cap at sf0.1: no doc loses all its near-dup evidence") {
    // The r5-advice corner: the cap is one-sided (top-10 per doc_a), so
    // a doc could in principle vanish from the output despite having
    // qualifying partners — if every partner out-ranks it 10 deep.
    // Measure the default contract against the uncapped run at sf0.1.
    val big = "/root/testdata/sf0.1"
    val capped = Dedup.embedCosine(spark, big).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val uncapped = Dedup.embedCosine(spark, big, maxPairsPerDoc = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val coveredU = uncapped.flatMap(p => Seq(p._1, p._2)).toSet
    val coveredC = capped.flatMap(p => Seq(p._1, p._2)).toSet
    val lost = coveredU -- coveredC
    info(s"sf0.1 cap=10: ${capped.length} of ${uncapped.length} pairs kept, " +
      s"${coveredU.size} docs with near-dups, ${lost.size} lost all evidence")
    // The contract does NOT guarantee lost.isEmpty (a doc whose every
    // partner out-ranks it 10 deep legitimately vanishes), so pinning
    // zero would let regenerated testdata break the suite with no code
    // regression. Assert the measured property as a tolerance: total
    // loss stays rare (≤1% of covered docs; 0 on current data).
    assert(lost.size <= math.max(1, coveredU.size / 100),
      s"cap=10 silently dropped ALL evidence for ${lost.size} of " +
        s"${coveredU.size} covered docs (docs: ${lost.take(20)})")
  }

  test("adaptive LSH bits keep expected bucket occupancy constant in n") {
    // The scale property the fixed-bits bug violated: occupancy
    // n/2^bits must stay in a constant band as n grows, so candidate
    // volume stays linear. Checked across 6 decades.
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L, 100000000L, 10000000000L)) {
      val occ = n.toDouble / (1L << Dedup.adaptiveLshBits(n))
      assert(occ > 16 && occ <= 64, s"n=$n: occupancy $occ outside (16,64]")
    }
    // tiny corpora floor at 3 bits rather than degenerating to 1 bucket
    assert(Dedup.adaptiveLshBits(10) == 3 && Dedup.adaptiveLshBits(1) == 3)
  }

  test("no candidate pair escapes the a<b canonical ordering (no self/dup pairs)") {
    val cands = Dedup.minhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.forall { case (a, b) => a < b })
    assert(cands.length == cands.distinct.length)
  }
}
