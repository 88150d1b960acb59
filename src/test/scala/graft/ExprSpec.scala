package graft

import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Expression-level cross-validation: every custom Catalyst kernel is
  * checked against either the declarative Spark form it replaces
  * (bit-identical requirement) or an independent naive Scala
  * reimplementation.
  */
class ExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  private def wordsDf = graft.sources.Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
    .filter(size(col("w")) >= 3)

  test("HashedShingles is bit-identical to the declarative xxhash64 chain") {
    val df = wordsDf.select(
      HashedShingles.hashed_shingles(col("w"), 3).as("fused"),
      expr("sort_array(array_distinct(transform(sequence(0, size(w)-3), " +
        "i -> xxhash64(w[i], w[i+1], w[i+2]))))").as("declarative"))
    assert(df.filter(col("fused") =!= col("declarative")).isEmpty)
  }

  /** Naive reference for the chained-gram hash. */
  private def naiveGrams(words: Array[String], n: Int): Array[Long] =
    words.sliding(n).map { g =>
      g.foldLeft(42L)((h, w) =>
        XXH64.hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(w), h))
    }.toArray

  test("MinHashShingled matches a naive reimplementation") {
    val rows = wordsDf.select(col("text"),
      MinHashShingled.minhash_shingled(col("w"), 3, 16).as("sig")).limit(50).collect()
    rows.foreach { r =>
      val grams = naiveGrams(r.getString(0).split(" "), 3)
      val expected = Array.fill(16)(Long.MaxValue)
      grams.foreach { g =>
        val h1 = XXH64.hashLong(g, 0x9747b28cL)
        val h2 = XXH64.hashLong(g, 0x85ebca6bL)
        (0 until 16).foreach { i =>
          val h = h1 + i * h2
          if (h < expected(i)) expected(i) = h
        }
      }
      assert(r.getSeq[Long](1).toArray.sameElements(expected))
    }
  }

  test("SimHashShingled matches a naive reimplementation (set semantics)") {
    val rows = wordsDf.select(col("text"),
      SimHashShingled.simhash_shingled(col("w"), 3).as("fp")).limit(50).collect()
    rows.foreach { r =>
      val grams = naiveGrams(r.getString(0).split(" "), 3).distinct
      val votes = new Array[Int](64)
      grams.foreach { g =>
        val h = XXH64.hashLong(g, 0xc2b2ae35L)
        (0 until 64).foreach(j => if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1)
      }
      val expected = (0 until 64).foldLeft(0L)((acc, j) =>
        if (votes(j) > 0) acc | (1L << j) else acc)
      assert(r.getLong(1) == expected)
    }
  }

  test("token-level MinHashSig / SimHash64 match naive reimplementations") {
    import org.apache.spark.unsafe.types.UTF8String
    val rows = wordsDf.select(col("text"),
      MinHashSig.minhash_sig(col("w"), 8).as("sig"),
      SimHash64.simhash64(col("w")).as("fp")).limit(30).collect()
    rows.foreach { r =>
      val tokens = r.getString(0).split(" ")
      val sig = Array.fill(8)(Long.MaxValue)
      tokens.foreach { t =>
        val u = UTF8String.fromString(t)
        val h1 = XXH64.hashUTF8String(u, 0x9747b28cL)
        val h2 = XXH64.hashUTF8String(u, 0x85ebca6bL)
        (0 until 8).foreach { i =>
          val h = h1 + i * h2
          if (h < sig(i)) sig(i) = h
        }
      }
      assert(r.getSeq[Long](1).toArray.sameElements(sig))
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), 0xc2b2ae35L)
        (0 until 64).foreach(j => if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1)
      }
      val fp = (0 until 64).foldLeft(0L)((acc, j) =>
        if (votes(j) > 0) acc | (1L << j) else acc)
      assert(r.getLong(2) == fp)
    }
  }

  test("IntersectCountSorted equals size(array_intersect) on sorted arrays") {
    import spark.implicits._
    val pairs = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(7L), Seq(7L)),
      (Seq(-5L, 0L, 5L), Seq(-5L, 5L, 6L))).toDF("a", "b")
    val df = pairs.select(
      IntersectCountSorted.intersect_count_sorted(col("a"), col("b")).as("merge"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    assert(df.filter(col("merge") =!= col("builtin")).isEmpty)
  }

  test("IntersectCountSorted with need is the exact count when it reaches need, else -1") {
    import spark.implicits._
    // random sorted distinct arrays over a small domain, so overlaps of
    // every size occur; every need from 0 to min(na, nb) + 1
    val rnd = new scala.util.Random(11)
    def arr(): Seq[Long] =
      rnd.shuffle((0L until 40L).toList).take(rnd.nextInt(26)).sorted
    val pairs = Seq.fill(300)((arr(), arr())) ++
      Seq((Seq.empty[Long], Seq.empty[Long]), (Seq(3L), Seq(3L)), ((0L until 25L).toList, (0L until 25L).toList))
    val checked = pairs.toDF("a", "b")
      .withColumn("need", explode(sequence(lit(0), least(size(col("a")), size(col("b"))) + 1)))
      .select(col("need"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("full"),
        IntersectCountSorted.intersect_count_sorted(col("a"), col("b"), col("need")).as("early"))
      .collect()
    assert(checked.length > 1000)
    for (r <- checked) {
      val (need, full, early) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(early == (if (full >= need) full else -1L), s"need $need, exact $full, got $early")
    }
    // the interpreted path agrees with the generated one
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    for ((a, b) <- pairs.take(50); need <- 0 to math.min(a.size, b.size) + 1) {
      val full = a.intersect(b).size.toLong
      assert(IntersectCountSorted.count(new GenericArrayData(a.toArray[Any]),
        new GenericArrayData(b.toArray[Any]), need) == (if (full >= need) full else -1L))
    }
  }

  test("MatchCount equals the declarative zip_with coordinate-match count") {
    import spark.implicits._
    val pairs = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(1L, 4L, 5L, 9L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(7L), Seq(7L)),
      (Seq(-5L, 0L, 5L), Seq(-5L, 1L, 6L))).toDF("a", "b")
    val df = pairs.select(
      graft.functions.MatchCount.match_count(col("a"), col("b")).as("fused"),
      expr("aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
        .cast("long").as("declarative"))
    assert(df.filter(col("fused") =!= col("declarative")).isEmpty)
  }

  test("LshBuckets is bit-identical to the declarative hyperplane nest") {
    val (tables, bits) = (16, 4)
    val planes: Seq[Seq[Seq[Double]]] = (0 until tables).map { t =>
      (0 until bits).map { j =>
        (0 until 64).map(i => LshBuckets.planeComponent(t, j, i))
      }
    }
    val pl = typedlit(planes)
    val declarative = transform(sequence(lit(0), lit(tables - 1)), t =>
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0),
        (acc, j) => acc * 2 + when(
          aggregate(
            zip_with(col("embedding"), element_at(element_at(pl, t + 1), j + 1),
              (x, p) => x.cast("double") * p),
            lit(0.0), (a, v) => a + v) > 0, 1).otherwise(0)))
    val df = graft.sources.Tables.embeddings(spark, dir)
      .select(LshBuckets.lsh_buckets(col("embedding"), tables, bits).as("fused"),
        declarative.as("declarative"))
    assert(df.filter(col("fused") =!= col("declarative")).isEmpty)
  }

  test("DotDecimal implements the oracle's cast semantics: rint(p*1e12) scaled-long sum") {
    // The contract is bit-identity with DuckDB's double->DECIMAL(30,12)
    // cast (nearbyint on the scaled BINARY value, round-half-even), NOT
    // with Spark's own string-HALF_UP decimal cast — the two disagree
    // on boundary products (see the DotDecimal scaladoc for the real
    // counterexample the sim_knn_exact oracle caught). Pin the kernel
    // to an independent reference loop with those exact semantics, on
    // real embeddings plus the known boundary product.
    val emb = graft.sources.Tables.embeddings(spark, dir).limit(100)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0L
      for (i <- a.indices)
        acc += Math.rint(a(i).toDouble * b(i).toDouble * 1e12).toLong
      acc.toDouble / 1e12
    }
    import spark.implicits._
    val pairs = emb.zip(emb.reverse)
    val got = pairs.toSeq.toDF("a", "b")
      .select(DotDecimal.dot_decimal(col("a").cast("array<float>"),
        col("b").cast("array<float>")).as("fused"))
      .collect().map(_.getDouble(0))
    pairs.map { case (a, b) => ref(a, b) }.zip(got).foreach { case (e, g) =>
      assert(e == g, s"kernel $g != reference $e")
    }
    // The boundary product itself (element 60 of the sf0.01 vec
    // 141x272 pair the oracle caught): p = 0.0297976582285000013...,
    // p*1e12 lands on the exact representable half 29797658228.5 and
    // half-even rounds DOWN to ...228 where string-HALF_UP gives ...229.
    val x = 0.1710841953754425.toFloat; val y = 0.17416955530643463.toFloat
    val p = x.toDouble * y.toDouble
    assert(p * 1e12 == 29797658228.5, s"boundary product drifted: ${p * 1e12}")
    val one = Seq((Array(x), Array(y))).toDF("a", "b")
      .select(DotDecimal.dot_decimal(col("a"), col("b")).as("d"))
      .head.getDouble(0)
    assert(one == 29797658228.0 / 1e12, s"got $one")
  }

  test("SumScaled equals the decimal sum it replaces, including edge cases") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(18, 4))).cast("double")
    def fast(c: org.apache.spark.sql.Column) =
      SumScaled.sum_scaled(c.cast("double"), 4)
    // real-data sweep: every double measure in the fact tables
    val li = graft.sources.Tables.lineitem(spark, dir)
    val r = li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      dec(col("l_quantity")).as("d1"), fast(col("l_quantity")).as("f1"),
      dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("d2"),
      fast(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("f2"))
      .collect()
    r.foreach { row =>
      assert(row.getDouble(2) == row.getDouble(3), s"quantity sum diverged: $row")
      assert(row.getDouble(4) == row.getDouble(5), s"disc price sum diverged: $row")
    }
    // crafted edges: negatives, nulls ignored, all-null and empty groups
    // → NULL, and low-word wraparound (two values whose scaled sum
    // crosses 2^63 exercise the 128-bit carry; the decimal oracle
    // widens to decimal(28,4) and stays exact)
    // 9e13 fits Decimal(18,4) (max 1e14); twelve of them sum to a
    // scaled 1.08e19 > 2^63, wrapping the low word
    val big = 9.0e13
    val edges = (Seq[(String, java.lang.Double)](
      ("neg", -123.4567), ("neg", 0.00005), ("neg", -0.00005),
      ("nulls", null), ("nulls", 1.5), ("allnull", null)) ++
      Seq.fill(12)(("carry", java.lang.Double.valueOf(big))))
      .toDF("k", "v")
    val e = edges.groupBy(col("k"))
      .agg(dec(col("v")).as("d"), fast(col("v")).as("f"))
      .collect().map(row => row.getString(0) ->
        (Option(row.get(1)), Option(row.get(2)))).toMap
    assert(e("allnull") == (None, None), s"all-null group must be NULL: ${e("allnull")}")
    for (k <- Seq("neg", "nulls", "carry"))
      assert(e(k)._1 == e(k)._2, s"group $k diverged: ${e(k)}")
    assert(e("carry")._2.contains(1.08e15), s"carry group sum wrong: ${e("carry")}")
    // empty relation → NULL (SQL SUM semantics)
    val empty = Seq.empty[Double].toDF("v").agg(fast(col("v"))).head
    assert(empty.isNullAt(0), "sum over zero rows must be NULL")
  }

  test("FirstInt is bit-identical to regexp_extract('[0-9]+')::int incl. edges") {
    import spark.implicits._
    // crafted edges: empty, no digits, leading zeros, digit run at
    // start/middle/end, multiple runs (first wins), Int.MaxValue ± 1,
    // long-run overflow, digits after multi-byte UTF-8, null
    val cases = Seq(
      "", "no digits here", "007", "42", "x42", "42x", "a1b2c3",
      "{\"k\": 76}", s"${Int.MaxValue}", "2147483648", "99999999999999999999x5",
      "héllo 123 wörld", "∆9∆", "-15", "3.14", null)
    val df = cases.toDF("s").select(
      col("s"),
      FirstInt.first_int(col("s")).as("fused"),
      expr("try_cast(regexp_extract(s, '[0-9]+', 0) AS INT)").as("declarative"))
    df.collect().foreach { r =>
      assert(r.get(1) == r.get(2),
        s"FirstInt diverged on '${r.get(0)}': fused=${r.get(1)} regex=${r.get(2)}")
    }
    // real-data sweep over every props payload + SQL registration
    val ev = graft.sources.Tables.events(spark, dir)
    assert(ev.select(FirstInt.first_int(col("props")).as("a"),
        expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS INT)").as("b"))
      .filter(not(col("a") <=> col("b"))).isEmpty)
    ev.createOrReplaceTempView("ev_firstint")
    assert(spark.sql(
      "SELECT count(*) FROM ev_firstint WHERE NOT (first_int(props) <=> " +
        "TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS INT))").head.getLong(0) == 0L)
  }

  test("WordStats equals the declarative explode/groupBy word profile") {
    import spark.implicits._
    // crafted edges: empty text (one empty word), single word, double
    // space (empty middle word), all-same, multi-byte words, a word
    // equal to the empty-string hash input's neighbors
    val crafted = Seq(
      "", "a", "a a", "a  a", "a a a a", "the the the cat",
      "héllo héllo wörld", "x " * 200 + "y", "∆ ∆ ∆")
    val real = graft.sources.Tables.documents(spark, dir)
      .select(col("text")).as[String].collect().toSeq
    val df = (crafted ++ real).toDF("text")
    val fused = df.select(col("text"),
      WordStats.word_stats(col("text")).as("ws"))
      .select(col("text"), col("ws.n_words"), col("ws.n_distinct"), col("ws.top_n"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    (crafted ++ real).foreach { t =>
      val words = t.split(" ", -1).toSeq
      val counts = words.groupBy(identity).view.mapValues(_.size)
      val expect = (words.size, counts.size, counts.values.max)
      assert(fused(t) == expect, s"WordStats diverged on '${t.take(60)}': " +
        s"got ${fused(t)}, expect $expect")
    }
    // SQL registration
    Seq("a b a").toDF("text").createOrReplaceTempView("ws_reg")
    val row = spark.sql(
      "SELECT word_stats(text).n_words, word_stats(text).n_distinct, " +
        "word_stats(text).top_n FROM ws_reg").head
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) == ((3, 2, 2)))
  }

  test("DateStr is bit-identical to date_format(ts, 'yyyy-MM-dd')") {
    import spark.implicits._
    // dense sweep around every epoch-day boundary of a leap/century
    // window + uniform random micros over years [1, 9999] (civil fast
    // path, incl. pre-1970 negatives), + null
    val rnd = new scala.util.Random(7)
    val loMicros = java.time.LocalDate.of(1, 1, 2)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
    val hiMicros = java.time.LocalDate.of(9999, 12, 30)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
    val crafted = Seq(
      0L, -1L, 1L, -86400000000L, 86399999999L,                  // epoch edges
      946684799999999L, 946684800000000L,                        // 1999→2000
      951868799999999L, 951868800000000L,                        // 2000-02-29
      4107542399999999L, 4107542400000000L)                      // 2100-02-28→03-01
    val random = Seq.fill(2000)(
      loMicros + (rnd.nextDouble() * (hiMicros - loMicros)).toLong)
    val df = (crafted ++ random).map(java.lang.Long.valueOf)
      .toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .union(Seq[Option[Long]](None).toDF("us")
        .select(timestamp_micros(col("us")).as("ts")))
    def check(d: org.apache.spark.sql.DataFrame): Unit = {
      val bad = d.select(col("ts"),
          DateStr.date_str(col("ts")).as("fused"),
          date_format(col("ts"), "yyyy-MM-dd").as("declarative"))
        .filter(not(col("fused") <=> col("declarative"))).collect()
      assert(bad.isEmpty, s"DateStr diverged on: ${bad.take(5).mkString("; ")}")
    }
    check(df)
    // a DST zone exercises the per-row offset path (spring-forward and
    // fall-back days included in the crafted range below)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      check(df)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // TIMESTAMP_NTZ leg: no zone conversion on either side (the scale
    // ladder's parquet surfaces timestamps as NTZ)
    val ntz = df.select(col("ts").cast("timestamp_ntz").as("tn"))
    val badNtz = ntz.select(col("tn"),
        DateStr.date_str(col("tn")).as("fused"),
        date_format(col("tn"), "yyyy-MM-dd").as("declarative"))
      .filter(not(col("fused") <=> col("declarative"))).collect()
    assert(badNtz.isEmpty, s"DateStr NTZ diverged on: ${badNtz.take(5).mkString("; ")}")
    // real-data sweep + SQL registration
    val evd = graft.sources.Tables.events(spark, dir)
    assert(evd.select(DateStr.date_str(col("ts")).as("a"),
        date_format(col("ts"), "yyyy-MM-dd").as("b"))
      .filter(not(col("a") <=> col("b"))).isEmpty)
    evd.createOrReplaceTempView("ev_datestr")
    assert(spark.sql(
      "SELECT count(*) FROM ev_datestr WHERE NOT (date_str(ts) <=> " +
        "date_format(ts, 'yyyy-MM-dd'))").head.getLong(0) == 0L)
  }

  test("FeedAttrs is bit-identical to the six declarative feed-attribute trees") {
    import graft.etl.Marketing
    import spark.implicits._
    // crafted corners: null ts / null props / digit-free props /
    // int-overflow digit run / negative user_ids on every legal
    // remainder class (-1 mod 5 errors in BOTH forms, so excluded
    // here). Null user_id is asserted separately below: the
    // declarative `element_at(array(...), null)` mis-declares
    // nullable=false in Spark 4 ANSI mode (the ANSI nullability
    // computation accounts for invalid-index errors but not a null
    // index) and crashes interpreted projections, so the kernel's
    // NullIntolerant null-source/null-channel is the sane semantics,
    // pinned directly rather than against the broken twin.
    val crafted = Seq[(Option[Long], Option[Long], Option[String])](
      (None, Some(7L), Some("{\"k\": 3}")),
      (Some(0L), Some(7L), None),
      (Some(0L), Some(7L), Some("no digits at all")),
      (Some(0L), Some(7L), Some("")),
      (Some(0L), Some(7L), Some("k=99999999999999")),
      (Some(-1L), Some(-2L), Some("{\"k\": 17}")),
      (Some(1L), Some(-3L), Some("{\"k\": 0}")),
      (Some(1L), Some(-4L), Some("x2147483647y")),
      (Some(1L), Some(-5L), Some("x2147483648y")))
      .toDF("us", "user_id", "props")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"), col("props"))
    val real = graft.sources.Tables.events(spark, dir)
      .select(col("ts"), col("user_id"), col("props"))
    for (df <- Seq(crafted, real, real.select(
        col("ts").cast("timestamp_ntz").as("ts"), col("user_id"), col("props")))) {
      val fa = FeedAttrs.feed_attrs(col("ts"), col("user_id"), col("props"))
      val bad = df.select(
          col("ts"), col("user_id"), col("props"),
          fa.getField("date").as("f_date"),
          fa.getField("channel").as("f_channel"),
          fa.getField("campaign_ads").as("f_campaign"),
          fa.getField("utm_campaign").as("f_utm_campaign"),
          fa.getField("utm_source").as("f_utm_source"),
          fa.getField("utm_medium").as("f_utm_medium"),
          date_format(col("ts"), "yyyy-MM-dd").as("d_date"),
          Marketing.declChannel.as("d_channel"),
          Marketing.declCampaignAds.as("d_campaign"),
          Marketing.declUtmCampaign.as("d_utm_campaign"),
          Marketing.declUtmSource.as("d_utm_source"),
          Marketing.declUtmMedium.as("d_utm_medium"))
        .filter(
          not(col("f_date") <=> col("d_date")) ||
          not(col("f_channel") <=> col("d_channel")) ||
          not(col("f_campaign") <=> col("d_campaign")) ||
          not(col("f_utm_campaign") <=> col("d_utm_campaign")) ||
          not(col("f_utm_source") <=> col("d_utm_source")) ||
          not(col("f_utm_medium") <=> col("d_utm_medium")))
        .collect()
      assert(bad.isEmpty, s"FeedAttrs diverged on: ${bad.take(5).mkString("; ")}")
    }
    // null user_id: source/channel null (NullIntolerant), medium falls
    // through to 'social' exactly like when().otherwise('social') on a
    // null predicate; date/campaign fields unaffected
    val fa = FeedAttrs.feed_attrs(col("ts"), col("user_id"), col("props"))
    val nullUid = Seq[(Option[Long], Option[Long], Option[String])](
      (Some(0L), None, Some("{\"k\": 3}")), (None, None, None))
      .toDF("us", "user_id", "props")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"), col("props"))
      .select(fa.as("f")).collect()
    nullUid.foreach { r =>
      val s = r.getStruct(0)
      assert(s.isNullAt(1) && s.isNullAt(4) && s.getString(5) == "social",
        s"null-user_id corner wrong: $s")
    }
    assert(nullUid(0).getStruct(0).getString(0) == "1970-01-01" &&
      nullUid(0).getStruct(0).getString(2) == "C-103")
  }

  test("IvfCells matches a naive top-p centroid scan (argmax-dot, low-id ties)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val raw = emb.orderBy(col("vec_id")).limit(20).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    // Normalize like Ivf.train does, so argmax-dot = argmax-cosine.
    val cents: Array[Array[Double]] = raw.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat.toDouble) // float-rounded, as the kernel stores them
    }
    val flat = cents.flatMap(_.map(_.toFloat))
    for (p <- Seq(1, 5)) {
      val got = emb.select(col("vec_id"),
          IvfCells.ivf_cells(col("embedding"), flat, 64, p).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      emb.collect().foreach { r =>
        val x = r.getSeq[Float](1).map(_.toDouble).toArray
        val dots = cents.zipWithIndex.map { case (c, i) =>
          (c.zip(x).map { case (a, b) => a * b }.sum, i)
        }
        // descending dot, ascending cell id on ties
        val want = dots.sortBy { case (d, i) => (-d, i) }.take(p).map(_._2).toSeq
        assert(got(r.getLong(0)) == want,
          s"vec ${r.getLong(0)} p=$p: got ${got(r.getLong(0))}, want $want")
      }
    }
  }

  test("VecSumF32 equals the declarative explode/groupBy vector sum") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select((col("vec_id") % 7).as("g"), col("embedding"))
    val fused = emb.groupBy(col("g"))
      .agg(VecSumF32.vec_sum_f32(col("embedding")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val twin = emb.select(col("g"), posexplode(col("embedding")))
      .groupBy(col("g"), col("pos"))
      .agg(sum(col("col").cast("double")).as("s"))
      .collect().groupBy(_.getLong(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    assert(fused.keySet == twin.keySet)
    // The fused kernel accumulates fixed-point at 2^32 (deterministic);
    // the declarative twin sums doubles. Agreement bound: one rounding
    // of 2^-33 per input row per dimension.
    fused.foreach { case (g, s) =>
      val t = twin(g)
      assert(s.length == t.length)
      s.indices.foreach { i =>
        assert(math.abs(s(i) - t(i)) < 1e-6,
          s"group $g dim $i: fused ${s(i)} vs declarative ${t(i)}")
      }
    }
    // Empty-group / null semantics: all-null input yields NULL.
    import spark.implicits._
    val nulls = Seq[Option[Seq[Float]]](None, None).toDF("v")
      .agg(VecSumF32.vec_sum_f32(col("v").cast("array<float>")).as("s")).collect()
    assert(nulls.head.isNullAt(0), "all-null group should yield NULL")
  }

  test("BloomAgg/BloomContains: no false negatives, bounded FP rate, partition-invariant") {
    import spark.implicits._
    val n = 20000
    val keys = (0 until n).map(i => i.toLong * 0x9e3779b97f4a7c15L) // deterministic spread-out keys
    val inDf = keys.toDF("k")
    val filter = BloomFilters.build(inDf, col("k"), n.toLong)
    // 1. NO false negatives — every inserted key is contained (the
    //    property the pushdown's correctness argument rests on).
    val misses = inDf.filter(!BloomFilters.bloom_contains(col("k"), filter)).count()
    assert(misses == 0L, s"$misses inserted keys reported absent")
    // 2. FP rate at capacity stays near the design point (~0.4% at
    //    12 bits/key, k=6); assert under 4x the theoretical bound to
    //    keep the test host-stable.
    val absent = (0 until n).map(i => (i.toLong + 7) * 0x94d049bb133111ebL + 13L)
      .filterNot(keys.toSet)
    val fps = absent.toDF("k")
      .filter(BloomFilters.bloom_contains(col("k"), filter)).count()
    assert(fps.toDouble / absent.size < 0.016,
      s"FP rate ${fps.toDouble / absent.size} above 4x the design bound")
    // 3. Build is partitioning-invariant BIT-FOR-BIT: the merge is a
    //    word-wise OR (associative + commutative), so 1 vs 13
    //    partitions produce the identical filter.
    val filter13 = BloomFilters.build(inDf.repartition(13), col("k"), n.toLong)
    assert(java.util.Arrays.equals(filter, filter13),
      "filter differs across build-side partitionings")
    // 4. Null keys are skipped, not inserted.
    val withNulls = (keys.map(Option(_)) ++ Seq(None, None)).toDF("k")
    val f2 = BloomFilters.build(withNulls, col("k"), n.toLong)
    assert(java.util.Arrays.equals(filter, f2), "null keys perturbed the filter")
  }

  test("BloomAgg: the size cap keeps serialize under the JVM array limit") {
    // r12 ADVICE: at the old 2^34-bit cap, buffer.length * 8 overflowed
    // Int (2^31 → negative) so ByteBuffer.allocate threw exactly at the
    // cap — the fail-soft FP-degradation claim was broken there. The cap
    // is now 2^33 bits; pin the arithmetic that makes it safe.
    assert(BloomFilters.MaxBits == (1L << 33))
    // Every build size clamps to the cap...
    assert(BloomFilters.sizeBitsFor(Long.MaxValue / 16) == BloomFilters.MaxBits)
    assert(BloomFilters.sizeBitsFor(2_000_000_000L) == BloomFilters.MaxBits)
    // ...and at the cap both the long buffer length and the serialized
    // byte length stay representable as non-negative Ints.
    val words = BloomFilters.MaxBits / 64
    assert(words <= Int.MaxValue, "buffer word count overflows Int")
    assert(words * 8L <= Int.MaxValue, "serialized byte size overflows Int")
    // The type check mirrors the bound: cap accepted, one word past it rejected.
    val key = org.apache.spark.sql.catalyst.expressions.Literal(1L)
    assert(BloomAgg(key, BloomFilters.MaxBits, 6).checkInputDataTypes().isSuccess)
    assert(!BloomAgg(key, BloomFilters.MaxBits + 64, 6).checkInputDataTypes().isSuccess)
    // Exercise serialize→deserialize AT the cap when the heap can hold
    // the transient 2 GiB (buffer + bytes); the bench host (32g) always
    // runs this branch.
    if (Runtime.getRuntime.maxMemory > 6L * (1L << 30)) {
      val agg = BloomAgg(key, BloomFilters.MaxBits, 6)
      val buf = agg.createAggregationBuffer()
      buf(0) = 0x5aL; buf(buf.length - 1) = -1L
      val bytes = agg.serialize(buf)
      assert(bytes.length.toLong == words * 8L)
      val back = agg.deserialize(bytes)
      assert(back(0) == 0x5aL && back(back.length - 1) == -1L && back.length == buf.length)
    }
  }

  test("NormalizeText kernel is bit-identical to the regex chain it replaces") {
    import spark.implicits._
    def chain(c: org.apache.spark.sql.Column) =
      trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
    // crafted edges: leading/trailing punct, multi-space runs, digits,
    // all-punct, empty, uppercase runs, embedded tabs (non-space
    // whitespace is NOT in [a-z0-9 ] → token break in both forms)
    val crafted = Seq("Hello, World!", "  padded  ", "A--B__C", "123 abc XYZ",
      "!!!", "", "THE Quick    brown\tfox", "a", "trailing dot.", ".lead")
      .toDF("text")
    val bad = crafted.select(
        graft.functions.NormalizeText.normalize_text(col("text")).as("k"),
        chain(col("text")).as("r"))
      .filter(col("k") =!= col("r"))
    assert(bad.isEmpty, bad.collect().mkString(","))
    val corpus = graft.sources.Tables.documents(spark, dir).select(
        graft.functions.NormalizeText.normalize_text(col("text")).as("k"),
        chain(col("text")).as("r"))
      .filter(col("k") =!= col("r"))
    assert(corpus.isEmpty)
  }

  test("NormalizeTextUtf8: ASCII fast path bit-identical, non-ASCII matches the NFC reference") {
    import spark.implicits._
    // 1. ASCII: the utf8 tier must DELEGATE to the byte kernel —
    // bit-identity with NormalizeText on crafted edges and the corpus.
    val crafted = Seq("Hello, World!", "  padded  ", "A--B__C", "123 abc XYZ",
      "!!!", "", "THE Quick    brown\tfox", "a", "trailing dot.", ".lead")
      .toDF("text")
    val asciiBad = crafted.unionByName(
        graft.sources.Tables.documents(spark, dir).select(col("text")))
      .select(
        graft.functions.NormalizeTextUtf8.normalize_text_utf8(col("text")).as("u"),
        graft.functions.NormalizeText.normalize_text(col("text")).as("k"))
      .filter(col("u") =!= col("k"))
    assert(asciiBad.isEmpty, asciiBad.collect().mkString(","))
    // 2. Non-ASCII: independent reference — NFC via java.text.Normalizer
    // + the unicode regex chain (the DuckDB-mirrored rule) — over a
    // crafted multilingual corpus covering the documented divergence
    // classes: Kelvin sign (NFC singleton → K → k), accented latin,
    // Greek case, fullwidth digits (\p{Nd} — kept), superscript two
    // (\p{No} — dropped), CJK (letters, no case), arabic-indic digits,
    // combining marks (é composed by NFC), emoji/punct (dropped).
    def ref(s: String): String = {
      val n = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      val sb = new java.lang.StringBuilder
      n.codePoints().forEach(cp => sb.appendCodePoint(Character.toLowerCase(cp)))
      sb.toString.replaceAll("[^\\p{L}\\p{Nd}]+", " ").trim
    }
    val multi = Seq(
      "Temp 300K outside",               // Kelvin sign
      "Héllo WÖRLD",                // é, Ö
      "Σοφία 2024",  // Greek: Σοφία
      "éclair été",          // combining acute -> NFC é
      "１２３ fullwidth",         // fullwidth digits (Nd)
      "area² and Ⅳ roman",          // ² (No), Ⅳ (Nl) — dropped
      "中文 text ١٢٣", // CJK + arabic-indic digits
      "emoji 😀 mixed, punct—dash",
      "Å ngström",                  // Å (angstrom sign, NFC → Å)
      "straße İstanbul")            // ß, dotted capital I
      .toDF("text")
    val rows = multi.select(col("text"),
        graft.functions.NormalizeTextUtf8.normalize_text_utf8(col("text")).as("u"))
      .collect()
    for (r <- rows) {
      val (t, u) = (r.getString(0), r.getString(1))
      assert(u == ref(t), s"'$t': got '$u', want '${ref(t)}'")
    }
    // The headline divergence closed: the Kelvin sign folds to k.
    assert(rows.find(_.getString(0).contains("K")).get.getString(1)
      == "temp 300k outside")
  }

  test("WindowHashes roll matches a direct polynomial recomputation, window-injective") {
    // Direct O(n·w) reference: token XXH64 once, then each window's
    // polynomial evaluated independently (no rolling — an arithmetic
    // slip in the roll's subtract/multiply would desynchronize the two
    // after the first window).
    def direct(words: Array[String], w: Int): Array[Long] = {
      val t = words.map(s => XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L))
      if (t.length < w) Array.emptyLongArray
      else (0 to t.length - w).map { i =>
        var h = 0L
        for (j <- i until i + w) h = h * WindowHashes.Base + t(j)
        h
      }.toArray
    }
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    for (w <- Seq(1, 2, 16)) {
      val got = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"),
          WindowHashes.window_hashes(split(col("text"), " "), w).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      docs.foreach { case (id, ws) =>
        assert(java.util.Arrays.equals(got(id), direct(ws, w)),
          s"doc $id w=$w roll != direct")
      }
      // Injectivity on the corpus: window string ↔ hash must be a
      // bijection (the surrogate argument the span operators rest on).
      val byString = scala.collection.mutable.Map.empty[String, Long]
      val byHash = scala.collection.mutable.Map.empty[Long, String]
      for ((id, ws) <- docs if ws.length >= w; (win, i) <- ws.sliding(w).zipWithIndex) {
        val s = win.mkString(" ")
        val h = got(id)(i)
        assert(byString.getOrElseUpdate(s, h) == h, s"same window, two hashes: $s")
        assert(byHash.getOrElseUpdate(h, s) == s, s"hash collision at w=$w: '$s' vs '${byHash(h)}'")
      }
    }
  }

  test("CutSpans equals the declarative filter/exists cut, incl. edge coverage") {
    import spark.implicits._
    // (words, span starts, span ends) — sorted disjoint spans, the
    // operator's contract: none, at-start, at-end, interior, adjacent
    // islands, full coverage, single-word doc, empty-token survivors.
    val cases = Seq(
      (Seq("a", "b", "c"), Seq.empty[Long], Seq.empty[Long]),
      (Seq("a", "b", "c", "d"), Seq(0L), Seq(1L)),
      (Seq("a", "b", "c", "d"), Seq(2L), Seq(3L)),
      (Seq("a", "b", "c", "d", "e"), Seq(1L), Seq(3L)),
      (Seq("a", "b", "c", "d", "e", "f"), Seq(0L, 4L), Seq(1L, 5L)),
      (Seq("a", "b"), Seq(0L), Seq(1L)),
      (Seq("x"), Seq.empty[Long], Seq.empty[Long]),
      (Seq("a", "", "b", ""), Seq(1L), Seq(2L))).toDF("w", "ss", "ee")
    val df = cases.select(
      graft.functions.CutSpans.cut_spans(col("w"), col("ss"), col("ee")).as("fused"),
      concat_ws(" ", filter(col("w"), (x, i) =>
        !exists(arrays_zip(col("ss"), col("ee")),
          s => i.cast("long").between(s.getField("ss"), s.getField("ee"))))
        ).as("declarative"))
    assert(df.filter(col("fused") =!= col("declarative")).isEmpty)
    // And on the corpus at w=16 against the registered span list.
    val spans = graft.operators.Dedup.substringSpans(spark, dir, 16)
    val perDoc = spans.groupBy(col("doc_id")).agg(
      sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"))
    val emptyLongs = array().cast("array<bigint>")
    val corpus = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        graft.functions.CutSpans.cut_spans(col("w"),
          coalesce(transform(col("sp"), _.getField("span_start")), emptyLongs),
          coalesce(transform(col("sp"), _.getField("span_end")), emptyLongs)).as("fused"),
        concat_ws(" ", filter(col("w"), (x, i) =>
          !exists(coalesce(col("sp"),
              array().cast("array<struct<span_start:bigint,span_end:bigint>>")),
            s => i.cast("long").between(
              s.getField("span_start"), s.getField("span_end"))))).as("declarative"))
    assert(corpus.filter(col("fused") =!= col("declarative")).isEmpty)
    graft.Caches.release()
  }
}
