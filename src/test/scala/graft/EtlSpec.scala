package graft

import graft.etl.{Consolidate, EtlQueries, Marketing, MetricsQueries}
import graft.functions.HmacSha256
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EtlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  /** Reference impl straight from javax.crypto, independent of the
    * expression's own helper (handlers.go generateHMACSignature).
    */
  private def hmacRef(data: String, key: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      key.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(data.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("hmac_sha256 expression matches javax.crypto on every payload") {
    val rows = EtlQueries.hmacExport(spark, dir)
      .select("payload", "signature").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) == hmacRef(r.getString(0), "admira_secret_example"))
    }
  }

  test("hmac_sha256 handles multi-byte UTF-8 and distinct keys") {
    import spark.implicits._
    val df = Seq(("payload-Ω-日本語", "k1"), ("", "k2"), ("x", "k1"))
      .toDF("data", "key")
      .withColumn("sig", HmacSha256.hmac_sha256(col("data"), col("key")))
    df.collect().foreach { r =>
      assert(r.getString(2) == hmacRef(r.getString(0), r.getString(1)))
    }
  }

  test("re-ingesting the same feeds is idempotent (key consolidation)") {
    val ads = Marketing.adsFeed(spark, dir)
    val crm = Marketing.crmFeed(spark, dir)
    val once = Consolidate.metrics(ads, crm)
    // Re-running the whole pipeline (the reference's repeated /ingest)
    // must produce identical consolidated rows: same keys, same sums.
    val twice = Consolidate.metrics(Marketing.adsFeed(spark, dir),
      Marketing.crmFeed(spark, dir))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
    // And consolidation of a doubled feed doubles measures, not keys —
    // the MetricKey grouping absorbs duplicate deliveries into the same row.
    val doubled = Consolidate.metrics(ads.unionByName(ads), crm.unionByName(crm))
    assert(doubled.count() == once.count())
  }

  test("lenient parsing is per-row: random format interleavings match a java.time oracle") {
    // The reference parses each CRM row independently (crm.go
    // parseDateTime tries all formats per call). A column-batch
    // implementation could accidentally latch the first format that
    // succeeds in a batch, so this property fuzzes batches in which
    // ALL eight format arms (plus slash separators and padding) are
    // randomly interleaved, and checks every row against an instant
    // computed on the driver with java.time — independent of both the
    // expression and the SQL cascade.
    import java.time.{LocalDateTime, ZoneOffset}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    def f2(n: Int) = f"$n%02d"
    val genCase: Gen[(String, java.time.Instant)] = for {
      y <- Gen.choose(1990, 2035); mo <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
      h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      ms <- Gen.choose(0, 999)
      offMin <- Gen.oneOf(Gen.choose(1, 14 * 60), Gen.choose(-14 * 60, -1))
      arm <- Gen.choose(0, 7)
      slashes <- Gen.prob(0.3)
      pad <- Gen.prob(0.3)
    } yield {
      val ldt = LocalDateTime.of(y, mo, d, h, mi, se)
      val off = ZoneOffset.ofTotalSeconds(offMin * 60)
      val ds0 = f"$y%04d-${f2(mo)}-${f2(d)}"
      val ds = if (slashes) ds0.replace('-', '/') else ds0
      val t = s"${f2(h)}:${f2(mi)}:${f2(se)}"
      val sign = if (offMin < 0) "-" else "+"
      val oh = f2(math.abs(offMin) / 60); val om = f2(math.abs(offMin) % 60)
      val (raw, inst) = arm match {
        case 0 => (s"${ds}T${t}Z", ldt.toInstant(ZoneOffset.UTC))
        case 1 => (s"$ds $t", ldt.toInstant(ZoneOffset.UTC))
        case 2 => (ds, ldt.toLocalDate.atStartOfDay.toInstant(ZoneOffset.UTC))
        case 3 => (s"${ds}T$t$sign$oh:$om", ldt.toInstant(off))
        case 4 => (s"${ds}T$t.${f"$ms%03d"}$sign$oh:$om",
          ldt.plusNanos(ms * 1000000L).toInstant(off))
        case 5 => (s"$ds $t $sign$oh$om", ldt.toInstant(off))
        case 6 => (s"$ds $t UTC", ldt.toInstant(ZoneOffset.UTC))
        case 7 => (s"$ds $t.${f"$ms%03d"}",
          ldt.plusNanos(ms * 1000000L).toInstant(ZoneOffset.UTC))
      }
      (if (pad) s"  $raw " else raw, inst)
    }
    // Several independently seeded batches, each one mixed-format by
    // construction; deterministic seeds keep the suite reproducible.
    for (seed <- 1L to 4L) {
      val cases = Gen.listOfN(300, genCase)
        .apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(fail("generator exhausted"))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          cases.zipWithIndex.map { case ((raw, _), i) => org.apache.spark.sql.Row(i, raw) }, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("idx", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("raw", org.apache.spark.sql.types.StringType))))
      val parsed = df.select(col("idx"), col("raw"),
          Marketing.parseDateTimeLenient(col("raw")).as("ts"))
        .collect().sortBy(_.getInt(0))
      parsed.zip(cases).foreach { case (r, (raw, expected)) =>
        assert(!r.isNullAt(2), s"seed $seed: failed to parse '$raw'")
        assert(r.getTimestamp(2).toInstant == expected,
          s"seed $seed: '$raw' -> ${r.getTimestamp(2).toInstant}, expected $expected")
      }
    }
  }

  test("LenientTimestamp accepts a superset of the try_to_timestamp cascade") {
    import spark.implicits._
    // every generated format arm at sf0.001 + handwritten edge cases
    val gen = EtlQueries.dateParse(spark, dir) // exercises the expression itself
    assert(gen.filter(col("parsed_date").isNull).isEmpty)
    val edge = Seq("2024-01-02T15:04:05+07:00", "2024-01-02T15:04:05.123Z",
      "2024-01-02 15:04:05 -0700", "2024-01-02 15:04:05 UTC",
      "2024/01/02", "  2024-01-02 15:04:05.250  ", "garbage", "2024-13-99",
      // cascade-null, expression-parsed (documented extra leniency):
      "2024-01-02 15:04:05.25", "2024-01-02T15:04:05.123456Z").toDF("raw")
    val both = edge.select(col("raw"),
      Marketing.parseDateTimeLenient(col("raw")).as("fused"),
      Marketing.parseDateTimeCascade(col("raw")).as("cascade")).collect()
    both.foreach { r =>
      // wherever the cascade parses, the expression must agree exactly
      if (!r.isNullAt(2)) assert(r.get(1) == r.get(2), s"divergence on '${r.getString(0)}'")
    }
    val extra = both.filter(r => r.isNullAt(2) && !r.isNullAt(1)).map(_.getString(0))
    // Spark's lenient 'SSS' already takes 1-3 fraction digits, so the
    // short-fraction case agrees with the cascade; only sub-ms
    // fractions are genuinely extra leniency.
    assert(extra.toSet == Set("2024-01-02T15:04:05.123456Z"))
    // short fraction parses to the value Go's time.Parse would produce
    val frac = both.find(_.getString(0) == "2024-01-02 15:04:05.25").get
    assert(frac.getTimestamp(1).toInstant == java.time.Instant.parse("2024-01-02T15:04:05.250Z"))
  }

  test("ingest stamping: every stamped feed row carries a plausible ingested_at") {
    val before = new java.sql.Timestamp(System.currentTimeMillis() - 1000)
    for (feed <- Seq(EtlQueries.ingestAds(spark, dir), EtlQueries.ingestCrm(spark, dir))) {
      val stamps = feed.select(col("ingested_at")).collect()
      val after = new java.sql.Timestamp(System.currentTimeMillis() + 1000)
      assert(stamps.nonEmpty)
      stamps.foreach { r =>
        val t = r.getTimestamp(0)
        assert(t != null && !t.before(before) && !t.after(after),
          s"ingested_at $t outside the ingest run window [$before, $after]")
      }
    }
  }

  test("crm feed passes through opportunity_id and contact_email stand-ins") {
    // models/crm.go:8-20 — debugCRM returns these verbatim; the stand-ins
    // must be deterministic functions of the event/user keys.
    val crm = Marketing.crmFeed(spark, dir).collect()
    val users = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(crm.nonEmpty)
    crm.foreach { r =>
      val eid = r.getAs[Long]("event_id")
      assert(r.getAs[String]("opportunity_id") == s"O-$eid")
      assert(r.getAs[String]("contact_email") == s"user${users(eid)}@example.com")
    }
  }

  test("fused single-scan consolidation equals the two-feed union path") {
    val twoScan = Consolidate.metrics(
      Marketing.adsFeed(spark, dir), Marketing.crmFeed(spark, dir))
    val oneScan = Consolidate.consolidateNormalized(Marketing.unionedFeed(spark, dir))
    assert(oneScan.exceptAll(twoScan).isEmpty && twoScan.exceptAll(oneScan).isEmpty)
  }

  test("packed-key consolidation equals the string-key path exactly") {
    val strings = Consolidate.consolidateNormalized(Marketing.unionedFeed(spark, dir))
    val packed = Consolidate.metricsPacked(graft.sources.Tables.events(spark, dir))
    assert(packed.schema.fieldNames.sameElements(strings.schema.fieldNames))
    assert(packed.exceptAll(strings).isEmpty && strings.exceptAll(packed).isEmpty)
    // group-count sanity: the packing must not merge or split any group
    assert(packed.count() == strings.count())
  }

  test("FeedKey packs injectively at the civil-range boundary and throws exactly outside") {
    // FeedKey's contract (FeedKey.scala): timestamps whose civil day
    // falls in years [1, 9999] pack; anything outside throws and the
    // caller must use the string-key path. This property pins the
    // boundary itself: the four extreme civil days (0001-01-01,
    // 0001-01-02, 9999-12-30, 9999-12-31) pack at any intra-day
    // instant, expand back to exactly their civil date string
    // (computed independently via java.time), stay injective across
    // distinct days, and the first day on either side throws.
    import java.time.{LocalDate, ZoneOffset}
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.{FeedKey, FeedKeyExpand}
    val zid = ZoneOffset.UTC
    val DayUs = 86400L * 1000000L
    val minDay = LocalDate.of(1, 1, 1).toEpochDay        // -719162
    val maxDay = LocalDate.of(9999, 12, 31).toEpochDay   //  2932896
    val boundaryDays = Seq(minDay, minDay + 1, maxDay - 1, maxDay)
    val genCase: Gen[(Long, Long, String, String)] = for {
      off <- Gen.choose(0L, DayUs - 1)                   // intra-day instant
      uid <- Gen.choose(0L, 1000L)
      k <- Gen.choose(0, 99)
      et <- Gen.oneOf("view", "click", "signup", "error", "purchase")
    } yield (off, uid, s"""{"k": $k}""", et)
    val cases = Gen.listOfN(200, genCase)
      .apply(Gen.Parameters.default, Seed(7L)).getOrElse(fail("gen exhausted"))
    def packAt(day: Long, off: Long, uid: Long, props: String, et: String): Long =
      FeedKey.pack(tsNull = false, day * DayUs + off, zid,
        uidNull = false, uid, UTF8String.fromString(props), UTF8String.fromString(et))
    for ((off, uid, props, et) <- cases) {
      val keysByDay = boundaryDays.map { day =>
        val pk = packAt(day, off, uid, props, et)
        // expand(mkey) must reconstruct the exact civil date string —
        // independently computed, zero-padded (year 1 => "0001-01-01")
        val date = FeedKeyExpand.expand(pk >>> 3).getUTF8String(0).toString
        val expect = LocalDate.ofEpochDay(day).toString // zero-padded for years < 1000
        assert(date == expect, s"day $day expanded to $date, expected $expect")
        pk
      }
      // injective across distinct days (same uid/props/type): the day
      // field occupies its own bits, so all four keys must differ
      assert(keysByDay.distinct.size == boundaryDays.size)
      // one day outside either end throws, at any intra-day instant
      for (day <- Seq(minDay - 1, maxDay + 1)) {
        val e = intercept[IllegalArgumentException](packAt(day, off, uid, props, et))
        assert(e.getMessage.contains("outside civil years"))
      }
    }
    // all-intra-day instants of one day pack to the SAME mkey date field
    val pks = Seq(0L, DayUs / 2, DayUs - 1)
      .map(off => packAt(minDay, off, 7L, """{"k": 3}""", "view") >>> 16)
    assert(pks.distinct.size == 1, "intra-day instants split the packed day field")
  }

  test("derived metrics guard non-positive denominators to zero") {
    import spark.implicits._
    val consolidated = Seq(
      ("2024-01-01", "google_ads", "C-100", "camp_1", "google", "cpc",
        0L, 10L, 5.0, 0L, 0L, 0L, 0.0),
      ("2024-01-02", "google_ads", "C-100", "camp_1", "google", "cpc",
        4L, 10L, -2.0, 2L, 1L, 1L, 8.0))
      .toDF("date", "channel", "campaign_id", "utm_campaign", "utm_source",
        "utm_medium", "clicks", "impressions", "cost", "leads",
        "opportunities", "closed_won", "revenue")
    val rows = Consolidate.withDerived(consolidated)
      .orderBy("date").collect()
    // clicks=0 → cpc 0; leads=0 → cpa 0 (reference: den > 0 guards)
    assert(rows(0).getAs[Double]("cpc") == 0.0)
    assert(rows(0).getAs[Double]("cpa") == 0.0)
    assert(rows(0).getAs[Double]("roas") == 0.0)
    // negative cost → roas 0 even though cost != 0
    assert(rows(1).getAs[Double]("roas") == 0.0)
    assert(rows(1).getAs[Double]("cpc") == -0.5)
    assert(rows(1).getAs[Double]("cvr_lead_to_opp") == 0.5)
  }

  test("lenient parser handles all 8 reference formats + slash normalization") {
    import spark.implicits._
    val inputs = Seq(
      "2024-01-02T15:04:05Z",
      "2024-01-02 15:04:05",
      "2024-01-02",
      "2024-01-02T15:04:05+07:00",
      "2024-01-02T15:04:05.123Z",
      "2024-01-02 15:04:05 +0000",
      "2024-01-02 15:04:05 UTC",
      "2024-01-02 15:04:05.000",
      "2024/01/02 15:04:05",
      "not a date")
    val out = inputs.toDF("raw")
      .select(col("raw"), Marketing.parseDateTimeLenient(col("raw")).as("ts"))
      .collect().map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    inputs.filter(_ != "not a date").foreach { s =>
      assert(out(s).isDefined, s"failed to parse: $s")
    }
    assert(out("not a date").isEmpty)
    // offset input resolves to the correct UTC instant
    assert(out("2024-01-02T15:04:05+07:00").get.toInstant
      == java.time.Instant.parse("2024-01-02T08:04:05Z"))
  }

  test("channel pagination plan avoids a full-data single-partition window") {
    val m = MetricsQueries.metrics(spark, dir)
    val plan = MetricsQueries
      .channelQuery(m, "google_ads", "2024-01-05", "2024-01-25", 30, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("metricsForDays refuses a non-UTC session instead of dropping rows") {
    // its ts prefilter uses UTC-midnight instants, equal to the callers'
    // date predicates only while `date` derives from ts in UTC
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException](
        MetricsQueries.metricsForDays(spark, dir, "2024-01-05", Some("2024-01-25")))
      assert(e.getMessage.contains("America/New_York"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("channel inference matches the reference's UTM mapping") {
    import spark.implicits._
    val df = Seq(("google", "cpc"), ("facebook", "social"), ("tiktok", "cpc"),
      ("linkedin", "social"), ("newsletter", "cpc"))
      .toDF("s", "m")
      .select(Marketing.inferChannel(col("s"), col("m")).as("ch"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("google_ads", "facebook_ads", "tiktok_ads", "linkedin_ads", "newsletter_cpc"))
  }
}
