package graft

import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.{ArrivalStore, EventStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming twins must agree with their batch twins on the
  * same finite feed (SURVEY §2.7). The feed streams through a file
  * source (public API, one micro-batch) into a memory sink.
  */
class StreamingSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  test("streaming hourly window agg equals q13_hourly_agg batch") {
    val tmp = tmpDir("graft_stream_hourly")
    val events = Tables.events(spark, dir)
    events.write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(events.schema).parquet(tmp)
    val q = EventStream.hourlyAgg(src).writeStream
      .format("memory").queryName("hourly_stream").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val got = spark.table("hourly_stream").collect().map(key).sortBy(t => (t._1, t._2))
    val want = Relational.q13HourlyAgg(spark, dir).collect().map(key).sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming consolidation equals etl_consolidate batch") {
    val ev = Tables.events(spark, dir)
    val tmp = tmpDir("graft_stream_cons")
    ev.repartition(3).write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = EventStream.consolidate(src).writeStream
      .format("memory").queryName("cons_stream").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("cons_stream")
    val want = graft.etl.EtlQueries.consolidate(spark, dir)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming dedup removes cross-batch duplicates (twin of batch distinct)") {
    val ev = Tables.events(spark, dir)
    val tmp = tmpDir("graft_stream_dedup")
    // the same events written twice -> duplicates arrive in different
    // micro-batches; watermark-bounded state must still drop them
    ev.repartition(2).write.mode("overwrite").parquet(tmp)
    ev.repartition(2).write.mode("append").parquet(tmp)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = EventStream.dedupEvents(src).writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("dedup_stream")
    assert(got.count() == ev.count())
    assert(got.select("event_id").distinct().count() == ev.count())
  }

  test("stream-stream interval join equals the batch bounded attribution join") {
    val ev = Tables.events(spark, dir)
    val (minTs, maxTs) = {
      val r = ev.agg(min(col("ts")), max(col("ts"))).head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    // Events arrive out of order across micro-batches, so the watermark
    // delay covers the feed's whole span — nothing is ever late-dropped
    // and the finite-feed result must equal the batch join exactly.
    val spanSec = (maxTs.getTime - minTs.getTime) / 1000 + 10
    val tmp = tmpDir("graft_stream_attr")
    ev.repartition(3).write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = EventStream.attributionJoin(src, delay = s"$spanSec seconds")
      .writeStream
      .format("memory").queryName("attr_stream").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // batch twin: identical bounded-window inner join, derived
    // independently from the raw frames
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"), col("ts").as("view_ts"))
    val want = clicks.join(views,
        col("user_id") === col("vu") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 1 hour"))
      .select(col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.table("attr_stream").select(col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == want,
      s"stream-stream join diverged: got ${got.size} pairs, want ${want.size}")
  }

  test("streaming signed export equals per-date batch export; replay leaves the store unchanged") {
    import graft.etl.{EtlQueries, MetricsQueries}
    val ev = Tables.events(spark, dir)
    val root = tmpDir("graft_export")
    val (srcDir, storeDir) = (s"$root/src", s"$root/store")
    ev.repartition(3).write.mode("overwrite").parquet(srcDir)
    // discipline 3: a store with no committed batch reads as an empty
    // frame of the export schema
    val emptyStore = EventStream.signedExportRows(spark, storeDir)
    assert(emptyStore.isEmpty)
    def run(ckpt: String): Unit = {
      // fresh checkpoint each run = the full feed replays into the SAME store
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EventStream.signedExport(src, storeDir, ckpt)
      try { q.processAllAvailable() } finally { q.stop() }
    }
    run(s"$root/ckpt_a")
    assert(ArrivalStore.standingDirs(s"$storeDir/export", Long.MaxValue).length > 1,
      "the feed must span several micro-batches, so keys resolve across batch dirs")
    def snapshot(store: String) = EventStream.signedExportRows(spark, store)
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(emptyStore) == typed(snapshot(storeDir)))
    val first = rowsOf(snapshot(storeDir))
    assert(first.nonEmpty)
    // batch reference: handlers.go runExport per date — exportDaily +
    // signing, composed from the already-verified batch operators
    val m = MetricsQueries.metrics(spark, dir).persist()
    val dates = m.select(col("date")).distinct().collect().map(_.getString(0))
    val want = dates.flatMap { d =>
      EtlQueries.signExportRows(
          MetricsQueries.exportDaily(m, d).withColumn("date", lit(d)))
        .collect().map(_.toString)
    }.sorted.toSeq
    // compare on the batch reference's column order
    val refCols = EtlQueries.signExportRows(
      MetricsQueries.exportDaily(m, dates.head).withColumn("date", lit(dates.head))).columns
    val gotRows = rowsOf(snapshot(storeDir).select(refCols.map(col).toIndexedSeq: _*))
    assert(gotRows == want, "streaming export store diverges from batch per-date export")
    // replay the whole feed into the same store: identical rows, no dups
    run(s"$root/ckpt_b")
    assert(rowsOf(snapshot(storeDir)) == first,
      "replaying the feed changed the store (not idempotent)")
    // checkpointed RESTART: a second source feeds half its files to one
    // query instance, then a NEW instance resumes from the same
    // checkpoint for the rest — exactly-once recovery must land the
    // store in the same final state
    val (src2, store2, ckpt2) = (s"$root/src2", s"$root/store2", s"$root/ckpt2")
    def startOn(src: String) = EventStream.signedExport(
      spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src),
      store2, ckpt2)
    ev.filter(col("event_id") % 2 === 0).repartition(2).write.mode("append").parquet(src2)
    val q1 = startOn(src2)
    try { q1.processAllAvailable() } finally { q1.stop() }
    ev.filter(col("event_id") % 2 === 1).repartition(2).write.mode("append").parquet(src2)
    val q2 = startOn(src2)
    try { q2.processAllAvailable() } finally { q2.stop() }
    assert(rowsOf(snapshot(store2)) == first,
      "checkpointed restart diverged from the single-run store")
    m.unpersist()
  }

  test("sessionizer state survives a checkpointed restart (exactly-once)") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val (minTs, maxTs) = {
      val r = ev.toDF().agg(min(col("ts")), max(col("ts"))).head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val spanSec = (maxTs.getTime - minTs.getTime) / 1000 + 10
    val srcDir = tmpDir("graft_ckpt_src")
    val ckptDir = tmpDir("graft_ckpt_state")
    val outDir = tmpDir("graft_ckpt_out")
    def startQuery() = {
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", s"$spanSec seconds")
        .as[EventStream.Ev]
      EventStream.sessionize(src).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    // run 1: first half of the feed only — all state still open/buffered
    ev.filter(col("event_id") % 2 === 0).repartition(2)
      .write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally { q1.stop() }
    // "process restart": second half + horizon land, a NEW query
    // instance resumes from the checkpointed state store
    ev.filter(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(srcDir)
    val horizonTs = new java.sql.Timestamp(
      maxTs.getTime + spanSec * 1000 + EventStream.GapUs / 1000 + 3600000L)
    Seq(EventStream.Ev(-1L, horizonTs, -1L, "horizon", 0.0)).toDS()
      .write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally { q2.stop() }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))
    val got = spark.read.parquet(outDir).collect().map(key).sortBy(t => (t._1, t._2))
    val want = Relational.q18Sessionize(spark, dir).collect().map(key).sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming sessionize equals q18_sessionize batch across out-of-order micro-batches") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Ev]
    val (minTs, maxTs) = {
      val r = ev.toDF().agg(min(col("ts")), max(col("ts"))).head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    // Watermark delay covers the feed's whole span: events arrive split
    // across micro-batches in arbitrary (out-of-order) chunks, so
    // nothing may be sealed until the horizon sentinel arrives.
    val spanSec = (maxTs.getTime - minTs.getTime) / 1000 + 10
    val tmp = tmpDir("graft_stream_sess")
    // 3 part files -> 3 micro-batches of randomly-interleaved events
    ev.repartition(3).write.mode("overwrite").parquet(tmp)
    // horizon sentinel, written last -> final micro-batch; it pushes the
    // watermark past every session's gap window. It belongs to a
    // nonexistent user and its own event time sits beyond the final
    // watermark, so it never seals and never emits a session — no
    // filtering needed (a filter would be pushed below the watermark
    // node and hide the sentinel from watermark tracking).
    val horizonTs = new java.sql.Timestamp(
      maxTs.getTime + spanSec * 1000 + EventStream.GapUs / 1000 + 3600000L)
    Seq(EventStream.Ev(-1L, horizonTs, -1L, "horizon", 0.0)).toDS()
      .write.mode("append").parquet(tmp)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
      .withWatermark("ts", s"$spanSec seconds")
      .as[EventStream.Ev]
    val q = EventStream.sessionize(src).writeStream
      .format("memory").queryName("sess_stream").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))
    val got = spark.table("sess_stream").collect().map(key).sortBy(t => (t._1, t._2))
    val want = Relational.q18Sessionize(spark, dir).collect().map(key).sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("arrival dedup: standing store grows, first arrival wins, retry is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrival_store")
    val ckpt = tmpDir("graft_arrival_ckpt")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalDedup(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    // Crafted arrivals: "aaa" recurs across batches (including with a
    // SMALLER id later — first arrival must still win), "ccc" duplicates
    // within one batch (min id wins), "ddd" arrives clean.
    val chunks = Seq(
      Seq((10L, "aaa"), (11L, "bbb"), (12L, "aaa")),
      Seq((5L, "aaa"), (14L, "ccc"), (13L, "ccc")),
      Seq((20L, "bbb"), (21L, "ddd")))
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    def acceptedSet() = EventStream.arrivalAccepted(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val got = acceptedSet()
    assert(got == Set((10L, 2L, 0L), (11L, 1L, 0L), (13L, 2L, 1L), (21L, 1L, 2L)),
      s"arrival dedup accepted set wrong: $got")
    // From-scratch fold of the same semantics (first-arrival by chunk,
    // min-id within a chunk) — the crafted assert above is a reading of
    // this fold, not an independent convention.
    val seen = scala.collection.mutable.Set[String]()
    val expect = chunks.zipWithIndex.flatMap { case (c, b) =>
      val winners = c.groupBy(_._2).filter(g => !seen.contains(g._1))
        .map { case (_, rows) => (rows.map(_._1).min, rows.size.toLong, b.toLong) }
      c.foreach(r => seen += r._2)
      winners
    }.toSet
    assert(got == expect, s"fold disagrees: got $got expect $expect")
    // Retried batch (a sink crash AFTER the hash write committed): the
    // same batchId re-runs against a store that already contains its
    // own hashes. batch < batchId standing-state filtering must keep
    // the replay deterministic — store unchanged, no self-rejection.
    EventStream.dedupArrivalBatch(chunks(1).toDF("doc_id", "text"), store, 1L)
    assert(acceptedSet() == got, "retried batch changed the store")
    // And the NEXT batch's standing state includes every prior hash:
    // a full replay of all three payloads as later batches accepts
    // nothing new.
    EventStream.dedupArrivalBatch(
      chunks.flatten.toDF("doc_id", "text"), store, 7L)
    assert(EventStream.arrivalAccepted(spark, store)
        .filter(col("batch") === 7L).count() == 0L,
      "replayed content was re-accepted against the standing store")
  }

  test("arrival near-dup: three reject tiers against the growing store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrnd_store")
    val ckpt = tmpDir("graft_arrnd_ckpt")
    // Distinct vocabularies so unrelated docs share NO 3-gram shingle;
    // an appended word keeps J = (n-2)/(n+1) ≈ 0.95 ≥ 0.9 on 40-word
    // bases (a near-dup the exact hash can't see).
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val baseA = words("alpha", 40)
    val baseB = words("beta", 40)
    val baseC = words("gamma", 40)
    val baseD = words("delta", 40)
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalNearDup(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    val chunks = Seq(
      // batch 0: two unrelated docs, both accepted
      Seq((10L, baseA), (11L, baseB)),
      // batch 1: near-dup of A (cross tier: J = 38/39 ≈ 0.97), exact
      // dup of A (tier 1), and a clean arrival
      Seq((20L, baseA + " alphaX"), (21L, baseA), (22L, baseC)),
      // batch 2: the SAME near-dup content again — tier 1 must reject
      // it now (its hash was recorded as seen even though rejected) —
      // plus a fresh-vocabulary within-batch near-dup pair (tier 3:
      // no store relative, min id keeps)
      Seq((30L, baseA + " alphaX"), (32L, baseD + " deltaX"), (31L, baseD)))
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    def accepted() = spark.read.option("basePath", s"$store/accepted")
      .parquet(s"$store/accepted")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("batch").toLong))
      .toSet
    val got = accepted()
    assert(got == Set((10L, 0L), (11L, 0L), (22L, 1L), (31L, 2L)),
      s"arrival near-dup accepted set wrong: $got")
    // Retried batch 1 (same batchId, store already contains its
    // writes): deterministic, store unchanged.
    EventStream.nearDupArrivalBatch(
      chunks(1).toDF("doc_id", "text"), store, 1L, 0.9, 64, 16)
    assert(accepted() == got, "retried near-dup batch changed the store")
  }

  test("arrival clusters: delta-log labels equal a full batch recompute") {
    arrivalClustersEqualRecompute()
  }

  test("arrival clusters: every arrival gate forced large equals the same recompute") {
    // The arrival gates take no registered query, so the forced-tier
    // sweep (TiersSpec) leaves them to this case. The literal-IN fetch
    // is reached only on the batch gate's small side: a second run
    // forces it large there.
    val arrival = Seq(Tiers.ArrivalBatch, Tiers.LatestWindow, Tiers.LatestKeys, Tiers.LiteralIn)
    val (_, large) = Tiers.forcing(arrival.map(_ -> Tiers.Large): _*)(
      arrivalClustersEqualRecompute())
    assert(Set(Tiers.ArrivalBatch, Tiers.LatestWindow, Tiers.LatestKeys).subsetOf(large),
      s"the all-large run consulted only $large")
    val (_, literal) = Tiers.forcing(Tiers.LiteralIn -> Tiers.Large)(
      arrivalClustersEqualRecompute())
    assert(literal.contains(Tiers.LiteralIn), s"the literal-IN run consulted only $literal")
  }

  private def arrivalClustersEqualRecompute(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrcl_store")
    val ckpt = tmpDir("graft_arrcl_ckpt")
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val (a, b, c, d) = (words("alpha", 40), words("beta", 40),
      words("gamma", 40), words("delta", 40))
    val chunks = Seq(
      // within-batch pair {10,12}; 11 alone
      Seq((10L, a), (11L, b), (12L, a + " alphaX")),
      // 20 fuses into the standing {10,12} component via the band
      // store; 21 alone
      Seq((20L, a + " alphaX alphaY"), (21L, c)),
      // 30 fuses with standing 11; 31 alone
      Seq((30L, b + " betaX"), (31L, d)))
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalClusters(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    try {
      chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
    } finally q.stop()
    def labels() = EventStream.arrivalClusterLabels(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = labels()
    // Ground truth: the BATCH pipeline over the whole corpus at once
    // (minhashVerifiedPairs -> clustersFrom), self-labels for docs no
    // pair touches — the incremental delta log must land exactly there.
    val tmp = tmpDir("graft_arrcl_full")
    chunks.flatten.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val full = graft.operators.Clusters.clustersFrom(spark,
        graft.operators.Dedup.minhashVerifiedPairs(spark, tmp, 0.9)
          .select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caches.release()
    val expect = chunks.flatten.map(_._1)
      .map(id => id -> full.getOrElse(id, id)).toSet
    assert(got == expect, s"streaming labels $got != full recompute $expect")
    // And the crafted reading of that truth, so a broken fixture can't
    // silently weaken the gate: {10,12,20} fused on 10, {11,30} on 11.
    assert(expect == Set(10L -> 10L, 12L -> 10L, 20L -> 10L,
      11L -> 11L, 30L -> 11L, 21L -> 21L, 31L -> 31L))
    // Retried batch 1 (same batchId over a store already containing its
    // writes): the batch < batchId standing read keeps it deterministic.
    EventStream.clusterArrivalBatch(
      chunks(1).toDF("doc_id", "text"), store, 1L, 0.9, 64, 16)
    assert(labels() == got, "retried cluster batch changed the labels")
    // The TIERED latest-wins resolution (base streams past a gated
    // anti join, window over deltas only) must equal the reference
    // single-window form on this multi-dir log with real overrides
    // (fused components re-stated by later batches) — at BOTH gate
    // tiers (r17).
    val labelDirs = graft.streaming.ArrivalStore
      .standingDirs(s"$store/labels", Long.MaxValue)
    assert(labelDirs.length >= 3, "fixture must produce a multi-dir log")
    val ref = graft.streaming.ArrivalStore
      .latestBatchRowsWindow(spark, s"$store/labels", labelDirs, Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // The tier is forced: the fixture's uniform tiny dirs sit below
    // the cost gate by design.
    for (keys <- Seq(Tiers.Small, Tiers.Large)) {
      val (tiered, _) = Tiers.forcing(Tiers.LatestWindow -> Tiers.Large, Tiers.LatestKeys -> keys)(
        graft.streaming.ArrivalStore
          .latestBatchRows(spark, s"$store/labels", labelDirs, Seq("doc_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      assert(tiered == ref,
        s"tiered latest-wins (keys $keys) diverged from the window reference")
    }
  }

  test("arrival spans: delta log equals batch substringSpans over the union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrsp_store")
    val ckpt = tmpDir("graft_arrsp_ckpt")
    assert(EventStream.arrivalSpanList(spark, store).isEmpty)
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val pass = (0 until 16).map(i => s"sp$i").mkString(" ")
    val pass2 = (0 until 16).map(i => s"tp$i").mkString(" ")
    val chunks = Seq(
      // batch 0: the passage planted once — nothing repeats yet
      Seq((10L, s"${words("a", 20)} $pass ${words("b", 20)}"),
        (11L, words("u", 40))),
      // batch 1: doc 20 repeats doc 10's passage — spans emit for the
      // batch doc AND the TOUCHED standing doc (the delta re-emission)
      Seq((20L, s"${words("c", 20)} $pass ${words("d", 20)}"),
        (21L, words("v", 40))),
      // batch 2: within-doc repeat of a fresh passage — two islands
      Seq((30L, s"${words("e", 10)} $pass2 ${words("q", 5)} $pass2 ${words("r", 10)}"),
        (31L, words("x", 40))))
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalSpans(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    try {
      chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
    } finally q.stop()
    def spans() = EventStream.arrivalSpanList(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = spans()
    val full = graft.operators.Dedup
      .substringSpansFrom(chunks.flatten.toDF("doc_id", "text"), 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caches.release()
    assert(got == full, s"arrival spans $got != batch twin $full")
    // Crafted reading, so a broken fixture can't weaken the gate: the
    // shared passage flagged in BOTH its carriers (one window each at
    // word offset 20), the within-doc repeat as TWO islands in doc 30.
    assert(got == Set((10L, 20L, 35L, 1L), (20L, 20L, 35L, 1L),
      (30L, 10L, 25L, 1L), (30L, 31L, 46L, 1L)))
    // Retried batch 1 (same batchId): batch < batchId standing read +
    // per-dir overwrite keep the store byte-deterministic.
    EventStream.spanArrivalBatch(chunks(1).toDF("doc_id", "text"), store, 1L, 16)
    assert(spans() == got, "retried span batch changed the store")
  }

  test("arrival sequence pack: seq ids continue, straddling sequence completed, retry idempotent") {
    // r18: the tokenized-sequence arrival loop against a sequential
    // from-scratch encode+pack in ARRIVAL order (per-batch shuffle-key
    // order, batches concatenated — the loop's documented order
    // contract). The fixture's batch totals are asserted non-multiples
    // of ctx so a sequence genuinely straddles each batch boundary.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrsq_store")
    val ckpt = tmpDir("graft_arrsq_ckpt")
    val merges = graft.operators.Bpe.train(Seq(("aaaa", 9L), ("bb", 5L)), 4)
    val ctx = 5
    assert(EventStream.arrivalSequences(spark, store, merges, ctx).isEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def enc(t: String): Seq[Int] =
      graft.functions.BpeCount.encode(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), merges,
        graft.functions.BpeCount.fingerprint(merges)).toIntArray().toSeq
    val eos = graft.functions.BpeCount.eosId(merges.length)
    val pad = graft.functions.BpeCount.padId(merges.length)
    val chunks = Seq(
      Seq((1L, "aaaa bb aaaa"), (2L, ""), (3L, "aaaa aaaa aaaa")),
      Seq((4L, "bb"), (5L, "a b aaaa"), (6L, "bb bb bb")),
      Seq((7L, "aaaa aaaa bb")))
    // straddle guard: every prefix of batch totals lands mid-sequence
    val totals = chunks.map(_.map { case (_, t) => enc(t).size + 1 }.sum)
    totals.scanLeft(0)(_ + _).tail.init.foreach(p =>
      assert(p % ctx != 0, s"fixture: batch boundary at $p aligns with ctx"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalSequencePack(
      mem.toDF().toDF("doc_id", "text"), store, ckpt, merges, ctx)
    try {
      chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
    } finally q.stop()
    def seqs() = EventStream.arrivalSequences(spark, store, merges, ctx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    val got = seqs()
    graft.Caches.release()
    val stream = chunks.flatMap { ch =>
      ch.sortBy { case (id, _) => (md5hex(id.toString + ":shuffle"), id) }
        .flatMap { case (_, t) => enc(t) :+ eos }
    }
    val want = stream.grouped(ctx).zipWithIndex.map { case (c, i) =>
      (i.toLong, c ++ Seq.fill(ctx - c.size)(pad), (ctx - c.size).toLong)
    }.toSeq
    assert(got == want, s"arrival sequences diverged:\n got $got\nwant $want")
    assert(got.map(_._1) == got.indices.map(_.toLong))
    assert(got.forall(_._2.size == ctx))
    assert(got.init.forall(_._3 == 0L), "padding leaked off the tail sequence")
    // retried mid and final batches: same standing offset re-read, own
    // dirs overwritten — the assembled stream is unchanged
    EventStream.seqPackArrivalBatch(chunks(1).toDF("doc_id", "text"), store, 1L, merges, ctx)
    assert(seqs() == got, "retried mid batch changed the sequences")
    EventStream.seqPackArrivalBatch(chunks(2).toDF("doc_id", "text"), store, 2L, merges, ctx)
    assert(seqs() == got, "retried final batch changed the sequences")
    // compaction folds the fragment log without changing the read
    EventStream.compactArrivalStore(spark, store)
    assert(seqs() == got, "compaction changed the assembled sequences")
    graft.Caches.release()
  }

  test("arrival pack: shard ids continue seamlessly across batches, retry idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrpk_store")
    val ckpt = tmpDir("graft_arrpk_ckpt")
    assert(EventStream.arrivalPacked(spark, store).isEmpty)
    def text(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    // budget 10; running offsets: d1@0, d2@4, d3@9, d4@12, d5@20 ->
    // shards 0,0,0,1,2 (a batch-2 doc must continue from the STANDING
    // offset, not restart at a shard boundary)
    val chunks = Seq(
      Seq((1L, text(4)), (2L, text(5))),
      Seq((3L, text(3)), (4L, text(8))),
      Seq((5L, text(25))))
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.arrivalPack(
      mem.toDF().toDF("doc_id", "text"), store, ckpt, budgetTokens = 10L)
    try {
      chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
    } finally q.stop()
    def packed() = EventStream.arrivalPacked(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = packed()
    assert(got == Set((1L, 4L, 0L), (2L, 5L, 0L), (3L, 3L, 0L),
      (4L, 8L, 1L), (5L, 25L, 2L)), s"arrival pack diverged: $got")
    // Identity with the batch operator over the concatenated arrival
    // order (blocks = batch index, the order the stream actually saw).
    val batchTwin = graft.operators.Curation.packCore(
        chunks.zipWithIndex.flatMap { case (ch, i) =>
          ch.map { case (id, t) => (id, t.split(" ").length.toLong, i.toLong) }
        }.toDF("doc_id", "n_tokens", "blk"), 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caches.release()
    assert(got == batchTwin, "arrival pack != batch packCore on the union")
    // Retried batch 1: re-reads the same standing offset, overwrites
    // its own dirs — assignments and the offset log unchanged.
    EventStream.packArrivalBatch(chunks(1).toDF("doc_id", "text"), store, 1L, 10L)
    assert(packed() == got, "retried pack batch changed the assignments")
    EventStream.packArrivalBatch(chunks(2).toDF("doc_id", "text"), store, 2L, 10L)
    assert(packed() == got, "retried final batch changed the assignments")
  }

  test("arrival corpus: composed pipeline equals batch corpusFull over the union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrcorp_store")
    val ckpt = tmpDir("graft_arrcorp_ckpt")
    val docsDir = tmpDir("graft_arrcorp_docs")
    // Empty-store materialization returns an empty frame, not an error.
    assert(EventStream.arrivalCorpusTrain(spark, store).isEmpty)
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val w = 8
    // ids chosen for their content-addressed split buckets (computed
    // with Curation.splitBucket's md5 rule): 10-18/100-108/200-207 are
    // train, 20 is val, 226 is test. Arrival order is monotone in
    // doc_id across batches — the identity contract.
    val winS = words("ess", 8)   // repeated train window (T1 batch0, T2 batch1)
    val winW2 = words("dub", 8)  // train window leaked into a LATER test doc
    val chain = (0 until 60).map(i => s"ch$i")
    val e1Text = words("exa", 20)
    val e2Text = words("exb", 20)
    val chunks = Seq(
      Seq(
        10L -> (words("tee", 22) + " " + winS),          // T1 train
        11L -> (words("thr", 22) + " " + winW2),         // T3 train
        12L -> words("enn", 40),                         // N1 train
        13L -> chain.slice(0, 45).mkString(" "),         // C1 train (chain head)
        14L -> e1Text,                                   // E1 train
        15L -> "hello world",                            // SHORT train (<3 words)
        20L -> words("vee", 30)),                        // V1 val: neither rule
      Seq(
        100L -> (words("two", 22) + " " + winS),         // T2 train: flags T1
        101L -> "111 222 333 444 555 666 777 888",      // Q1: quality reject
        102L -> (words("enn", 40) + " nova0 nova1"),     // N2: near-dup of N1
        104L -> chain.slice(4, 49).mkString(" "),        // C2: near-dup of C1
        105L -> e1Text),                                 // E1copy: exact reject
      Seq(
        200L -> chain.slice(8, 53).mkString(" "),        // C3: ~C2 only (chain!)
        201L -> words("fur", 25),                        // T4 train
        202L -> e2Text, 203L -> e2Text,                  // within-batch exact pair
        226L -> (words("tst", 14) + " " + winW2)))       // TEST1: touches T3
    def src(id: Long) = if (id % 2 == 0) "src0" else "src1"
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStream.arrivalCorpus(
      mem.toDF().toDF("doc_id", "source", "text"), store, ckpt,
      minQuality = 0.2, tau = 0.8, w = w)
    try {
      chunks.foreach { c =>
        mem.addData(c.map { case (id, t) => (id, src(id), t) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val budget = 60L
    def materialized() = EventStream
      .arrivalCorpusTrain(spark, store, budgetTokens = budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val got = materialized()
    graft.Caches.release()
    // Batch twin over the concatenated arrivals.
    chunks.flatten.map { case (id, t) => (id, src(id), t) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val want = graft.operators.Pipeline
      .corpusFull(spark, docsDir, minQuality = 0.2, tau = 0.8, w = w,
        budgetTokens = budget)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    graft.Caches.release()
    assert(got == want,
      s"arrival corpus != batch corpusFull:\n got=$got\nwant=$want")
    // BPE-priced materialization (r17, verdict item 4): ONE merge
    // table threaded through both twins — the identity must hold with
    // the tail re-priced in subword tokens.
    val merges = graft.operators.Bpe.mergesFor(spark, docsDir)
    val gotBpe = EventStream
      .arrivalCorpusTrain(spark, store, budgetTokens = budget,
        bpeMerges = Some(merges)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    graft.Caches.release()
    val wantBpe = graft.operators.Pipeline
      .corpusFull(spark, docsDir, minQuality = 0.2, tau = 0.8, w = w,
        budgetTokens = budget, bpeMerges = Some(merges))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    graft.Caches.release()
    assert(gotBpe == wantBpe,
      s"BPE-priced arrival corpus != batch corpusFull:\n got=$gotBpe\nwant=$wantBpe")
    // Tokenized materialization (r18): the tensor-feed twin — same
    // standing mixed set, the batch sequence packer verbatim (global
    // content-addressed shuffle order, arrival-independent), so the
    // identity with Pipeline.corpusTokenized over the union is exact.
    val ctxT = 64
    val gotTok = EventStream
      .arrivalCorpusTokenized(spark, store, merges, ctxLen = ctxT).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    graft.Caches.release()
    val wantTok = graft.operators.Pipeline
      .corpusTokenized(spark, docsDir, ctxLen = ctxT, minQuality = 0.2,
        tau = 0.8, w = w).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSeq
    graft.Caches.release()
    assert(gotTok.nonEmpty && gotTok == wantTok,
      s"tokenized arrival corpus != batch corpusTokenized:\n got=$gotTok\nwant=$wantTok")
    // Every stage fired — pinned on the standing CLEAN store (the
    // decontaminated train corpus BEFORE the mix resample, which may
    // legitimately drop any surviving doc):
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("doc_id"))
    val clean = spark.read.option("basePath", s"$store/clean")
      .parquet(s"$store/clean")
      .withColumn("mb", org.apache.spark.sql.functions.max(
        col("batch").cast("long")).over(byDoc))
      .filter(col("batch").cast("long") === col("mb"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"))).toMap
    graft.Caches.release()
    val ids = clean.keySet
    assert(!ids.contains(105L), "exact cross-batch reject failed")
    assert(ids.intersect(Set(202L, 203L)) == Set(202L), "within-batch exact")
    assert(!ids.contains(102L), "cross-batch near-dup reject failed")
    assert(!ids.contains(104L) && !ids.contains(200L),
      "chain: C3 must drop via the REJECTED C2's standing index")
    assert(!ids.contains(101L), "quality gate failed")
    assert(!ids.contains(20L), "val doc must not reach the train output")
    assert(!ids.contains(226L), "test doc must not reach the train output")
    assert(ids.contains(15L), "short doc must pass through")
    assert(!clean(10L)._1.contains("ess0"),
      "T1's repeated span must be cut (touched re-emit on batch 1)")
    assert(!clean(100L)._1.contains("ess0"), "T2's repeated span must be cut")
    assert(!clean(11L)._1.contains("dub0"),
      "T3 must be decontaminated by the LATER test arrival (testwin touch)")
    // Retried batch 1 (same batchId, store already holds its writes):
    // deterministic, materialization unchanged.
    EventStream.corpusArrivalBatch(
      chunks(1).map { case (id, t) => (id, src(id), t) }
        .toDF("doc_id", "source", "text"), store, 1L, 0.2, 0.8, w)
    assert(materialized() == got, "retried corpus batch changed the store")
    graft.Caches.release()
  }

  test("arrival vector dedup: full-probe degeneration equals the brute-force fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrvd_store")
    val ckpt = tmpDir("graft_arrvd_ckpt")
    def v(a: Float, b: Float, c: Float, d: Float): Seq[Float] = Seq(a, b, c, d)
    // Scaled copies have cosine 1 (clear of the f32 threshold);
    // orthogonal vectors cosine 0.
    val chunks = Seq(
      // within-batch dup {1,3} -> keep 1; 2 alone
      Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)), (3L, v(1.02f, 0, 0, 0))),
      // 4 duplicates STORED 2 -> cross-reject; 5 fresh
      Seq((4L, v(0, 0.98f, 0, 0)), (5L, v(0, 0, 1, 0))),
      // 6 duplicates stored 5 -> reject; {7,8} within-batch -> keep 7
      Seq((6L, v(0, 0, 0.97f, 0)), (7L, v(0, 0, 0, 1)), (8L, v(0, 0, 0, 1.01f))))
    val mem = MemoryStream[(Long, Seq[Float])]
    // probes = nlist: every cell probed -> candidates are ALL
    // batch×store and batch×batch pairs, so the loop degenerates to
    // exact first-arrival-wins dedup at cosine >= tau.
    val q = EventStream.arrivalVectorDedup(
      mem.toDF().toDF("vec_id", "embedding"), store, ckpt,
      nlist = 2, tau = 0.95, probes = 2)
    try {
      chunks.foreach { ch => mem.addData(ch: _*); q.processAllAvailable() }
    } finally q.stop()
    def accepted() = spark.read.parquet(s"$store/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = accepted()
    assert(got == Set(1L, 2L, 5L, 7L), s"accepted set diverged: $got")
    // The deduplicated store is directly ANN-servable (shared layout
    // with arrivalVectors): full-probe serve must return accepted ids.
    val served = graft.operators.Ivf.arrivalAnnServe(spark, store,
        Seq((100L, v(0, 0, 0, 0.99f))).toDF("query_id", "embedding")
          .select(col("query_id"), col("embedding").cast("array<float>")),
        k = 1, nprobeOverride = Some(2))
      .collect()
    assert(served.head.getLong(2) == 7L, "dedup store did not serve the keeper")
    // Retried batch 1: same standing read, overwrite of its own dir.
    EventStream.vectorDedupArrivalBatch(
      chunks(1).toSeq.toDF("vec_id", "embedding"), store, 1L, 2, 0.95, 2, 4)
    assert(accepted() == got, "retried vector-dedup batch changed the store")
  }

  test("arrival vector dedup: non-transitive chain collapses to min id (CC contract)") {
    // The within-batch contract is connected-components + min-id keep
    // (EventStream.arrivalVectorDedup scaladoc): a chain a~b, b~c with
    // a NOT~ c arriving in ONE batch drops BOTH b and c — stricter
    // than a sequential first-arrival fold (which would keep c), and
    // order-free on a distributed micro-batch. This fixture pins that
    // convention so the semantics stay a stated contract, not an
    // accident of transitively consistent test vectors.
    import spark.implicits._
    val store = tmpDir("graft_arrvdc_store")
    // Unit vectors at successive angle θ with cos θ = 0.96 ≥ τ = 0.95:
    // cos(a,b) = cos(b,c) = 0.96, cos(a,c) = 2·0.96² − 1 = 0.8432 < τ.
    val ct = 0.96f
    val st = math.sqrt(1 - 0.96 * 0.96).toFloat
    val c2 = 2 * ct * ct - 1
    val s2 = 2 * st * ct
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(ct, st, 0f, 0f)),
      (3L, Seq(c2, s2, 0f, 0f)),
      (4L, Seq(0f, 0f, 1f, 0f))) // unrelated: must survive
    EventStream.vectorDedupArrivalBatch(
      rows.toDF("vec_id", "embedding"), store, 0L,
      nlist = 1, tau = 0.95, probes = 1, iters = 4)
    val got = spark.read.parquet(s"$store/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L), s"chain did not collapse to min id: $got")
    // And across batches the CROSS tier is a plain first-arrival test:
    // c arriving AFTER the chain collapsed is accepted (its only τ-
    // neighbor b was never stored), which is exactly the documented
    // divergence from an all-history sequential fold.
    EventStream.vectorDedupArrivalBatch(
      Seq((5L, Seq(c2, s2, 0f, 0f))).toDF("vec_id", "embedding"), store, 1L,
      nlist = 1, tau = 0.95, probes = 1, iters = 4)
    val got2 = spark.read.parquet(s"$store/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1L, 4L, 5L), s"cross tier diverged from contract: $got2")
  }

  test("arrival vectors: the streamed index serves exactly (full-probe degeneration)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("graft_arrvec_store")
    val ckpt = tmpDir("graft_arrvec_ckpt")
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val n = all.length
    val nlist = graft.operators.Ivf.autoNlist(n.toLong)
    // three arrival chunks; the quantizer trains on chunk 0 ONLY — the
    // full-probe + corpus-margin serve must still equal brute force
    // over the WHOLE streamed corpus (training quality cannot matter
    // when every cell is probed and everything reaches the exact
    // re-rank), which pins assignment, store layout, probe plumbing
    // and the re-rank end to end.
    val chunks = all.grouped((n + 2) / 3).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.arrivalVectors(
      mem.toDF().toDF("vec_id", "embedding"), store, ckpt, nlist)
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val queries = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serveAll() = graft.operators.Ivf.arrivalAnnServe(spark, store, queries,
        nprobeOverride = Some(nlist), margin = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val got = serveAll()
    val exact = graft.operators.Similarity.cosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(got == exact, "arrival-index full-probe serve differs from brute force")
    // Retried batch 1 (same batchId): idempotent overwrite of its own
    // dir — the served result must not change.
    graft.operators.Ivf.vectorArrivalBatch(
      chunks(1).toSeq.toDF("vec_id", "embedding"), store, 1L, nlist)
    assert(serveAll() == exact, "retried vector batch changed the served index")
  }

  test("arrival store compaction: replay-safe collapse, state identical, crash-recoverable") {
    import spark.implicits._
    val store = tmpDir("graft_compact_store")
    // Empty-store probe returns an empty frame, not a read error.
    assert(EventStream.arrivalAccepted(spark, store).isEmpty)
    def feed(rows: Seq[(Long, String)], id: Long): Unit =
      EventStream.dedupArrivalBatch(rows.toDF("doc_id", "text"), store, id)
    feed(Seq((10L, "aaa"), (11L, "bbb")), 0L)
    feed(Seq((12L, "aaa"), (13L, "ccc")), 1L)
    feed(Seq((14L, "ddd")), 2L)
    def acceptedRows() = EventStream.arrivalAccepted(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet // (doc_id, copies)
    def batchDirs(sub: String) =
      new java.io.File(s"$store/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    val before = acceptedRows()
    assert(before == Set((10L, 1L), (11L, 1L), (13L, 1L), (14L, 1L)))
    // A crashed in-flight attempt's partial dir (no _SUCCESS) must be
    // deleted, never folded in, and never allowed to pin the id.
    val junk = new java.io.File(s"$store/hashes/batch=9")
    junk.mkdirs()
    java.nio.file.Files.write(new java.io.File(junk, "part-junk").toPath,
      "garbage".getBytes("UTF-8"))
    // Crash in the worst window (sources deleted, staging not yet
    // renamed), then recover by re-running — the documented protocol.
    EventStream.compactCrashBeforeRename = true
    try intercept[RuntimeException] {
      EventStream.compactArrivalStore(spark, store)
    } finally EventStream.compactCrashBeforeRename = false
    EventStream.compactArrivalStore(spark, store)
    // Replay safety: dirs BELOW the max collapse into the SECOND-highest
    // id; the max batch dir is untouched (it can still be retried).
    assert(batchDirs("hashes") == Set("batch=1", "batch=2"),
      s"hashes: ${batchDirs("hashes")}")
    assert(batchDirs("accepted") == Set("batch=1", "batch=2"))
    assert(acceptedRows() == before, "compaction changed the accepted corpus")
    // The at-least-once window itself: the HIGHEST batch replays after a
    // restart (foreachBatch done, checkpoint commit lost). Its standing
    // read (batch < 2) must still see all prior state in the compacted
    // dir, and its overwrite must replace only its own dir.
    feed(Seq((14L, "ddd")), 2L)
    assert(acceptedRows() == before,
      "retried max batch after compaction changed the store")
    // The stream continues against the compacted standing state: seen
    // content still rejects, new content still lands.
    feed(Seq((20L, "aaa"), (21L, "eee")), 3L)
    assert(acceptedRows() == before + ((21L, 1L)),
      "post-compaction arrival mis-deduped")

    // Labels store: latest-wins must resolve BEFORE compaction, and a
    // post-compaction batch must still fuse against it.
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val (a, b) = (words("alpha", 40), words("beta", 40))
    val cstore = tmpDir("graft_compact_cl")
    assert(EventStream.arrivalClusterLabels(spark, cstore).isEmpty)
    def cfeed(rows: Seq[(Long, String)], id: Long): Unit =
      EventStream.clusterArrivalBatch(rows.toDF("doc_id", "text"), cstore, id,
        0.9, 64, 16)
    cfeed(Seq((10L, a), (11L, b)), 0L)
    cfeed(Seq((12L, a + " alphaX")), 1L) // fuses {10,12} — 10's label re-stated at batch 1
    cfeed(Seq((13L, words("gamma", 40))), 2L)
    def labels() = EventStream.arrivalClusterLabels(spark, cstore).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lbefore = labels()
    assert(lbefore == Set(10L -> 10L, 11L -> 11L, 12L -> 10L, 13L -> 13L))
    EventStream.compactArrivalStore(spark, cstore)
    assert(new java.io.File(s"$cstore/labels").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 2)
    assert(labels() == lbefore, "compaction changed the resolved labels")
    cfeed(Seq((14L, a + " alphaX alphaY")), 3L) // fuses into {10,12} post-compaction
    assert(labels() == lbefore + (14L -> 10L),
      "post-compaction cluster batch failed to fuse")

    // Span store: windows/ compacts as a plain union, spans/ resolves
    // latest-batch-wins first; a post-compaction batch must still
    // collide with the compacted standing windows.
    val sstore = tmpDir("graft_compact_sp")
    val pass = (0 until 16).map(i => s"sp$i").mkString(" ")
    def sfeed(rows: Seq[(Long, String)], id: Long): Unit =
      EventStream.spanArrivalBatch(rows.toDF("doc_id", "text"), sstore, id, 16)
    sfeed(Seq((10L, s"${words("sa", 20)} $pass ${words("sb", 20)}")), 0L)
    sfeed(Seq((20L, s"${words("sc", 20)} $pass ${words("sd", 20)}")), 1L)
    sfeed(Seq((30L, words("su", 40))), 2L)
    def spanSet() = EventStream.arrivalSpanList(spark, sstore).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sBefore = spanSet()
    assert(sBefore == Set((10L, 20L, 35L), (20L, 20L, 35L)))
    EventStream.compactArrivalStore(spark, sstore)
    assert(spanSet() == sBefore, "compaction changed the resolved span list")
    sfeed(Seq((40L, s"${words("se", 5)} $pass ${words("sf", 5)}")), 3L)
    assert(spanSet() == sBefore + ((40L, 5L, 20L)),
      "post-compaction span batch missed the compacted standing windows")

    // Corpus store (r16): all seven subtrees compact — clean/ resolves
    // latest-wins — and both the materialization and a post-compaction
    // batch behave identically against the compacted standing state.
    val xstore = tmpDir("graft_compact_cx")
    def xfeed(rows: Seq[(Long, String)], id: Long): Unit =
      EventStream.corpusArrivalBatch(
        rows.map { case (i, t) => (i, if (i % 2 == 0) "src0" else "src1", t) }
          .toDF("doc_id", "source", "text"), xstore, id, 0.2, 0.8, 8)
    val win8 = (0 until 8).map(i => s"cw$i").mkString(" ")
    xfeed(Seq((10L, words("ca", 22) + " " + win8), (11L, words("cb", 30))), 0L)
    xfeed(Seq((100L, words("cc", 22) + " " + win8)), 1L) // flags 10's window too
    xfeed(Seq((200L, words("cd", 25))), 2L)
    def corpusOut() = EventStream.arrivalCorpusTrain(spark, xstore).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    val xBefore = corpusOut()
    assert(xBefore.nonEmpty)
    EventStream.compactArrivalStore(spark, xstore)
    assert(corpusOut() == xBefore,
      "compaction changed the materialized corpus")
    // post-compaction: recurring content still rejects at the exact
    // tier, fresh content still lands and packs after the standing docs
    xfeed(Seq((300L, words("cb", 30)), (301L, words("ce", 25))), 3L)
    val xAfter = corpusOut()
    assert(!xAfter.exists(_._1 == 300L),
      "post-compaction exact reject failed against the compacted hashes")
    assert(xAfter.map(_._1).contains(301L) || // may be mix-dropped; check clean/
      spark.read.parquet(s"$xstore/clean").select("doc_id").collect()
        .map(_.getLong(0)).contains(301L),
      "post-compaction fresh doc did not land")

    // Export store: export/ resolves latest-batch-wins per export key,
    // null-holding keys included, so the compacted dir re-states the
    // resolved rows and the reader is unchanged.
    val estore = tmpDir("graft_compact_ex")
    (0 to 2).foreach(loop("export")(estore, _))
    def exportRows() = rowsOf(EventStream.signedExportRows(spark, estore))
    val eBefore = exportRows()
    assert(eBefore.size == 4, s"export fixture: $eBefore")
    EventStream.compactArrivalStore(spark, estore)
    assert(new java.io.File(s"$estore/export").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 2)
    assert(exportRows() == eBefore, "compaction changed the resolved export rows")
  }

  test("left-outer interval join: matches emit eagerly, unmatched clicks after the watermark") {
    // The unattributed-click audit stream: a click with no same-user
    // view in its lookback must emit ONCE — with null view columns —
    // and only after the watermark proves no qualifying view can still
    // arrive. MemoryStream gives deterministic batch order: clicks
    // arrive BEFORE their (older) views, the watermark delay covers the
    // disorder, and a far-future sentinel pair advances both side
    // watermarks so the null row actually seals inside the test.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val out = EventStream.attributionJoinOuter(events,
      lookback = "30 minutes", delay = "60 minutes")
    val q = out.writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      // user 1: view 20 min before the click (in window -> match);
      // user 2: view 40 min before (outside -> unmatched click);
      // user 3: view only (never emits -- left side is clicks).
      mem.addData((10L, 1L, ts(40), "click"), (20L, 2L, ts(50), "click"))
      q.processAllAvailable()
      mem.addData((11L, 1L, ts(20), "view"), (21L, 2L, ts(10), "view"),
        (31L, 3L, ts(30), "view"))
      q.processAllAvailable()
      // sentinel: same-user click+view pair far past every horizon, then
      // one more batch so the advanced watermark is APPLIED to state.
      mem.addData((90L, -1L, ts(100000), "click"), (91L, -1L, ts(100000), "view"))
      q.processAllAvailable()
      mem.addData((92L, -1L, ts(100001), "click"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attr_outer").filter(col("user_id") >= 0)
      .select(col("click_id"), col("view_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows == Set((10L, 11L), (20L, -1L)),
      s"expected one match and one sealed unmatched click, got $rows")
  }

  test("ivf retrain/cutover: serve identity across the swap, crash-recoverable, post-retrain arrivals integrate") {
    // r17 (r16 verdict item 3): the drift answer. Retraining the
    // coarse quantizer on the standing store and cutting over must be
    // INVISIBLE to a full-probe serve (exhaustive candidate generation
    // makes results quantizer-independent — the family's identity
    // trick), crash-recoverable at the worst window (staged tree +
    // marker written, live swap not yet run), and transparent to the
    // continuing loop: post-cutover batches assign under the NEW
    // frozen centroids and the serve stays exact.
    import spark.implicits._
    val store = tmpDir("graft_retrain")
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val n = all.length
    val nlist = graft.operators.Ivf.autoNlist(n.toLong)
    val chunks = all.grouped((n + 3) / 4).toSeq
    (0 until 3).foreach { i =>
      graft.operators.Ivf.vectorArrivalBatch(
        chunks(i).toSeq.toDF("vec_id", "embedding"), store, i.toLong, nlist)
    }
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serveAll() = graft.operators.Ivf.arrivalAnnServe(spark, store, queries,
        nprobeOverride = Some(Int.MaxValue), margin = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val before = serveAll()
    // worst-window crash: staged tree + _RETRAIN marker on disk, live
    // tree not yet swapped — the OLD store must still serve, and a
    // re-run must complete the cutover from the staged copy
    graft.operators.Ivf.retrainCrashBeforeSwap = true
    val crashed = intercept[RuntimeException] {
      graft.operators.Ivf.retrainArrivalStore(spark, store,
        nlistOverride = Some(math.max(2, nlist / 2)))
    }
    assert(crashed.getMessage.contains("injected"))
    graft.operators.Ivf.retrainCrashBeforeSwap = false
    assert(serveAll() == before,
      "a crashed (pre-swap) retrain must leave the serving store untouched")
    graft.operators.Ivf.retrainArrivalStore(spark, store,
      nlistOverride = Some(math.max(2, nlist / 2)))
    assert(serveAll() == before,
      "full-probe serve changed across the retrain cutover — accepted set not preserved")
    // layout: the standing cells collapsed to ONE batch dir at the max
    // committed id, and the staging tree is gone
    val dirs = new java.io.File(s"$store/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.toSeq == Seq("batch=2"), s"expected one collapsed dir, got ${dirs.toSeq}")
    assert(!new java.io.File(s"$store/_staging_retrain").exists())
    // the loop continues: the fourth chunk arrives AFTER the cutover
    // (assigned under the new centroids) and the full-probe serve now
    // equals brute force over the WHOLE corpus
    graft.operators.Ivf.vectorArrivalBatch(
      chunks(3).toSeq.toDF("vec_id", "embedding"), store, 3L, nlist)
    val exact = graft.operators.Similarity.cosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(serveAll() == exact,
      "post-retrain arrivals did not integrate — full-probe serve differs from brute force")
    // SORTED-layout store (the vecdedup loop keeps `cell` as a data
    // column): the retrain must write the collapsed dir in the OWNING
    // loop's layout — a cell=N partition tree mixed with later
    // data-column batches fails parquet partition discovery outright
    // (mixed directory depths under one basePath; r17 regression pin).
    val store2 = tmpDir("graft_retrain_vdd")
    (0 until 2).foreach { i =>
      graft.streaming.EventStream.vectorDedupArrivalBatch(
        chunks(i).toSeq.toDF("vec_id", "embedding"), store2, i.toLong,
        nlist, 0.95, nlist, 4)
    }
    def serve2() = graft.operators.Ivf.arrivalAnnServe(spark, store2, queries,
        nprobeOverride = Some(Int.MaxValue), margin = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val before2 = serve2()
    graft.operators.Ivf.retrainArrivalStore(spark, store2)
    assert(serve2() == before2,
      "sorted-layout retrain changed the accepted set across the cutover")
    // the collapsed dir must carry cell as a DATA column, not cell= dirs
    assert(!new java.io.File(s"$store2/cells/batch=1").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")),
      "retrain wrote partition dirs into a sorted-layout store")
    // the loop continues on the retrained store without a read error
    graft.streaming.EventStream.vectorDedupArrivalBatch(
      chunks(2).toSeq.toDF("vec_id", "embedding"), store2, 2L, nlist, 0.95,
      nlist, 4)
    assert(serve2().size >= before2.size,
      "post-retrain vecdedup batch did not integrate")
  }

  test("ivf retrain mid-stream: stop at committed offset, retrain, resume — identity vs never-stopped") {
    // r18 (r17 verdict item 5a): the OPERATIONAL retrain procedure the
    // scaladoc mandates — stop the live arrivalVectorDedup stream at a
    // committed offset, run retrainArrivalStore, restart the SAME
    // checkpoint — spec-pinned end to end against a control stream
    // that never stopped. probes = nlist keeps candidate generation
    // exhaustive on BOTH quantizers (the family's identity trick), so
    // the accepted set must be bit-identical: arrivals land in the
    // same micro-batches (one file per trigger, same files), and the
    // cutover may change the store's layout but never its content.
    import spark.implicits._
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val nlist = 4
    def feed(srcDir: String, chunk: Int): Unit =
      all.filter(pmod(col("vec_id"), lit(4)) === chunk).repartition(1)
        .write.mode("append").parquet(srcDir)
    def startLoop(srcDir: String, store: String, ckpt: String) = {
      val src = spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      EventStream.arrivalVectorDedup(src, store, ckpt, nlist,
        tau = 0.95, probes = nlist)
    }
    // control: all four chunks through one never-stopped query
    val (srcC, storeC, ckptC) = (
      tmpDir("graft_rts_src_c"),
      tmpDir("graft_rts_store_c"),
      tmpDir("graft_rts_ckpt_c"))
    val qc = startLoop(srcC, storeC, ckptC)
    try {
      (0 until 4).foreach { i => feed(srcC, i); qc.processAllAvailable() }
    } finally qc.stop()
    // cutover: two chunks, STOP at the committed offset, retrain to a
    // different quantizer size, RESUME the same checkpoint, two more
    val (srcR, storeR, ckptR) = (
      tmpDir("graft_rts_src_r"),
      tmpDir("graft_rts_store_r"),
      tmpDir("graft_rts_ckpt_r"))
    val q1 = startLoop(srcR, storeR, ckptR)
    try {
      (0 until 2).foreach { i => feed(srcR, i); q1.processAllAvailable() }
    } finally q1.stop()
    graft.operators.Ivf.retrainArrivalStore(spark, storeR,
      nlistOverride = Some(2))
    val q2 = startLoop(srcR, storeR, ckptR)
    try {
      (2 until 4).foreach { i => feed(srcR, i); q2.processAllAvailable() }
    } finally q2.stop()
    def accepted(store: String) = spark.read.parquet(s"$store/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(accepted(storeR) == accepted(storeC),
      "stop-retrain-resume changed the accepted set vs the never-stopped control")
    // and both stores serve identically at full probes (content
    // identity through the serve path, not just the id set)
    val queries = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serveAll(store: String) = graft.operators.Ivf.arrivalAnnServe(
        spark, store, queries, nprobeOverride = Some(Int.MaxValue),
        margin = 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(serveAll(storeR) == serveAll(storeC),
      "full-probe serve diverged between the retrained and control stores")
  }

  test("arrival batch gate: text ceiling derives from the session heap") {
    import graft.streaming.ArrivalStore
    // pure derivation: 1/16 of heap over the ~5x key-set expansion,
    // clamped to [16 MB, 4 GiB]
    assert(ArrivalStore.deriveMaxTextBytes(128L << 30) == (128L << 30) / 80)
    assert(ArrivalStore.deriveMaxTextBytes(4L << 30) == (4L << 30) / 80)
    assert(ArrivalStore.deriveMaxTextBytes(512L << 20) == 16L << 20,
      "tiny heap must clamp to the 16 MB floor")
    assert(ArrivalStore.deriveMaxTextBytes(Long.MaxValue / 2) == 4L << 30,
      "huge heap must clamp to the 4 GiB cap")
    val heaps = Seq(1L << 30, 8L << 30, 64L << 30, 512L << 30)
    assert(heaps.map(ArrivalStore.deriveMaxTextBytes) ==
      heaps.map(ArrivalStore.deriveMaxTextBytes).sorted, "must be monotone")
    // session default resolves against a real heap (this JVM's -Xmx
    // in local mode) and sits inside the clamps
    val d = ArrivalStore.defaultMaxTextBytes(spark)
    assert(d >= (16L << 20) && d <= (4L << 30))
    // a 1-row batch passes the derived ceiling; forced large, the gate
    // runs no aggregate over it
    import spark.implicits._
    val one = Seq((1L, "hello")).toDF("doc_id", "text")
    assert(ArrivalStore.smallBatch(one))
    val (forced, jobs) = org.apache.spark.ListenerDrain.jobStarts(spark.sparkContext)(
      Tiers.forcing(Tiers.ArrivalBatch -> Tiers.Large)(ArrivalStore.smallBatch(one)))
    assert(forced == (false, Set(Tiers.ArrivalBatch)))
    assert(jobs.isEmpty, s"a forced gate ran ${jobs.size} job(s)")
  }

  // ---- one commit path: markers, committed readers, crash at every commit ----

  private val MarkerKey = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** Run `body` with the Hadoop committer's `_SUCCESS` marker disabled
    * on the session, so only the store's own commit step can mark. */
  private def markersOff[T](body: => T): T = {
    spark.conf.set(MarkerKey, "false")
    try body finally spark.conf.unset(MarkerKey)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every subtree of a store (batch dirs read as the `batch` column),
    * as sorted rows — the store's whole observable state. */
  private def storeSnapshot(store: String): Map[String, Seq[String]] =
    new java.io.File(store).listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> rowsOf(spark.read.parquet(f.getPath))).toMap

  private def fixtureWords(p: String, n: Int): String =
    (0 until n).map(i => s"$p$i").mkString(" ")

  /** Three tiny arrival batches whose later batches depend on standing
    * state: exact repeats, near-dups (one appended word on a 20-word
    * base), a shared 8-word run, and a within-batch near-dup pair. */
  private lazy val textChunks: Seq[Seq[(Long, String)]] = Seq(
    Seq(10L -> s"${fixtureWords("alpha", 20)} ${fixtureWords("sigma", 8)}",
      11L -> fixtureWords("beta", 30)),
    Seq(20L -> s"${fixtureWords("alpha", 20)} alphaX",
      21L -> s"${fixtureWords("gamma", 20)} ${fixtureWords("sigma", 8)}",
      22L -> fixtureWords("beta", 30)),
    Seq(30L -> s"${fixtureWords("alpha", 20)} alphaX alphaY",
      31L -> s"${fixtureWords("delta", 20)} ${fixtureWords("sigma", 8)}",
      32L -> fixtureWords("omega", 25), 33L -> s"${fixtureWords("omega", 25)} omegaX"))

  private lazy val vecChunks: Seq[Seq[(Long, Seq[Float])]] = Seq(
    Seq(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(1.02f, 0f, 0f, 0f)),
    Seq(4L -> Seq(0f, 0.98f, 0f, 0f), 5L -> Seq(0f, 0f, 1f, 0f)),
    Seq(6L -> Seq(0f, 0f, 0.97f, 0f), 7L -> Seq(0f, 0f, 0f, 1f),
      8L -> Seq(0f, 0f, 0f, 1.01f)))

  private lazy val fixtureMerges =
    graft.operators.Bpe.train(Seq(("aaaa", 9L), ("bb", 5L)), 4)

  /** Three update-mode batches of changed daily export rows (date,
    * channel, campaign_id, utm_campaign, clicks, impressions, cost,
    * leads, opportunities, closed_won, revenue): each re-states the
    * current totals of the keys it changed, and keys may hold nulls (a
    * null `ts` gives a null date, digit-free props a null utm_campaign). */
  private lazy val exportChunks = Seq(
    Seq(("2024-01-01", "google", "c1", "u1", 3L, 10L, 1.5, 0L, 0L, 0L, 0.0),
      ("2024-01-01", "crm", "", null, 0L, 0L, 0.0, 2L, 1L, 0L, 0.0)),
    Seq(("2024-01-01", "google", "c1", "u1", 5L, 14L, 2.25, 0L, 0L, 0L, 0.0),
      ("2024-01-02", "meta", "c2", "u2", 1L, 4L, 0.5, 0L, 0L, 0L, 0.0)),
    Seq(("2024-01-01", "crm", "", null, 0L, 0L, 0.0, 3L, 1L, 1L, 40.0),
      (null, "meta", "c2", "u2", 0L, 2L, 0.25, 0L, 0L, 0L, 0.0)))

  /** The ten `*ArrivalBatch` functions, each as (store, batch index)
    * => run that fixture batch. */
  private lazy val arrivalLoops: Seq[(String, (String, Int) => Unit)] = {
    import spark.implicits._
    def docs(i: Int) = textChunks(i).toDF("doc_id", "text")
    def vecs(i: Int) = vecChunks(i).toDF("vec_id", "embedding")
    def changed(i: Int) = exportChunks(i).toDF("date", "channel", "campaign_id",
      "utm_campaign", "clicks", "impressions", "cost", "leads", "opportunities",
      "closed_won", "revenue")
    Seq(
      "dedup" -> ((st, i) => EventStream.dedupArrivalBatch(docs(i), st, i)),
      "nearDup" -> ((st, i) =>
        EventStream.nearDupArrivalBatch(docs(i), st, i, 0.9, 64, 16)),
      "clusters" -> ((st, i) =>
        EventStream.clusterArrivalBatch(docs(i), st, i, 0.9, 64, 16)),
      "spans" -> ((st, i) => EventStream.spanArrivalBatch(docs(i), st, i, 4)),
      "vectorDedup" -> ((st, i) =>
        EventStream.vectorDedupArrivalBatch(vecs(i), st, i, 2, 0.95, 2, 4)),
      "vectors" -> ((st, i) => graft.operators.Ivf.vectorArrivalBatch(vecs(i), st, i, 2)),
      "pack" -> ((st, i) => EventStream.packArrivalBatch(docs(i), st, i, 10L)),
      "sequencePack" -> ((st, i) =>
        EventStream.seqPackArrivalBatch(docs(i), st, i, fixtureMerges, 5)),
      "corpus" -> ((st, i) => EventStream.corpusArrivalBatch(
        docs(i).select(col("doc_id"), lit("src0").as("source"), col("text")),
        st, i, 0.2, 0.8, 4)),
      "export" -> ((st, i) => EventStream.exportArrivalBatch(changed(i), st, i)))
  }

  private def loop(name: String): (String, Int) => Unit =
    arrivalLoops.find(_._1 == name).get._2

  test("arrival store compaction with the committer's markers off equals the markers-on run") {
    import spark.implicits._
    def build(): String = {
      val store = tmpDir("graft_marker_compact")
      Seq(Seq((10L, "aaa"), (11L, "bbb")), Seq((12L, "aaa"), (13L, "ccc")),
          Seq((14L, "ddd"), (15L, "eee")), Seq((16L, "fff"), (17L, "bbb"), (18L, "ggg")))
        .zipWithIndex.foreach { case (rows, i) =>
          EventStream.dedupArrivalBatch(rows.toDF("doc_id", "text"), store, i.toLong)
        }
      EventStream.compactArrivalStore(spark, store)
      store
    }
    val on = build()
    val off = markersOff(build())
    def accepted(store: String) = rowsOf(EventStream.arrivalAccepted(spark, store))
    assert(accepted(on).size == 7, s"markers-on fixture: ${accepted(on)}")
    assert(accepted(off) == accepted(on),
      s"compaction with markers off lost committed batches: ${accepted(off)}")
    assert(storeSnapshot(off) == storeSnapshot(on),
      "markers-off compacted store differs from the markers-on one")
  }

  test("ivf arrival centroids stay frozen at the first batch with the committer's markers off") {
    val store = tmpDir("graft_marker_cents")
    def centroids() = rowsOf(spark.read.parquet(s"$store/centroids"))
    markersOff {
      loop("vectors")(store, 0)
      val frozen = centroids()
      loop("vectors")(store, 1)
      loop("vectors")(store, 2)
      assert(centroids() == frozen, "a later batch retrained the frozen quantizer")
    }
  }

  test("latest-batch-wins tier matches keys holding a null (equals the window form)") {
    // A later batch re-states keys whose date or utm_campaign is null;
    // the base row of such a key must not survive the tier's anti join.
    import spark.implicits._
    val root = tmpDir("graft_nullkey_log") + "/log"
    Seq(Seq(("d1", "u1", 1L), ("d1", null, 1L), (null, "u2", 1L)),
        Seq(("d1", null, 2L), ("d2", "u1", 1L)),
        Seq((null, "u2", 3L)))
      .zipWithIndex.foreach { case (rows, i) =>
        ArrivalStore.commit(rows.toDF("date", "utm_campaign", "v"), root, i.toLong)
      }
    val dirs = ArrivalStore.standingDirs(root, Long.MaxValue)
    val keys = Seq("date", "utm_campaign")
    val want = rowsOf(ArrivalStore.latestBatchRowsWindow(spark, root, dirs, keys))
    assert(want.size == 4, s"window reference: $want")
    for (side <- Seq(Tiers.Small, Tiers.Large))
      assert(Tiers.forcing(Tiers.LatestWindow -> Tiers.Large, Tiers.LatestKeys -> side)(
          rowsOf(ArrivalStore.latestBatchRows(spark, root, dirs, keys)))._1 == want,
        s"tiered latest-wins (keys $side) kept a re-stated null-key row")
    graft.Caches.release()
  }

  test("public arrival readers serve committed batches only (ArrivalStore discipline 2)") {
    val readers: Seq[(String, String, String => org.apache.spark.sql.DataFrame)] = Seq(
      ("dedup", "accepted", st => EventStream.arrivalAccepted(spark, st)),
      ("clusters", "labels", st => EventStream.arrivalClusterLabels(spark, st)),
      ("pack", "packed", st => EventStream.arrivalPacked(spark, st)),
      ("sequencePack", "seqs", st => EventStream.arrivalSequences(spark, st, fixtureMerges, 5)),
      ("spans", "spans", st => EventStream.arrivalSpanList(spark, st)),
      // one source at a 100 % budget: the mix keeps every train doc
      ("corpus", "clean", st => EventStream.arrivalCorpusTrain(spark, st,
        weights = Map.empty, budgetPct = 100, budgetTokens = 20L)),
      ("export", "export", st => EventStream.signedExportRows(spark, st)))
    for ((name, sub, read) <- readers) {
      val store = tmpDir(s"graft_committed_$name")
      loop(name)(store, 0)
      val before = rowsOf(read(store))
      loop(name)(store, 1)
      assert(rowsOf(read(store)) != before, s"$name: fixture batch 1 adds no rows")
      // a crash inside batch 1's job commit: part files, no marker
      assert(new java.io.File(s"$store/$sub/batch=1/_SUCCESS").delete())
      assert(rowsOf(read(store)) == before,
        s"$name reader served the uncommitted batch 1 of $sub/")
      graft.Caches.release()
    }
  }

  test("crash at every commit: each arrival loop re-runs batch 2 to the uninterrupted store") {
    // No hook: each crash is the on-disk state a kill at that commit
    // point leaves — (i) no batch-2 dir written, (ii) every sub but one
    // committed, (iii) every batch-2 dir written without its marker.
    for ((name, run) <- arrivalLoops) {
      val store = tmpDir(s"graft_crash_$name")
      (0 to 2).foreach(run(store, _))
      val want = storeSnapshot(store)
      val subs = want.keys.toSeq.sorted
        .filter(sub => new java.io.File(s"$store/$sub/batch=2").isDirectory)
      assert(subs.nonEmpty, s"$name wrote no batch-2 dir")
      def dir2(sub: String) = new java.io.File(s"$store/$sub/batch=2")
      def rerun(label: String): Unit = {
        run(store, 2)
        assert(storeSnapshot(store) == want, s"$name: re-run after $label diverged")
        subs.foreach(sub => assert(new java.io.File(dir2(sub), "_SUCCESS").exists,
          s"$name: $sub/batch=2 re-committed without a marker after $label"))
      }
      subs.foreach(sub => org.apache.commons.io.FileUtils.deleteDirectory(dir2(sub)))
      rerun("losing every batch-2 dir")
      subs.foreach { sub =>
        org.apache.commons.io.FileUtils.deleteDirectory(dir2(sub))
        rerun(s"losing $sub/batch=2 only")
      }
      subs.foreach(sub => assert(new java.io.File(dir2(sub), "_SUCCESS").delete()))
      rerun("stripping every batch-2 marker")
      graft.Caches.release()
    }
  }
}
