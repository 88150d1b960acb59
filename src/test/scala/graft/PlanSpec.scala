package graft

import graft.operators.{Dedup, Relational, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Explain-audits: the physical plans the 100-TB design depends on must
  * actually materialize. A regression here (lost pushdown, dropped
  * broadcast, a sneaky single-partition window) is a scale bug even
  * when results stay correct.
  */
object PlanSpec {
  /** Full traversal including through AQE stage boundaries —
    * QueryStageExec leaves hide the materialized subtrees a naive
    * collect() never sees, and an un-run AdaptiveSparkPlanExec shows
    * no children at all.
    */
  def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val through = p match {
      case a: AdaptiveSparkPlanExec => deepNodes(a.executedPlan)
      case q: QueryStageExec => deepNodes(q.plan)
      case i: InMemoryTableScanExec => deepNodes(i.relation.cachedPlan)
      case _ => Seq.empty
    }
    p +: (through ++ p.children.flatMap(deepNodes))
  }
}

class PlanSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.toString + "\n" + df.queryExecution.toString
  }

  /** AdaptiveSparkPlan.toString prints BOTH "Final Plan" and "Initial
    * Plan" sections, so any exact-count assertion over the raw string
    * sees each operator twice. Count only the final (executed) section.
    */
  private def finalPlanOnly(s: String): String =
    s.split(java.util.regex.Pattern.quote("== Initial Plan ==")).head

  import PlanSpec.deepNodes

  test("q2 pushes filters and projection into the parquet scan") {
    val s = planString(Relational.q2FilterProject(spark, dir))
    assert(s.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(s.contains("l_shipdate"), "shipdate predicate not at the scan")
    // projection pruning: the scan must not read all 16 lineitem columns
    val readSchema = "ReadSchema: struct<".r.findFirstIn(s)
    assert(readSchema.isDefined)
    assert(!s.contains("l_comment"), "unprojected column read from parquet")
  }

  test("events ts-range predicates reach parquet row-group stats") {
    // The driver writes events.ts as physical timestamp[us]
    // (isAdjustedToUTC=false). Sessions read it session-zoned at the scan
    // (inferTimestampNTZ=false), so a ts range filter must sit on the bare
    // attribute and appear in PushedFilters — under the old cast-after-scan
    // normalization it sat on Cast(ts) and never reached row-group stats
    // (the r9 ADVICE trade this test closes).
    import org.apache.spark.sql.functions.{col, lit}
    val ev = graft.sources.Tables.events(spark, dir)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"events.ts surfaced as ${ev.schema("ts").dataType}, not session-zoned TIMESTAMP")
    val s = planString(
      ev.filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
        .select("event_id"))
    val pushed = "PushedFilters: \\[[^\\]]*".r.findFirstIn(s).getOrElse("")
    assert(pushed.contains("ts"),
      s"ts range predicate not pushed to the parquet scan: $pushed")
  }

  test("q4 star join broadcasts both dimension tables") {
    val s = planString(Relational.q4BroadcastJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      "dims not broadcast — a shuffle join on region/nation is a scale bug")
  }

  test("q3 broadcast tier never exchanges the lineitem stream") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val (df, _) = Tiers.forcing(Tiers.Q3Broadcast -> Tiers.Small)(Relational.q3JoinAgg(spark, dir))
    df.collect()
    val all = deepNodes(df.queryExecution.executedPlan)
    assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "customer and the reduced orders must both reach their joins by broadcast")
    // the only shuffle allowed is the post-join aggregation's exchange of
    // partial rows — the full lineitem stream itself must never cross an
    // exchange in this tier
    val shuffles = all.collect { case s: ShuffleExchangeExec => s }.distinct
    assert(shuffles.size <= 1,
      s"${shuffles.size} shuffles in the broadcast tier — lineitem is being exchanged")
  }

  test("q3 cluster tier pre-aggregates lineitem below the shuffle-hash join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val (df, _) = Tiers.forcing(Tiers.Q3Broadcast -> Tiers.Large)(Relational.q3JoinAgg(spark, dir))
    df.collect()
    val all = deepNodes(df.queryExecution.executedPlan)
    graft.Caches.release() // scoped qual cache — see RelationalSpec's q3 note
    val shj = all.collectFirst { case j: ShuffledHashJoinExec => j }
    assert(shj.isDefined, "orders join lost its shuffle-hash shape")
    val aggBelow = deepNodes(shj.get.left).exists {
      case a: BaseAggregateExec =>
        a.groupingExpressions.flatMap(_.references.toSeq.map(_.name)) == Seq("l_orderkey")
      case _ => false
    }
    assert(aggBelow,
      "lineitem's per-order pre-aggregation is not below the join — " +
        "the exchange is carrying every line item again")
  }

  test("q15 scalar subquery stays a broadcast, not a cartesian shuffle") {
    val s = planString(Relational.q15Subquery(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("Subquery"),
      "scalar subquery shape changed")
  }

  test("brute-force cosine streams the big side past a broadcast query set") {
    val s = planString(Similarity.cosineTopk(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"),
      "query set must broadcast; anything else shuffles the embedding table")
  }

  test("dedup candidate generation has no cartesian product") {
    for ((name, df) <- Seq(
      "ngram" -> Dedup.ngramJaccard(spark, dir),
      "minhash" -> Dedup.minhashLsh(spark, dir),
      "simhash" -> Dedup.simhash(spark, dir))) {
      val s = planString(df)
      assert(!s.contains("CartesianProduct"),
        s"$name plan contains an all-pairs CartesianProduct")
    }
  }

  test("CC star rounds hash-join without broadcasting the per-node min table") {
    // Mirror the loop's real input: a checkpointed leaf of the AQE-off
    // session, carrying its origin's statistics — here a two-edge
    // frame's, far under the broadcast threshold. Catalyst must not
    // sort-merge (the hint pins shuffle-hash) and must never broadcast
    // `mins` — it holds one row per NODE, which at 100 TB is the corpus.
    // A sized round shuffles at its k, never at the session's count.
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    val noAqe = Sessions.withoutAqe(spark)
    val k = 2
    assert(noAqe.conf.get("spark.sql.shuffle.partitions") != k.toString)
    val edges = Caches.checkpointed(Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), noAqe)
    assert(edges.queryExecution.optimizedPlan.stats.sizeInBytes <
      noAqe.sessionState.conf.autoBroadcastJoinThreshold, "the leaf lost its origin's stats")
    for ((name, df) <- Seq(
      "largeStar" -> graft.operators.Clusters.largeStar(edges, Some(k)),
      "smallStar" -> graft.operators.Clusters.smallStar(edges, Some(k)))) {
      val nodes = deepNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
        s"$name: star join must hash, got:\n${df.queryExecution.executedPlan}")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), s"$name sort-merges 16-byte edge rows")
      assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"$name broadcasts the per-node min table")
      val widths = nodes.collect { case e: ShuffleExchangeExec => e.numPartitions }
      assert(widths.nonEmpty && widths.forall(_ == k),
        s"$name shuffles at $widths partitions, not at k = $k")
    }
    Caches.release()
  }

  test("kNN self-join co-groups cells shuffle-hash with a bounded top-k aggregate, no broadcast, no sort-based rank") {
    // knnSelfJoinFrom's scaladoc promises "no broadcast anywhere": the
    // cells side is one row per CORPUS vector, so a stats drift that
    // let Catalyst broadcast it would ship the corpus to every task at
    // 100 TB. The top-k must be the bounded primitive-heap top_k_pairs
    // aggregate with a map-side partial (each map task forwards ≤ k
    // candidates per query), and NEVER a rank window — the window
    // form sorts the full n·probes·cellsize candidate stream per
    // partition, which spilled >60 GB and died at the 200k-vector
    // ladder point (r11).
    val df = graft.operators.Ivf.knnSelfJoin(spark, dir, k = 3)
    df.collect() // finalize the adaptive plan
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ShuffledHashJoin"), s"cell join must shuffle-hash, got:\n$s")
    assert(!s.contains("SortMergeJoin"), "cell co-group sort-merges")
    assert(!s.contains("BroadcastExchange"), "kNN join broadcasts a corpus-sized side")
    assert(s.contains("top_k_pairs") && s.contains("ObjectHashAggregate"),
      s"top-k not the bounded-heap aggregate:\n$s")
    assert(s.contains("partial_top_k_pairs"),
      "top_k_pairs lost its map-side partial (full candidates would shuffle)")
    assert(!s.contains("WindowGroupLimit") && !s.contains("Window"),
      "kNN rank went through a sort-based window")
    graft.Caches.release()
  }

  test("sim_knn_exact: shuffle-hash re-rank joins, nothing corpus-sized broadcasts") {
    // knnExact's scaladoc promises the decimal re-rank fetches
    // embeddings through hint-pinned shuffle-hash id joins — at corpus
    // scale BOTH sides of those joins are data-sized, so a stats drift
    // that let Catalyst broadcast one would ship the corpus to every
    // task. (The candidate stage is the same plan the kNN co-group pin
    // above asserts.)
    val df = graft.operators.Similarity.knnExact(spark, dir, k = 3)
    df.collect() // finalize the adaptive plan
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ShuffledHashJoin"), s"re-rank joins must shuffle-hash, got:\n$s")
    assert(!s.contains("BroadcastExchange"), "knnExact broadcasts a corpus-sized side")
    assert(!s.contains("SortMergeJoin"), "knnExact sort-merges an id join")
    graft.Caches.release()
  }

  test("date-partitioned metrics store prunes partitions on date filters") {
    import graft.etl.MetricsQueries
    val tmp = tmpDir("graft_store")
    graft.sources.MetricsStore.write(MetricsQueries.metrics(spark, dir), tmp)
    val back = graft.sources.MetricsStore.read(spark, tmp)
      .filter(org.apache.spark.sql.functions.col("date") === "2024-01-10")
    val s = planString(back)
    assert(s.contains("PartitionFilters: [") && s.contains("2024-01-10"),
      "date filter did not become a partition prune")
    // and the pruned read returns exactly the partition's rows
    val direct = MetricsQueries.metrics(spark, dir)
      .filter(org.apache.spark.sql.functions.col("date") === "2024-01-10")
    assert(back.count() == direct.count() && back.count() > 0)
    // the write clusters on the partition column (REBALANCE by date):
    // each date directory holds a BOUNDED handful of files — one for a
    // small date, a few if AQE split a hot date at the advisory size —
    // never one per upstream task (w×d near-empty files made
    // file-listing dominate the serve path, r8)
    val root = new java.io.File(tmp)
    val dateDirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("date="))
    assert(dateDirs.nonEmpty)
    for (d <- dateDirs) {
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length >= 1 && parts.length <= 4,
        s"${d.getName} has ${parts.length} files — store write not clustered")
    }
  }

  test("etl_channel_query_store serves from a partition-pruned store scan") {
    val feed = graft.etl.EtlQueries.channelQuery(spark, dir)
      .collect().map(_.toString).toSeq
    // the second serve call reads the relation MetricsStore resolved for
    // the store's commit: it must prune and agree just the same
    for (df <- Seq(graft.etl.EtlQueries.channelQueryStore(spark, dir),
                   graft.etl.EtlQueries.channelQueryStoreServe(spark, dir),
                   graft.etl.EtlQueries.channelQueryStoreServe(spark, dir))) {
      val s = planString(df)
      assert(s.contains("PartitionFilters: [") &&
        (s.contains("2024-01-05") || s.contains("19727")), // literal or epoch-day form
        "the store-backed channel query's date range did not become a partition prune")
      // same result contract as the feed-scan path
      assert(df.collect().map(_.toString).toSeq == feed,
        "store-backed and feed-scan channel queries diverged")
    }
  }

  test("sim_ann_ivf candidate join broadcasts the probe side (no nested loop)") {
    val df = graft.operators.Ivf.annIvf(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // The probe fan-out (|Q|·nprobe rows) must broadcast into a HASH
    // join on cell; a nested-loop or cartesian here would score every
    // (query, vector) pair and silently turn the index into a scan.
    assert(s.contains("BroadcastHashJoin"), "probe join is not a broadcast hash join")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "IVF plan contains a nested-loop/cartesian join")
  }

  test("sim_ann_ivf_serve scans only the probed cell directories") {
    val df = graft.operators.Ivf.annIvfServe(spark, dir)
    val s = planString(df)
    // The probe set must land in the index scan's PartitionFilters —
    // that prune is the whole point of the cell-partitioned layout: a
    // serve lists nprobe directories, it does not scan the corpus.
    assert(s.contains("PartitionFilters: [") && s.contains("cell"),
      "IVF probe set did not become a partition prune on the cell store")
    assert(df.collect().nonEmpty)
    // The index write clusters on the partition column (REBALANCE /
    // repartition fallback): each cell directory holds a bounded
    // handful of files, never one per upstream task — same layout
    // contract as the metrics store (w×nlist spray makes file listing
    // eat the prune's win).
    // r14 renamed derived-store tmp paths to the pathSlug convention;
    // match on it (the old hashCode prefix only ever matched stale
    // pre-r14 leftovers in /tmp).
    val idxRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("graft_ivf_index_" + graft.sources.Tables.pathSlug(dir)))
      .maxBy(_.lastModified)
    val cellDirs = new java.io.File(idxRoot, "cells")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    for (d <- cellDirs) {
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length >= 1 && parts.length <= 4,
        s"${d.getName} has ${parts.length} files — index write not clustered")
    }
  }

  test("sim_ann_ivfpq_serve: cell prune AND the candidate scan never reads embeddings") {
    val df = graft.operators.IvfPq.annIvfPqServe(spark, dir)
    val s = planString(df)
    assert(s.contains("PartitionFilters: [") && s.contains("cell"),
      "IVF-PQ probe set did not become a partition prune on the cell store")
    // The compression tier's whole point: the candidate scan reads
    // (vec_id, nf, code) and the 256 B/vector embedding column stays in
    // the parquet footer — only the id-restricted re-rank fetch reads
    // it. Two scans of the cells store must appear: one WITHOUT
    // embedding in its ReadSchema, one with.
    val scanSchemas = "ReadSchema: [^\n]*".r.findAllIn(s).toSeq
      .filter(l => l.contains("vec_id"))
    assert(scanSchemas.exists(l => l.contains("code") && !l.contains("embedding")),
      s"candidate scan decodes the embedding column it exists to skip:\n$s")
    assert(scanSchemas.exists(l => l.contains("embedding") && !l.contains("code")),
      s"re-rank fetch missing its embedding-only scan:\n$s")
    assert(df.collect().nonEmpty)
    // The residual tier shares every stage, so the same dual-ReadSchema
    // + cell-prune contract must hold over its _res index tree.
    val sr = planString(
      graft.operators.IvfPq.annIvfPqServe(spark, dir, residual = true))
    assert(sr.contains("PartitionFilters: [") && sr.contains("cell"),
      "residual IVF-PQ probe set did not become a cell partition prune")
    val resSchemas = "ReadSchema: [^\n]*".r.findAllIn(sr).toSeq
      .filter(l => l.contains("vec_id"))
    assert(resSchemas.exists(l => l.contains("code") && !l.contains("embedding")),
      s"residual candidate scan decodes the embedding column:\n$sr")
    assert(resSchemas.exists(l => l.contains("embedding") && !l.contains("code")),
      s"residual re-rank fetch missing its embedding-only scan:\n$sr")
  }

  test("text_tokens_bpe: one pruned text scan, codegen'd kernel, no shuffle before the sort") {
    val df = graft.operators.Bpe.tokensBpe(spark, dir)
    val s = planString(df)
    // one documents scan reading exactly (doc_id, text)
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "bpe scan must read only doc_id + text")
    assert(s.contains("bpe_count"), "kernel missing from the plan")
    // the count is a pure per-row map: the only exchange in the
    // EXECUTED plan is the output ordering's range partitioning
    // (planString appends the multi-phase QueryExecution dump, which
    // repeats every node — count on the executed plan alone, FORCED
    // first so AQE finalizes and the codegen stages are printed)
    df.collect() // finalize THIS df's own AQE plan (a write would spawn
    // a separate QueryExecution and leave df's un-executed)
    val fp = finalPlanOnly(df.queryExecution.executedPlan.toString)
    val exchanges = "Exchange".r.findAllIn(fp).size
    assert(exchanges <= 1, s"per-row bpe count must not shuffle data: $exchanges exchanges")
    // whole-stage-codegen stages print as "*(n)" markers in the tree
    assert(fp.contains("*("), "kernel fell out of whole-stage codegen")
    graft.Caches.release()
  }

  test("text_keywords broadcast branch: dictionary broadcasts, top-k rank is a Partial WindowGroupLimit") {
    // The registered defaults take the broadcast branch (vocab ≪ 1M):
    // the posting stream must meet the dictionary map-side — a lost
    // broadcast would shuffle every (doc, word, tf) row — and the
    // scaladoc's "only ~k rows per document cross the final shuffle"
    // claim requires the rank filter to compile to a Partial
    // WindowGroupLimit, same pin as q7 and knnSelfJoin.
    val df = graft.operators.TextAnalysis.keywords(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s"dictionary not broadcast:\n$s")
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
      "rank filter not pushed into a partial per-partition group limit")
    graft.Caches.release()
  }

  test("text_keywords salted branch: no broadcast, shuffle-hash posting join, Partial WindowGroupLimit") {
    // forced Large takes the web-scale branch: the dictionary is by
    // assumption unbroadcastable, so a BroadcastExchange anywhere in
    // the join path means the gate leaked; the posting join must be
    // the hint-pinned ShuffledHashJoin (sort-merge would sort the
    // corpus-scale posting stream), and the same group-limit pin holds.
    val (df, _) = Tiers.forcing(Tiers.KeywordsVocab -> Tiers.Large)(
      graft.operators.TextAnalysis.keywords(spark, dir))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ShuffledHashJoin"), s"salted posting join must shuffle-hash:\n$s")
    assert(!s.contains("BroadcastExchange"),
      s"salted branch broadcasts a side assumed unbroadcastable:\n$s")
    assert(!s.contains("SortMergeJoin"), "salted posting join sort-merges")
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
      "rank filter not pushed into a partial per-partition group limit")
    graft.Caches.release()
  }

  test("q7 top-k prunes map-side before the shuffle (WindowGroupLimit Partial)") {
    val df = Relational.q7WindowTopk(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // Partial WindowGroupLimit = each map task forwards only its local
    // top-k per key; without it the whole fact table crosses the wire
    // to be ranked. This is the property that makes rank-filter top-k
    // viable at 100 TB.
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
      "rank filter not pushed into a partial per-partition group limit")
  }

  test("feed kernels are evaluated once per row (CSE across the struct getFields)") {
    // FeedAttrs/FeedKey emit one struct consumed by many getFields; if
    // whole-stage codegen's subexpression elimination ever stopped
    // collapsing them, every feed query would silently re-run the kernel
    // 6-8x per row. Count the static kernel entry points in the
    // generated code.
    import org.apache.spark.sql.execution.debug.codegenString
    for ((label, kernel, df) <- Seq(
      ("unionedFeed", "graft.functions.FeedAttrs.attrs(",
        graft.etl.Marketing.unionedFeed(spark, dir)),
      ("packedRows", "graft.functions.FeedKey.pack(",
        graft.etl.Marketing.packedRows(graft.sources.Tables.events(spark, dir))))) {
      val code = codegenString(df.queryExecution.executedPlan)
      val n = code.sliding(kernel.length).count(_ == kernel)
      assert(n == 1, s"$label: kernel evaluated $n times per row in codegen")
    }
  }

  test("custom expressions stay inside whole-stage codegen") {
    // A custom Expression that broke codegen would silently fall back
    // to interpreted projection for the whole stage — the scan-stage
    // kernels (fingerprint, shingles, signatures, buckets, dots) must
    // keep their projections inside WholeStageCodegen spans.
    // `*(N)` prefixes in the executed plan mark WholeStageCodegen
    // spans; the kernel must appear on a starred operator line.
    for ((name, kernel, df) <- Seq(
      ("text_fingerprint", "rolling_fingerprint",
        graft.operators.TextAnalysis.fingerprint(spark, dir)),
      ("text_langid", "text_stats", graft.operators.TextAnalysis.langid(spark, dir)),
      ("corpus_stats", "text_stats", graft.operators.Curation.corpusStats(spark, dir)),
      ("dedup_minhash_lsh", "minhash_shingled", Dedup.minhashLsh(spark, dir)),
      ("sim_cosine_topk", "dot_decimal", Similarity.cosineTopk(spark, dir)),
      ("etl_hmac_export", "hmac_sha256", graft.etl.EtlQueries.hmacExport(spark, dir)))) {
      df.collect() // finalize the adaptive plan so codegen spans are visible
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
      assert(lines.exists(l => l.contains("*(") && l.contains(kernel)),
        s"$name: $kernel not inside a WholeStageCodegen (*) span")
    }
  }

  test("curation map-stages don't shuffle; corpus_stats shuffles once") {
    import graft.operators.Curation
    // pii scrub and split assignment are pure projections: the only
    // Exchange allowed is the presentation sort's range partitioning.
    for ((name, df) <- Seq(
      "text_pii_scrub" -> Curation.piiScrub(spark, dir),
      "split_train_test" -> Curation.splitAssign(spark, dir))) {
      val s = planString(df)
      assert(!s.contains("hashpartitioning"),
        s"$name introduced a hash shuffle into a map stage")
    }
    // corpus_stats: one hash shuffle (<=5 language keys) with a map-side
    // partial aggregate in front of it.
    val stats = Curation.corpusStats(spark, dir)
    stats.collect()
    val s = finalPlanOnly(stats.queryExecution.executedPlan.toString)
    assert("hashpartitioning".r.findAllIn(s).size == 1,
      "corpus_stats must aggregate in exactly one shuffle")
    assert(s.contains("partial_"), "corpus_stats lost its map-side partial aggregate")
  }

  test("pipeline_corpus_clean scans documents once (stages share the cached projection)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.operators.Pipeline.corpusClean(spark, dir)
    df.collect()
    // full traversal: AQE hides materialized stages behind QueryStageExec
    // leaves, so a naive collect() sees neither scans nor cache reads
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }
      p +: (through ++ p.children.flatMap(nodes))
    }
    val all = nodes(df.queryExecution.executedPlan)
    // FileScans of documents.parquet OUTSIDE the cached relation — at
    // 100 TB every extra one is a full re-read of the text corpus
    val direct = all.count {
      case f: FileSourceScanExec => f.toString.contains("documents")
      case _ => false
    }
    assert(direct == 0,
      s"$direct pipeline stage(s) scanned documents directly instead of the shared projection")
    val cacheReads = all.count(_.isInstanceOf[InMemoryTableScanExec])
    assert(cacheReads >= 2,
      s"expected the quality/exact/ngram stages to read the shared cache, got $cacheReads reads")
  }

  test("pipeline_corpus_full reads every cached frame at <= 4 partitions") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.operators.Pipeline.corpusFull(spark, dir)
    df.collect()
    val parts = deepNodes(df.queryExecution.executedPlan).collect {
      case i: InMemoryTableScanExec => i.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions
    }
    graft.Caches.release()
    assert(parts.nonEmpty, "pipeline_corpus_full read no cached frame")
    // one task per cached partition in every stage that reads it: an
    // uncoalesced AQE frame sits at initialPartitionNum (32) on 4 cores
    assert(parts.forall(_ <= 4), s"cached frames read at ${parts.mkString(", ")} partitions")
  }

  test("pipeline_corpus_* plan without AQE and leave the caller's conf alone") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val names = SparkEntry.queries.keys.filter(_.startsWith("pipeline_corpus_")).toSeq.sorted
    assert(names.size == 5, s"pipeline queries: $names")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val adaptive = deepNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[AdaptiveSparkPlanExec])
      graft.Caches.release()
      assert(!adaptive, s"$name planned with AQE")
      assert(df.sparkSession ne spark, s"$name planned in the caller's own session")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the caller's session conf was written")
  }

  test("pipeline_corpus_full sorts no span list by span_start") {
    // Dedup.mergeIslands is unordered: its consumers regroup spans by
    // doc_id, so a presentation sort there is a range exchange, a
    // sampling job and a sort that feed nothing.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.operators.Pipeline.corpusFull(spark, dir)
    df.collect()
    val ranges = deepNodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.outputPartitioning.toString
    }
    graft.Caches.release()
    assert(ranges.nonEmpty, "pipeline_corpus_full lost its doc_id presentation sort")
    assert(!ranges.exists(_.contains("span_start")),
      s"a range exchange on span_start: ${ranges.mkString("; ")}")
  }

  test("only bounded-cardinality window operators run unpartitioned") {
    // etl_channel_query's residual window runs over <= offset+limit rows
    // and every pack tail's block-prefix window (over `blk_tot`,
    // Curation.withPrefixOffsets) over <= ~10k block summaries by
    // construction; nothing else may move all data to one partition.
    // Read before AQE: an unexecuted AdaptiveSparkPlanExec shows no
    // operator below it.
    def unpartitionedWindows(p: SparkPlan): Int =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            !w.windowExpression.exists(_.references.exists(_.name == "blk_tot")) => w
      }.size
    val bounded = Set("etl_channel_query", "etl_channel_query_store",
      "etl_channel_query_store_serve")
    for ((name, fn) <- SparkEntry.queries if !bounded(name)) {
      val n = unpartitionedWindows(fn(spark, dir).queryExecution.sparkPlan)
      assert(n == 0, s"$name has $n unpartitioned Window operator(s)")
    }
  }

  test("contamination picks the count plan at low tau and the prefix plan at selective tau") {
    // The rarity window (row_number over the df order) exists ONLY on
    // the prefix path; the count plan must never build it — at the
    // registered τ=0.05 a prefix covering ~95% of postings makes the
    // whole prefix machinery overhead (BASELINE.md sf10: 18.2 → 11.9 s).
    // Counted on the optimized LOGICAL plan: AQE hides physical window
    // operators behind unresolved query stages before execution.
    def windows(tau: Double): Int =
      graft.operators.Curation.contamination(spark, dir, minContain = tau)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.size
    assert(windows(0.05) == 0,
      "low-tau contamination built the rarity window: the prefix plan leaked into the count path")
    assert(windows(0.3) >= 1,
      "selective-tau contamination lost its rarity window: the prefix order is gone")
  }

  test("bloom pushdown is a map-side filter: no broadcast join for the vocabulary") {
    // The set branch prunes the train posting stream through a
    // broadcast left-semi join; the bloom branch must replace that with
    // a pure Filter carrying bloom_contains — no BroadcastExchange for
    // the vocabulary at all (at the registered low tau the count plan
    // has no other broadcast either), and the filter must sit in the
    // plan (a silently dropped pushdown would still be correct, just
    // not the 100 TB plan).
    def plan(p: String) = planString(
      graft.operators.Curation.contamination(spark, dir, minContain = 0.05, pushdown = p))
    val bloom = plan("bloom")
    assert(bloom.contains("bloom_contains"),
      "bloom pushdown filter missing from the plan")
    assert(!finalPlanOnly(bloom).contains("BroadcastExchange"),
      "bloom branch still broadcasts something — the pushdown didn't replace the semi-join")
    val set = plan("set")
    assert(finalPlanOnly(set).contains("BroadcastExchange"),
      "set branch lost its broadcast semi-join (gate comparison invalid)")
  }

  test("set-op queries keep plain long join keys (no null-safe coalesce detour)") {
    // The reason these are hand-planned joins instead of
    // .intersect()/.except(): native set ops wrap every key in
    // (coalesce(k,0), isnull(k)) for null-safe equality, which kicks
    // the broadcast relation off its long-key fast path — measured
    // 6.17 vs 4.00 s at sf10 on the EXCEPT anti join (stage ladder in
    // BASELINE.md, "Set-op queries: the long-key fast path"). Keys here
    // are non-null TPC-H ids, so the pin is: the join keys stay bare
    // longs, the distinct aggregate exists, and nothing degenerates to a
    // cartesian product.
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    for ((name, df) <- Seq(
        "q21_except" -> Relational.q21Except(spark, dir))) {
      val joins = deepNodes(df.queryExecution.executedPlan)
        .collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"$name lost its set-semantics join")
      joins.foreach { j =>
        val keys = (j.leftKeys ++ j.rightKeys).map(_.sql).mkString(", ")
        assert(!keys.toLowerCase.contains("coalesce"),
          s"$name: null-safe coalesce keys crept back into the ${j.joinType} join ($keys)")
      }
      val s = planString(df)
      assert(s.contains("HashAggregate"), s"$name lost its distinct aggregate")
      assert(!finalPlanOnly(s).contains("CartesianProduct"),
        s"$name has a cartesian product")
    }
    // q20 is the r13 conditional-aggregation rewrite: ONE scan of the
    // union window, ONE grouped-flags aggregate, NO join at all — a
    // join reappearing means the fold regressed to the two-branch
    // self-join shape.
    val q20 = Relational.q20Intersect(spark, dir)
    val q20Joins = deepNodes(q20.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j }
    assert(q20Joins.isEmpty,
      "q20_intersect regressed to a self-join plan — the conditional-aggregation fold is gone")
    val q20Plan = planString(q20)
    assert(q20Plan.contains("HashAggregate"), "q20 lost its grouped-flags aggregate")
    val q20Scans = deepNodes(q20.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(q20Scans == 1, s"q20 should scan orders exactly once, found $q20Scans scans")
  }

  test("incremental dedup: batch-sized aggregate, shuffle-hash anti join, no broadcast") {
    // The arrival-batch contract: the only aggregate keys on the batch
    // content hash (below the join), the store side enters a HASHED
    // anti join (neither side may broadcast — at scale neither fits),
    // and no store-side aggregate exists (left_anti tolerates duplicate
    // right rows; a distinct would re-aggregate the standing corpus).
    val df = Dedup.incremental(spark, dir)
    val exec = finalPlanOnly(df.queryExecution.executedPlan.toString)
    assert(exec.contains("LeftAnti"), "anti join lost")
    assert(exec.contains("ShuffledHashJoin"), "anti join must stay shuffle-hash (hint dropped?)")
    assert(!exec.contains("BroadcastExchange"), "store hash projection must not broadcast")
    assert(exec.split("HashAggregate").length - 1 == 2,
      "exactly one partial+final aggregate pair (the batch groupBy) — a second " +
        "aggregate means the store side is being re-aggregated")
  }

  test("dedup_clusters_incremental_serve: standing labels read from the store, no store-side CC") {
    // r15 (r14 verdict item 1): the serve's standing side must come
    // from the materialized store — labels READ from parquet (CC over
    // the store pair graph ran at build time), candidates from the
    // posting index, verification shingles fetched by semi join — and
    // the merged output must be row-identical to the recompute path.
    val full = graft.operators.Clusters.clustersIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    graft.Caches.release()
    val path = graft.operators.Clusters.buildIncrementalClusterStore(spark, dir)
    for (sub <- Seq("labels", "postings", "shingles"))
      assert(new java.io.File(s"$path/$sub/_SUCCESS").exists(),
        s"store build did not materialize $sub")
    // The batch-pair stage (lazy — auditable): candidates come from the
    // store's POSTING index, verification shingles from the store's
    // shingle table. r16 added the footer-gated SMALL-BATCH broadcast
    // tier, so BOTH tiers are pinned: above the gate (forced Large)
    // every join stays hint-pinned hashed with no broadcast at
    // all; below it (the auto side at testdata scale) only batch- or
    // collision-bounded sides broadcast — the store POSTING scan must
    // never sit under a BroadcastExchange in either tier.
    def storeScanLocs(df: org.apache.spark.sql.DataFrame) =
      deepNodes(df.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("Location", "") }.distinct
    val (pairsBig, _) = Tiers.forcing(Tiers.ServeBatch -> Tiers.Large)(
      graft.operators.Clusters.serveBatchPairs(spark, dir, 0.8, 80, path))
    val scansBig = storeScanLocs(pairsBig)
    assert(scansBig.exists(l => l.contains("graft_clstore") && l.contains("postings")),
      s"candidates must come from the store's posting index: $scansBig")
    assert(scansBig.exists(l => l.contains("graft_clstore") && l.contains("shingles")),
      "verification must fetch store shingles from the materialized table")
    val bigExec = finalPlanOnly(pairsBig.queryExecution.executedPlan.toString)
    assert(bigExec.contains("ShuffledHashJoin"),
      "above the gate posting joins must stay shuffle-hash")
    assert(bigExec.contains("LeftSemi"), "store shingle fetch must stay a semi join")
    assert(!bigExec.contains("BroadcastExchange"),
      "nothing may broadcast above the gate")
    graft.Caches.release()
    val pairs = graft.operators.Clusters.serveBatchPairs(spark, dir, 0.8, 80, path)
    val scans = storeScanLocs(pairs)
    assert(scans.exists(l => l.contains("graft_clstore") && l.contains("postings")),
      s"candidates must come from the store's posting index: $scans")
    assert(scans.exists(l => l.contains("graft_clstore") && l.contains("shingles")),
      "verification must fetch store shingles from the materialized table")
    val pairsExec = finalPlanOnly(pairs.queryExecution.executedPlan.toString)
    assert(pairsExec.contains("LeftSemi"), "store shingle fetch must stay a semi join")
    // The store posting table must stream, never build a broadcast: no
    // BroadcastExchange subtree may DIRECTLY contain the postings scan.
    // (Traversal stops at cache boundaries — a broadcast built FROM a
    // cached candidate frame legitimately has posting scans inside the
    // cache's own build plan; what is pinned is that the broadcast's
    // physical input is the batch/candidate side, not a store scan.)
    def plainNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val through = p match {
        case a: AdaptiveSparkPlanExec => plainNodes(a.executedPlan)
        case q: QueryStageExec => plainNodes(q.plan)
        case _ => Seq.empty
      }
      p +: (through ++ p.children.flatMap(plainNodes))
    }
    val postingsUnderBroadcast = plainNodes(pairs.queryExecution.executedPlan)
      .collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }
      .exists(b => plainNodes(b).exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("Location", "").contains("postings")
        case _ => false })
    assert(!postingsUnderBroadcast,
      "the store posting index must never broadcast, even below the gate")
    graft.Caches.release()
    // The merged serve: standing labels READ from the store (the scan
    // sits inside the merge's cached label frame — deepNodes traverses
    // InMemoryTableScan), output row-identical to the recompute path.
    val serve = graft.operators.Clusters.clustersIncrementalServe(spark, dir)
    val serveScans = deepNodes(serve.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("Location", "") }
    assert(serveScans.exists(l => l.contains("graft_clstore") && l.contains("labels")),
      s"standing labels must be read from the store, not re-solved: $serveScans")
    assert(serve.collect().map(_.toString).toSeq == full,
      "store-resident serve and recompute-path incremental clusters diverged")
    graft.Caches.release()
  }

  test("bucketed store table elides the serve-side exchange (the warehouse form)") {
    // Every incremental-store scaladoc says "on a real warehouse the
    // audit table would be BUCKETED by hash so its side of the join
    // never re-shuffles; path-read parquet can't declare bucketing
    // without a catalog table, so that exchange is priced rather than
    // elided". Close the caveat in-engine: the SAME standing hash
    // store as a bucketBy catalog table, and the serve's anti join
    // reads it with ZERO exchanges on the store side — only the batch
    // aggregate shuffles. This is the plan shape the 100 TB deployment
    // actually gets.
    import org.apache.spark.sql.functions._
    val tmp = tmpDir("graft_bucket_demo")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_demo")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        graft.operators.Curation.splitBucket(col("doc_id")).as("bucket"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs.filter(col("bucket") < 80)
      .select(md5(col("text").cast("binary")).as("text_hash"))
      .write.bucketBy(n, "text_hash").sortBy("text_hash")
      .format("parquet").option("path", s"$tmp/hashes")
      .saveAsTable("graft_bucket_demo")
    val served = docs.filter(col("bucket") >= 80)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_copies"))
      .join(spark.table("graft_bucket_demo"), Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"), col("batch_copies"))
      .orderBy(col("doc_id"))
    val rows = served.collect().map(_.toString).toSeq
    // Identity with the path-read serve (same store split, same oracle).
    val pathServe = graft.operators.Dedup.incrementalServe(spark, dir)
      .collect().map(_.toString).toSeq
    assert(rows == pathServe, "bucketed serve diverged from the path-read serve")
    // The store-side scan must flow into the join WITHOUT an exchange:
    // exactly the presentation sort's range exchange and the batch
    // aggregate's hash exchange may exist, and no shuffle may sit
    // between the bucketed scan and the join.
    val nodes = deepNodes(served.queryExecution.executedPlan)
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.length == 2, // batch-agg hash + final sort range
      s"expected 2 exchanges (batch agg + sort), got ${exchanges.length}:\n" +
        served.queryExecution.executedPlan.toString)
    val bucketScan = nodes.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains("graft_bucket_demo") ||
           f.metadata.getOrElse("Location", "").contains("bucket_demo") => f }
    assert(bucketScan.exists(_.bucketedScan),
      "store scan did not use the bucketed layout")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_demo")
  }

  test("span operators: hash-posting joins stay shuffle-hash, no text in the shuffle") {
    // dedup_substring_apply: the span semi join AND the doc-side left
    // join are hint-pinned shuffle-hash (the span table can reach O(n)
    // rows — Catalyst's tiny-side broadcast estimate at test scale
    // would flip to a broadcast that cannot exist at 100 TB).
    val apply = Dedup.substringApply(spark, dir)
    val applyExec = finalPlanOnly(apply.queryExecution.executedPlan.toString)
    assert(applyExec.contains("LeftSemi"), "dup-window semi join lost")
    assert(!applyExec.contains("BroadcastHashJoin"),
      "span-family joins must not broadcast (hint dropped?)")
    graft.Caches.release()
    // corpus_contamination_spans: test-side windows semi-join the
    // UN-AGGREGATED train hashes — exactly one aggregate pair in the
    // plan (the island groupBy), none on the train side.
    val spans = graft.operators.Curation.contaminationSpans(spark, dir)
    val spansExec = finalPlanOnly(spans.queryExecution.executedPlan.toString)
    assert(spansExec.contains("LeftSemi") && spansExec.contains("ShuffledHashJoin"),
      "train-hash semi join must stay shuffle-hash")
    assert(!spansExec.contains("BroadcastExchange"),
      "train posting side must not broadcast")
    assert(spansExec.split("HashAggregate").length - 1 == 2,
      "exactly one partial+final aggregate pair (the island merge) — more " +
        "means the train side is being aggregated before the semi join")
    graft.Caches.release()
    // corpus_decontaminate composes both shapes (mirrored flag stage +
    // the apply tail): the same no-broadcast discipline must hold — the
    // TEST-hash semi join and the span/doc joins all shuffle-hash.
    val decon = graft.operators.Curation.decontaminate(spark, dir)
    val deconExec = finalPlanOnly(decon.queryExecution.executedPlan.toString)
    assert(deconExec.contains("LeftSemi") && deconExec.contains("ShuffledHashJoin"),
      "decontaminate semi join must stay shuffle-hash")
    assert(!deconExec.contains("BroadcastHashJoin"),
      "decontaminate joins must not broadcast")
    graft.Caches.release()
  }

  test("windows keyed by low-cardinality columns never run over a raw scan") {
    // A window PARTITION BY a handful-of-distinct-values key over the full
    // table is an unpartitioned window in disguise: every row shuffles into
    // ≤ ~5 tasks that each sort a fifth of the corpus (the r4 q17 scale
    // bug). Such windows are only legitimate over already-reduced inputs —
    // an aggregate (histogram/summary) or a selective broadcast-join
    // restriction somewhere below them in the plan.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val lowCard = Set("event_type", "lang_pred", "split", "channel")
    def reduced(p: SparkPlan): Boolean = deepNodes(p).exists {
      case _: BaseAggregateExec | _: BroadcastHashJoinExec => true
      case _ => false
    }
    var windows = 0
    for ((name, fn) <- SparkEntry.queries) {
      val ws = deepNodes(fn(spark, dir).queryExecution.executedPlan).collect {
        case w: WindowExec => w
      }
      windows += ws.size
      val bad = ws.filter(w =>
        w.partitionSpec.nonEmpty &&
          w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).forall(lowCard) &&
          !reduced(w.child))
      assert(bad.isEmpty,
        s"$name runs ${bad.size} window(s) keyed only by low-cardinality " +
          s"column(s) over an unreduced input — all data lands in a handful of tasks")
      Caches.release()
    }
    assert(windows > 0, "no registered query planned a WindowExec: the check saw nothing")
  }

  test("unpartitioned windows run only over bounded inputs (r19, r18 verdict watch-item)") {
    // WindowExec with no PARTITION BY moves its whole input through ONE
    // task (the WindowExec warning in the test tail). The engine has
    // exactly two legitimate shapes: the two-phase prefix-sum's
    // block-totals window (input = one row per blk, an aggregate below
    // it bounds it at nBlocks) and channelQuery's pagination row_number
    // (input pre-truncated by orderBy+limit to offset+limit rows). Pin
    // the bound: every unpartitioned window in every registered query
    // must have an aggregate or a limit below it — a future
    // unpartitioned window over an unreduced corpus stream fails here
    // instead of serializing the corpus through one task at scale.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{BaseLimitExec, TakeOrderedAndProjectExec}
    def bounded(p: SparkPlan): Boolean = deepNodes(p).exists {
      case _: BaseAggregateExec => true
      case _: BaseLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    for ((name, fn) <- SparkEntry.queries) {
      val bad = deepNodes(fn(spark, dir).queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      assert(bad.isEmpty,
        s"$name runs ${bad.size} unpartitioned window(s) over an unreduced " +
          "input — the whole stream would serialize through one task")
      graft.Caches.release()
    }
  }

  test("every presentSorted call site is audited and domain-bounded") {
    // presentSorted funnels the RESULT through one partition; that is
    // only safe when the result's cardinality is bounded by a fixed key
    // DOMAIN (or, for the parameterized etl queries, by the request's
    // date range x the UTM domain) — never by data volume. Two guards:
    // (1) the set of call sites in the main sources must match this
    // audited list, so a new site cannot appear without a bound being
    // recorded here; (2) each registered query that presentSorts must
    // return at most its domain ceiling. Time-bucketed outputs (q13
    // hours, q16 days) grow with the corpus's time span and use orderBy
    // instead (r8, ADVICE).
    val auditedSites = Map(
      "operators/Relational.scala" -> 8, // q1, q4, q5, q10, q11, q12, q17 (direct selection, r9), (bucketed union)
      "operators/Sketches.scala" -> 2,   // sketch_distinct, sketch_quantiles
      "operators/Curation.scala" -> 1,   // corpus_stats (<=5 languages)
      // dedup incremental pair (r18): NOT domain-bounded — batch-volume
      // bounded, so the site is GATED on the footer-estimated batch row
      // count (Tiers.PresentationSort: <= 2^22 rows through one task,
      // else the parallel range sort returns). Both sides pinned below.
      "operators/Dedup.scala" -> 1,
      "etl/EtlQueries.scala" -> 2,       // exportDaily, hmacExport (one date x campaign domain)
      "etl/MetricsQueries.scala" -> 2)   // funnelQuery (date range x UTM domain), matches (2 sides)
    val base = java.nio.file.Paths.get("src/main/scala/graft")
    val actual = auditedSites.keys.map { rel =>
      val src = new String(java.nio.file.Files.readAllBytes(base.resolve(rel)))
      rel -> "presentSorted\\(".r.findAllIn(src).size
    }.toMap
    assert(actual == auditedSites,
      s"presentSorted call sites changed ($actual vs audited $auditedSites) — " +
        "record the new site's cardinality bound in this test or use orderBy")
    val others = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val unaudited = walk(others).filter { f =>
      val rel = f.getPath.stripPrefix("src/main/scala/graft/")
      !auditedSites.contains(rel) && rel != "functions/package.scala" &&
        new String(java.nio.file.Files.readAllBytes(f.toPath)).contains("presentSorted(")
    }
    assert(unaudited.isEmpty,
      s"presentSorted used in unaudited file(s): ${unaudited.map(_.getPath)}")
    // Domain ceilings (computed from the key domains in SURVEY §3 /
    // TPC-H value sets, not observed counts):
    val ceilings = Map(
      "q1_agg" -> 6L, "q4_broadcast_join" -> 5L, "q5_semi_join" -> 5L,
      "q10_union_agg" -> 2L, "q11_rollup" -> 10L, "q12_case_expr" -> 9L,
      "q17_median_disc" -> 5L, "sketch_distinct" -> 5L, "sketch_quantiles" -> 3L,
      "corpus_stats" -> 5L, "etl_matches" -> 2L,
      "etl_export_daily" -> 2200L, "etl_hmac_export" -> 2200L,
      "etl_funnel_query" -> 2500L)
    for ((name, cap) <- ceilings) {
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n <= cap, s"$name returned $n rows, above its domain ceiling $cap — " +
        "presentSorted would funnel an unbounded result through one task")
    }
    // The Dedup site's bound is the GATE, not a domain: on its small
    // side the presentation sort runs, on its large side the parallel
    // range sort must return.
    def incremental(side: Tiers.Side) = finalPlanOnly(planString(
      Tiers.forcing(Tiers.PresentationSort -> side)(
        SparkEntry.queries("dedup_incremental_serve")(spark, dir))._1)).toLowerCase
    assert(!incremental(Tiers.Small).contains("rangepartitioning"),
      "the presentation gate's small side still range-sorts")
    assert(incremental(Tiers.Large).contains("rangepartitioning"),
      "the presentation gate's large side lost the parallel range sort")
    graft.Caches.release()
  }

  test("arrival loops: standing-store scans never shuffle-exchange below the gate") {
    // r17 (r16 verdict item 1): per arriving micro-batch, every join
    // against a standing log (hashes/prefix/shingles/windows/testwin/
    // corpus/bands/accepted) must STREAM the store side below the
    // broadcast gate — the batch-bounded side broadcasts, so no
    // ShuffleExchange may have a store scan underneath unless a
    // BroadcastHashJoin bounded the stream first (then the exchange
    // carries only collision-bounded survivors, which is the loops'
    // declared per-arrival cost). Pinned on REAL executed plans: a
    // QueryExecutionListener captures every query of a batch-1 run of
    // the composed corpus loop and the near-dup loop.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft_plan_arrival")
    val corpusStore = s"$root/corpus_store"
    val nearDupStore = s"$root/neardup_store"
    import spark.implicits._
    // batch-0 docs: 24 unique words each; batch-1 docs: first 10 words
    // copied from the matching batch-0 doc (guaranteed w=8 window
    // collisions → touched docs), rest unique (3-shingle Jaccard ≈ 0.2
    // — far below tau, so the colliding docs survive the near-dup tier
    // and the span/decontamination maintenance actually fires)
    def words(i: Long, from: Int, until: Int): Seq[String] =
      (from until until).map(j => s"a${i}_$j")
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"src${i % 2}",
      words(i, 0, 24).mkString(" "))).toDF("doc_id", "source", "text")
    def docs1(ids: Seq[Long]) = ids.map(i => (i, s"src${i % 2}",
      (words(i - 100, 0, 10) ++ words(i, 10, 24)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    graft.streaming.EventStream
      .corpusArrivalBatch(docs(0L until 40L), corpusStore, 0L, 0.0, 0.8, 8)
    graft.streaming.EventStream
      .nearDupArrivalBatch(docs(0L until 40L), nearDupStore, 0L, 0.9, 64, 16)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.streaming.EventStream
        .corpusArrivalBatch(docs1(100L until 140L), corpusStore, 1L, 0.0, 0.8, 8)
      graft.streaming.EventStream
        .nearDupArrivalBatch(docs1(100L until 140L), nearDupStore, 1L, 0.9, 64, 16)
      // the execution listener bus is async — wait until the capture
      // stabilizes (bounded)
      var last = -1
      var spins = 0
      while (captured.size != last && spins < 60) {
        last = captured.size; spins += 1; Thread.sleep(500)
      }
    } finally spark.listenerManager.unregister(listener)
    assert(!captured.isEmpty, "listener captured no executed plans")
    def isStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case f: FileSourceScanExec =>
          f.metadata.getOrElse("Location", "").contains("graft_plan_arrival")
        case _ => false
      }
    // true iff the subtree reaches a store scan with NO intervening
    // BroadcastHashJoin (i.e. an unbounded store stream)
    def unboundedStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case _: BroadcastHashJoinExec => false
        case f if isStoreScan(f) => true
        case a: AdaptiveSparkPlanExec => unboundedStoreScan(a.executedPlan)
        case q: QueryStageExec => unboundedStoreScan(q.plan)
        case i: InMemoryTableScanExec => unboundedStoreScan(i.relation.cachedPlan)
        case other => other.children.exists(unboundedStoreScan)
      }
    import scala.jdk.CollectionConverters._
    val offending = captured.asScala.toSeq.flatMap(p => deepNodes(p).collect {
      case e: ShuffleExchangeExec if e.children.exists(unboundedStoreScan) => e })
    assert(offending.isEmpty,
      s"standing-store scan shuffle-exchanged below the gate:\n${offending.headOption.getOrElse("")}")
    // and the tier actually engaged: at least one broadcast join
    // PROBES a streaming store scan
    val streamed = captured.asScala.exists(p => deepNodes(p).exists {
      case b: BroadcastHashJoinExec => deepNodes(b).exists(isStoreScan)
      case _ => false
    })
    assert(streamed, "no BroadcastHashJoin streams a store scan — gate never engaged")
    // the collision-bounded doc fetches are LITERAL point reads: the
    // touched/candidate id sets reach the store scan as pushed IN
    // filters (r17 fetcher tier 1 — batch 1's crafted 10-word shared
    // runs guarantee window collisions, so touched is non-empty)
    val literalFetch = captured.asScala.exists(p => deepNodes(p).exists {
      case f: FileSourceScanExec =>
        f.metadata.getOrElse("Location", "").contains("graft_plan_arrival") &&
          f.metadata.getOrElse("PushedFilters", "").contains("In(doc_id")
      case _ => false
    })
    assert(literalFetch,
      "no store scan carries a pushed In(doc_id, ...) filter — the literal fetch tier never engaged")
  }

  test("presentSorted results carry no range-partitioning sampling exchange") {
    // presentSorted exists to remove the range-partitioner sampling job
    // from domain-bounded presentation sorts; a stray orderBy creeping
    // back in would silently re-add a job per query. The aggregation
    // below the single-partition exchange must still be a real
    // (parallel) aggregate.
    // dedup_incremental_serve joins the list in r18: at the spec's test
    // scale the footer-estimated batch sits far below the presentation gate,
    // so the registered plan must take the single-partition form.
    for (name <- Seq("q1_agg", "q9_distinct", "q12_case_expr",
        "sketch_distinct", "corpus_stats", "dedup_incremental_serve")) {
      val s = finalPlanOnly(planString(SparkEntry.queries(name)(spark, dir)))
      assert(!s.toLowerCase.contains("rangepartitioning"),
        s"$name sorts via RangePartitioning — presentation sort regressed to orderBy")
      assert(s.contains("Aggregate"),
        s"$name lost its aggregate below the presentation sort")
      assert(s.contains("SinglePartition"),
        s"$name lost the single-partition presentation exchange")
    }
  }

  /** Every `.scala` file under `f`. */
  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles.toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** (path under src/main/scala/graft, source text) of every main file,
    * for the source audits. */
  private lazy val mainSources: Seq[(String, String)] =
    scalaFiles(new java.io.File("src/main/scala/graft")).map(f =>
      f.getPath.stripPrefix("src/main/scala/graft/") -> text(f))

  test("every persist goes through Caches") {
    // One persist path: a frame persisted anywhere else is freed by
    // neither Caches.release nor Caches.withScope, and frames built on
    // it re-analyze its whole lineage instead of one cache leaf.
    // The same holds for a lineage cut and for freeing one early: a
    // leaf's own `unpersist` frees nothing.
    for (needle <- Seq(".persist(", ".cache()", "localCheckpoint(", ".unpersist(")) {
      val sites = scalaFiles(new java.io.File("src/main")).filter(text(_).contains(needle))
        .map(_.getPath).sorted
      assert(sites.forall(_ == "src/main/scala/graft/Caches.scala"),
        s"$needle outside Caches in: ${sites.mkString(", ")}")
    }
  }

  test("every size probe goes through Tiers") {
    // One probe form: a gate that collects a bounded frame runs
    // Tiers.collectUpTo, so a test can force either side of it.
    val probe = "\\.limit\\([^()]*\\+\\s*1\\)\\s*\\.collect\\(\\)".r
    val sites = scalaFiles(new java.io.File("src/main")).map(_.getPath).filter(p =>
      p != "src/main/scala/graft/Tiers.scala" &&
        probe.findFirstIn(text(new java.io.File(p))).isDefined)
    assert(sites.isEmpty, s"a limit(n + 1).collect() probe outside Tiers: ${sites.mkString(", ")}")
  }

  test("no operator signature carries a gate parameter") {
    // A cost gate's bound is a constant in Tiers' table; tests force a
    // side with Tiers.forcing, not through an argument.
    val names = Seq("smallGraphMaxEdges", "smallMergeMaxEdges", "smallBatchGate", "keyGate",
      "tierRatio", "maxRows", "maxTextBytes", "idGate", "vocabMax", "denseFallback", "cacheTf")
    val param = names.mkString("\\b(", "|", ")\\s*:").r
    val sites = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      param.findAllMatchIn(text(f)).map(m => s"${f.getPath}: ${m.group(1)}")
    }
    assert(sites.isEmpty, s"gate parameters in signatures: ${sites.mkString(", ")}")
  }

  test("the arrival-store layout and stream shell are written only in ArrivalStore") {
    // One commit path for every streaming store: the batch-dir layout
    // (the `batch=$` interpolation and its parse) and the foreachBatch
    // shell live in ArrivalStore alone, and nothing else starts a
    // streaming query. No store keeps a commit protocol of its own: no
    // dynamic partition overwrite, no `.staging` sibling tree.
    def sites(needle: String): Set[String] =
      mainSources.collect { case (rel, src) if src.contains(needle) => rel }.toSet
    for (needle <- Seq("batch=$", "stripPrefix(\"batch=\")"))
      assert(sites(needle) == Set("streaming/ArrivalStore.scala"),
        s"arrival batch-dir layout hand-rolled outside ArrivalStore: $needle in ${sites(needle)}")
    assert(sites("writeStream") == Set("streaming/ArrivalStore.scala"),
      s"a streaming query shell outside ArrivalStore.run: ${sites("writeStream")}")
    for (needle <- Seq("partitionOverwriteMode", ".staging"))
      assert(sites(needle).isEmpty, s"a private store commit protocol: $needle in ${sites(needle)}")
  }

  test("the store rules are written only in Stores") {
    // One owner for the on-disk store rules: the derived-store location
    // (`java.io.tmpdir`), the commit marker (`"_SUCCESS"`) and the
    // AQE-aware clustered write (`hint("rebalance"`).
    for (needle <- Seq("java.io.tmpdir", "\"_SUCCESS\"", "hint(\"rebalance\"")) {
      val sites = mainSources.collect { case (rel, src) if src.contains(needle) => rel }.toSet
      assert(sites == Set("sources/Stores.scala"),
        s"store rule hand-rolled outside Stores: $needle in $sites")
    }
  }

  test("no strong map is keyed by a session") {
    // A map that holds a session strongly keeps it, and everything it
    // resolved, for the life of the JVM. Per-session state lives in the
    // session itself (Stores' resolved relations), or in a map weak on
    // the session (Sessions.withoutAqe).
    val strong = "\\[\\(SparkSession,|(?<!Weak)HashMap(\\.empty)?\\[SparkSession".r
    val sites = scalaFiles(new java.io.File("src/main"))
      .filter(f => strong.findFirstIn(text(f)).isDefined).map(_.getPath).sorted
    assert(sites.isEmpty, s"a map keyed by SparkSession in: ${sites.mkString(", ")}")
  }

  test("one session policy: only Sessions builds sessions and sets AQE") {
    // Every main builds Sessions.local; no harness holds a per-query AQE
    // list or toggle.
    def sites(needles: String*): Set[String] = mainSources.collect {
      case (rel, src) if needles.exists(src.contains) => rel
    }.toSet
    assert(sites("SparkSession.builder()") == Set("Sessions.scala"),
      s"a session built outside Sessions: ${sites("SparkSession.builder()")}")
    val aqeSets = sites("set(\"spark.sql.adaptive.enabled\"", "\"spark.sql.adaptive.enabled\" ->")
    assert(aqeSets == Set("Sessions.scala"), s"AQE set outside Sessions: $aqeSets")
    assert(sites("aqeOff").isEmpty, s"a per-query AQE list: ${sites("aqeOff")}")
    // Operators pick another regime through a derived session
    // (Sessions.withoutAqe), never by writing the caller's conf.
    assert(sites("newSession(") == Set("Sessions.scala"),
      s"a session derived outside Sessions: ${sites("newSession(")}")
    val confWrites = mainSources.collect {
      case (rel, src) if (rel.startsWith("operators/") || rel.startsWith("streaming/")) &&
        Seq("conf.set(", "setConf(").exists(src.contains) => rel
    }
    assert(confWrites.isEmpty, s"an operator writes its session's conf: $confWrites")
    // ...and the library reads no conf key of its own: a `spark.graft.*`
    // switch would be a second policy beside the session's.
    assert(sites("\"spark.graft.").isEmpty, s"a library conf key: ${sites("\"spark.graft.")}")
  }
}
