package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}

import scala.jdk.CollectionConverters._

/** The one mechanism behind every cost gate. A gated site names its
  * gate and passes its own rule; the rule's answer picks the side, and
  * each decision writes one log line. Small is the side a small input
  * takes: the driver tier, the broadcast, the dense scan, the window,
  * the one-partition sort, the count plan. Both sides return the same
  * rows: a test forces a side ([[forcing]]), and a forced decision
  * evaluates no rule, so it reads no footer and runs no probe job.
  */
private[graft] object Tiers {
  sealed trait Side
  case object Small extends Side
  case object Large extends Side

  // The gates: the site, what its rule compares, and the bound(s).
  val Q3Broadcast = "q3_broadcast_reduced" // Relational.q3JoinAgg: footer orders rows
  val Q3MaxOrders = 30000000L
  val CcUnionFind = "cc_driver_union_find" // Clusters.connectedComponents: counted edges
  val CcMaxEdges = 1L << 17
  val MergeDriver = "merge_driver" // Clusters.mergeParts: pair probe
  val MergeStar = "merge_star_driver" // mergeParts past the pair probe: star probe
  val MergeMaxEdges = 1 << 17
  val LosersDriver = "losers_driver" // Clusters.clusterLosers: pair probe
  val LosersMaxPairs = 1 << 17
  val ServeBatch = "serve_batch_broadcast" // Clusters.serveBatchPairs: footer batch docs, bytes
  val ServeBatchMaxDocs = 1L << 17
  val ServeBatchMaxBytes = 64L << 20
  val PresentationSort = "presentation_sort" // Dedup's incremental pair: footer batch rows
  val PresentationMaxRows = 1L << 22
  val KeywordsVocab = "keywords_vocab_broadcast" // TextAnalysis.keywords: counted dictionary
  val ContaminationDf = "contamination_df_broadcast" // Curation.contaminationFrom: the same
  val BroadcastVocabMax = 1000000L // 1M words × ~40 B ≈ 40 MB per executor
  // contaminationFrom's "auto" pushdown and its test-array fetch: corpus docs
  val ContaminationSet = "contamination_set_pushdown"
  val ContaminationBloom = "contamination_bloom_pushdown"
  val ContaminationTestArrays = "contamination_test_broadcast"
  val ContaminationSetMaxDocs = 2000000L
  val ContaminationBloomMaxDocs = 40000000L
  val ContaminationCount = "contamination_count_plan" // contaminationFrom: minContain
  val CountPlanMaxContain = 0.2
  val LshDense = "lsh_dense_fallback" // Similarity.annLsh: queries vs tables, candidates vs n
  val ArrivalBatch = "arrival_batch_broadcast" // ArrivalStore.smallBatch: rows, text bytes
  val ArrivalBatchMaxRows = 1L << 20 // and ArrivalStore.defaultMaxTextBytes
  val LatestWindow = "latest_wins_window" // ArrivalStore.latestBatchRows: base vs delta bytes
  val LatestTierRatio = 4L
  val LatestKeys = "latest_wins_key_broadcast" // latestBatchRows' tier: key probe
  val LatestMaxKeys = 1 << 17
  val LiteralIn = "literal_in_fetch" // ArrivalStore.fetcher: id probe
  val LiteralInMaxIds = 256

  val gates: Seq[String] = Seq(Q3Broadcast, CcUnionFind, MergeDriver, MergeStar,
    LosersDriver, ServeBatch, PresentationSort, KeywordsVocab, ContaminationDf, ContaminationSet,
    ContaminationBloom, ContaminationTestArrays, ContaminationCount, LshDense,
    ArrivalBatch, LatestWindow, LatestKeys, LiteralIn)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private final class Scope(val forced: Map[String, Side]) {
    val consulted: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  }

  // Innermost first. JVM-wide, so a decision on a streaming query's
  // batch thread sees it.
  @volatile private var scopes: List[Scope] = Nil

  /** Whether `gate` takes its small side: the side forced by the
    * innermost [[forcing]] scope that names it, else `rule`. */
  def small(gate: String)(rule: => Boolean): Boolean = {
    require(gates.contains(gate), s"unknown gate $gate")
    val open = scopes
    open.foreach(_.consulted.add(gate))
    val forced = open.iterator.flatMap(_.forced.get(gate)).nextOption()
    val isSmall = forced.fold(rule)(_ == Small)
    log.info(s"tier $gate -> ${if (isSmall) "small" else "large"}" +
      (if (forced.isDefined) " (forced)" else ""))
    isSmall
  }

  /** `df`'s rows when there are at most `bound` of them (one
    * `limit(bound + 1)` probe), else None: the small side of `gate`.
    * Forced small, every row is collected; forced large, no job runs. */
  def collectUpTo(gate: String, df: DataFrame, bound: Int): Option[Array[Row]] = {
    var probe: Array[Row] = null
    if (small(gate) { probe = df.limit(bound + 1).collect(); probe.length <= bound })
      Some(if (probe != null) probe else df.collect())
    else None
  }

  /** Run `body` with each named gate forced to its side; returns the
    * result and the gates consulted meanwhile. Scopes nest. The forcing
    * is visible JVM-wide, so test suites that use it run one at a time. */
  def forcing[T](sides: (String, Side)*)(body: => T): (T, Set[String]) = {
    val unknown = sides.map(_._1).filterNot(gates.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val s = new Scope(sides.toMap)
    val outer = scopes
    scopes = s :: outer
    try {
      val result = body
      (result, s.consulted.asScala.toSet)
    } finally scopes = outer
  }
}
