package graft.perfbench

import java.nio.file.Path

import graft.etl.{Consolidate, EtlQueries, Marketing, MetricsQueries}
import graft.sources.MetricsStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A dashboard request against the date-partitioned metrics store. */
sealed trait Request { def kind: String }
final case class ChannelReq(channel: String, from: String, to: String,
                            limit: Int, offset: Int) extends Request { def kind = "channel" }
final case class FunnelReq(campaign: String, from: String, to: String) extends Request {
  def kind = "funnel"
}
final case class SinceReq(since: String) extends Request { def kind = "since" }
final case class ExportReq(date: String) extends Request { def kind = "export" }
final case class MatchesReq(campaign: String) extends Request { def kind = "matches" }

/** `marketing_serve`: ingest the two feeds into the metrics store, then
  * one closed-loop client sends seeded dashboard requests, each after
  * the previous one returned, for `--seconds` rounded up to whole cycles
  * of the request mix. */
object Serve {
  /** Feeds → Consolidate → MetricsStore.write, the reference's ingest. */
  def ingest(spark: SparkSession, dir: String, store: Path): Unit = {
    val m = Trace.span("etl.consolidate") {
      Consolidate.withDerived(Consolidate.metrics(
        Marketing.adsFeed(spark, dir), Marketing.crmFeed(spark, dir)))
    }
    Trace.span("sources.write")(MetricsStore.write(m, store.toString))
  }

  /** The consolidated metrics columns in their canonical order. */
  val MetricCols: Seq[String] = Consolidate.keyCols ++ Seq("clicks", "impressions", "cost",
    "leads", "opportunities", "closed_won", "revenue", "cpc", "cpa",
    "cvr_lead_to_opp", "cvr_opp_to_won", "roas")
}

final class Serve(ctx: Ctx) extends Workload(ctx) {
  import Serve._

  def name = "marketing_serve"

  private def eventsDir = ctx.input
  private def tinyDir = ctx.warmupInput

  /** The store pruned to [from, to] in DATE space before the string
    * cast, as the library's store-backed channel query serves it. */
  private def storeRange(stored: DataFrame, from: String, to: Option[String]): DataFrame = {
    val lo = col("date") >= lit(from).cast("date")
    val cond = to.fold(lo)(t => lo && col("date") <= lit(t).cast("date"))
    stored.filter(cond).withColumn("date", col("date").cast("string"))
      .select(MetricCols.map(col): _*)
  }

  /** The request's query over `metrics(from, to)`, the consolidated
    * metrics of a date window; /debug/matches reads the two feeds. */
  private def plan(spark: SparkSession, r: Request, dir: String,
                   metrics: (String, Option[String]) => DataFrame): DataFrame = r match {
    case ChannelReq(ch, f, t, l, o) =>
      MetricsQueries.channelQuery(metrics(f, Some(t)), ch, f, t, l, o)
    case FunnelReq(c, f, t) => MetricsQueries.funnelQuery(metrics(f, Some(t)), c, f, t)
    case SinceReq(s) => MetricsQueries.filterSince(metrics(s, None), s)
    case ExportReq(d) =>
      EtlQueries.signExportRows(MetricsQueries.exportDaily(metrics(d, Some(d)), d))
    case MatchesReq(c) =>
      MetricsQueries.matches(Marketing.adsFeed(spark, dir), Marketing.crmFeed(spark, dir), c)
  }

  /** Serves one request the way a dashboard backend would: list the
    * store, plan, execute, collect. */
  private def serve(spark: SparkSession, r: Request, dir: String, store: Path): Array[Row] = {
    val stored = r match {
      case _: MatchesReq => None
      case _ => Some(Trace.span("sources.read")(MetricsStore.read(spark, store.toString)))
    }
    val df = Trace.span("etl.plan") {
      val d = plan(spark, r, dir, (from, to) => storeRange(stored.get, from, to))
      d.queryExecution.executedPlan
      d
    }
    Trace.span("etl.exec")(df.collect())
  }

  /** The request schedule. The reference records no traffic mix, so
    * every cycle of five requests calls each endpoint once, in a seeded
    * order. Channel, campaign and dates are seeded uniform draws; the
    * window length (21 days) and the page (limit 30, offset 10) are those
    * of the library's registered calls (`EtlQueries.channelQuery`,
    * `funnelQuery`), since the reference handlers define no defaults. */
  private def schedule(): Iterator[Request] = {
    val rng = new scala.util.Random(ctx.seed)
    def day(d: Int) = f"2024-01-$d%02d"
    def window(): (String, String) = {
      val from = 1 + rng.nextInt(Days - WindowDays + 1)
      (day(from), day(from + WindowDays - 1))
    }
    val channels = Seq("google_ads", "facebook_ads", "tiktok_ads", "linkedin_ads",
      "newsletter_cpc", "newsletter_social")
    def camp() = s"camp_${rng.nextInt(20)}"
    def draw(kind: String): Request = kind match {
      case "channel" =>
        val (f, t) = window()
        ChannelReq(channels(rng.nextInt(channels.size)), f, t, 30, 10)
      case "funnel" => val (f, t) = window(); FunnelReq(camp(), f, t)
      case "export" => ExportReq(day(1 + rng.nextInt(Days)))
      case "since" => SinceReq(day(1 + rng.nextInt(Days)))
      case "matches" => MatchesReq(camp())
    }
    Iterator.continually(rng.shuffle(Endpoints)).flatten.map(draw)
  }

  private val Endpoints = Seq("channel", "funnel", "since", "export", "matches")
  private val Days = 30 // the generated events span 2024-01-01 .. 2024-01-30
  private val WindowDays = 21

  /** Request cycles the warm-up serves from the tiny store: one leaves
    * the timed requests still getting faster as the JIT compiles the
    * planner, so the loop would measure warming. */
  private val WarmupCycles = 2

  def warmup(spark: SparkSession): Unit = {
    val store = ctx.work.resolve("warmup_store")
    ingest(spark, tinyDir.toString, store)
    schedule().take(Endpoints.size * WarmupCycles)
      .foreach(r => serve(spark, r, tinyDir.toString, store))
    graft.Caches.release()
  }

  def run(spark: SparkSession, probe: Option[Probe]): RunResult = {
    val dir = eventsDir.toString
    val store = ctx.work.resolve("metrics_store")
    val (_, ingested) =
      measure(spark, probe, Int.MaxValue, "ingest", ctx.traced)(ingest(spark, dir, store))
    val served = scala.collection.mutable.LinkedHashMap.empty[Request, Seq[String]]
    val reqs = schedule()
    val t0 = System.nanoTime()
    var i = 0
    // whole cycles only, so every run has the same request mix
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || i % Endpoints.size != 0) {
      val r = reqs.next()
      val (rows, _) = measure(spark, probe, i, "request", tracedOp(i, Endpoints.size)) {
        serve(spark, r, dir, store)
      }
      rows.foreach(rs => if (!served.contains(r)) served(r) = canon(r, rs))
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    check(spark, dir, served)
    val checkS = (System.nanoTime() - c0) / 1e9

    val req = ops.filter(o => o.kind == "request" && o.ok).map(_.seconds).toSeq
    val n = ops.count(_.kind == "request")
    val endToEnd = Map(
      "latency_p50_s" -> Stats.median(req),
      "requests_per_s" -> n / wall)
    val detail = Map(
      "latency_p90_s" -> Stats.quantile(req, 0.9),
      "requests" -> n.toDouble,
      "samples_above_p90" -> req.count(_ > Stats.quantile(req, 0.9)).toDouble,
      "ingest_s" -> ingested.seconds,
      "check_s" -> checkS)
    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        def perReq(f: Counts => Double) = meanCount("request")(f)
        val traced = ops.filter(o => o.kind == "request" && o.ok && o.counts.isDefined)
        val returned = traced.map(_.rowsReturned).sum.toDouble
        val scanned = traced.map(_.counts.get.rowsScanned).sum.toDouble
        traceMetrics("request") ++ Map(
          "etl.plan_s" -> spanSeconds("etl.plan", "request"),
          "etl.exec_s" -> spanSeconds("etl.exec", "request"),
          "sources.read_s" -> spanSeconds("sources.read", "request"),
          "etl.jobs_per_request" -> perReq(_.jobs.toDouble),
          "etl.stages_per_request" -> perReq(_.stages.toDouble),
          "etl.tasks_per_request" -> perReq(_.tasks.toDouble),
          "sources.files_scanned_per_request" -> perReq(_.filesScanned.toDouble),
          "sources.rows_scanned_per_row_returned" ->
            (if (returned > 0) scanned / returned else 0.0),
          "functions.codegen_compiles_per_request" -> perReq(_.codegenCompiles.toDouble),
          "functions.codegen_compile_s" -> perReq(_.codegenNs / 1e9),
          "sources.write_s" -> spanSeconds("sources.write", "ingest"),
          "Caches.release_s" -> spanSeconds("Caches.release", "request"))
      }
    result(endToEnd, detail, perLayer)
  }

  /** Canonical row strings: ordered for the paged channel query (its
    * order is part of the contract), sorted for the others. */
  private def canon(r: Request, rows: Array[Row]): Seq[String] = {
    val s = rows.toSeq.map(_.toSeq.mkString("|"))
    r match {
      case _: ChannelReq => s
      case _ => s.sorted
    }
  }

  /** Every distinct request served from the store must equal the same
    * query over the feed path (`MetricsQueries.metrics` over the raw
    * events, consolidated once for the check); /debug/matches
    * (feed-only) must equal a per-campaign grouped aggregate of the two
    * feeds. */
  private def check(spark: SparkSession, dir: String,
                    served: collection.Map[Request, Seq[String]]): Unit = {
    val feed = MetricsQueries.metrics(spark, dir).select(MetricCols.map(col): _*).cache()
    try {
      val matches = Checks.matchesByGroup(spark, dir)
      served.foreach { case (r, got) =>
        val want = r match {
          case MatchesReq(c) => canon(r, matches(c))
          case _ => canon(r, plan(spark, r, dir, (_, _) => feed).collect())
        }
        Checks.sameRows(s"$name $r", got, want).foreach(failures += _)
      }
    } finally feed.unpersist(blocking = true)
    graft.Caches.release()
  }
}
