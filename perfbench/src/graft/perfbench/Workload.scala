package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run needs to know: the seed, how long to measure, whether
  * this is the traced run, and where the seeded inputs (generated by
  * perfbench/inputs.py) and the run's scratch state live. */
final case class Ctx(seed: Long, seconds: Double, traced: Boolean, cores: Int,
                     input: Path, warmupInput: Path, work: Path)

/** One timed operation: a request, a pipeline run or an arrival batch. */
final case class OpRecord(kind: String, seconds: Double, ok: Boolean, traced: Boolean,
                          counts: Option[Counts], peakExecBytes: Long = 0L,
                          rowsReturned: Long = 0L)

final case class RunResult(ops: Seq[OpRecord], checkFailures: Seq[String],
                           endToEnd: Map[String, Double], detail: Map[String, Double],
                           perLayer: Map[String, Double])

/** A workload: a warm-up over tiny inputs, then a timed run. */
abstract class Workload(val ctx: Ctx) {
  def name: String

  /** Exercises every code path of [[run]] on tiny inputs. */
  def warmup(spark: SparkSession): Unit

  def run(spark: SparkSession, probe: Option[Probe]): RunResult

  /** The per-layer metrics a traced run reports. */
  def perLayerNames: Seq[(String, String)] = Main.PerLayer

  protected val ops = mutable.ArrayBuffer.empty[OpRecord]
  protected val failures = mutable.ArrayBuffer.empty[String]

  /** In the traced run, alternate groups of `group` operations between
    * traced and untraced, so the run measures its own overhead. */
  protected def tracedOp(i: Int, group: Int = 1): Boolean =
    ctx.traced && (i / group) % 2 == 0

  /** Times `body` as operation `i`. Exceptions count as a failed
    * operation; afterwards every registered cache is released and any
    * RDD still persisted fails the operation (the Caches contract). */
  protected def measure[A](spark: SparkSession, probe: Option[Probe], i: Int, kind: String,
                           traced: Boolean)(body: => A): (Option[A], OpRecord) = {
    val p = probe.filter(_ => traced)
    val before = p.map(_.snapshot())
    p.foreach(_.takePeakExecution())
    Trace.enabled = traced
    val t0 = System.nanoTime()
    val out =
      try Some(Trace.op(i, s"op.$kind") {
        val r = body
        Trace.span("Caches.release")(graft.Caches.release())
        r
      })
      catch {
        case NonFatal(e) =>
          failures += s"$kind #$i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    val secs = (System.nanoTime() - t0) / 1e9
    Trace.enabled = ctx.traced
    val persisted = spark.sparkContext.getPersistentRDDs
    if (persisted.nonEmpty) {
      failures += s"$kind #$i left ${persisted.size} RDDs persisted"
      persisted.values.foreach(_.unpersist(blocking = true))
    }
    val counts = for (b <- before; a <- p.map(_.snapshot())) yield a - b
    val rows = out.collect { case a: Array[_] => a.length.toLong }.getOrElse(0L)
    val rec = OpRecord(kind, secs, out.isDefined && persisted.isEmpty, traced, counts,
      p.map(_.takePeakExecution()).getOrElse(0L), rows)
    ops += rec
    (out, rec)
  }

  protected def result(endToEnd: Map[String, Double], detail: Map[String, Double],
                       perLayer: Map[String, Double]): RunResult =
    RunResult(ops.toList, failures.toList, endToEnd, detail, perLayer)

  /** Trace-derived per-layer metrics every workload reports: the tracing
    * overhead (traced vs untraced op medians) and the share of each
    * traced operation its module spans' self times account for. */
  protected def traceMetrics(kind: String): Map[String, Double] = {
    val traced = ops.filter(o => o.kind == kind && o.traced && o.ok).map(_.seconds)
    val plain = ops.filter(o => o.kind == kind && !o.traced && o.ok).map(_.seconds)
    val spans = Trace.all
    val self = Trace.selfSeconds(spans)
    val shares = spans.filter(s => s.name == s"op.$kind" && s.op >= 0).map { root =>
      val inOp = spans.filter(s => s.op == root.op && s.id != root.id)
      inOp.map(s => self(s.id)).sum / root.seconds
    }
    Map(
      "trace.overhead_share" ->
        (if (traced.isEmpty || plain.isEmpty) 0.0
         else Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1.0),
      "trace.span_self_share" -> Stats.median(shares))
  }

  /** Median, over the traced operations of `kind`, of the summed self
    * seconds of the spans named `name`. */
  protected def spanSeconds(name: String, kind: String): Double = {
    val spans = Trace.all
    val self = Trace.selfSeconds(spans)
    val opsOfKind = spans.filter(_.name == s"op.$kind").map(_.op).toSet
    val perOp = spans.filter(s => s.name == name && opsOfKind(s.op))
      .groupBy(_.op).values.map(_.map(s => self(s.id)).sum).toSeq
    Stats.median(perOp)
  }

  protected def meanCount(kind: String)(f: Counts => Double): Double =
    Stats.mean(ops.filter(o => o.kind == kind && o.ok).flatMap(_.counts).map(f).toSeq)
}
