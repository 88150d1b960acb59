package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters taken at one instant; subtract two to get one operation's. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long, inputRecords: Long,
                        filesScanned: Long, rowsScanned: Long,
                        codegenCompiles: Long, codegenNs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputRecords - o.inputRecords, filesScanned - o.filesScanned,
    rowsScanned - o.rowsScanned, codegenCompiles - o.codegenCompiles,
    codegenNs - o.codegenNs)
}

/** Job/stage/task counts from a SparkListener, scan metrics of every
  * executed plan from a QueryExecutionListener, and codegen compiles:
  * their count from Spark's CodegenMetrics and their summed time from
  * CodeGenerator.compileTime (an exact sum; the CodegenMetrics time
  * histogram is a decaying sample). Registered only in traced runs. */
final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, shufW, spill, inRec, files, rows =
    new AtomicLong
  private val peakExec = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inRec.addAndGet(m.inputMetrics.recordsRead)
        peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val scans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case s: DataSourceScanExec =>
            s.metrics.get("numFiles").foreach(m => files.addAndGet(m.value))
            s.metrics.get("numOutputRows").foreach(m => rows.addAndGet(m.value))
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(scans)

  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Counts after every event posted so far has been delivered. */
  def snapshot(): Counts = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, runMs.get, shufW.get, spill.get, inRec.get,
      files.get, rows.get, codegen.getCount, CodeGenerator.compileTime)
  }

  /** Largest per-task peak execution memory since the last call, in bytes. */
  def takePeakExecution(): Long = peakExec.getAndSet(0L)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(scans)
  }
}

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
  def module: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the traced run: spans nest on the
  * calling thread; every span belongs to the operation open around it. */
object Trace {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, name, t0, t1, parent, currentOp) }
      }
    }

  /** Runs `body` as operation `op`: its spans carry that id. */
  def op[A](op: Int, name: String)(body: => A): A = {
    currentOp = op
    try span(name)(body) finally currentOp = -1
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of each span: its duration minus what its children cover. */
  def selfSeconds(ss: Seq[Span]): Map[Int, Double] = {
    val child = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  def toJson(ss: Seq[Span]): String = ss.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[", ",\n", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample (0 when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
