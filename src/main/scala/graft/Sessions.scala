package graft

import org.apache.spark.sql.SparkSession

/** Session factory used by tests and mains.
  *
  * Settings chosen for the driver's local[N] harness but shaped for a
  * real cluster: AQE (runtime coalesce + skew-join splitting), UTC
  * session time zone (oracle parity), shuffle partitions sized to the
  * active core count rather than the 200 default. Every session is built
  * from the one list in [[settings]]; `local` and `driver` differ only in
  * whether AQE is on.
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    build(cores, aqe = true)

  /** Session for the driver mains (Bench/Verify), with adaptive execution
    * itself applied adaptively — see [[driverAqe]]. */
  def driver(cpus: Int, sfDir: String): SparkSession = build(cpus, driverAqe(sfDir))

  /** The driver session's AQE switch. AQE's runtime re-planning buys skew
    * splitting and partition coalescing that only matter once shuffles
    * are big enough to skew or spill, while its per-stage materialization
    * barrier costs a fixed ~0.3-0.5 s on every multi-stage query — ~20%
    * of a whole sf0.1 sweep, nothing at sf10 (where it saved 2x on the
    * ngram join, r4 BASELINE). So: AQE on when the directory's scan
    * volume crosses 1 GiB, off below, exactly the cost-based switch a
    * production deployment makes for its interactive tier.
    */
  def driverAqe(sfDir: String): Boolean = inputBytes(sfDir) >= (1L << 30)

  /** Bytes of parquet on disk under an sf directory — the scan volume a
    * sweep over that directory will read. */
  def inputBytes(sfDir: String): Long = {
    val root = java.nio.file.Paths.get(sfDir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .mapToLong(java.nio.file.Files.size).sum()
      finally s.close()
    }
  }

  /** Every setting a graft session is built with. */
  private[graft] def settings(cores: Int, aqe: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Start wide, let AQE coalesce down: a fixed partition count equal
    // to the core count makes every big shuffle a handful of giant
    // sort-and-spill tasks once the data outgrows it (the sf10 sweep
    // measured dedup_ngram_jaccard at 271 s with 8 fixed partitions,
    // 134 s with AQE coalescing from 64). Small queries still coalesce
    // to one or two partitions, so the constant stays amortized.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      math.max(cores * 4, 32).toString,
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Surface the driver's plain timestamp[us] (isAdjustedToUTC=false)
    // parquet columns as session-zoned TIMESTAMP at the scan itself
    // instead of TIMESTAMP_NTZ + cast-after-scan: with the session zone
    // pinned to UTC the values are bit-identical (raw micros = epoch
    // micros), and ts-range predicates now sit on a bare attribute, so
    // they reach parquet row-group stats (PlanSpec pins this). The
    // Tables.normalizeNtz cast remains as a fallback for sessions built
    // without this conf.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // The default 100 entries evicts under a long sweep (~600 generated
    // classes over 59 queries); identical stage code then recompiles
    // instead of hitting the cache.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // ObjectHashAggregate falls back to SORT-BASED aggregation past
    // this many distinct keys per partition (default 128 — sized for
    // unbounded collect_list buffers). The engine's object aggregates
    // (top_k_pairs / VecSumF32) carry BOUNDED buffers — a k-element
    // heap / one fixed-dim vector — so the hash path's memory is
    // #groups·k — 4M groups × 5
    // elements ≈ tens of MB/task — while the fallback re-introduces
    // exactly the full-candidate-stream sort the aggregate exists to
    // avoid (measured r11: the kNN self-join's 5·10^9-row candidate
    // stream spilled >60 GB under the fallback at 200k vectors; the
    // hash path holds 200k·k rows). 4M keeps the safety valve for a
    // genuinely enormous per-partition group count while covering two
    // more corpus decades at the default partitioning.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    // Push real IN-sets to parquet instead of collapsing them to a
    // [min,max] range above 10 values (the default): the arrival
    // loops' collision-bounded store fetches are literal id sets of
    // up to 256 values (parquet evaluates pushed IN as a recursive
    // OR-chain — deeper literal sets overflow the task stack, so the
    // fetcher gate and this threshold are capped together), and a doc_id-clustered compacted log only
    // row-group-prunes when the actual set reaches the reader
    // (r17, verdict item 2).
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "256",
    "spark.ui.enabled" -> "false")

  private def build(cores: Int, aqe: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
    settings(cores, aqe).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
