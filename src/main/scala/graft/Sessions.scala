package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, test and library caller builds
  * its session with [[local]].
  *
  * Settings chosen for a local[N] run but shaped for a real cluster: AQE
  * (runtime coalesce + skew-join splitting), UTC session time zone
  * (oracle parity), shuffle partitions sized to the active core count
  * rather than the 200 default. Every session is built from the one list
  * in [[settings]], and no harness switches AQE per query. An operator
  * that needs another regime picks it itself, in a derived session
  * ([[withoutAqe]]): the corpus pipeline and the CC star rounds
  * (`Clusters.connectedComponents`) plan there without AQE.
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
    settings(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The mains' core count: `SPARK_GRAFT_CPUS`, else every core of the
    * host. */
  def cores(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** Derived AQE-off sessions: per caller, the conf last copied and the
    * session. Weak on the caller, which the derived session does not
    * reference; a collected caller's entry goes at the next access. */
  private val derivedWithoutAqe =
    new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]

  /** The session the corpus pipeline plans in: the caller's own when it
    * already runs without AQE, else one session derived from it, with
    * the caller's modifiable SQL conf and AQE off. A changed caller conf
    * is copied into that same session on the next call (keys the caller
    * unset are unset), so a frame built in it plans under the caller's
    * current conf, as the caller's own frames do. The caller's conf is
    * never written.
    *
    * Measured with `Pipeline.corpusFull` on 4 cores, one JVM, AQE off
    * vs on interleaved: AQE off was faster at every size tried, 25k
    * perfbench documents (3.0 MB) 4.7 vs 6.2 s warm, ScaleData sf1
    * (5.8 MB) 4.6 vs 6.1 s, 100k documents (11.9 MB) 36.6 vs 37.6 s,
    * 250k (29.6 MB) 189 vs 207 s and sf10 (56.9 MB) 48.7 vs 56.8 s (one
    * run each at the last two). AQE's one job per stage, its per-stage
    * re-plans and its 32-way map output cost more than its coalescing
    * saves on this plan, so no input size picks AQE.
    */
  def withoutAqe(spark: SparkSession): SparkSession =
    if (!spark.sessionState.conf.adaptiveExecutionEnabled) spark
    else {
      val conf = spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
        spark.conf.isModifiable(k)
      }
      derivedWithoutAqe.synchronized {
        val (copied, derived) = Option(derivedWithoutAqe.get(spark))
          .getOrElse((Map.empty[String, String], spark.newSession()))
        if (copied.isEmpty || copied != conf) {
          (copied.keySet -- conf.keySet).foreach(derived.conf.unset)
          conf.foreach { case (k, v) => derived.conf.set(k, v) }
          derived.conf.set("spark.sql.adaptive.enabled", "false")
          derivedWithoutAqe.put(spark, conf -> derived)
        }
        derived
      }
    }

  /** Every setting a graft session is built with. */
  private[graft] def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Start wide, let AQE coalesce down: a fixed partition count equal
    // to the core count makes every big shuffle a handful of giant
    // sort-and-spill tasks once the data outgrows it (the sf10 sweep
    // measured dedup_ngram_jaccard at 271 s with 8 fixed partitions,
    // 134 s with AQE coalescing from 64). Small queries coalesce to one
    // or two partitions, persisted frames included (next entry), so the
    // constant stays amortized.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      math.max(cores * 4, 32).toString,
    // Without this Spark plans every persisted frame with AQE's
    // final-stage coalescing off, so each Caches.scoped frame is stored
    // at initialPartitionNum partitions and every stage that reads it
    // runs that many tiny tasks. With it, Pipeline.corpusFull over 25k
    // documents on 4 cores runs 145 tasks instead of 528 (41 → 43
    // stages), with the same output.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
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
}
