package graft.operators

import graft.Tiers
import graft.functions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator pack (SURVEY §2.1).
  *
  * Each query is a declarative DataFrame plan — Catalyst handles pushdown,
  * pruning and join strategy; AQE handles runtime partition coalescing and
  * skew. Results are deterministically ordered and decimal-exact (see
  * graft.functions) so the driver's DuckDB hash-compare is stable.
  *
  * Scale notes per operator are inline; the common rules: aggregations are
  * partial (map-side combine) so shuffles carry O(groups) not O(rows);
  * dimension tables broadcast; window functions shuffle once on their
  * partition key.
  */
object Relational {

  /** q1_agg — scan→filter→groupBy→multi-agg on the fact table. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .transform(presentSorted(_, col("l_returnflag"), col("l_linestatus")))

  /** q2_filter_project — predicate + projection pushdown: the parquet scan
    * must read only 5 of 11 columns and skip row groups via min/max stats.
    */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") > 0.05 && col("l_quantity") >= 45.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** q3_join_agg — TPC-H Q3 shape: filtered fact⨝fact⨝dim, agg, top-10.
    * customer (small side) broadcasts under AQE; orders⨝lineitem shuffles
    * on orderkey. Revenue is decimal-exact so the top-10 cut is stable.
    *
    * Two cost-gated shapes (r8, same results bit-for-bit — the
    * order-independent fixed-point sum sees the same line set per order
    * in every shape; the oracle hash pins it):
    *  - orders ≤ 30M rows: broadcast the BUILDING⨝date-reduced
    *    (o_orderkey, o_orderdate) pairs so lineitem is never exchanged;
    *    aggregate the ~20% surviving rows on a long key.
    *  - above: pre-aggregate lineitem per order below a shuffle-hash
    *    join (the classic Q3 rewrite Catalyst won't derive) — at that
    *    tier the reduced orders no longer broadcast, and the orderkey
    *    exchange must carry one row per ORDER, not per line item.
    * PlanSpec pins both shapes (no lineitem exchange below the gate;
    * partial-agg-below-join above it).
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame =
    if (Tiers.small(Tiers.Q3Broadcast)(
        Tables.parquetRowCount(spark, dir, "orders") <= Tiers.Q3MaxOrders))
      q3BroadcastReduced(spark, dir)
    else q3AggBelowJoin(spark, dir)

  private def q3Filtered(spark: SparkSession, dir: String): (DataFrame, DataFrame) = (
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING"),
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))

  /** Broadcast-reduced plan (single-node / moderate cluster): the
    * BUILDING⨝date reduction shrinks orders ~5× BEFORE anything touches
    * lineitem, and the reduced (o_orderkey, o_orderdate) pairs
    * broadcast — so the 60M-row lineitem stream is never exchanged at
    * all: scan → broadcast-probe (drops 80% of rows) → aggregate ~3M
    * surviving keys on a LONG group key, with the date string formatted
    * only for the final 10 rows. Same-session sf10 A/B: 2.37 s vs
    * 3.68 s for the shuffle plan and 4.33 s for r7's post-join
    * aggregation (DuckDB 1.20 s).
    */
  private def q3BroadcastReduced(spark: SparkSession, dir: String): DataFrame = {
    val (cust, ord) = q3Filtered(spark, dir)
    val ordCust = ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    Tables.lineitem(spark, dir)
      .join(broadcast(ordCust), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        min(col("o_orderdate")).as("od")) // o_orderkey unique → min = the date
      .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
      .select(col("l_orderkey"), dstr(col("od")).as("orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
  }

  /** Cluster-scale plan: Bloom-prune lineitem to the QUALIFYING orders
    * first, then pre-aggregate one row per order BELOW the join (the
    * classic Q3 rewrite Catalyst won't derive). The qualifying set —
    * BUILDING-segment orders in the date window, ~18% of orders — is
    * too big to broadcast at this tier by definition of the gate, but
    * its BLOOM FILTER is 1.5 B/key (the same [[graft.functions
    * .BloomFilters]] tier as corpus_contamination's vocabulary
    * pushdown): a map-side bit test drops ~80% of the lineitem stream
    * BEFORE the aggregate, so partial aggregation actually reduces
    * (aggregating all orders first put ~one distinct key per input row
    * into each map task's hash — no reduction, the full stream hit the
    * exchange; the r12 sf100 point measured that form at 15.8 s where
    * this plan runs ~3 s on 180M lineitems × 45M orders). False
    * positives only admit lineitem groups the exact shuffle-hash join
    * drops. The qualifying frame is scope-cached: it feeds the build
    * and the final join.
    *
    * Filter sizing stays COUNTED (r13, measured): the count()-then-build
    * pair costs ~1.8-2.1 s of the sf100li cell (two jobs over qualifying
    * orders before any lineitem work), so r13 A/B'd a one-job build
    * sized from the free parquet-footer orders count ÷ 4 — and it was
    * SLOWER (7.1/7.8 vs 5.9/6.4 s fresh-JVM cells, same session): the
    * 40%-bigger filter's per-task agg buffers, shuffle bytes, and probe
    * working set cost more than the count job saves. Both stages and
    * the stage ladder are recorded in BASELINE.md ("q3 cluster-tier
    * stage ladder").
    */
  private def q3AggBelowJoin(spark: SparkSession, dir: String): DataFrame = {
    val (cust, ord) = q3Filtered(spark, dir)
    val qual = graft.Caches.scoped(
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate")))
    val nQual = qual.count()
    val bloom = graft.functions.BloomFilters.build(
      qual, col("o_orderkey"), math.max(nQual, 1L))
    val liAgg = Tables.lineitem(spark, dir)
      .filter(graft.functions.BloomFilters.bloom_contains(col("l_orderkey"), bloom))
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    liAgg.join(qual.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), dstr(col("o_orderdate")).as("orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q4_broadcast_join — star join over two broadcast dims. */
  def q4BroadcastJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_acctbal"))
      .transform(presentSorted(_, col("r_name")))

  /** q5_semi_join — EXISTS: orders having a heavy lineitem. Left-semi keeps
    * the build side to keys only — no row duplication, no payload shuffle.
    */
  def q5SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val heavy = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .transform(presentSorted(_, col("o_orderpriority")))
  }

  /** q6_anti_join — NOT EXISTS: customers with no urgent open order
    * (filter applied to the build side before the anti join, so the
    * shuffled side shrinks first).
    */
  def q6AntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** q7_window_topk — top-3 orders per customer; one shuffle on the window
    * partition key, rank computed streaming within each partition.
    */
  def q7WindowTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** q8_running_window — running sum of event value per user over time.
    * Decimal accumulator: running sums are order-dependent in double, exact
    * in decimal, so the oracle compare stays bit-stable.
    */
  def q8RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("user_id") < 8)
      .withColumn("running_value",
        sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q9_distinct — distinct is a groupBy under the hood: partial dedup
    * map-side, O(distinct) shuffle.
    */
  def q9Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .transform(presentSorted(_, col("l_returnflag"), col("l_linestatus")))

  /** q10_union_agg — union-all of heterogeneous sources normalized to one
    * schema, then a single aggregation over the union (no materialization).
    */
  def q10UnionAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(lit("order").as("src"), col("o_totalprice").as("amount"))
    val li = Tables.lineitem(spark, dir)
      .select(lit("line").as("src"), col("l_extendedprice").as("amount"))
    ord.unionByName(li)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), dsum(col("amount")).as("total"))
      .transform(presentSorted(_, col("src")))
  }

  /** q11_rollup — grouping sets; explicit NULLS FIRST ordering on both
    * engines (their defaults differ).
    */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .transform(presentSorted(_,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** q12_case_expr — CASE bucketing + agg; pure codegen'd expressions. */
  def q12CaseExpr(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000.0, "small")
          .when(col("o_totalprice") < 150000.0, "medium")
          .otherwise("large"))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .transform(presentSorted(_, col("o_orderstatus"), col("bucket")))

  /** q13_hourly_agg — event-time bucketing; the batch twin of the streaming
    * windowed aggregation (graft.streaming). Hour crosses the oracle
    * boundary as a string.
    *
    * orderBy, NOT presentSorted: hour-bucket cardinality grows with the
    * corpus's TIME SPAN, not a fixed key domain — a multi-year 100 TB
    * feed has tens of thousands of (hour, type) groups and climbing, so
    * the output keeps the parallel range sort (r8, ADVICE).
    */
  /** q13_hourly_agg. Group on the TRUNCATED TIMESTAMP (an 8-byte
    * long), not its formatted string: the r14 1B-event decomposition
    * measured the string-keyed aggregate at ~16 s of the 19.6 s cell —
    * a per-row formatter call plus string hash keys — while formatting
    * AFTER the aggregate touches only |hours·types| rows. Ordering by
    * the formatted string equals ordering by the timestamp (the
    * "yyyy-MM-dd HH:mm" form is lexicographically chronological), so
    * the result is bit-identical.
    */
  def q13HourlyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(date_format(col("hour_ts"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** q14_having — post-aggregation filter on an exact decimal sum. */
  def q14Having(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .filter(col("sum_qty") > 15000.0)
      .orderBy(col("l_suppkey"))

  /** q15_subquery — above-average filter. The scalar aggregate broadcasts
    * to every task (crossJoin of a 1-row frame) — Catalyst plans it as a
    * BroadcastNestedLoopJoin, which is exactly a scalar subquery at scale.
    * Mean is exact-sum/count so both engines compute the same double.
    */
  def q15Subquery(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val avgPrice = ord.agg(dmean(col("o_totalprice")).as("avg_price"))
    ord.crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price") * 1.8)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q16_pivot — event_type pivoted to columns with an explicit value list
    * (no extra distinct-values job); missing cells filled 0 to match the
    * oracle's FILTER-based conditional aggregation. orderBy, not
    * presentSorted: one row per DAY scales with the corpus's time span,
    * not a fixed domain (r8, ADVICE — same reasoning as q13).
    */
  def q16Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(dstr(col("ts")).as("day"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy(col("day"))

  /** q17_median_disc — exact discrete median per group: the element at
    * global rank floor((n+1)/2) under ORDER BY (value, event_id), with
    * identical discrete semantics on both engines (no interpolation
    * arithmetic to disagree about).
    *
    * Scale shape: NOT a full-table window over the ~5 event_type keys
    * (that shuffles every ROW into 5 tasks that each sort a fifth of the
    * corpus — the r4 verdict's scale-killer). Direct selection over the
    * per-VALUE histogram instead: one aggregation to (group, value)
    * counts — a map-side-partial shuffle that carries O(distinct pairs),
    * not O(rows) — then the median read off a cumulative window over the
    * aggregated counts. The (value, event_id) order the rank is defined
    * over never disambiguates the EMITTED value: rows tied on value are
    * interchangeable at any rank inside their run, so only `value` is
    * projected and a 99%-one-value group collapses to one histogram
    * entry (the r5 skew corner). The window input is the group's
    * DISTINCT value set; an all-distinct adversary degrades this to an
    * O(n) single-partition cumulative pass that stays correct — at that
    * cardinality the honest cluster answer is [[Sketches.quantiles]],
    * not more exact machinery. (r9 A/B retired the earlier √n-bucket
    * two-phase histogram: its extra scan + broadcast rounds cost 2.2×
    * at every scale — 3.61 vs 1.89 s at sf10 — while sharing this same
    * worst case, since a range-stretching outlier crammed all rows into
    * one phase-1 bucket anyway; see BASELINE.md.)
    */
  def q17MedianDisc(spark: SparkSession, dir: String): DataFrame =
    medianDisc(Tables.events(spark, dir).select(col("event_type"), col("value")))

  /** [[q17MedianDisc]] over any frame with (event_type, value) — split
    * out so SkewSpec can drive it with crafted pathological value
    * distributions.
    */
  private[graft] def medianDisc(ev: DataFrame): DataFrame = {
    val wval = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wall = Window.partitionBy(col("event_type"))
    ev.groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cv"))
      .withColumn("cumv", sum(col("cv")).over(wval))
      .withColumn("k", ((sum(col("cv")).over(wall) + 1) / 2).cast("long"))
      .filter(col("cumv") >= col("k") && col("cumv") - col("cv") < col("k"))
      .select(col("event_type"), col("value").as("median_value"))
      .transform(presentSorted(_, col("event_type")))
  }

  /** q18_sessionize — gap-based sessions (30 min) via lag + running count;
    * the batch twin of the stateful streaming sessionizer. Gap compare in
    * exact microseconds on both engines.
    */
  def q18Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q20_intersect — INTERSECT set semantics: customers who ordered in
    * BOTH 1996 and 1997, planned as ONE scan + ONE conditional
    * aggregation (r13). The r12 form ran Catalyst's canonical shape —
    * two distinct branches + a left-semi join — but both branches read
    * the SAME two columns of the SAME table, so the self-join is pure
    * overhead: scan the union window once (the merged range predicate
    * still pushes to the row groups, which the o_orderdate-clustered
    * layout prunes), aggregate per custkey with a per-window
    * membership max, and filter both flags. No join, no broadcast,
    * half the scans; the single exchange carries (custkey, bool, bool)
    * partials — the same O(distinct customers) the set-op plan paid,
    * once instead of twice. This is the standard INTERSECT-to-
    * conditional-aggregation rewrite (self-joins on one fact table
    * fold into grouped flags); Catalyst does not derive it. r13
    * sf100li fresh-JVM A/B, same session: 2.69/2.79 s vs 2.98/3.48
    * for the set-op plan — a ~15% win that crosses the row under the
    * 2× bar (1.84× vs DuckDB's 1.46 s), modest because the grouped
    * aggregate's exchange was already the dominant cost in both
    * shapes — and it removes the only join the null-safe fast-path
    * caveat applied to (the caveat lives on in [[q21Except]], which
    * genuinely needs its anti join). RelationalSpec pins row-identity
    * against native `.intersect()`.
    */
  def q20Intersect(spark: SparkSession, dir: String): DataFrame = {
    def win(c: org.apache.spark.sql.Column, from: String,
            until: String): org.apache.spark.sql.Column =
      c >= lit(from).cast("timestamp") && c < lit(until).cast("timestamp")
    Tables.orders(spark, dir)
      .filter(win(col("o_orderdate"), "1996-01-01", "1998-01-01"))
      .groupBy(col("o_custkey"))
      .agg(
        max(win(col("o_orderdate"), "1996-01-01", "1997-01-01")).as("in_a"),
        max(win(col("o_orderdate"), "1997-01-01", "1998-01-01")).as("in_b"))
      .filter(col("in_a") && col("in_b"))
      .select(col("o_custkey"))
      .orderBy(col("o_custkey"))
  }

  /** q21_except — EXCEPT set semantics: customers who placed an order
    * but are not in the BUILDING segment. Same scale shape as
    * [[q20Intersect]] with the anti join in place of the semi: distinct
    * key sets only, the segment filter pushed to the (small) customer
    * scan.
    */
  def q21Except(spark: SparkSession, dir: String): DataFrame =
    // Same long-key-fast-path rationale as [[q20Intersect]]: .except()'s
    // null-safe keys measured 5.84 s where the plain-=== anti join runs
    // 4.00 s at sf10 (both get the same distinct+anti plan shape after
    // PushDownLeftSemiAntiJoin). Keys are non-null TPC-H identifiers.
    Tables.orders(spark, dir)
      .select(col("o_custkey")).distinct()
      .join(
        Tables.customer(spark, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .orderBy(col("o_custkey"))

  /** q19: sliding event-time window via a RANGE frame — each event's
    * trailing-1-hour activity (count + decimal-exact value sum) per
    * user. RANGE frames bound by the *ordering value*, not row
    * position, so ties at the same µs are all peers in the frame —
    * deterministic under any tie order, unlike a ROWS frame. Ordering
    * on unix_micros keeps the frame arithmetic integer-exact in both
    * engines.
    */
  def q19RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-hourUs, 0)
    Tables.events(spark, dir)
      .filter(col("user_id") < 8)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_trailing_hour"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))).over(w)
          .cast("double").as("value_trailing_hour"))
      .orderBy(col("user_id"), col("event_id"))
  }
}
