package graft

/** Dev harness (not part of the driver contract): prints the formatted
  * physical plan of each query named in SPARK_GRAFT_QUERIES over
  * SPARK_GRAFT_SF_DIR, on the same session every caller gets.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    val spark = Sessions.local(Sessions.cores())
    val names = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "etl_consolidate")
      .split(",").map(_.trim).filter(_.nonEmpty)
    // Caveat (r12 ADVICE): plan CONSTRUCTION is not free for the
    // Bloom-pushdown tiers — q3's cluster tier runs its (footer-sized,
    // r13) filter-build aggregation job and contamination's bloom tier
    // its sizing-sum + build jobs while the DataFrame is being built, so
    // "explain" executes those jobs (seconds at sf10+). That is the
    // tiers' design, not a leak: the filter must exist before the probe
    // expression can be planned.
    for (n <- names) {
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
