package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev harness (not part of the driver contract) with two jobs over the
  * queries named in SPARK_GRAFT_QUERIES:
  *
  *  - SPARK_GRAFT_EXPLAIN=1 prints each query's formatted physical plan.
  *  - Otherwise it times each query with AQE on vs off, interleaved in
  *    ONE JVM — cross-process timing noise swamps the difference — using
  *    Bench's noop-sink materialization.
  */
object Profile {
  /** Materializes `mk()` through the noop sink `reps` times, releasing
    * operator caches after each rep, and prints the best and every time. */
  private def best(label: String, reps: Int)(mk: () => DataFrame): Unit = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      noop(mk())
      Caches.release()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[prof] $label best ${ts.min}%.3f  " + ts.map(t => f"$t%.3f").mkString(" "))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    val spark: SparkSession =
      Sessions.driver(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, dir)
    val names = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "etl_consolidate")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(4)
    // Caveat (r12 ADVICE): plan CONSTRUCTION is not free for the
    // Bloom-pushdown tiers — q3's cluster tier runs its (footer-sized,
    // r13) filter-build aggregation job and contamination's bloom tier
    // its sizing-sum + build jobs while the DataFrame is being built, so
    // "explain" executes those jobs (seconds at sf10+). That is the
    // tiers' design, not a leak: the filter must exist before the probe
    // expression can be planned.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      for (n <- names) {
        println(s"========== $n ==========")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
    else {
      noop(SparkEntry.entry(spark))
      for (name <- names; aqe <- Seq("true", "false", "true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        best(s"$name aqe=$aqe", reps)(() => SparkEntry.queries(name)(spark, dir))
      }
    }
    spark.stop()
  }
}
