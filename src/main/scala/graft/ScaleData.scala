package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a testdata directory: every fact table is
  * replicated `factor` times with key columns shifted by a power-of-ten
  * offset per copy, so referential joins stay intact (copy i of an
  * order joins copy i of its lineitems) and every id remains unique.
  * Dimension tables (region, nation) are copied as-is.
  *
  * Purpose: the sf0.1 sweep mostly measures Spark's fixed per-query
  * planner constant; a 10× corpus separates that constant from real
  * throughput so BASELINE.md's "within small factors of a native
  * engine at the same scale" claim is measured, not extrapolated.
  * Payload columns are PERTURBED per copy — text through a per-copy
  * AFFINE substitution of a-z (c → a·c+b mod 26: 312 distinct
  * permutations; two distinct ones agree on at most 2 letters, since
  * gcd(a₁−a₂, 26) ≤ 2 for distinct units — so no word, let alone
  * shingle, survives between copies), embeddings by
  * rotating the vector i mod 64 positions and negating every
  * second 64-block (cosine structure within a copy is preserved;
  * cross-sign cosines flip negative) — so copies are not
  * near-duplicates of each other and the dedup/similarity operators
  * measure 10× the *work*, not a 45× explosion of the *output*
  * (verbatim replication makes every doc a 10-way exact-dup group:
  * candidate pairs and result rows then grow quadratically in the
  * factor by construction, which benchmarks the output writer, not
  * the engine). Within-copy structure — planted near-dups, value
  * distributions, word lengths — is preserved.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> <factor>
  *
  * ALWAYS scale from the ORIGINAL testdata, never from a scaled
  * output: composing two runs composes the perturbations, and composed
  * permutations collide (run 10 then 10 of the old Caesar scheme gave
  * every doc ~9 byte-identical twins at rotation i+j — measured as a
  * 14× minhash blow-up at "sf10"). One step, factor ≤ 128.
  */
object ScaleData {

  /** Power-of-ten offset comfortably above the column's max value. */
  private def offset(df: DataFrame, key: String): Long = {
    val mx = df.agg(max(col(key).cast("long"))).head.getLong(0)
    var off = 10L
    while (off <= mx) off *= 10
    off
  }

  /** `factor` copies with each (column -> offset) shifted by i·offset
    * in copy i; copy 0 is the original data. Implemented as ONE scan ×
    * an exploded copy index, not a factor-way union — key-shift
    * replication needs no per-copy payload variation, and a union of
    * 1000 scan branches is a Catalyst plan explosion (the text /
    * embedding tables, which DO perturb per copy, keep their bounded
    * per-copy loops).
    */
  private def replicate(df: DataFrame, factor: Int, shifts: Map[String, Long]): DataFrame = {
    // A source column named __copy would be clobbered by the replication
    // index and then dropped — corrupt output, no error. Fail loudly.
    require(!df.columns.contains("__copy"),
      "input already has a '__copy' column — rename it before scaling")
    val withCopy = df.withColumn("__copy",
      explode(sequence(lit(0L), lit(factor - 1L))))
    shifts.foldLeft(withCopy) { case (d, (k, off)) =>
      d.withColumn(k, col(k) + col("__copy") * lit(off))
    }.drop("__copy")
  }

  /** Scaled events table: `factor` copies with event/user ids shifted.
    * Exposed so ScaleSpec can pin sf1-scale correctness rows without
    * shelling out to main() (which writes every table).
    */
  def scaledEvents(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val ev = graft.sources.Tables.events(spark, srcDir)
    replicate(ev, factor,
      Map("event_id" -> offset(ev, "event_id"), "user_id" -> offset(ev, "user_id")))
  }

  /** Scaled embeddings table: `factor` copies, each rotated i mod 64
    * positions (and sign-flipped past the rotation period) so copies
    * keep within-copy cosine structure without being near-duplicates
    * of each other. Copy 0 is the original data, so the vec_id < 8
    * query set of the similarity operators is preserved verbatim.
    */
  def scaledEmbeddings(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    require(factor <= 128, s"factor $factor exceeds the perturbation period (128)")
    val emb = graft.sources.Tables.embeddings(spark, srcDir)
    val offV = offset(emb, "vec_id")
    (0 until factor).map { i =>
      val r = i % 64
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r), slice(col("embedding"), 1, r))
      val perturbed =
        if ((i / 64) % 2 == 1) transform(rotated, v => -v) else rotated
      emb.select((col("vec_id") + lit(i * offV)).as("vec_id"),
        perturbed.cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    // Optional 4th arg: comma-separated table subset (default: all) —
    // lets the FLAGGED-query sf100 points scale just the numeric fact
    // tables (events at factor 1000 ≈ 2 GB) without paying lineitem's
    // 11 GB or tripping the text-perturbation period.
    val (srcDir, dstDir, factorS, tablesS) = args match {
      case Array(s, d, f)     => (s, d, f, "")
      case Array(s, d, f, t)  => (s, d, f, t)
      case _ => sys.error("usage: ScaleData <srcDir> <dstDir> <factor> [tables]")
    }
    val factor = factorS.toInt
    val all = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tables: Set[String] =
      if (tablesS.isEmpty) all.toSet
      else {
        val t = tablesS.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = t -- all.toSet
        require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
        t
      }
    // The perturbation families are finite: 312 affine text permutations,
    // 128 embedding (rotation, sign) states. Past the smaller period a
    // copy would repeat copy 0 byte-identically, silently reintroducing
    // the quadratic exact-duplicate explosion the perturbation exists to
    // prevent. Fail loudly instead. Key-shift-only tables have no
    // period — any factor is exact.
    require(factor <= 128 || !(tables("documents") || tables("embeddings")),
      s"factor $factor exceeds the perturbation period (128): scaled " +
        "text/embedding copies would repeat (select numeric tables only)")
    val cpus = Sessions.cores()
    val spark = Sessions.local(cpus)
    import graft.sources.Tables

    // Scaled fact tables must not inherit the source's single-file
    // layout: explode-replication keeps the source partition count, so
    // a factor-100 orders lands as ONE 140 MB file — Spark gets 2
    // byte-range input splits where DuckDB parallelizes by row group,
    // and the ladder charges the engine for the generator's layout
    // (r12 protocol amendment in BASELINE.md; a real 100 TB table is
    // thousands of files). Land every scaled table in 2·cpus part
    // files, RANGE-clustered on the table's natural key — a plain
    // round-robin repartition was measured to halve q21 (input splits
    // restored) but regress q20/q3/etl_metrics 20–50%, because random
    // placement destroys the time/key clustering that row-group
    // zone-map pruning exploits in BOTH engines; range clustering is
    // what a production warehouse layout (time-partitioned facts,
    // key-sorted dims) actually looks like. Tiny copied dims stay
    // as-is.
    val clusterKey = Map(
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderdate",
      "lineitem" -> "l_shipdate", "events" -> "ts",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    def write(name: String, df: => DataFrame): Unit =
      if (tables(name)) {
        val out = clusterKey.get(name) match {
          case Some(k) => df.repartitionByRange(cpus * 2, col(k))
          case None => df
        }
        out.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      }

    // Dimensions: copy as-is.
    write("region", Tables.region(spark, srcDir))
    write("nation", Tables.nation(spark, srcDir))

    lazy val cust = Tables.customer(spark, srcDir)
    lazy val supp = Tables.supplier(spark, srcDir)
    lazy val part = Tables.part(spark, srcDir)
    lazy val ord  = Tables.orders(spark, srcDir)
    lazy val li   = Tables.lineitem(spark, srcDir)
    lazy val offC = offset(cust, "c_custkey")
    lazy val offS = offset(supp, "s_suppkey")
    lazy val offP = offset(part, "p_partkey")
    lazy val offO = offset(ord, "o_orderkey")
    write("customer", replicate(cust, factor, Map("c_custkey" -> offC)))
    write("supplier", replicate(supp, factor, Map("s_suppkey" -> offS)))
    write("part", replicate(part, factor, Map("p_partkey" -> offP)))
    write("orders", replicate(ord, factor,
      Map("o_orderkey" -> offO, "o_custkey" -> offC)))
    write("lineitem", replicate(li, factor,
      Map("l_orderkey" -> offO, "l_partkey" -> offP, "l_suppkey" -> offS)))

    // events: Tables.events already normalizes ts to a µs timestamp;
    // the scaled copy persists it as a true TIMESTAMP column (DuckDB
    // reads it directly; Tables.events passes it through unchanged).
    write("events", scaledEvents(spark, srcDir, factor))

    lazy val docs = Tables.documents(spark, srcDir)
    lazy val offD = offset(docs, "doc_id")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // Affine cipher c -> a*c + b (mod 26): a must be a unit mod 26.
    // Copy i uses (a, b) = (units[i % 12], i / 12) -- distinct pairs for
    // i < 312, and i = 0 is the identity (copy 0 = original bytes).
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def affine(i: Int): String = {
      val a = units(i % units.length)
      val b = i / units.length
      alpha.map(c => ('a' + ((c - 'a') * a + b) % 26).toChar).mkString
    }
    // Metadata columns (lang, source, n_chars, ...) ride along unchanged:
    // the affine cipher is a letter permutation, so lengths — and with
    // them n_chars — stay exact, and dropping them forced dedup_prune's
    // ladder runs onto a reduced-schema detour (r9 verdict item 3).
    lazy val docMeta = docs.columns.filterNot(Set("doc_id", "text")).toSeq
    write("documents", (0 until factor).map { i =>
      docs.select((col("doc_id") + lit(i * offD)).as("doc_id") +:
        translate(col("text"), alpha, affine(i)).as("text") +:
        docMeta.map(col): _*)
    }.reduce(_ unionByName _))

    write("embeddings", scaledEmbeddings(spark, srcDir, factor))

    spark.stop()
  }
}
