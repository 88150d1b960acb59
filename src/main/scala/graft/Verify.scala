package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cores())
    new java.io.File(outDir).mkdirs()
    // Same optional subset filter as Bench (iteration aid); unknown names
    // fail loudly rather than silently dumping nothing.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = subset.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (k, _) => s(k) })
    selected.foreach { case (name, fn) =>
      // Rows-only dumps (no oracle SQL twin): flatten array columns to a
      // deterministic joined string IN THE DUMP ONLY — the driver's pandas
      // comparator factorizes every dumped column and numpy arrays are
      // unhashable (r18: pipeline_corpus_tokenized's tokens array<int>
      // crashed it, leaving the query with zero independent measurement).
      // The declared query is untouched; oracle-compared dumps keep their
      // exact schema (it must match the DuckDB side).
      def hashable(df: org.apache.spark.sql.DataFrame) =
        if (SparkEntry.oracleSql.contains(name)) df
        else df.schema.fields.foldLeft(df) { (d, f) =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType =>
              d.withColumn(f.name, org.apache.spark.sql.functions.concat_ws(",",
                org.apache.spark.sql.functions.col(f.name).cast("array<string>")))
            case _ => d
          }
        }
      try hashable(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Caches.release() // release per-operator scoped persists
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Dtype-parity gate (r5 verdict item 6): the checker that kills the
    // HUGEINT-widening bug class (3 rounds lost to it) now runs INSIDE
    // every Verify, not just when someone remembers the README. A
    // mismatch fails this run with an actionable column-level message —
    // the same red the driver's value-hash compare would produce one
    // step later. Soft-skips when the harness python env is absent;
    // SPARK_GRAFT_SKIP_DTYPE=1 opts out explicitly.
    if (!sys.env.contains("SPARK_GRAFT_SKIP_DTYPE")) {
      // Resolve the checker against known anchors, not just the JVM cwd —
      // launching Verify from outside the repo root must not silently
      // disable the gate. SPARK_GRAFT_REPO_ROOT pins it explicitly.
      val script = (sys.env.get("SPARK_GRAFT_REPO_ROOT").toSeq :+ ".")
        .map(root => new java.io.File(root, "tools/dtype_check.py"))
        .find(_.isFile)
        .getOrElse {
          System.err.println("[verify] dtype_check skipped: tools/dtype_check.py " +
            s"not found from cwd ${new java.io.File(".").getAbsolutePath} " +
            "(set SPARK_GRAFT_REPO_ROOT to the repo root to pin it)")
          new java.io.File("tools/dtype_check.py")
        }
      if (script.isFile) {
        def run(cmd: String*): Int = scala.util.Try {
          val pb = new ProcessBuilder(cmd: _*)
          pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
          pb.redirectError(ProcessBuilder.Redirect.INHERIT)
          pb.start().waitFor()
        }.getOrElse(-1)
        if (run("python3", "-c", "import duckdb, pandas") == 0) {
          val rc = run("python3", script.getPath, sfDir, outDir)
          require(rc == 0,
            s"dtype_check exited $rc: a Spark/DuckDB dtype mismatch above " +
              "would fail the driver's hash gate — fix the oracle cast now")
        } else System.err.println(
          "[verify] dtype_check skipped: python3/duckdb not available")
      }
    }
  }
}
