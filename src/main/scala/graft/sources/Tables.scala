package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated testdata tables.
  *
  * Each table is a parquet file or directory under an sf directory,
  * read through [[Stores.source]] as a plain parquet relation, so
  * Catalyst keeps full pushdown/pruning freedom; at cluster scale the
  * same call reads a date-partitioned tree and prunes partitions.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeNtz(Stores.source(spark, s"$sfDir/$name.parquet"))

  /** The driver's generator writes plain `timestamp[us]` parquet columns
    * (isAdjustedToUTC=false), which Spark 4's reader surfaces as
    * TIMESTAMP_NTZ by default. graft Sessions disable
    * `spark.sql.parquet.inferTimestampNTZ.enabled`, so the scan itself
    * surfaces those columns as the session-zoned TIMESTAMP the whole
    * operator surface (unix_micros frames, window ranges, DuckDB-hash
    * parity) is written against — with `session.timeZone=UTC` the values
    * are bit-identical (raw micros = epoch micros), and, unlike the
    * previous cast-after-scan, ts-range predicates sit on a bare
    * attribute and reach parquet row-group stats (PlanSpec pins the
    * pushdown). This method remains as a FALLBACK for externally built
    * sessions without that conf: the cast preserves the same values but
    * blocks row-group pruning on the cast column (the r9 ADVICE trade);
    * under graft Sessions it finds no NTZ fields and is a no-op.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntzCols = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntzCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The driver's generator has shipped `ts` in two physical forms:
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — sessions
    * set `spark.sql.legacy.parquet.nanosAsLong=true` and the ns long is
    * floor-divided to µs here, matching DuckDB's truncating epoch_us)
    * and, since round 8, plain `timestamp[us]` (surfaced as
    * TIMESTAMP_NTZ and normalized to session-zoned TIMESTAMP by
    * [[load]]). Both paths end at the same µs wall-clock TIMESTAMP
    * column, so event timestamps agree across the oracle boundary.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    // Scaled-up copies (graft.ScaleData) write ts as a true µs
    // timestamp; only the driver's original nanos-long column needs
    // the DIV-1000 conversion.
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact row count from parquet footer metadata — no data scan, no
    * Spark job. Operators that size themselves to n (adaptive LSH bucket
    * widths) must not pay a full `count()` action for it: at 100 TB that
    * is an extra pass over the table, while footers are a few KB per
    * file. Driver-side file listing is O(#files); a cluster deployment
    * with millions of files would take n from catalog statistics
    * instead, but the sizing only needs log2(n) so even a stale count
    * is fine. The footers are read once per [[listingStamp]].
    */
  def parquetRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val (conf, root, files) = listing(spark, s"$sfDir/$name.parquet")
    footerRows.computeIfAbsent((root, stampOf(root, files)), _ =>
      files.filter(isParquet).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum)
  }

  private val footerRows =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]

  /** On-disk byte size of a table (sum of file lengths) — the free
    * footer-class statistic broadcast GATES use to bound estimated
    * in-memory bytes, not just row counts (r16 advice: a doc-count
    * gate admits arbitrarily wide rows).
    */
  def parquetByteSize(spark: SparkSession, sfDir: String, name: String): Long =
    listing(spark, s"$sfDir/$name.parquet")._3.filter(isParquet).map(_.getLen).sum

  /** Every file under `path` (the file itself when it is one) through
    * its Hadoop FileSystem, with the conf and the qualified root. Plain
    * statuses: a located one runs a shell command per local file (3 ms). */
  private def listing(spark: SparkSession, path: String)
      : (Configuration, String, Seq[FileStatus]) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def under(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(under) else Seq(s)
    (conf, fs.makeQualified(root).toString, under(fs.getFileStatus(root)))
  }

  private def isParquet(f: FileStatus): Boolean = f.getPath.getName.endsWith(".parquet")

  /** Filesystem-safe unique slug of a source directory for derived-
    * store paths ([[Stores.scratchPath]]). The slug is taken from the
    * QUALIFIED path, so `/x` and `file:/x` name one store, and is made
    * injective by keeping the path's sanitized tail (the discriminating
    * part, for readability) plus a hex digest of the full qualified
    * path (two dirs with colliding String.hashCode would otherwise share
    * a tree and race).
    */
  def pathSlug(dir: String): String = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())
    val canon = new Path(dir).makeQualified(FileSystem.getDefaultUri(conf),
      new Path(System.getProperty("user.dir")))
    val tail = canon.toUri.getPath.takeRight(40).map(c =>
      if (c.isLetterOrDigit) c else '_')
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.toString.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    s"${tail}_$digest"
  }

  /** Change-detection key of the files under `path` — a source for
    * [[Stores.source]] and [[Stores.derivedPath]], a mutable arrival centroid
    * table for [[graft.operators.Ivf.centroidTableStamped]]: a 64-bit digest over
    * the LISTING through the path's Hadoop FileSystem — each file's
    * relative name, length and mtime — so a regenerated source gets a
    * new stamp even when timestamps are preserved (cp -p, rsync -a, tar
    * extraction defeat a max-mtime-only key whenever the rewrite
    * changes bytes or layout but not times), and a `file:`/`hdfs:`/
    * `s3a:` source is stamped like a local one. Unchanged-content
    * rewrites with preserved names+sizes+mtimes still collide, which is
    * the correct fixpoint: identical listing ⇒ the derived state is
    * still valid. A missing path stamps 0.
    */
  def listingStamp(spark: SparkSession, path: String): Long =
    try {
      val (_, root, files) = listing(spark, path)
      stampOf(root, files)
    } catch { case _: java.io.FileNotFoundException => 0L }

  private def stampOf(root: String, files: Seq[FileStatus]): Long =
    files.map(f => (f.getPath.toString.stripPrefix(root), f.getLen, f.getModificationTime))
      .sortBy(_._1).foldLeft(0L) { case (acc, (rel, len, mtime)) =>
        ((acc * 1000003L + rel.hashCode) * 1000003L + mtime) * 1000003L + len
      }
}
