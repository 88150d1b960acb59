package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftCache, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The one owner of the on-disk store rules. Every store graft keeps —
  * the metrics serve store, the dedup and cluster serve stores, the IVF
  * and IVF-PQ indexes, the arrival stores — decides three things the
  * same way, and only here:
  *
  *   - COMMIT: a store directory is committed iff it holds `_SUCCESS`.
  *     [[commitTo]] writes that marker itself ([[markCommitted]]), so
  *     the commit point belongs to the store, not to the Hadoop
  *     committer's `mapreduce.fileoutputcommitter.marksuccessfuljobs`
  *     default. All checks go through the path's Hadoop FileSystem, so
  *     stores live on whatever storage the cluster sees.
  *   - CLUSTERED WRITE: a partitioned write clusters its rows on the
  *     partition column first ([[clustered]]).
  *   - RESOLVE-ONCE READ: [[read]] resolves a committed store once per
  *     `_SUCCESS` mtime, [[source]] a source once per
  *     [[Tables.listingStamp]]; the reading session keeps the relation.
  *
  * A DERIVED store ([[derived]]) is built from a source table, and its
  * path carries the source's listing stamp
  * (`tmpdir/graft_<kind>_<slug>_<hexstamp>_<key>`): a regenerated
  * source is a new path, and a path is reused only once every sub-table
  * under it is committed. Freshness therefore holds by construction.
  */
private[graft] object Stores {

  /** Hadoop FileSystem + qualified Path for `path`, resolved from the
    * active session's config. */
  def fsFor(path: String): (FileSystem, Path) =
    fsFor(SparkSession.active, path)

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private val Marker = "_SUCCESS"

  /** Modification time of the commit marker under `dir`; None when the
    * directory is not committed. */
  private def commitStamp(fs: FileSystem, dir: Path): Option[Long] =
    try Some(fs.getFileStatus(new Path(dir, Marker)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Whether `dir` is committed. */
  def committed(dir: String): Boolean = {
    val (fs, p) = fsFor(dir)
    committed(fs, p)
  }

  /** [[committed]] for a caller that already holds the FileSystem. */
  def committed(fs: FileSystem, dir: Path): Boolean = commitStamp(fs, dir).isDefined

  /** The commit point: create `dir/_SUCCESS` unless the writer's output
    * committer already did. */
  private def markCommitted(fs: FileSystem, dir: Path): Unit = {
    val marker = new Path(dir, Marker)
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }

  /** Rows clustered on the partition column `c` ahead of a
    * `partitionBy(c)` write; unclustered, a w-task write into d
    * partitions sprays w×d near-empty files (5k+ at sf0.1) and listing
    * eats the serve path's prune. Under AQE it is a REBALANCE by `c`:
    * a hot partition splits at the advisory size instead of writing
    * through one task (the r9 ADVICE bottleneck). Spark drops the
    * rebalance hint when AQE is off, which un-clusters the write (the
    * sf0.1 store round trip went 1.9 → 3.7 s), so a caller's own AQE-off
    * session takes the plain `repartition(c)` and its hot-partition
    * ceiling (`Sessions.local` runs AQE on).
    */
  def clustered(df: DataFrame, c: String): DataFrame =
    if (df.sparkSession.conf.get("spark.sql.adaptive.enabled", "false").toBoolean)
      df.hint("rebalance", col(c))
    else df.repartition(col(c))

  /** Overwrite `dir` with `df` — [[clustered]] and `partitionBy` on
    * `partitionCol` when given — then mark it committed. The session
    * then drops what it kept for `dir`'s prior commit, so its rewrites
    * never depend on the marker's mtime granularity. */
  def commitTo(df: DataFrame, dir: String, partitionCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val (fs, root) = fsFor(spark, dir)
    val prior = commitStamp(fs, root)
    try {
      val w = partitionCol match {
        case Some(c) => clustered(df, c).write.partitionBy(c)
        case None => df.write
      }
      w.mode(SaveMode.Overwrite).parquet(dir)
      markCommitted(fs, root)
    } finally prior.foreach(GraftCache.forgetRelation(spark, root.toString, _))
  }

  /** Read a store back: resolved once per `_SUCCESS` commit — the
    * contract of Spark's `REFRESH TABLE` for catalog tables, with no
    * manual refresh. A store without the marker (half-written, or
    * written by a writer that disables it) is read fresh every time. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    commitStamp(fs, root).fold(spark.read.parquet(path))(resolved(spark, path, root, _))
  }

  /** Read a parquet source, a file or a directory: resolved once per
    * [[Tables.listingStamp]], so a rewrite is read by the next call. */
  def source(spark: SparkSession, path: String): DataFrame =
    resolved(spark, path, fsFor(spark, path)._2, Tables.listingStamp(spark, path))

  // Stamped BEFORE resolving: a rewrite landing meanwhile leaves the
  // relation under the older stamp. Keyed by the qualified root. The
  // stamp also rides in the read's options: a file relation compares by
  // its root paths and options, not by its files, so without it a frame
  // cached over the old files would stand in for a read of the new ones.
  private def resolved(spark: SparkSession, path: String, root: Path, stamp: Long): DataFrame =
    GraftCache.sessionRelation(spark, root.toString, stamp)(
      spark.read.option("graft.stamp", java.lang.Long.toHexString(stamp)).parquet(path))

  /** Per-source scratch location `tmpdir/graft_<kind>_<slug>`, for
    * stores every call rewrites (the metrics round trip). */
  def scratchPath(kind: String, dir: String): String =
    System.getProperty("java.io.tmpdir") + s"/graft_${kind}_" + Tables.pathSlug(dir)

  /** The one derived-store key: [[scratchPath]] + the hex listing stamp
    * of the source table `table` under `dir` ([[Tables.listingStamp]]) +
    * `key`, the builder's knobs (none when empty). A regenerated source
    * or a knob change is a different path. */
  def derivedPath(spark: SparkSession, kind: String, dir: String, table: String,
                  key: String): String =
    scratchPath(kind, dir) + "_" +
      java.lang.Long.toHexString(Tables.listingStamp(spark, s"$dir/$table.parquet")) +
      (if (key.isEmpty) "" else "_" + key)

  /** A store derived from `dir`'s `table`: returns its [[derivedPath]]
    * and runs `build(path)` unless every sub-table in `subs` (the path
    * itself when none) is committed. `build` writes each sub through
    * [[commitTo]], which marks it; a build that leaves one uncommitted
    * fails here instead of being rebuilt on every call.
    */
  def derived(spark: SparkSession, kind: String, dir: String, table: String,
              key: String)(subs: String*)(build: String => Unit): String = {
    val path = derivedPath(spark, kind, dir, table, key)
    val units = if (subs.isEmpty) Seq(path) else subs.map(s => s"$path/$s")
    if (!units.forall(committed(_))) {
      build(path)
      val open = units.filterNot(committed(_))
      if (open.nonEmpty)
        throw new IllegalStateException(s"$kind build left uncommitted: ${open.mkString(", ")}")
    }
    path
  }
}
