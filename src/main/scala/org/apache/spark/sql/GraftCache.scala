package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Re-roots a persisted Dataset at its cache entry.
  *
  * `Dataset.persist` registers the plan with the session's
  * `CacheManager`, but the Dataset still carries its whole lineage:
  * every `join`/`select` built on it re-analyzes that lineage, and the
  * planner's `useCachedData` then swaps the lineage for the cache's
  * `InMemoryRelation`. A frame rooted at that same relation plans
  * identically and analyzes as one leaf. Like [[GraftColumn]], this
  * file lives in `org.apache.spark.sql` only to reach the
  * `classic.Dataset` constructor, `ofRows` and the session's caches.
  */
object GraftCache {
  /** A weak handle on the cached RDD behind a leaf frame: it does not
    * keep the cache reachable once no frame reads it. */
  final class CacheRef private[GraftCache] (b: CachedRDDBuilder) {
    private val ref = new java.lang.ref.WeakReference(b)
    /** False once no frame or cache entry reaches the cache. */
    def reachable: Boolean = ref.get != null
    /** True while the cached RDD is materialized. */
    def loaded: Boolean = Option(ref.get).exists(_.isCachedColumnBuffersLoaded)
    /** Unpersist the cached RDD, blocking; a later action re-loads it. */
    def clear(): Unit = Option(ref.get).foreach(_.clearCache(blocking = true))
  }

  /** `ds` as a Dataset over its cache's `InMemoryRelation` (with `ds`'s
    * output attributes and encoder), plus a handle on that cache; None
    * if no cache entry covers `ds`. A `ds` that already is such a leaf
    * comes back as is. */
  def leaf[T](ds: Dataset[T]): Option[(Dataset[T], CacheRef)] = {
    val c = ds.asInstanceOf[classic.Dataset[T]]
    c.logicalPlan match {
      case r: InMemoryRelation => Some((ds, new CacheRef(r.cacheBuilder)))
      case _ =>
        c.sparkSession.sharedState.cacheManager.lookupCachedData(c).map { cd =>
          val rel = cd.cachedRepresentation.withOutput(c.queryExecution.analyzed.output)
          (new classic.Dataset[T](c.sparkSession, rel, c.encoder), new CacheRef(rel.cacheBuilder))
        }
    }
  }

  /** `ds`, a frame over one `LogicalRDD`, as a leaf frame of `session`
    * with the same stats, minus the declared partitioning: that names
    * attributes canonicalization leaves alone, so no exchange over a
    * self-joined copy of the leaf would be reused. */
  def rddLeaf(ds: Dataset[Row], session: SparkSession): DataFrame = {
    val r = ds.asInstanceOf[classic.Dataset[Row]].logicalPlan.asInstanceOf[LogicalRDD]
    val s = session.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(r.output, r.rdd)(s, Some(r.stats), Some(r.constraints)))
  }

  /** The relation `spark` keeps for `path` at `stamp`, as a frame of
    * `spark`, resolved by `load` on a miss. Spark's per-session relation
    * cache keeps it: LRU-bounded (`filesourceTableRelationCacheSize`)
    * and freed with the session. Each frame gets its own copy of the
    * root, marked analyzed: a Dataset records its id on its root node. */
  def sessionRelation(spark: SparkSession, path: String, stamp: Long)
                     (load: => DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val plan = s.sessionState.catalog.getCachedPlan(relationKey(path, stamp),
      () => load.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
    val fresh = plan match { case r: LogicalRelation => r.copy(); case p => p }
    fresh.setAnalyzed()
    classic.Dataset.ofRows(s, fresh)
  }

  /** Drop what [[sessionRelation]] keeps in `spark` for `path` at `stamp`. */
  def forgetRelation(spark: SparkSession, path: String, stamp: Long): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .invalidateCachedTable(relationKey(path, stamp))

  private def relationKey(path: String, stamp: Long) =
    QualifiedTableName("graft", java.lang.Long.toHexString(stamp), path)
}
