package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftCache, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for operator-path persists, so long-lived sessions can
  * release them deterministically.
  *
  * Several operators persist a shared intermediate that multiple
  * branches of their own DAG re-read (shingle tables, signature
  * tables, the corpus-clean projection). The operator cannot unpersist
  * it itself — the caller materializes the returned DataFrame after
  * the operator function has returned — so without bookkeeping every
  * invocation pins cache entries for the session's lifetime: a
  * 60-query sweep accumulates dozens of cached plans, hundreds of MB
  * each at sf10, and a production session serving repeated queries
  * would leak without bound.
  *
  * Contract: operators route every persist through [[scoped]], every
  * lineage cut through [[checkpointed]], and an early free through
  * [[free]] (`unpersist` on a leaf frame is a no-op); callers
  * (Bench, Verify, application code) call [[release]] after the
  * terminal action on a returned DataFrame. Bench enforces the
  * contract by asserting `getPersistentRDDs.isEmpty` after each query.
  *
  * Leaves: [[scoped]] returns a frame whose analyzed plan is the
  * cache's single `InMemoryRelation`, not the persisted lineage. The
  * planner would swap in that same relation anyway, so physical plans
  * do not change; what changes is that analysis, optimization and the
  * cache lookup of every frame built on it stop re-walking the lineage.
  * A leaf keeps its input's output attributes and encoder, and
  * self-joins of it resolve like self-joins of any relation.
  *
  * Release: a frame built on a leaf after that leaf's cache was freed
  * re-loads the cache on its next action (the leaf has no lineage to
  * fall back to). The next [[release]] frees such a copy too, so
  * `getPersistentRDDs` is empty after it whether a frame ran before or
  * after the previous release.
  *
  * Checkpoints: a loop feeding each round into the next needs
  * [[checkpointed]]: a cache leaf's plan string embeds the cached plan
  * and its tasks carry the cached lineage. The trade: a local
  * checkpoint is not recomputed if an executor is lost, and reading it
  * after its release fails instead of re-loading it.
  */
object Caches {

  /** One registration: the frame handed out and how to free what it reads. */
  private final class Entry(val leaf: Dataset[_], val free: () => Unit)

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()

  // Caches of freed entries: a frame built on a leaf after its release
  // re-loads the cache on its next action, and nothing else would ever
  // free that copy. [[release]] clears any that is loaded again; both
  // it and [[withScope]] drop the handles whose cache no frame reaches.
  private val released = new java.util.concurrent.ConcurrentLinkedQueue[GraftCache.CacheRef]()

  // Nested per-caller scopes (r14 advice): a streaming micro-batch must
  // release ONLY the caches its own plan construction registered —
  // calling the global [[release]] from foreachBatch would unpersist
  // the scoped caches of any concurrently running query or second
  // arrival stream mid-flight. Plan construction is synchronous on the
  // calling thread, so a ThreadLocal stack scopes every [[scoped]]
  // call made inside [[withScope]] (including ones made by operators
  // it calls, e.g. Clusters.mergeIncrementalDelta) to that caller.
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[Entry]]] {
      override def initialValue: List[scala.collection.mutable.ArrayBuffer[Entry]] = Nil
    }

  /** Persist `ds`, register it for the enclosing [[withScope]] if one
    * is active on this thread, else for the next [[release]], and
    * return it as a leaf frame over its cache. */
  def scoped[T](ds: Dataset[T]): Dataset[T] = {
    val (leaf, cache) = GraftCache.leaf(ds).getOrElse {
      ds.persist()
      GraftCache.leaf(ds).get
    }
    register(new Entry(leaf, () => {
      ds.unpersist(blocking = true); cache.clear(); released.add(cache)
    }))
    leaf
  }

  /** `df` cut to a lazy local checkpoint, registered like [[scoped]],
    * as a leaf frame of `session` with `df`'s stats: the first action
    * that reads it computes it and drops its lineage. */
  def checkpointed(df: DataFrame, session: SparkSession): DataFrame = {
    val cut = df.localCheckpoint(eager = false)
    val rdd = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val leaf = GraftCache.rddLeaf(cut, session)
    register(new Entry(leaf, () => rdd.unpersist(blocking = true)))
    leaf
  }

  /** Free now what `leaf`, a frame [[scoped]] or [[checkpointed]]
    * returned on this thread, reads, and drop its registration. */
  def free(leaf: Dataset[_]): Unit = {
    def freed(e: Entry) = (e.leaf eq leaf) && { e.free(); true }
    scopes.get().foreach(_.filterInPlace(!freed(_)))
    live.removeIf(freed(_))
  }

  private def register(e: Entry): Unit = scopes.get() match {
    case head :: _ => head += e
    case Nil       => live.add(e)
  }

  /** Run `body`, then free exactly what this thread registered
    * during it — terminal actions on the registered frames
    * must happen inside `body`. Nestable; never touches the global
    * queue or another thread's scopes.
    */
  def withScope[A](body: => A): A = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(_.free())
      released.removeIf(c => !c.reachable)
    }
  }

  /** Free everything registered since the last release, and any
    * earlier-freed cache that a frame built after its release loaded
    * again. Blocking so a following timing measurement never races
    * cache eviction.
    */
  def release(): Unit = {
    var e = live.poll()
    while (e != null) {
      e.free()
      e = live.poll()
    }
    released.removeIf(c => !c.reachable)
    released.forEach(c => if (c.loaded) c.clear())
  }
}
