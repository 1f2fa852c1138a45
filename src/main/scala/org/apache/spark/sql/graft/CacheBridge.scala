package org.apache.spark.sql.graft

import org.apache.spark.sql.{Dataset => ApiDataset}
import org.apache.spark.sql.classic.Dataset

/** Bridge into the `private[sql]` cache machinery, for
  * `graft.core.CacheScope`'s orphan sweep, and for re-reading a stored
  * checkpoint leaf (`graft.Pipeline.spineOrder`).
  *
  * Why it exists: `Dataset.unpersist()` drops the CacheManager entry and
  * the buffer RDD — but an action PLANNED while the cache was live holds
  * a compiled `InMemoryTableScan` that references the entry's
  * `CachedRDDBuilder` directly. If such an action materializes (or
  * re-materializes) the buffer AFTER the unpersist, the builder lazily
  * rebuilds and re-persists it: the rebuilt RDD is registered with the
  * SparkContext but belongs to no CacheManager entry, so neither a second
  * `unpersist()` nor `catalog.clearCache()` can ever find it again — a
  * permanent block-manager leak (observed as CacheHygieneSpec's
  * "leaked caches ... at collect" failure under a busy listener bus).
  * The only handle that can release the rebuilt buffer is the builder
  * itself, which is `private[sql]`.
  */
object CacheBridge {

  /** Capture a kill-switch over the cache builder CURRENTLY backing
    * `df`'s persisted plan (None if the plan is not cached). The switch
    * stays valid after the entry is removed from the CacheManager —
    * invoking it clears whatever buffer the builder holds at that time,
    * including one rebuilt by an in-flight action. Idempotent; a later
    * re-`persist()` of the same plan creates a NEW builder and is
    * unaffected.
    */
  def orphanKiller(df: ApiDataset[_]): Option[() => Unit] = {
    val ds = df.asInstanceOf[Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).map { cd =>
      val builder = cd.cachedRepresentation.cacheBuilder
      () => builder.clearCache(false)
    }
  }

  /** Event-armed sweep handle over a builder (round-7: replaces fixed
    * wall-clock kill shots). Holds the builder WEAKLY: a rebuild is only
    * possible while some compiled plan still references the builder, and
    * any such plan keeps it strongly reachable — so once the weak ref
    * clears, no further rebuild can exist and the handle retires itself.
    * The weak hold also means a retained handle never pins plan/builder
    * memory a session has otherwise let go of.
    */
  final class OrphanSweep private[graft] (
      ref: java.lang.ref.WeakReference[
        org.apache.spark.sql.execution.columnar.CachedRDDBuilder]) {
    /** Clear whatever buffer the builder holds right now (idempotent,
      * no-op when empty). Returns true when the handle is DEAD — the
      * builder is unreachable from any plan, so nothing can rebuild
      * through it again and the caller should drop the handle.
      */
    def sweep(): Boolean = {
      val b = ref.get()
      if (b == null) true
      else { b.clearCache(false); false }
    }

    /** Is a materialized buffer currently held? (test observability) */
    def loaded: Boolean = {
      val b = ref.get()
      b != null && b.isCachedColumnBuffersLoaded
    }
  }

  /** Capture an [[OrphanSweep]] over the builder currently backing `df`'s
    * persisted plan (None if not cached). Like [[orphanKiller]], the
    * handle stays valid after the CacheManager entry is removed; unlike
    * it, the handle reports when sweeping is provably finished.
    */
  def orphanSweep(df: ApiDataset[_]): Option[OrphanSweep] = {
    val ds = df.asInstanceOf[Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).map { cd =>
      new OrphanSweep(new java.lang.ref.WeakReference(
        cd.cachedRepresentation.cacheBuilder))
    }
  }

  /** A frame over an analyzed plan another frame already reads, such as
    * the stored leaf of a checkpoint: its columns keep their ids, and a
    * join with that other frame deduplicates them as a self-join does. */
  def frameOf(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
