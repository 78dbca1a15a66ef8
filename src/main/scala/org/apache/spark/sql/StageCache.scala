package org.apache.spark.sql

import scala.collection.mutable.ArrayBuffer

/** Persists Datasets and hands each back as a PLAN LEAF: a Dataset whose
  * whole logical plan is the stage's cached `InMemoryRelation`, with the
  * original's encoder and output attributes.
  *
  * A plain `.cache()` keeps the full lineage in the Dataset it returns,
  * so every Dataset derived from it, every later `.cache()` (which plans
  * eagerly) and every action re-analyses that lineage and re-matches it
  * against each cached plan before `CacheManager.useCachedData` swaps in
  * the same `InMemoryRelation`. Starting from the leaf skips both; the
  * physical plans are the ones the swap produced. Lineage stays inside
  * the cache builder, so lost blocks are recomputed (unlike
  * `localCheckpoint`).
  *
  * The originals are remembered and [[release]]d together. Invariant: no
  * caller may write a path a cached stage reads — `recacheByPath` would
  * rebuild the original's cache entry behind the leaf, which then keeps
  * an untracked builder of its own.
  *
  * Lives in `org.apache.spark.sql` for `classic.Dataset.apply` and
  * `CacheManager.lookupCachedData` (both `private[sql]`, Spark 4.1). */
final class StageCache {
  private val originals = ArrayBuffer.empty[Dataset[_]]

  def leaf[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.persist().asInstanceOf[classic.Dataset[T]]
    originals.synchronized(originals += c)
    val cached = c.sparkSession.sharedState.cacheManager.lookupCachedData(c)
      .getOrElse(throw new IllegalStateException("persisted stage not cached"))
    classic.Dataset[T](c.sparkSession,
      cached.cachedRepresentation.withOutput(c.logicalPlan.output))(c.encoder)
  }

  /** Unpersists every original handed to [[leaf]]; safe to call twice. */
  def release(): Unit = originals.synchronized {
    originals.foreach(_.unpersist())
    originals.clear()
  }
}
