package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** THE single contract point for operator-internal persists.
  *
  * Several builders return frames whose plans reference a persisted
  * intermediate more than once (the LSH signature table, the sorted
  * shingle-set frame, the centroid-assignment frame). Most are lazy; the
  * near-dup builders (`Dedup.minhashNearDupPairs`,
  * `Dedup.incrementalNearDupStep`) are EAGER through the candidate stage:
  * their broadcast gate (`pairsFitBroadcast`) runs `pairs.count()` at
  * build time, which also materializes the persisted pair list. Either
  * way the intermediate must stay persisted until the caller
  * materializes the result, so the builder itself cannot unpersist it.
  * Instead every such persist is registered here, and callers release
  * them all in one call after materializing:
  *
  * {{{
  *   val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
  *   pairs.write.parquet(out)   // materialize
  *   PlanCache.releaseAll()     // drop the operator-internal blocks
  * }}}
  *
  * `spark.catalog.clearCache()` also releases them (the harness contract
  * Verify/Bench rely on between catalog entries); `releaseAll()` is the
  * targeted form for a long-lived job, leaving caller-owned caches
  * untouched. Unpersist is non-blocking and recompute-safe, so releasing
  * early can never change results — it only costs recomputation.
  */
object PlanCache {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `df` (MEMORY_AND_DISK) and register it for [[releaseAll]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frames.add(p)
    p
  }

  /** Unpersist (non-blocking) every frame registered since the last call. */
  def releaseAll(): Unit = {
    var d = frames.poll()
    while (d != null) { d.unpersist(false); d = frames.poll() }
  }

  /** Registered-but-not-yet-released count (test hook). */
  def pendingCount: Int = frames.size()
}
