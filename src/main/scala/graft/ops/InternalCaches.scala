package graft.ops

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Bounded lifecycle for the frames graft operators persist INTERNALLY
  * (the mutualKnn/ngramJaccard discipline: a corpus×k-sized subtree that
  * feeds several plan branches is `persist()`ed — lazy, so analyzing or
  * EXPLAINing a plan that embeds the operator launches no jobs, and the
  * lineage stays visible to plan audits).
  *
  * Spark's CacheManager holds cached plans STRONGLY until an explicit
  * unpersist, so without a release path every DISTINCT input ever passed
  * to such an operator in a long-lived session pins its InMemoryRelation
  * forever (the r14 ADVICE leak class). Repeated invocations on the SAME
  * input are already safe — CacheManager is canonical-plan-keyed and
  * dedupes — and that plan-keyed reuse across e.g. a cold/warm bench pair
  * is a measured win we must keep. So the contract here is an LRU bound,
  * not eager release:
  *
  *  - `persistBounded(df)` persists `df` (MEMORY_AND_DISK, Spark's
  *    default) and remembers it under its canonicalized logical plan;
  *  - re-registering a semantically identical plan is a no-op hit (the
  *    existing InMemoryRelation serves the new frame automatically);
  *  - a held entry that can no longer serve — its session was stopped, or
  *    its blocks were dropped behind the cache's back (e.g.
  *    `spark.catalog.clearCache()`) — is replaced as if it were new;
  *  - once more than [[MaxEntries]] distinct plans are held, the
  *    least-recently-used entry is unpersisted — consumers still running
  *    against it simply recompute, correctness is untouched;
  *  - `release(df)` frees one entry, `clear()` releases everything
  *    (service shutdown / spec hygiene).
  *
  * The entry count is the ONLY bound. Memory pressure is left to Spark's
  * own storage/execution line: the unified pool reserves
  * `spark.memory.storageFraction` (0.5) of itself for storage, above which
  * execution evicts cached blocks, and MEMORY_AND_DISK pins move to disk
  * rather than being recomputed. A byte bound at that same half-pool line
  * was measured and removed: on the `curation` benchmark (seed 7, 2 GB
  * heap) 4 pins peaked at 0.82 MB against a 549,873,254 B bound, and on
  * the full 260-entry bench (sf0.1, local[4], 8 GB heap) 73 pins peaked at
  * 41.7 MB against a 2,482,608,537 B bound — it never shed a pin. Storage
  * under the entry bound is ≤ MaxEntries × the largest internal frame
  * (corpus×k rows of ids+hashes for the operators routed here), which is
  * the documented steady-state footprint of a standing analytics service.
  */
object InternalCaches {

  // 24, not 16 (r17): the minhash closure now routes its shingle/band/pair
  // frames here too, so a mixed workload holds ~3 frames per active dedup
  // operator — at 16 a long analytics sweep evicted one operator's frames
  // MID-ENTRY while another was still building, turning the bound into a
  // cross-operator thrash (the r16 bench's phantom trips). The footprint
  // contract is unchanged in form (≤ MaxEntries × largest internal frame,
  // corpus×k-row hash frames — MBs at any sane k), just sized to hold a
  // realistic number of concurrently-live operators.
  private val MaxEntries = 24

  // access-ordered so iteration starts at the LRU entry; all access
  // synchronized on the map itself
  private val lru = new JLinkedHashMap[LogicalPlan, DataFrame](32, 0.75f, true)

  /** Number of internally-persisted plans currently held (spec probe). */
  def size: Int = lru.synchronized(lru.size)

  // a held frame pins its SparkSession; if that session was stopped,
  // any touch of it (storageLevel, persist, unpersist) throws an
  // IllegalStateException INSIDE an unrelated caller's persistBounded —
  // such a failure reads as "unusable", never as an error (r15 ADVICE)
  private def unusable(df: DataFrame): Boolean =
    scala.util.Try(df.sparkSession.sparkContext.isStopped ||
      df.storageLevel == StorageLevel.NONE).getOrElse(true)

  /** Persist `df` under the LRU bound (see object doc). Returns `df`. */
  def persistBounded(df: DataFrame): DataFrame = lru.synchronized {
    val key = df.queryExecution.analyzed.canonicalized
    val held = lru.get(key)
    if (held == null || unusable(held)) {
      if (held != null) lru.remove(key)
      df.persist()
      lru.put(key, df)
      val it = lru.entrySet().iterator()
      while (lru.size > MaxEntries && it.hasNext) {
        val oldest: JMap.Entry[LogicalPlan, DataFrame] = it.next()
        scala.util.Try(oldest.getValue.unpersist(blocking = false))
        it.remove()
      }
    }
    df
  }

  /** Explicitly unpersist ONE held frame and forget its entry — the
    * caller-side release path for frames an operator RETURNS persisted
    * (e.g. [[Ivf.appendToIndex]]'s assignments). Calling `df.unpersist()`
    * directly instead would silently drop blocks the LRU still thinks it
    * holds (size overcounts, and the single-evaluation contract breaks
    * for any other consumer of the same canonical plan until a later
    * persistBounded re-pins it) — this keeps the lifecycle single-owner.
    * No-op for frames the cache does not hold. */
  def release(df: DataFrame): Unit = lru.synchronized {
    val key = df.queryExecution.analyzed.canonicalized
    val held = lru.remove(key)
    if (held != null) scala.util.Try(held.unpersist(blocking = false))
    ()
  }

  /** Unpersist and forget every held frame. */
  def clear(): Unit = lru.synchronized {
    lru.values().forEach(df =>
      scala.util.Try(df.unpersist(blocking = false)): Unit)
    lru.clear()
  }
}
