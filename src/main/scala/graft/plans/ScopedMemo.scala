package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry through which main code pins a DataFrame.
  *
  * Every pinned intermediate — a cross-key kernel (shingles, graph edges,
  * embedding vectors, word counts, CC labels …) or a query's own
  * multiply-read subtree — is `ScopedMemo(s, "<kernel>#<sfDir>[#tags]")
  * (plan)`. The registry caches and materializes the plan once per
  * (session, key), hands back the same instance on later touches, and
  * bounds what it holds by BYTES: each entry is charged its
  * InMemoryRelation's materialized size, and past [[budget]] the
  * least-recently-used entries are unpersisted and dropped (see
  * [[DfLru]]). Consumers of an evicted frame stay correct — the plan
  * recomputes — they just lose the memo.
  *
  * Why bytes, not an entry count: a whole-registry session touches ~100
  * keys in alphabetical order, and a count cap small enough to matter
  * evicts long-lived kernels in the middle of the family that shares them
  * (measured at a 16-entry cap: the dedup pair kernel was rebuilt
  * mid-family, dedup_containment +0.8 s). Storage is the resource that
  * actually runs out: a session whose pins fit the storage region never
  * evicts (the whole test suite, over several sf dirs up to sf0.1, peaks
  * at ~72 MB against a GB-scale budget), and a session sweeping many
  * scale factors is bounded by what the block manager can protect.
  *
  * The key must carry every session-conf knob the body reads (state mode,
  * thresholds) — `Graph.lpaLabels`' "#st=" tag — or a conf flip would
  * hand back the other mode's table.
  */
object ScopedMemo {
  private val cache = new DfLru(budget)

  /** The storage region Spark itself protects from execution memory:
    * the block managers' max storage memory times
    * `spark.memory.storageFraction`.
    */
  private[graft] def budget(s: SparkSession): Long = {
    val sc = s.sparkContext
    val maxStorage = sc.getExecutorMemoryStatus.values.map(_._1).sum
    (maxStorage * sc.getConf.getDouble("spark.memory.storageFraction", 0.5))
      .toLong
  }

  /** Memoized cache-and-materialize: first touch caches `body` and runs
    * the materializing count OUTSIDE the memo lock (DfLru single-flight);
    * later touches hand back the same pinned instance. Eager on purpose —
    * the kernels' `InMemoryRelation` must exist before the enclosing plan
    * is walked, and lazy pins are what leaked. A body that already
    * materialized its result (see [[materialize]]) is not counted again.
    *
    * The returned frame is [[compact]]ed — its logical plan is the
    * `InMemoryRelation` LEAF, not the original lineage. Memo-composing
    * queries (betweenness layers, kcenter rounds, the ANN sweep legs)
    * otherwise build logical trees tens of thousands of nodes deep, and
    * every action re-pays analysis + cache-substitution + AQE
    * plan-description stringification over that whole tree on the
    * driver main thread (a warm second invocation of betweennessSampled
    * cost 3.8 s with every memo hit). The registry keeps the ORIGINAL
    * frame, so eviction's unpersist still matches the CacheManager entry.
    */
  def apply(s: SparkSession, key: String)(body: => DataFrame): DataFrame =
    compact(cache.getOrCompute((s, key), {
      val df = body
      if (df.storageLevel.useMemory) df else materialize(df)
    }))

  /** Cache `df` and run its materializing count — for a registry body
    * that must finish its pin before it releases a transient input
    * (`Dedup.connectedLabels`). If the count fails, the cache
    * registration must not outlive the failed compute: an entry that
    * never reaches the registry would be an unmanaged pin.
    */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    df.cache()
    try df.count()
    catch { case t: Throwable => df.unpersist(blocking = false); throw t }
    df
  }

  /** Re-root `df` on its own InMemoryRelation: after `cache()` +
    * materialization, the analyzed-with-cache-substitution plan of the
    * memo frame is exactly the IMR leaf. Falls back to the original frame
    * if substitution didn't take (cache raced away). IMR stats survive
    * (post-materialization, accurate), so downstream broadcast decisions
    * are unchanged-or-better.
    *
    * Post-eviction behavior: if the registry evicts the original frame
    * (unpersist + CacheManager entry removed) while a consumer still
    * holds the compacted leaf, re-executing that leaf rebuilds through
    * the IMR's own CachedRDDBuilder, which re-persists the buffers with
    * no CacheManager entry. That storage is untracked by the manager but
    * BOUNDED — the builder memoizes its buffer RDD, so repeated actions
    * reuse one block set, reclaimed by the ContextCleaner once the frame
    * is unreferenced (MemoEvictionSpec pins the one-block-set bound).
    */
  private[graft] def compact(df: DataFrame): DataFrame =
    DfLru.relation(df) match {
      case Some(imr) =>
        org.apache.spark.sql.graftbridge.Bridge.ofRows(df.sparkSession, imr)
      case None => df
    }

  /** Live entry count (leak-tripwire spec hook). */
  def size: Int = cache.size

  /** Bytes charged to the live entries (leak-tripwire spec hook). */
  private[graft] def bytes: Long = cache.bytes

  /** Persisted RDDs the registry owns (leak-tripwire spec hook). */
  private[graft] def rddIds: Set[Int] = cache.rddIds
}
