package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Byte-bounded LRU memo of `(session, key) -> pinned DataFrame` — the
  * one LRU implementation behind [[ScopedMemo]].
  *
  * Each entry is charged its `InMemoryRelation`'s size as measured when
  * it was inserted (after the builder materialized it; an unpinned frame
  * costs 0). After every insert, least-recently-used entries are
  * unpersisted and dropped until the total fits `budget(session)` — the
  * entry just inserted is never the victim, so one oversized entry
  * still memoizes, alone. Consumers still holding an evicted frame stay
  * correct (the plan simply recomputes); they just lose the memo.
  * Stopped-session keys are purged on every access, so a dead session
  * can't stay pinned.
  *
  * Map access is synchronized on the underlying map, but compute bodies
  * run OUTSIDE the lock (some bodies are eager cache()+count() jobs
  * taking seconds — holding the monitor through one would block lookups
  * for every unrelated key/session). A per-key in-flight table gives
  * single-flight semantics: concurrent callers of the SAME key wait on
  * the first builder's future; callers of OTHER keys proceed
  * immediately. If a builder fails, waiters retry the compute
  * themselves — a failure never caches.
  */
final class DfLru(budget: SparkSession => Long) {
  import DfLru.Entry

  private val m = new java.util.LinkedHashMap[(SparkSession, String), Entry](
    16, 0.75f, /* accessOrder = */ true)

  private val inFlight = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.CompletableFuture[DataFrame]]()

  /** Memoized lookup: returns the cached instance for `k`, computing (and
    * LRU-inserting) it on first touch. Single-flight per key; the compute
    * body never runs under the map monitor.
    */
  @annotation.tailrec
  def getOrCompute(k: (SparkSession, String), f: => DataFrame): DataFrame = {
    // registration is lazy (first lookup), NOT in the constructor: a
    // constructor-time register published `this` before the map/inFlight
    // fields were initialized, so a concurrent clearAll() racing class
    // init could touch a half-constructed instance
    DfLru.register(this)
    val fast = m.synchronized {
      m.keySet.removeIf(e => e._1.sparkContext.isStopped)
      Option(m.get(k)).map(_.df)
    }
    fast match {
      case Some(v) => v
      case None =>
        val mine = new java.util.concurrent.CompletableFuture[DataFrame]()
        val other = inFlight.putIfAbsent(k, mine)
        if (other != null) {
          // another thread is building this key: wait it out, then re-read
          // the map — if the builder failed, the retry computes here
          try other.join()
          catch { case _: java.util.concurrent.CompletionException => () }
          getOrCompute(k, f)
        } else {
          // double-checked single-flight: a thread that missed the fast
          // path BEFORE a previous builder finished can win putIfAbsent
          // AFTER that builder's inFlight.remove — without this re-check
          // it would rebuild the already-memoized key, and the overwritten
          // entry's eagerly cache()d blocks would leak until session stop.
          // On a hit, complete the future with the found value so late
          // waiters observe it too.
          val done = m.synchronized(Option(m.get(k)).map(_.df))
          done match {
            case Some(v) =>
              mine.complete(v)
              inFlight.remove(k)
              v
            case None =>
              try {
                val v = f // OUTSIDE the map lock: may run eager Spark jobs
                insert(k, Entry(v, DfLru.bytesOf(v)))
                mine.complete(v)
                v
              } catch {
                case t: Throwable => mine.completeExceptionally(t); throw t
              } finally inFlight.remove(k)
          }
        }
    }
  }

  private def insert(k: (SparkSession, String), e: Entry): Unit = {
    val sc = k._1.sparkContext
    // the budget is read before taking the monitor: it may ask the block
    // manager master, and no Spark call runs under the map lock
    val limit = if (sc.isStopped) Long.MaxValue else budget(k._1)
    m.synchronized {
      m.put(k, e)
      var total = totalBytes
      val it = m.entrySet.iterator() // eldest (least recently used) first
      while (total > limit && it.hasNext) {
        val victim = it.next()
        if (victim.getKey != k) {
          total -= victim.getValue.bytes
          if (!victim.getKey._1.sparkContext.isStopped) {
            try victim.getValue.df.unpersist(false)
            catch { case _: Throwable => () } // never fail the insert path
          }
          it.remove()
        }
      }
    }
  }

  private def totalBytes: Long = m.values.asScala.map(_.bytes).sum

  /** Current entry count (test and telemetry hook). */
  def size: Int = m.synchronized(m.size())

  /** Bytes charged to the live entries. */
  def bytes: Long = m.synchronized(totalBytes)

  /** Ids of the persisted RDDs holding the live entries' blocks. */
  private[graft] def rddIds: Set[Int] = m.synchronized {
    m.values.asScala.flatMap(e => DfLru.relation(e.df)).map(_.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers.id)
      .toSet
  }

  /** Whether `k` is currently memoized (test hook). */
  def contains(k: (SparkSession, String)): Boolean =
    m.synchronized(m.containsKey(k))

  /** Drop every memoized entry (without unpersisting — callers pair this
    * with `spark.catalog.clearCache()`, which already dropped the blocks).
    */
  def clear(): Unit = m.synchronized(m.clear())
}

object DfLru {
  import org.apache.spark.sql.execution.columnar.InMemoryRelation

  private final case class Entry(df: DataFrame, bytes: Long)

  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[DfLru]()

  // addIfAbsent: called from every getOrCompute (lazy registration), so
  // repeated calls must stay idempotent
  private def register(c: DfLru): Unit = instances.addIfAbsent(c)

  /** Forget every memo in every cache — the measurement-isolation hook
    * ([[graft.ScaleProbe]]): after `spark.catalog.clearCache()` has
    * dropped the cached blocks, a surviving memo would hand out frames
    * whose localCheckpoint'd lineage can no longer recompute, so the
    * memos must go with the blocks.
    */
  def clearAll(): Unit = instances.forEach(_.clear())

  /** The CacheManager entry `df` reads, if it is pinned. */
  private[graft] def relation(df: DataFrame): Option[InMemoryRelation] =
    df.queryExecution.withCachedData match {
      case imr: InMemoryRelation => Some(imr)
      case _ => None
    }

  /** Stored bytes of `df`'s materialized InMemoryRelation; 0 when `df` is
    * not pinned or not built yet.
    */
  private[graft] def bytesOf(df: DataFrame): Long =
    relation(df).map(_.cacheBuilder.sizeInBytesStats.value.longValue)
      .getOrElse(0L)
}
