package graft.queries

import graft.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The ONE bounded memo store behind every query-layer memoization
  * (near-dup pair table, LM/DSIR/CMS models, BPE merge tables, TF-IDF
  * index, rolling-sketch tables). Each entry carries a release action that
  * frees its cluster-side storage (cached-DataFrame `unpersist`, broadcast
  * executor copies) when the entry leaves the cache, so a long-lived
  * session sweeping many (dataset, config) keys holds at most
  * `spark.graft.memo.maxEntries` (default 8) materialized intermediates.
  *
  * Policy — which tool holds what:
  *  - [[frame]] for a reusable DataFrame that several queries (or several
  *    reads of one query) share. The frame is `cache()`d, so it keeps its
  *    lineage: a lost partition recomputes from the source tables.
  *  - [[getOrElseUpdate]] with an explicit release for everything else
  *    worth sharing: broadcasts, tuples of frames, driver-side values.
  *  - `localCheckpoint` to cut per-invocation iterative lineage (trainer
  *    loops, rank iterations). It drops lineage, so it is memoized only
  *    where the table is sketch-sized and cheap to rebuild (the rolling
  *    sketch tables), released with [[unpersistLocalCheckpoint]].
  *  - [[CountMemo]] for scalars that size operator knobs.
  *
  * The contract, after the cross-query reuse of session intermediates in
  * the incremental top-k work (EDBT 2020): bounded (LRU plus a sweep of
  * stopped sessions), in-session only (every value lives in the session's
  * cluster or driver memory, nothing is written for a later run) and
  * results-neutral (an evicted or disabled memo recomputes the same rows;
  * MemoCacheSpec pins this with the memo clamped to one slot).
  *
  * Eviction policy: least-recently-USED (access-ordered), plus an eager
  * sweep of entries whose owning session has stopped (their storage died
  * with the session; only the driver-side reference needs dropping).
  *
  * Release uses NON-BLOCKING unpersist, never `Broadcast.destroy`: a
  * concurrently running job may still hold the evicted handle, and
  * unpersist is safe under that race (a cached frame recomputes, a
  * broadcast re-ships from the driver copy) while destroy would fail the
  * job. Dropping the strong reference here is what lets the
  * ContextCleaner reclaim the driver copy too once nothing else points at
  * it — same end state as destroy, without the race.
  */
private[graft] object MemoCache {

  private final case class Entry(value: Any, release: () => Unit)

  /** Access-ordered: `get` moves an entry to the tail, so the head is LRU. */
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, Any), Entry](16, 0.75f, true)

  // Lookup counters, exposed so the bench can stamp each timed sample with
  // memo provenance: a "warm" number over a memo-hit run and a "warm" number
  // that recomputed an evicted intermediate answer different questions, and
  // the artifact must say which one it is (r9 demerit: doc_fuzzy_dedup read
  // 13.1 s session-warm post-eviction vs 2.3 s memo-resident, both "clean").
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] def lookupCounts: (Long, Long) = (hitCount.get, missCount.get)

  private def releaseQuietly(e: Entry): Unit =
    try e.release() catch { case _: Throwable => }

  /** Release and drop least-recently-used entries until at most `limit`
    * remain. */
  private def evictBeyond(limit: Int): Unit =
    while (entries.size() > limit) {
      val it = entries.entrySet().iterator()
      releaseQuietly(it.next().getValue)
      it.remove()
    }

  private def sweepStopped(): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey._1.sparkContext.isStopped) it.remove()
  }

  /** Memoize `compute` under (session, key). On insert past the bound, the
    * least-recently-used entry is released and dropped. Reentrant (a
    * compute may itself consult the cache). */
  def getOrElseUpdate[V](spark: SparkSession, key: Any)
                        (compute: => V)(release: V => Unit): V = synchronized {
    sweepStopped()
    val k = (spark, key)
    val hit = entries.get(k)
    if (hit != null) { hitCount.incrementAndGet(); hit.value.asInstanceOf[V] }
    else {
      missCount.incrementAndGet()
      // Make room BEFORE running compute, not after: a recomputed entry
      // often carries the SAME logical plan as the LRU entry about to be
      // evicted (e.g. the shared words table rebuilt after cap churn), and
      // the CacheManager keys cached data by plan — caching first would
      // no-op against the old entry ("already cached" warning) and the
      // old entry's release would then silently UNREGISTER the new
      // frame's cache, leaving the memoized value uncached for its whole
      // residency. Reentrant computes (nested getOrElseUpdate) each make
      // their own room under the same lock.
      val max = math.max(1, GraftConf.MemoMaxEntries.get(spark))
      evictBeyond(max - 1)
      val v = compute
      entries.put(k, Entry(v, () => release(v)))
      // Backstop for reentrant computes that inserted while this frame's
      // slot was reserved only implicitly: the bound must hold on exit.
      // (Different keys rarely share a plan, so the same-plan hazard the
      // pre-eviction removes does not reappear here.)
      evictBeyond(max)
      v
    }
  }

  /** Memoize a reusable DataFrame under (session, key), the one storage
    * and release rule for memoized frames: on a miss, after
    * [[getOrElseUpdate]] has made room, `build` runs and its result is
    * `cache()`d at the session's default level (MEMORY_AND_DISK: nothing
    * sets `spark.sql.defaultCacheStorageLevel`); eviction releases it with
    * a non-blocking `unpersist`. A build that materializes its result
    * eagerly (persist + count) is kept as it is, not cached twice. */
  def frame(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    getOrElseUpdate(spark, key) {
      val df = build
      if (df.storageLevel == StorageLevel.NONE) df.cache() else df
    }(_.unpersist(blocking = false))

  /** Release + drop every entry of `spark` whose key matches — explicit
    * invalidation for superseded config variants of the same dataset. */
  def evict(spark: SparkSession, matches: Any => Boolean): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getKey._1 eq spark) && matches(e.getKey._2)) {
        releaseQuietly(e.getValue)
        it.remove()
      }
    }
  }

  /** Free the storage behind a `localCheckpoint`ed frame: the data lives in
    * the checkpoint RDD under the plan's LogicalRDD leaf (Dataset.unpersist
    * only consults the CacheManager and would be a no-op here). */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  private[graft] def size: Int = synchronized(entries.size())
}

/** Per-(session, key) memo for cheap SCALAR counts (corpus row counts,
  * distinct-key counts) that size operator knobs — broadcast gates,
  * posting caps, rerank pools. Deliberately NOT [[MemoCache]]: a long is
  * too cheap to spend one of its 8 LRU slots on, and eviction churn there
  * would force pointless recount jobs. Values are 8 bytes; stopped
  * sessions are swept on insert. One definition — the sweep/locking
  * logic previously lived in four per-file copies. */
private[graft] object CountMemo {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), java.lang.Long]
  def getOrCompute(spark: SparkSession, key: Any)(compute: => Long): Long = {
    counts.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (spark, key)
    val hit = counts.get(k)
    if (hit != null) hit.longValue()
    else {
      // compute OUTSIDE the map's bin lock: a Spark count job inside
      // computeIfAbsent would block concurrent first accesses on the same
      // stripe for the job's duration and throw on reentrant lookups; a
      // rare duplicate count under a race is cheaper than either.
      val v = java.lang.Long.valueOf(compute)
      val prev = counts.putIfAbsent(k, v)
      (if (prev != null) prev else v).longValue()
    }
  }

  /** Drop cached counts whose key matches — REQUIRED whenever a dataset
    * dir is rewritten in-session (fixture regeneration, plant writes): a
    * stale count silently sizes posting caps, rerank pools and broadcast
    * gates, and `MemoCache.evict` does not touch this store. */
  def evict(matches: Any => Boolean): Unit =
    counts.keySet.removeIf(e => matches(e._2)): Unit
}
