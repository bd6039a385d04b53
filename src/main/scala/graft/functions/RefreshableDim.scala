package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.reflect.ClassTag

/** Hot-reloadable enrichment dimension (reference
  * `ip2geo/ExternalDatabaseLookupService.java:41-154`: a filesystem watcher
  * atomically swaps the MaxMind reader under live traffic).
  *
  * Spark-native analog: the dimension is a parquet path; every lookup
  * checks the path's content stamp (file names + sizes + mtimes — robust
  * to coarse mtime granularity and to overwrites that change part-file
  * names) and re-reads + re-caches ONLY when it changed. A streaming
  * pipeline calls [[current]] inside `foreachBatch`, so a republished
  * database is picked up at the next micro-batch boundary without a query
  * restart — the reference's atomic-swap semantics moved to the batch
  * boundary, which is where Spark's execution model provides atomicity
  * (mid-batch tasks keep the broadcast they started with, exactly like
  * in-flight requests keeping the old reader during the reference's swap).
  *
  * A restart re-broadcasts from scratch, so this is purely a latency
  * optimization for long-lived sessions; correctness never depends on it.
  */
object RefreshableDim {

  private final case class Entry(stamp: String, df: DataFrame)
  // Keyed by SparkContext, NOT SparkSession: foreachBatch hands operators a
  // DataFrame bound to MicroBatchExecution's cloned session, and keying by
  // the clone would (a) make invalidate() from the user's session a no-op
  // and (b) leak one entry per query restart (each restart clones anew).
  // Cached data lives in the context's shared CacheManager anyway, so the
  // context is the correct sharing scope; the stored DataFrame carries the
  // session that first read it and executes fine from sibling sessions.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.SparkContext, String), Entry]
  // Serializes swaps (stamp-change refreshes only — the stamp-match fast
  // path stays lock-free): two concurrent refreshes of the same key would
  // otherwise both derive (leaking whichever value loses the put) and both
  // release the same stale value.
  private val swapLock = new Object

  /** Content stamp of a parquet dir (or single file). */
  private def stampOf(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
      .filterNot(_.getName.startsWith("_"))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString("|")
  }

  /** The current dimension frame for `path`: cached until the underlying
    * files change, then re-read, re-cached, and the stale cache dropped.
    * Thread-safe; concurrent callers during a swap may briefly both
    * compute, last write wins (same as the reference's racy-but-safe
    * volatile swap). */
  def current(spark: SparkSession, path: String): DataFrame = {
    cache.filterInPlace((k, _) => !k._1.isStopped)
    val stamp = stampOf(path)
    val key = (spark.sparkContext, path)
    cache.get(key) match {
      case Some(e) if e.stamp == stamp => e.df
      case _ => swapLock.synchronized {
        cache.get(key) match {
          case Some(e) if e.stamp == stamp => e.df
          case stale =>
        // Drop the stale entry FIRST: it was cached from the SAME path, so
        // its plan is the CacheManager's key — caching the re-read before
        // unpersisting would no-op against the stale entry ("already
        // cached" warning) and serve the OLD bytes until the unpersist.
        // The registry removal is synchronous (only block freeing is
        // async), so the re-cache below registers fresh data; a concurrent
        // reader during the gap recomputes from the files — correct, just
        // uncached for that one read.
            stale.foreach(_.df.unpersist(blocking = false))
            val df = graft.Tables.open(spark, path).cache()
            df.count() // materialize BEFORE the swap: lookups never wait on a cold cache
            cache.put(key, Entry(stamp, df))
            df
        }
      }
    }
  }

  private final case class DerivedEntry(stamp: String, value: Broadcast[_])
  private val derivedCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.SparkContext, String, String), DerivedEntry]

  /** Unpersist, never destroy, a superseded broadcast: that frees the
    * executor copies but keeps the driver value re-broadcastable, so an
    * in-flight batch whose closure captured the old broadcast can still
    * lazily read `.value` — `destroy()` would fail those tasks with
    * "Attempted to use Broadcast after it was destroyed". */
  private def release(e: DerivedEntry): Unit =
    try e.value.unpersist(blocking = false) catch { case _: Exception => () }

  /** A broadcast value DERIVED from the current dimension (a Bloom filter,
    * a hash index, …), re-derived and re-broadcast only when the
    * underlying files change — the per-batch refresh check costs one
    * directory stat walk, not a rebuild. On a swap the stale broadcast is
    * unpersisted, never destroyed; in-flight consumers of the old value keep
    * it alive exactly like the reference's in-flight requests keep the old
    * MaxMind reader. */
  def derived[T: ClassTag](spark: SparkSession, path: String, tag: String)
                          (derive: DataFrame => T): Broadcast[T] = {
    val stamp = stampOf(path)
    val key = (spark.sparkContext, path, tag)
    derivedCache.get(key) match {
      case Some(e) if e.stamp == stamp => e.value.asInstanceOf[Broadcast[T]]
      case _ => swapLock.synchronized {
        // re-check under the lock: a racing refresh may have swapped already
        derivedCache.get(key) match {
          case Some(e) if e.stamp == stamp => e.value.asInstanceOf[Broadcast[T]]
          case stale =>
            val bc = spark.sparkContext.broadcast(derive(current(spark, path)))
            derivedCache.put(key, DerivedEntry(stamp, bc))
            stale.foreach(release)
            bc
        }
      }
    }
  }

  /** Drop the cached entry (tests / explicit teardown). */
  def invalidate(spark: SparkSession, path: String): Unit = {
    cache.remove((spark.sparkContext, path)).foreach(_.df.unpersist())
    derivedCache.filterInPlace { case ((c, p, _), e) =>
      val drop = (c eq spark.sparkContext) && p == path
      if (drop) release(e)
      !drop
    }
  }
}
