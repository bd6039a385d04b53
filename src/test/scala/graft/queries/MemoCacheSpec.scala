package graft.queries

import graft.{GraftConf, SparkSpec}
import org.apache.spark.storage.StorageLevel

/** The bounded memo store: sweeping more (dataset, config) keys than the
  * cap must evict the least-recently-used entries AND free their
  * cluster-side storage, while results stay bit-identical before/after
  * eviction (an evicted intermediate recomputes; it never changes). */
class MemoCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val sfSmall = "/root/testdata/sf0.001"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("LRU eviction unpersists cached frames; results survive bit-identical") {
    import spark.implicits._
    val baseline = DocQueries.neardupJaccard(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(baseline.nonEmpty)
    // the memoized frame is the shared scored-pair table (neardupJaccard
    // itself is a cheap filter over it and is deliberately NOT cached)
    val pairsDf = DocQueries.scoredPairs(spark, sf)
    assert(pairsDf.storageLevel !== StorageLevel.NONE,
      "memoized pair table must be Spark-cached while resident")
    // sweep more model keys than the cap (default 8) — each distinct
    // vocabCap is a fresh (dataset, cap) entry, pushing the pair table
    // (oldest, never re-accessed) out of the LRU
    val lmBaseline = withConf(GraftConf.LmVocabCap.key, "1") {
      DocQueries.unigramLm(spark, sfSmall)
        .as[(Long, Int, Option[Double])].collect().toSet
    }
    (2 to 10).foreach { cap =>
      withConf(GraftConf.LmVocabCap.key, cap.toString) {
        DocQueries.unigramLm(spark, sfSmall).queryExecution.toRdd.count()
      }
    }
    assert(MemoCache.size <= 8, s"cache must stay bounded, got ${MemoCache.size}")
    assert(pairsDf.storageLevel === StorageLevel.NONE,
      "evicted entry's cached frame must be unpersisted")
    // recompute after eviction reproduces the original bit-for-bit
    val again = DocQueries.neardupJaccard(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(again === baseline)
    // an evicted BROADCAST entry's old handle also still works (eviction
    // unpersists executor copies; the driver copy re-ships on demand) —
    // the race-safety contract that lets eviction run under live queries
    val lmAgain = withConf(GraftConf.LmVocabCap.key, "1") {
      DocQueries.unigramLm(spark, sfSmall)
        .as[(Long, Int, Option[Double])].collect().toSet
    }
    assert(lmAgain === lmBaseline)
  }

  test("frame: resident frames are cached MEMORY_AND_DISK; LRU eviction unpersists") {
    MemoCache.evict(spark, _ => true)
    withConf(GraftConf.MemoMaxEntries.key, "2") {
      val a = MemoCache.frame(spark, ("memo-spec-frame", 1))(spark.range(50).toDF("x"))
      assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
      // a build that persists its own result keeps that level
      val eager = spark.range(60).toDF("x").persist(StorageLevel.MEMORY_ONLY)
      val b = MemoCache.frame(spark, ("memo-spec-frame", 2))(eager)
      assert(b.storageLevel === StorageLevel.MEMORY_ONLY)
      assert(MemoCache.frame(spark, ("memo-spec-frame", 1))(sys.error("must hit memo")) eq a)
      // a third key evicts the least-recently-used entry: key 2, since key 1
      // was just read
      MemoCache.frame(spark, ("memo-spec-frame", 3))(spark.range(70).toDF("x"))
      assert(b.storageLevel === StorageLevel.NONE, "evicted frame must be unpersisted")
      assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
    }
    MemoCache.evict(spark, _ => true)
  }

  test("frame: a plan rebuilt under a new key after its twin's eviction stays cached") {
    // The CacheManager keys cached data by plan. Room must be made BEFORE
    // the build is cached: caching first would no-op against the twin, and
    // the twin's release would then uncache the new frame.
    MemoCache.evict(spark, _ => true)
    def twin = spark.range(80).toDF("x").selectExpr("x * 3 AS y")
    withConf(GraftConf.MemoMaxEntries.key, "1") {
      val first = MemoCache.frame(spark, ("memo-spec-twin", 1))(twin)
      assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)
      val second = MemoCache.frame(spark, ("memo-spec-twin", 2))(twin)
      assert(MemoCache.size === 1)
      assert(second.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "evicting the twin must not uncache the frame built after it")
      assert(second.count() === 80)
    }
    MemoCache.evict(spark, _ => true)
  }

  test("unpersistLocalCheckpoint frees the checkpoint RDD's storage") {
    val df = spark.range(100).toDF("x").localCheckpoint()
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty, "localCheckpoint must plan as a LogicalRDD leaf")
    assert(rdds.exists(_.getStorageLevel !== StorageLevel.NONE))
    MemoCache.unpersistLocalCheckpoint(df)
    assert(rdds.forall(_.getStorageLevel === StorageLevel.NONE))
  }

  test("memo disabled (maxEntries=1, every insert evicts) is results-neutral") {
    import spark.implicits._
    // memo-resident reference: the fuzzy-recall row aggregates two memoized
    // pair tables, the deepest cross-query sharing chain in the suite
    val resident = DocQueries.fuzzyRecall(spark, sf)
      .as[(Long, Long, Option[Double])].collect().toSet
    MemoCache.evict(spark, _ => true)
    // memo effectively OFF: the bound clamps to one slot, so every insert
    // evicts the previous entry — no intermediate survives to be shared
    // across (or even within) queries. Results must be bit-identical: the
    // memo layer is a cost optimization, never a semantic one, and it owns
    // NO storage beyond session-lifetime cluster memory (nothing on disk,
    // nothing across sessions — this is the guardrail against result
    // caching that would survive a fresh run).
    val offline = withConf(GraftConf.MemoMaxEntries.key, "0") {
      DocQueries.fuzzyRecall(spark, sf)
        .as[(Long, Long, Option[Double])].collect().toSet
    }
    assert(offline === resident)
    assert(MemoCache.size <= 1, "maxEntries=0 must clamp the bound to 1")
    MemoCache.evict(spark, _ => true)
  }

  test("memoized values never persist to disk paths (session-only storage)") {
    // Every release action is an unpersist of session-scoped cluster
    // storage; no MemoCache entry writes files. Probe: populate an entry,
    // then assert the session's persistent RDDs are the ONLY storage the
    // memo added, and that they are memory/disk CACHE levels (spill-safe
    // scratch), never an external path. A fresh lookup after evict(_ =>
    // true) must RECOMPUTE (miss), proving nothing was read back from
    // anywhere outside the store.
    DocQueries.neardupJaccard(spark, sf).queryExecution.toRdd.count()
    val (h0, m0) = MemoCache.lookupCounts
    DocQueries.neardupJaccard(spark, sf).queryExecution.toRdd.count()
    val (h1, m1) = MemoCache.lookupCounts
    assert(h1 > h0 && m1 === m0, "second invocation must be a pure memo hit")
    MemoCache.evict(spark, _ => true)
    assert(MemoCache.size === 0)
    DocQueries.neardupJaccard(spark, sf).queryExecution.toRdd.count()
    val (_, m2) = MemoCache.lookupCounts
    assert(m2 > m1, "post-evict invocation must recompute, not read back")
  }

  test("stopped-session sweep and explicit evict drop matching entries") {
    // explicit eviction by key predicate releases and removes the entry
    val key = ("memo-spec-probe", "k1")
    var released = 0
    MemoCache.getOrElseUpdate(spark, key)(42)(_ => released += 1)
    MemoCache.getOrElseUpdate(spark, key)(sys.error("must hit memo"))(_ => ())
    MemoCache.evict(spark, _ == key)
    assert(released === 1, "evict must run the entry's release action")
    // re-insert recomputes
    var computed = false
    MemoCache.getOrElseUpdate(spark, key)({ computed = true; 7 })(_ => ())
    assert(computed)
    MemoCache.evict(spark, _ == key)
  }
}
