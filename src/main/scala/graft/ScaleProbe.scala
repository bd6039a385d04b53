package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve evidence for the 100 TB design claims: replicate the sf0.1
  * tables 4x and 16x (ids remapped so keys stay unique, document text
  * re-tokenized per replica so dedup ops see distinct-but-plausible
  * corpora), run headline shuffle-heavy operators at each scale, and
  * report the growth ratios. A plan that survives 100 TB
  * should grow roughly linearly here (constant factors amortize, shuffles
  * stay keyed, nothing collects to the driver); an operator hiding a
  * quadratic pair blow-up or a driver-side bottleneck shows up as a
  * super-linear ratio long before a cluster run would.
  *
  * `runMain graft.ScaleProbe [sfDir] [outDir]` — prints one JSON line:
  * `{"op":{"x1":s,"x4":s,"x16":s,"rows_x16":n,"ratio":r}, ...}` where
  * `ratio` is x16/x1 warm seconds (ideal linear scaling on fixed cores
  * = 16.0; below that means fixed overheads still dominate at x16).
  * Not part of the driver gate — a diagnostic harness. */
object ScaleProbe {

  /** Replication factors to sweep; `SPARK_GRAFT_SCALE_FACTORS` (comma
    * list, e.g. "1,64") overrides — the x64 spot-check that decides
    * whether a high x16 ratio is fixture density (flattens) or genuine
    * growth (doesn't). */
  private val Factors = sys.env.get("SPARK_GRAFT_SCALE_FACTORS")
    .map(_.split(",").map(_.trim.toInt).toSeq)
    .getOrElse(Seq(1, 4, 16))

  /** Replicate `df` k-fold. Long id columns in `remap` become
    * `id + maxId * rep` (unique per replica, originals preserved at rep 0);
    * `perturb` rewrites replica rows so content-keyed operators (dedup)
    * see distinct corpora rather than k exact copies. */
  private def replicate(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rep", explode(sequence(lit(0), lit(k - 1))))

  /** Bump when the generator below changes shape: the marker name carries
    * the version, so stale pre-change fixture dirs regenerate instead of
    * silently measuring against data the code no longer describes. */
  private val GenVersion = 5

  private def writeScaled(spark: SparkSession, sfDir: String, outDir: String,
                          k: Int): String = {
    val dir = s"$outDir/x$k"
    val done = new java.io.File(s"$dir/_done_v$GenVersion")
    if (done.exists()) return dir
    // static dims: copied untouched (they're broadcast-destined; a bigger
    // fact side is exactly the asymmetry a warehouse grows with)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.open(spark, s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // Fact tables land range-clustered on their natural key across many
    // files — the layout a real warehouse ingest produces (TPC-H dbgen
    // emits lineitem in orderkey order; event logs arrive time-ordered).
    // Without it, same-key rows scatter and map-side partial aggregation
    // degenerates: a replica written as 3 unclustered files made q18's
    // partial agg emit ~1 row per input row (9.6M instead of 2.4M).
    val parts = 32
    val li = Tables.open(spark, s"$sfDir/lineitem.parquet")
    val ord0 = Tables.open(spark, s"$sfDir/orders.parquet")
    // offset over BOTH tables' max key: an order with no lineitems would
    // otherwise push max(o_orderkey) past a lineitem-only offset and make
    // replica o_orderkeys collide across reps, silently corrupting the
    // scaled fixture's join integrity
    val maxOk = math.max(
      li.agg(max(col("l_orderkey"))).head().getLong(0),
      ord0.agg(max(col("o_orderkey"))).head().getLong(0)) + 1
    replicate(li, k)
      .withColumn("l_orderkey", col("l_orderkey") + lit(maxOk) * col("rep"))
      .drop("rep")
      .repartitionByRange(parts, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    replicate(ord0, k)
      .withColumn("o_orderkey", col("o_orderkey") + lit(maxOk) * col("rep"))
      .drop("rep")
      .repartitionByRange(parts, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val ev = Tables.open(spark, s"$sfDir/events.parquet")
    val maxEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    replicate(ev, k)
      // same users generate k-fold traffic (denser sessions — the
      // realistic growth mode); event ids stay unique, timestamps may
      // collide, which every event operator already tolerates
      .withColumn("event_id", col("event_id") + lit(maxEv) * col("rep"))
      .drop("rep")
      .repartitionByRange(parts, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val docs = Tables.open(spark, s"$sfDir/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    replicate(docs, k)
      .withColumn("doc_id", col("doc_id") + lit(maxDoc) * col("rep"))
      // suffix tokens with the replica index so replicas are distinct
      // content, not copies — EXCEPT a deterministic ~1/6 of the
      // vocabulary (md5-low-32 % 6 == 0), which stays shared across all
      // replicas. Real corpora keep their stopwords as they grow: a
      // scaled corpus whose every token is replica-private has no
      // corpus-dense terms at all, which is the artificial part — the
      // shared slice restores Zipf-hot posting lists (what tfidf's
      // df-cap prunes) while <1% of 3-token shingles survive intact, so
      // dedup corpora still grow in genuine content. The FIRST token is
      // always suffixed: without that, a short doc whose every token is
      // shared replicates into 16 exact copies, and the dedup probes
      // measure output growth (16-wide dup cliques), not scaling
      .withColumn("text", when(col("rep") === 0, col("text"))
        .otherwise(array_join(zip_with(
          split(trim(col("text")), "\\s+"),
          sequence(lit(1), size(split(trim(col("text")), "\\s+"))),
          (t, i) => when(i > 1 &&
              conv(substring(md5(t), 25, 8), 16, 10).cast("long") % 6 === 0, t)
            .otherwise(concat(t, lit("_"), col("rep")))), " ")))
      // re-derive the length column for rewritten replicas only
      .withColumn("n_chars", when(col("rep") === 0, col("n_chars"))
        .otherwise(length(col("text")).cast("long")))
      .drop("rep")
      .repartitionByRange(parts, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = Tables.open(spark, s"$sfDir/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    replicate(emb, k)
      .filter(col("rep") === 0 ||
        col("vec_id") >= graft.queries.EmbeddingQueries.NQueries) // one query set
      .withColumn("vec_id", col("vec_id") + lit(maxVec) * col("rep"))
      // Replica vectors are NEW points on the same manifold, not clones
      // (GenVersion 5): deterministic per-coordinate uniform jitter
      // (hash-derived, ±0.25 against the unit norm → cos ≈ 0.6 to the
      // source point), then re-normalize so the unit-norm property the
      // quantizers assume survives. EXACT clones made every ANN recall
      // row at x-scale a vec_id tie-break lottery — the true top-k was
      // 255 identical copies of one vector and recall read exactly 0 or
      // 1 per query (measured r11) — the embedding analog of the
      // token-suffix perturbation documents get above.
      .withColumn("__e", expr(
        """transform(embedding, (x, j) -> cast(x +
          |  0.25 * ((pmod(hash(vec_id, rep, j), 2001) - 1000) / 1000.0)
          |  as float))""".stripMargin))
      .withColumn("__n", expr(
        "sqrt(aggregate(__e, cast(0.0 as double), (a, x) -> a + cast(x as double) * x))"))
      .withColumn("embedding", when(col("rep") === 0, col("embedding"))
        .otherwise(expr("transform(__e, x -> cast(x / __n as float))")))
      .drop("rep", "__e", "__n")
      .repartitionByRange(parts, col("vec_id"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    done.getParentFile.mkdirs(); done.createNewFile()
    // the dir's contents just changed: drop any scalar counts memoized
    // against it in this session (they size caps/pools/broadcast gates)
    graft.queries.CountMemo.evict {
      case (_, d: String) => d == dir
      case _ => false
    }
    dir
  }

  /** Default: the headline shuffle-heavy set. `SPARK_GRAFT_SCALE_OPS` (a
    * comma list) widens the sweep — e.g. every TPC-H analog when hunting
    * join-strategy decay, or a single op when bisecting one. */
  private val Ops = sys.env.get("SPARK_GRAFT_SCALE_OPS")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq(
      "q1_pricing_summary", "q18_bulky_orders", "q21_waiting_supp",
      "evt_sessionize", "evt_daily_rollup_approx", "evt_retention",
      "doc_dedup_exact", "doc_minhash_lsh", "doc_substring_dedup",
      // impact-pruned production path (posting cap 1024 via the TopK
      // partial agg): the exact join's x16→x64 segment ran ~1.25x over
      // linear on the scaled fixture's dense posting tail — the capped
      // path reads x64/x1 = 3.1 with the SAME top-k output at x64
      // (doc_tfidf_recall oracles the cost); the exact join stays
      // available via SPARK_GRAFT_SCALE_OPS=doc_tfidf_knn
      "doc_tfidf_capped", "emb_knn_brute",
      // prefix-filtered set-similarity, CAPPED production path: the
      // posting cap bounds per-token candidate fan-out where the exact
      // join's cost rides the densest posting (measured: replica-shared
      // shingles at x64 reach df≈450 = ~100k pairs each) — growth here
      // means the cap stopped binding or the verify stopped being
      // candidate-bounded. The exact join stays available via
      // SPARK_GRAFT_SCALE_OPS=doc_setsim_join; its recall cost is the
      // oracled doc_setsim_recall row
      "doc_setsim_capped",
      // composite-blocked fuzzy dedup: LSH band collisions keep candidates
      // ~linear where the exact operator's length-band key is quadratic-ish
      // on tight length distributions; decay here means band collisions
      // went corpus-dense
      "doc_fuzzy_blocked",
      // q9 joins the fact to the derived (fact-scale) partsupp: on the
      // watchlist since r6, when its partsupp broadcast hint was removed —
      // a replan back to a partsupp broadcast would decay here first
      "q9_product_profit",
      // bucketized range join (multitouch shares the shape): candidates are
      // bounded by events-per-(user,bucket) — decay means bucket occupancy
      // went dense and the hash join degenerated toward all-pairs per key
      "evt_interval_join",
      // the two that HAVE shown super-linear growth here (q18's fact
      // broadcast, semDedup's fixed-cell pair pass) stay on the default
      // watchlist so regressions resurface immediately
      "emb_semdedup",
      // partial-aggregating top-k: the shuffle must stay |groups| x k —
      // decay means the partial stopped combining (e.g. an encoder change
      // silently demoting ObjectHashAggregate to a sort-based fallback)
      "evt_topk_agg",
      // CDF exact quantiles: the (type, value) count shuffle compresses
      // with value cardinality; decay means the map-side combine is gone
      // or the per-type window started sorting raw rows
      "evt_exact_quantiles",
      // windowed funnel: the per-user fold replaces the quadratic EXISTS
      // chain — decay means the collect_list sort stopped being bounded
      // by per-user event volume (or a join crept back into the plan)
      "evt_window_funnel",
      // inverted index: the posting cap must ride the TopK partial agg —
      // decay means a hot term's full posting list started shipping
      "doc_inverted_index",
      // sharded HNSW: per-shard graph build is O(shard log shard)-ish and
      // the gather is |queries| x shards x k rows — decay means the build
      // went super-linear (ef explosion on dense shards) or the rerank
      // stopped being candidate-bounded
      "emb_hnsw_search",
      // two-level t-digest rollup: the exchange carries O(groups x δ)
      // digests — decay means the partial agg stopped combining and raw
      // values started shipping
      "evt_tdigest",
      // gear CDC: one narrow O(bytes) pass, no exchange at all — any
      // super-linear growth is a plan regression (e.g. the chunk explode
      // picking up a shuffle)
      "doc_cdc_gear",
      // PCA: the exchange carries 4096 covariance cells per partition —
      // decay means the outer-product explode stopped partial-aggregating
      "emb_pca",
      // time-series search: the day-grid is users x days (constant under
      // the same-users growth mode) — decay means the dense grid started
      // scaling with events instead of with the series domain
      "evt_ts_search",
      // incremental rollup: both legs partial-aggregate and the merge
      // unions STATE tables — decay means events started flowing through
      // the union instead of aggregate rows
      "evt_incremental_rollup",
      // classifier eval: the windows run over <= 1e6+1 distinct scores —
      // decay means a window slipped back onto the document grain
      "doc_classifier_eval",
      // scene cuts: per-doc frame windows, video bytes never shuffle —
      // decay means the decode expression stopped collapsing in-row
      "media_scene_cuts",
      // item-item similarity: pair emission is capped at C²/2 per user —
      // decay means the cap stopped binding (or the marginal joins fell
      // back to sort-merge and the cooc table stopped partial-aggregating)
      "evt_item_sim",
      // triangles: fan-out rides oriented out-degree (O(m^1.5) bound) —
      // decay means a hub vertex's wedges went quadratic (orientation
      // broken) or the close join degenerated
      "evt_triangles",
      // decontaminated split: should track minhash dedup plus a narrow
      // pass — decay means the label join stopped being dedup-bounded
      "doc_split_decontam"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1)
      else sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-scale"
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale")
    // apples-to-apples across scales: semDedup's label-cell→k-means size
    // gate would otherwise switch algorithms between x1 and x16, making
    // the ratio compare two different approximations
    spark.conf.set(GraftConf.DedupMaxLabelCellVecs.key, "0")
    spark.range(1000).selectExpr("sum(id)").collect()
    val dirs = Factors.map(k => k -> writeScaled(spark, sfDir, outDir, k)).toMap
    // The fixture-write phase (first run only) leaves shuffle files,
    // broadcast blocks and a dirty heap behind; without a collection the
    // FIRST timed operator pays that debt and the x1 point inflates (seen
    // as x4 < x1 — impossible under clean conditions). Same hygiene as
    // Bench's periodic untimed GC.
    System.gc()
    // Each point rides BenchSampler.steady: the same starvation/GC-storm/
    // external-load detectors as Bench, with auto-re-probe (best-of) when a
    // sample is dirty — the watchlist previously carried ±30% single-run
    // noise and needed manual re-probing when the host was contended.
    BenchSampler.install(spark)
    val hostCores = Runtime.getRuntime.availableProcessors
    val retryBudget = new java.util.concurrent.atomic.AtomicLong(
      sys.env.getOrElse("SPARK_GRAFT_RETRY_BUDGET", "600").toLong * 1000L)
    // Every sample EVICTS the query-layer memo store first: several
    // operators memoize their expensive intermediates (minhash pair table,
    // setsim shingle/pair tables, TF-IDF index), which is the right serving
    // behavior but would turn a scaling probe into a cached-read timing —
    // the ratio must measure the COMPUTE's growth, not the cache's.
    def time(op: String, dir: String): (BenchSampler.Sample, Int, Seq[String]) = {
      val fn = SparkEntry.queries(op)
      def once(): Unit = {
        graft.queries.MemoCache.evict(spark, _ => true)
        fn(spark, dir).queryExecution.toRdd.count(): Unit
      }
      once() // cold: plan+codegen
      BenchSampler.steady(hostCores, extThreshold = 0.15, minWall = 0.3,
        maxRetries = 3, budget = retryBudget)(once())
    }
    val kLo = Factors.min
    val kHi = Factors.max
    val report = Ops.map { op =>
      System.gc() // per-op hygiene: prior op's shuffle/broadcast debris
      val secs = Factors.map { k =>
        val (s, retries, reasons) = time(op, dirs(k))
        System.err.println(f"[scale] $op x$k warm=${s.wall}%.2f " +
          f"self=${s.selfRatio}%.1f tcpu=${s.taskCpuFrac}%.2f retries=$retries" +
          (if (reasons.nonEmpty) s" DIRTY=${reasons.mkString("+")}" else ""))
        k -> (s, retries, reasons)
      }.toMap
      val rows = SparkEntry.queries(op)(spark, dirs(kHi)).count()
      op -> (secs, rows)
    }
    val json = report.map { case (op, (s, rows)) =>
      val points = Factors.map { k =>
        val (smp, retries, reasons) = s(k)
        f""""x$k":${smp.wall}%.3f,"x${k}_q":{"self":${smp.selfRatio}%.1f,""" +
          f""""tcpu":${smp.taskCpuFrac}%.2f,"ext":${smp.ext}%.2f,"gc":${smp.gcMs},""" +
          f""""r":$retries,"clean":${reasons.isEmpty}}"""
      }.mkString(",")
      // a failed endpoint (wall = -1) voids the ratio: emit null so a
      // threshold consumer sees "not measured", never a negative pass
      val lo = s(kLo)._1.wall; val hi = s(kHi)._1.wall
      val ratio = if (lo > 0 && hi >= 0) f"${hi / lo}%.2f" else "null"
      f""""$op":{$points,"rows_x$kHi":$rows,"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    println(json)
    spark.stop()
  }
}
