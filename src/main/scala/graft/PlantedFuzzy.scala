package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-truth recall measurement for the blocked fuzzy-dedup operator
  * at scales where the exact comparison is uncomputable.
  *
  * The problem (r10): `doc_fuzzy_recall` scores the LSH-blocked path
  * against the provably complete length-banded exact join — which is
  * quadratic-ish and died at x256 (1.28M docs, killed after 25 min). The
  * same round's tfidf probe showed why unmeasured recall at the scale
  * where a cap binds is not acceptable: a cap everyone believed safe read
  * recall 0.194 once actually measured. This harness replaces exact-join
  * truth with PLANTED truth: perturbed twins with a controlled edit
  * budget are injected into the corpus, so a known set of
  * ≤K-edit-distance pairs exists BY CONSTRUCTION and recall over them
  * needs no quadratic join — the standard planted-pair protocol for
  * evaluating blocking schemes at scale.
  *
  * The plant: every (doc_id % everyN == 0) source document gets TWO
  * twins, one per edit DISTRIBUTION — `scattered` (each of the `e`
  * substitutions at an independent position, so each tends to destroy its
  * own token's ~3 shingles: the adversarial case for shingle-LSH) and
  * `clustered` (`e` consecutive non-whitespace positions from one start:
  * the organic near-duplicate shape — a rewritten span touches few
  * tokens and leaves most shingles intact). `e` cycles [[EditBuckets]],
  * so the measurement resolves recall BY (edit budget, edit shape)
  * rather than averaging the S-curve away. Substitutions keep length
  * (the length-band residual cannot reject a planted pair). True
  * distance per pair is measured once at plant time (O(plants), not
  * O(n²)) and stored; it is ≤ e by construction (could be less if the
  * edits admit a cheaper alignment) and ≥ 1 (every substituted position
  * differs).
  *
  * What planted recall does and does not claim: it measures the blocked
  * path's hit rate over a CONTROLLED pair distribution spanning the edit
  * spectrum — not over the corpus's organic pair distribution (which at
  * the uncomputable scale is exactly what nothing can enumerate). The
  * per-bucket resolution is the honest form of that limit.
  *
  * `runMain graft.PlantedFuzzy [scaledDir] [plantDir]` — defaults to the
  * ScaleProbe x256 fixture; prints one JSON line with per-bucket recall,
  * the production-regime aggregate, and the probe's timing quality fields
  * (same BenchSampler protocol as [[ScaleProbe]]: memo-evict before every
  * sample, steady-state retry on dirty samples).
  *
  * `FuzzyPlantSpec` pins the generator: determinism, exact substitution
  * count, whitespace/length preservation, distance bounds, and — at a
  * scale where the exact join IS computable — that every planted pair is
  * found by the exact operator (plant truth ⊆ true pairs) and that
  * [[measure]]'s counts match an independent plants∩blocked join. */
object PlantedFuzzy {

  /** Planted edit budgets, cycled round-robin over selected docs. K=40 is
    * the operator default; ≤20 is the documented "genuine near-duplicate"
    * regime, 21-40 the intentionally-missed tail. */
  val EditBuckets: Seq[Int] = Seq(1, 2, 4, 8, 16, 24, 32, 40)

  /** Deterministic `e` single-character substitutions at distinct
    * non-whitespace positions; md5-derived positions/letters (no RNG —
    * same reproducibility posture as the Hnsw level derivation). Length
    * and whitespace structure are preserved; every substituted position
    * differs from the original character.
    *
    * Two edit DISTRIBUTIONS, because LSH recall depends on it far more
    * than on the count (measured: see the x256 artifact): `clustered =
    * false` scatters the e positions uniformly — each edit tends to land
    * in its own token, destroying ~3 shingles per edit, the ADVERSARIAL
    * case for shingle-LSH blocking; `clustered = true` substitutes e
    * CONSECUTIVE eligible positions from one md5-chosen start — the
    * organic near-duplicate shape (a rewritten phrase, a corrupted span),
    * which touches ~e/token_len adjacent tokens and leaves most shingles
    * intact. */
  def perturb(text: String, e: Int, docId: Long,
              clustered: Boolean = false): String = {
    val chars = text.toCharArray
    val eligible = chars.indices.filter(i => !Character.isWhitespace(chars(i))).toArray
    if (eligible.isEmpty) return text
    val n = math.min(e, eligible.length)
    def digest(round: Int): Array[Byte] = graft.functions.Digests.md5Utf8(s"plant:$docId:$round")
    def substitute(idx: Int, d: Array[Byte]): Unit = {
      val letter = ('a' + ((d(8) & 0xff) % 26)).toChar
      chars(idx) =
        if (letter == chars(idx)) { if (letter == 'z') 'a' else (letter + 1).toChar }
        else letter
    }
    if (clustered) {
      val d0 = digest(0)
      var bits = 0L
      var j = 0
      while (j < 8) { bits = (bits << 8) | (d0(j) & 0xffL); j += 1 }
      val start = ((bits >>> 1) % eligible.length).toInt
      var i = 0
      while (i < n) {
        substitute(eligible((start + i) % eligible.length), digest(i))
        i += 1
      }
    } else {
      val used = scala.collection.mutable.HashSet.empty[Int]
      var planted = 0
      var round = 0
      while (planted < n) {
        val d = digest(round)
        var bits = 0L
        var j = 0
        while (j < 8) { bits = (bits << 8) | (d(j) & 0xffL); j += 1 }
        var pos = ((bits >>> 1) % eligible.length).toInt
        // linear-probe to the next unused eligible slot — n <= eligible
        // count, so a free slot always exists
        while (used.contains(eligible(pos))) pos = (pos + 1) % eligible.length
        val idx = eligible(pos)
        used += idx
        substitute(idx, d)
        planted += 1
        round += 1
      }
    }
    new String(chars)
  }

  /** Marker version — bump when the generator changes shape, same policy
    * as ScaleProbe's fixture marker. */
  private val PlantVersion = 2

  /** Build the planted fixture under `outDir`: `documents.parquet` =
    * source corpus + twins (scattered twin at source id + offset,
    * clustered twin at source id + 2*offset), `plants.parquet` =
    * (doc_a, doc_b, e, mode, dist) ground truth with the measured true
    * distance. Idempotent via a done-marker. */
  def plantDocuments(spark: SparkSession, srcDir: String, outDir: String,
                     everyN: Long = 64L): Unit = {
    // outDir == srcDir would have mode("overwrite") truncate the input
    // mid-read (the write plan lazily scans srcDir) and corrupt the
    // source fixture — fail fast on the canonical paths
    require(new java.io.File(outDir).getCanonicalPath !=
        new java.io.File(srcDir).getCanonicalPath,
      s"plant outDir must differ from srcDir (both are $srcDir)")
    // the marker carries everyN: re-running the same outDir with a
    // different plant density must regenerate, not silently measure the
    // stale fixture under a fresh label (ScaleProbe's marker policy)
    val done = new java.io.File(s"$outDir/_planted_v${PlantVersion}_n$everyN")
    if (done.exists()) return
    val docs = Tables.open(spark, s"$srcDir/documents.parquet")
    val twinOffset = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val perturbUdf = udf((text: String, id: Long, e: Int, clustered: Boolean) =>
      perturb(text, e, id, clustered))
    val nb = EditBuckets.length
    val twins = docs
      .filter(pmod(col("doc_id"), lit(everyN)) === 0)
      .withColumn("e", element_at(array(EditBuckets.map(lit): _*),
        (pmod(expr(s"doc_id DIV $everyN"), lit(nb)) + 1).cast("int")))
      .withColumn("mode", explode(array(lit("scattered"), lit("clustered"))))
      .withColumn("twin_id", col("doc_id") +
        when(col("mode") === "scattered", lit(twinOffset))
          .otherwise(lit(2L * twinOffset)))
      .withColumn("twin_text", perturbUdf(col("text"), col("doc_id"),
        col("e"), col("mode") === "clustered"))
    // ground truth with the MEASURED distance (one linear pass over the
    // plants; e <= K so the bounded verify never abandons a planted pair)
    twins.select(
        col("doc_id").as("doc_a"),
        col("twin_id").as("doc_b"),
        col("e"), col("mode"),
        graft.functions.GraftFunctions
          .levenshteinBounded(col("text"), col("twin_text"), EditBuckets.max)
          .cast("long").as("dist"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outDir/plants.parquet")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    docs.select(cols.map(col): _*)
      .union(twins.select(
        col("twin_id").as("doc_id"),
        col("twin_text").as("text"), col("lang"), col("source"),
        length(col("twin_text")).cast("long").as("n_chars")))
      .repartitionByRange(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    done.getParentFile.mkdirs()
    done.createNewFile(): Unit
    // outDir's contents just changed: cached scalar counts keyed on this
    // dir would silently size caps/pools from the pre-write corpus
    graft.queries.CountMemo.evict {
      case (_, dir: String) => dir == outDir
      case _ => false
    }
  }

  /** Per-(edit budget, edit distribution) recall of the blocked operator
    * over the planted truth: one row per (e, mode) with (n_planted,
    * n_found, recall, min/max measured distance). The join is
    * plants-keyed — O(plants), broadcast-sized. */
  def measure(spark: SparkSession, plantedDir: String): DataFrame = {
    val plants = Tables.open(spark, s"$plantedDir/plants.parquet")
    // inner broadcast join (plants as build side — a right-outer would
    // reject the hint on the preserved side), then re-attach the buckets
    // with zero hits from the plant-side aggregate
    val hits = graft.queries.DocQueries.fuzzyDedupBlocked(spark, plantedDir)
      .select(col("doc_a"), col("doc_b"))
      .join(broadcast(plants), Seq("doc_a", "doc_b"))
      .groupBy(col("e"), col("mode"))
      .agg(count(lit(1)).cast("long").as("n_found"))
    plants.groupBy(col("e"), col("mode"))
      .agg(count(lit(1)).cast("long").as("n_planted"),
        min(col("dist")).as("min_dist"), max(col("dist")).as("max_dist"))
      .join(hits, Seq("e", "mode"), "left")
      .select(col("e"), col("mode"), col("n_planted"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        col("min_dist"), col("max_dist"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_planted"), 4))
      .orderBy(col("mode"), col("e"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/tmp/graft-scale/x256"
    val outDir = if (args.length > 1) args(1) else srcDir + "-planted"
    val everyN = if (args.length > 2) args(2).toLong else 64L
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-plant")
    spark.range(1000).selectExpr("sum(id)").collect()
    plantDocuments(spark, srcDir, outDir, everyN)
    System.gc() // fixture-write debris must not charge the first sample
    BenchSampler.install(spark)
    val hostCores = Runtime.getRuntime.availableProcessors
    val budget = new java.util.concurrent.atomic.AtomicLong(
      sys.env.getOrElse("SPARK_GRAFT_RETRY_BUDGET", "600").toLong * 1000L)
    // the probe protocol: evict the query-layer memo before every sample
    // so the timing measures compute growth, not cache reads
    def once(): Unit = {
      graft.queries.MemoCache.evict(spark, _ => true)
      graft.queries.DocQueries.fuzzyDedupBlocked(spark, outDir)
        .queryExecution.toRdd.count(): Unit
    }
    once() // cold: plan + codegen
    val (s, retries, reasons) = BenchSampler.steady(hostCores,
      extThreshold = 0.15, minWall = 0.3, maxRetries = 3, budget)(once())
    val buckets = measure(spark, outDir).collect()
    val nDocs = Tables.open(spark, s"$outDir/documents.parquet").count()
    // candidate-volume log: what each blocker contributes and what the
    // union costs the verify — the "growth bounded and logged" record
    // for the LSH ∪ CDC candidate set
    val diag = graft.queries.DocQueries.fuzzyBlockedDiag(spark, outDir).head()
    val diagJson =
      s""""cand_lsh":${diag.getAs[Long]("lsh_pairs")},""" +
        s""""cand_cdc":${diag.getAs[Long]("cdc_pairs")},""" +
        s""""cand_union":${diag.getAs[Long]("union_pairs")},""" +
        s""""l1_survivors":${diag.getAs[Long]("l1_survivors")},""" +
        s""""cdc_hot_keys_dropped":${diag.getAs[Long]("hot_keys_dropped")},""" +
        s""""cdc_cap":${diag.getAs[Long]("cdc_cap")}"""
    val bucketJson = buckets.map { r =>
      s""""e${r.getAs[Int]("e")}_${r.getAs[String]("mode")}":""" +
        s"""{"planted":${r.getAs[Long]("n_planted")},""" +
        s""""found":${r.getAs[Long]("n_found")},"recall":${r.getAs[Double]("recall")},""" +
        s""""dist":[${r.getAs[Long]("min_dist")},${r.getAs[Long]("max_dist")}]}"""
    }.mkString(",")
    def regime(p: org.apache.spark.sql.Row => Boolean): Double = {
      val sel = buckets.filter(p)
      val planted = sel.map(_.getAs[Long]("n_planted")).sum
      if (planted == 0) -1
      else sel.map(_.getAs[Long]("n_found")).sum.toDouble / planted
    }
    val allP = buckets.map(_.getAs[Long]("n_planted")).sum
    // per-mode aggregates, whole spectrum and the near regime (e <= K/2 —
    // the edit budgets the operator documents as its intended coverage)
    def mode(m: String, near: Boolean): Double = regime(r =>
      r.getAs[String]("mode") == m &&
        (!near || r.getAs[Int]("e") <= EditBuckets.max / 2))
    val quality =
      f""""wall":${s.wall}%.3f,"self":${s.selfRatio}%.1f,"tcpu":${s.taskCpuFrac}%.2f,""" +
        f""""ext":${s.ext}%.2f,"gc":${s.gcMs},"r":$retries,"clean":${reasons.isEmpty}"""
    println(
      s"""{"protocol":"planted-truth fuzzy recall, everyN=$everyN, buckets=${EditBuckets.mkString("[", ",", "]")}, src=$srcDir","n_docs":$nDocs,""" +
        s""""buckets":{$bucketJson},""" +
        f""""recall_clustered":${mode("clustered", near = false)}%.4f,""" +
        f""""recall_clustered_near":${mode("clustered", near = true)}%.4f,""" +
        f""""recall_scattered":${mode("scattered", near = false)}%.4f,""" +
        f""""recall_scattered_near":${mode("scattered", near = true)}%.4f,""" +
        s""""planted_pairs":$allP,$diagJson,"blocked_probe":{$quality}}""")
    spark.stop()
  }
}
