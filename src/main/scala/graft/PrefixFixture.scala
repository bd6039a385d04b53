package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prefix-concentrated (Matryoshka-premise) embedding fixture + recall
  * probe — r11 next-round #5.
  *
  * The problem: the truncate-then-rerank operator
  * ([[graft.queries.EmbeddingQueries]] `emb_prefix_search`) implements the
  * Matryoshka serving pattern, whose documented PREMISE is an embedder
  * trained to concentrate similarity in the leading dimensions. The scale
  * fixture's vectors are isotropic-jitter points: full-space neighbors at
  * 0.5M vectors are jitter-alignment extremes whose similarity is spread
  * over all 64 dims, so a 32-dim prefix cannot rank them and x256 recall
  * read 0.04 REGARDLESS of pool depth (`SCALE_ANN_r11.json`) — fixture
  * blindness, not an operator measurement. This main derives a variant
  * fixture matching the premise and re-measures on it; the isotropic
  * number stays on record as the adversarial bound.
  *
  * Construction: each source vector is spectrum-weighted —
  * `x'_j = x_j * exp(-j/16)` then re-normalized — so coordinate ENERGY
  * decays geometrically with dimension index: the first 32 dims carry
  * (1 - e^-4)/(1 - e^-8) ≈ 98.2% of every vector's squared norm, which is
  * exactly the information-concentration shape Matryoshka training
  * produces. Neighbor geometry is otherwise inherited from the source
  * fixture (same ids, same query split, deterministic — no RNG), and the
  * probe's truth is the exact brute-force top-k over the SAME transformed
  * corpus, so the recall row measures the operator, not the transform.
  *
  * `runMain graft.PrefixFixture [srcDir] [outDir]` — defaults to the
  * ScaleProbe x256 fixture and `<src>-mat`; prints one JSON line with the
  * prefix-rerank recall on the concentrated fixture (plus the HNSW gate
  * as a sanity row: a premise-matching fixture must not break the
  * designated scale path). */
object PrefixFixture {

  private val MarkerVersion = 1

  /** Write `outDir/embeddings.parquet` as the spectrum-weighted variant of
    * `srcDir/embeddings.parquet`. Idempotent via a versioned marker. */
  def writeConcentrated(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    require(new java.io.File(outDir).getCanonicalPath !=
        new java.io.File(srcDir).getCanonicalPath,
      s"outDir must differ from srcDir (both are $srcDir)")
    val done = new java.io.File(s"$outDir/_mat_v$MarkerVersion")
    if (done.exists()) return
    Tables.open(spark, s"$srcDir/embeddings.parquet")
      .withColumn("__e", expr(
        "transform(embedding, (x, j) -> cast(x * exp(-j / 16.0d) as float))"))
      .withColumn("__n", expr(
        "sqrt(aggregate(__e, cast(0.0 as double), (a, x) -> a + cast(x as double) * x))"))
      // a zero source vector stays zero (the sentinel-distance path)
      .withColumn("embedding", expr(
        "CASE WHEN __n = 0.0d THEN embedding " +
          "ELSE transform(__e, x -> cast(x / __n as float)) END"))
      .drop("__e", "__n")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    done.getParentFile.mkdirs()
    done.createNewFile(): Unit
    graft.queries.CountMemo.evict {
      case (_, d: String) => d == outDir
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/tmp/graft-scale/x256"
    val outDir = if (args.length > 1) args(1) else srcDir + "-mat"
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-prefix-fixture")
    spark.range(1000).selectExpr("sum(id)").collect()
    writeConcentrated(spark, srcDir, outDir)
    val nVecs = Tables.open(spark, s"$outDir/embeddings.parquet").count()
    def meanRecall(name: String, dir: String): Double = {
      val rows = SparkEntry.queries(name)(spark, dir)
        .select(avg(col("recall_at_k"))).head()
      if (rows.isNullAt(0)) -1 else rows.getDouble(0)
    }
    val prefixMat = meanRecall("emb_prefix_recall", outDir)
    val bqMat = meanRecall("emb_bq_rerank_recall", outDir)
    // sanity: the designated scale path must hold its gate on the
    // premise-matching fixture too
    val hnswOk = SparkEntry.queries("emb_hnsw_recall")(spark, outDir)
      .select(min(col("ok").cast("int"))).head().getInt(0) == 1
    println(
      s"""{"protocol":"prefix-concentrated (Matryoshka-premise) fixture: x'_j = x_j * exp(-j/16), renormalized; 98.2% of energy in the first 32 of 64 dims; src=$srcDir","n_vecs":$nVecs,""" +
        f""""emb_prefix_recall_mat":$prefixMat%.4f,""" +
        f""""emb_bq_rerank_recall_mat":$bqMat%.4f,""" +
        s""""emb_hnsw_gate_mat":$hnswOk}""")
    spark.stop()
  }
}
