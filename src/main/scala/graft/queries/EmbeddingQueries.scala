package graft.queries

import graft.GraftConf
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64):
  * brute-force cosine top-k as the exact baseline, a random-hyperplane
  * LSH-bucketed variant as the scale path, and per-label centroids.
  *
  * Scale design: the query set is tiny and broadcast; the scan side streams
  * once. Dot products are per-row array math (`zip_with`/`aggregate`) inside
  * codegen. For the oracle-checked variant the arithmetic runs in DECIMAL so
  * the result is bit-stable across engines (float-sum order sensitivity
  * would otherwise flake the hash compare). LSH replaces the full scan with
  * bucket-join candidates: cost O(n_buckets + candidates), the standard ANN
  * trade at 100 TB.
  */
object EmbeddingQueries {

  private val Dim = 64
  /** IVF probe depth, shared by [[annIvf]] and [[ivfpqSearch]] AND
    * interpolated into both oracles — a literal drift between the Scala
    * side and the SQL replay would surface as a confusing hash mismatch. */
  private val NProbe = 3
  private[graft] val NQueries = 10 // vec_id < 10 are the query vectors
  private val TopK = 5

  /** Floats as scaled integers: floor(x * 1e7) as long. Float→double is an
    * exact widening and floor of an identical double is engine-independent —
    * unlike float→decimal casts, where Spark rounds the exact binary
    * expansion but DuckDB goes through the shortest float repr (observed
    * ~1e-8 mismatches). Integer sums are then order-independent and exact.
    *
    * Both ops are native expressions ([[graft.functions.VecMath]]): the
    * higher-order-function forms interpret their lambdas per element and
    * their inlined trees dominate codegen compile time when a query repeats
    * the dot product (IVF embeds it four ways). */
  private def scaled(arr: Column): Column =
    graft.functions.GraftFunctions.scaleFloats(arr)

  /** Exact dot product of two scaled-integer arrays (fits long: 1e14/elem,
    * 64 elems). */
  private def dotScaled(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotLongArrays(a, b)

  /** Corpus row count, memoized per (session, dataset) in [[CountMemo]]
    * (a long must not burn a MemoCache LRU slot): the size-gate,
    * √n-cell-count and rerank-pool reads would otherwise launch a Spark
    * job on every DataFrame CONSTRUCTION (including explain-only paths). */
  private def embeddingCount(spark: SparkSession, d: String): Long =
    CountMemo.getOrCompute(spark, ("emb-count", d))(
      embeddings(spark, d).count())

  /** Per-label integer centroids as (cell, cemb, cnorm2) — the coarse-cell
    * build shared VERBATIM by [[annIvf]], [[ivfpqSearch]] and [[semDedup]]
    * (their oracles replay this exact floor(sum/count) arithmetic, so the
    * three indexes' cells must stay bit-identical). */
  private def labelCellCentroids(eRaw: DataFrame): DataFrame =
    eRaw.select(col("label"), posexplode(col("emb")))
      .groupBy(col("label"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("cs"))
      .select(col("label").as("cell"), transform(col("cs"), _.getField("cv")).as("cemb"))
      .withColumn("cnorm2", dotScaled(col("cemb"), col("cemb")))

  // ------------------------------------------------------------ brute kNN
  /** Brute-force cosine top-k: decimal-exact dot/norms, cosine rounded to 6
    * decimals (then ranked with a vec_id tie-break) so Spark and DuckDB rank
    * identically. Queries are broadcast; one pass over the corpus.
    *
    * Exact top-K is the TRUTH side of every recall/rank evaluation in this
    * family — nine consumers re-ran the full brute-force scan per query.
    * Memoized (queries x K rows) like the other shared indexes; cold pays
    * one build, every evaluation reads the in-memory table. */
  def knnBrute(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("knn-brute", d)) {
      val e = embeddings(spark, d)
        .select(col("vec_id"), scaled(col("embedding")).as("emb"))
        .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm2").as("q_norm2"))
      val corpus = e.filter(col("vec_id") >= NQueries)
      val scored = corpus.crossJoin(broadcast(q))
        .withColumn("cosine", round(
          dotScaled(col("emb"), col("q_emb")).cast("double") /
            (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
    }

  val knnBruteSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, SUM(emb[i] * emb[i]) AS norm2 FROM e, idx GROUP BY 1),
       | q AS (SELECT e.vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2
       |       FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id < $NQueries),
       | c AS (SELECT e.vec_id, emb, norm2
       |       FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id >= $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM c CROSS JOIN q)
       |SELECT q_id, vec_id, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------- mutual-kNN / hubness
  /** Mutual-nearest-neighbor + hubness diagnostic over a deterministic
    * 10% slice (vec_id % 10 == 0): each slice vector's top-1 cosine
    * neighbor within the slice, whether the relation is MUTUAL (a↔b are
    * each other's top-1 — the high-precision pair signal dedup and
    * retrieval evals key on), and the vector's top-1 in-degree (hubness:
    * high-dimensional spaces concentrate top-1 votes onto hub points,
    * which silently poisons kNN graphs; the in-degree distribution is THE
    * diagnostic for it — Radovanović et al. 2010).
    *
    * Scale: the slice self-join is the [[knnBrute]] broadcast shape —
    * diagnostics run on a slice by design; the production path plugs the
    * same mutuality/in-degree rollup onto any ANN top-1 output. */
  private val MutualMod = 10

  def mutualKnn(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .filter(col("vec_id") % MutualMod === 0)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val scored = e.as("a")
      .join(broadcast(e.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
        col("norm2").as("b_norm2"))), col("vec_id") =!= col("b_id"))
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("b_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("b_norm2").cast("double"))), 6))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("b_id"))
    val top1 = MemoCache.frame(spark, ("mutual-top1", d))(
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("b_id").as("nn_id"), col("cosine")))
    val indeg = top1.groupBy(col("nn_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    top1.as("t")
      .join(top1.select(col("vec_id").as("r_vec"), col("nn_id").as("r_nn")).as("r"),
        col("t.nn_id") === col("r_vec"), "left")
      .select(col("t.vec_id").as("vec_id"), col("t.nn_id").as("nn_id"),
        col("t.cosine").as("cosine"),
        coalesce(col("r.r_nn") === col("t.vec_id"), lit(false)).as("is_mutual"))
      .join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nn_id"), col("cosine"), col("is_mutual"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  val mutualKnnSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings WHERE vec_id % $MutualMod = 0),
       | f AS (SELECT e.vec_id, emb,
       |         (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2 FROM e),
       | s AS (SELECT a.vec_id, b.vec_id AS b_id,
       |         ROUND(CAST((SELECT SUM(a.emb[i] * b.emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM f a JOIN f b ON a.vec_id <> b.vec_id),
       | t1 AS (SELECT vec_id, b_id AS nn_id, cosine FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                      ORDER BY cosine DESC, b_id) AS rk FROM s)
       |        WHERE rk = 1),
       | ind AS (SELECT nn_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
       |         FROM t1 GROUP BY 1)
       |SELECT t.vec_id, t.nn_id, t.cosine,
       |  COALESCE(r.nn_id = t.vec_id, FALSE) AS is_mutual,
       |  COALESCE(ind.in_degree, 0) AS in_degree
       |FROM t1 t
       |LEFT JOIN t1 r ON t.nn_id = r.vec_id
       |LEFT JOIN ind ON t.vec_id = ind.vec_id""".stripMargin

  // --------------------------------------------------------------- MIPS
  /** Maximum-inner-product search: exact top-k by RAW dot product — the
    * retrieval mode for un-normalized factors (matrix-factorization user/
    * item vectors, two-tower logits), where magnitude is signal and cosine
    * would erase it. Same scale shape as [[knnBrute]]: queries broadcast,
    * corpus streamed once, per-query window top-k; the dot is an exact
    * integer, so no rounding is needed at all. At cluster scale the
    * sublinear path is the standard MIPS→cosine reduction — augment each
    * corpus vector with sqrt(M² − ‖x‖²) (M = max corpus norm) and each
    * query with 0, after which [[annLsh]]/[[annIvf]] apply unchanged. */
  def mips(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NQueries)
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("dot", dotScaled(col("emb"), col("q_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("dot"), col("rk"))
  }

  val mipsSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < $NQueries),
       | c AS (SELECT vec_id, emb FROM e WHERE vec_id >= $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS BIGINT) AS dot
       |       FROM c CROSS JOIN q)
       |SELECT q_id, vec_id, dot, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY dot DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ----------------------------------------------------- hard negatives
  /** Hard-negative mining for contrastive training (DPR/Contriever recipe):
    * for each query vector, the top-k most similar corpus vectors whose
    * LABEL differs from the query's — the near-misses that make the best
    * training negatives. Identical scale shape to [[knnBrute]] (queries
    * broadcast, corpus streams once, per-query window top-k); the label
    * inequality rides the broadcast join condition so disqualified pairs
    * never reach the scorer. */
  def hardNegatives(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), col("label"), scaled(col("embedding")).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("norm2").as("q_norm2"))
    val corpus = e.filter(col("vec_id") >= NQueries)
    val scored = corpus
      .join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  val hardNegativesSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, SUM(emb[i] * emb[i]) AS norm2 FROM e, idx GROUP BY 1),
       | q AS (SELECT e.vec_id AS q_id, label AS q_label, emb AS q_emb,
       |              norm2 AS q_norm2
       |       FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id < $NQueries),
       | c AS (SELECT e.vec_id, label, emb, norm2
       |       FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id >= $NQueries),
       | s AS (SELECT q.q_id, c.vec_id, c.label,
       |         ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM c JOIN q ON c.label <> q.q_label)
       |SELECT q_id, vec_id, label, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------------ hybrid search
  /** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et al.
    * 2009) — the modern search-serving shape: a lexical ranking (shared-
    * token overlap with the query document) and a vector ranking (exact
    * scaled-int cosine) each produce a top-[[HybridDepth]] candidate list
    * per query, and the fused score is Σ 1e6 DIV (60 + rank) over the
    * lists a document appears in — integer arithmetic, so the fusion is
    * bit-stable and fully oracled. Queries are the docs paired with the
    * query vectors (`doc_id = vec_id < NQueries`, the fixture's pairing).
    *
    * Scale: both retrievals are broadcast-probe scans (query tokens and
    * query vectors are tiny); candidate truncation to HybridDepth bounds
    * the fusion join, the standard retrieve-then-fuse serving plan. */
  private val HybridDepth = 50

  def hybridSearch(spark: SparkSession, d: String): DataFrame = {
    val docs = documents(spark, d).select(col("doc_id"),
      array_distinct(split(trim(col("text")), "\\s+")).as("tk"))
    val qDocs = docs.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("tk").as("q_tk"))
    val lexW = Window.partitionBy(col("q_id"))
      .orderBy(col("overlap").desc, col("doc_id"))
    val lex = docs.filter(col("doc_id") >= NQueries)
      .crossJoin(broadcast(qDocs))
      .select(col("q_id"), col("doc_id"),
        size(array_intersect(col("tk"), col("q_tk"))).as("overlap"))
      .withColumn("r_lex", row_number().over(lexW))
      .filter(col("r_lex") <= HybridDepth)
      .select(col("q_id"), col("doc_id"), col("r_lex"))
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val qv = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm2").as("q_norm2"))
    val vecW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val vec = e.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qv))
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      .withColumn("r_vec", row_number().over(vecW))
      .filter(col("r_vec") <= HybridDepth)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("r_vec"))
    val fusedW = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(expr("1000000 DIV (60 + r_lex)"), lit(0L)) +
         coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L))).as("rrf_score"))
      .withColumn("rk", row_number().over(fusedW))
      .filter(col("rk") <= TopK)
  }

  val hybridSearchSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | docs AS (SELECT doc_id,
       |            list_distinct(string_split_regex(trim(text), '\\s+')) AS tk
       |          FROM documents),
       | q AS (SELECT doc_id AS q_id, tk AS q_tk FROM docs
       |       WHERE doc_id < $NQueries),
       | lex AS (SELECT q_id, doc_id, r_lex FROM (
       |     SELECT q.q_id, d.doc_id,
       |       ROW_NUMBER() OVER (PARTITION BY q.q_id
       |         ORDER BY len(list_intersect(d.tk, q.q_tk)) DESC, d.doc_id)
       |         AS r_lex
       |     FROM docs d CROSS JOIN q WHERE d.doc_id >= $NQueries)
       |   WHERE r_lex <= $HybridDepth),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, SUM(emb[i] * emb[i]) AS norm2 FROM e, idx GROUP BY 1),
       | qv AS (SELECT e.vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2
       |        FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id < $NQueries),
       | c AS (SELECT e.vec_id, emb, norm2
       |       FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id >= $NQueries),
       | vec AS (SELECT q_id, doc_id, r_vec FROM (
       |     SELECT qv.q_id, c.vec_id AS doc_id,
       |       ROW_NUMBER() OVER (PARTITION BY qv.q_id ORDER BY
       |         ROUND(CAST((SELECT SUM(c.emb[i] * qv.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(qv.q_norm2 AS DOUBLE))), 6)
       |           DESC, c.vec_id) AS r_vec
       |     FROM c CROSS JOIN qv)
       |   WHERE r_vec <= $HybridDepth)
       |SELECT q_id, doc_id, rrf_score, rk FROM (
       |  SELECT q_id, doc_id, rrf_score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, doc_id) AS rk
       |  FROM (
       |    SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
       |      COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
       |      COALESCE(1000000 // (60 + r_lex), 0) +
       |      COALESCE(1000000 // (60 + r_vec), 0) AS rrf_score
       |    FROM lex FULL OUTER JOIN vec
       |      ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id))
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------------------ centroids
  /** Per-label centroid vectors, exploded to (label, dim, mean) rows with
    * decimal-exact sums. */
  def centroids(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .select(col("label"), posexplode(scaled(col("embedding"))))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg((sum(col("col")).cast("double") / 1e7 / count(lit(1))).as("mean_val"))

  val centroidsSql: String =
    s"""SELECT label, i AS dim,
       |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
       |    / 10000000 / COUNT(*) AS mean_val
       |FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ LSH ANN
  private val NPlanes = 8

  /** Deterministic hyperplane weight for (plane p, dim i): first 8 md5 hex
    * chars of "p_i" as an unsigned int mapped to [-1000, 1000]. md5 (not an
    * RNG or Spark hash) because DuckDB computes the identical value —
    * ('0x'||substr(md5(p||'_'||i),1,8))::UBIGINT % 2001 - 1000 — so the
    * whole bucketing is replicable by the oracle. Evaluated at PLAN time:
    * the planes become literal arrays, zero per-row hashing. */
  private def planeWeight(p: Int, i: Int): Long =
    graft.functions.MinHash.md5High32(s"${p}_$i") % 2001 - 1000

  /** Sign-random-projection bucket key over SCALED-INT embeddings: bit p =
    * sign(emb_int . plane_p), all-integer math (order-independent, exact —
    * a float dot's sum-order sensitivity could flip a near-zero sign). */
  private def lshKeyInt(embInt: Column): Column =
    (0 until NPlanes).foldLeft(lit(0L)) { (acc, p) =>
      val plane = typedLit((0 until Dim).map(i => planeWeight(p, i)))
      val dot = dotScaled(embInt, plane)
      acc.bitwiseOR(when(dot > 0, lit(1L << p)).otherwise(lit(0L)))
    }

  /** ANN via LSH bucketing: candidates are corpus vectors in the query's
    * bucket or any 1/2-bit-adjacent probe bucket, then exact scaled-int
    * cosine on candidates only. Every step (md5 planes, integer sign dots,
    * xor probes, int cosine) is deterministic and SQL-expressible, so this
    * approximate operator carries a full hash-checked DuckDB oracle. */
  def annLsh(spark: SparkSession, d: String): DataFrame =
    // per-query top-K result table (queries x K rows): memoized like
    // [[knnBrute]] — the recall/rank evaluations re-ran the whole search
    // per consumer otherwise
    MemoCache.frame(spark, ("ann-lsh", d)) {
      val e = embeddings(spark, d)
        .select(col("vec_id"), scaled(col("embedding")).as("emb"))
        .withColumn("bucket", lshKeyInt(col("emb")))
        .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm2").as("q_norm2"), col("bucket").as("q_bucket"))
      // multi-probe LSH: exact bucket plus all 1-bit and 2-bit flips
      // (37 of 256 buckets) — trades probe fan-out for recall on corpora with
      // weak angular structure; at scale the probe join is still
      // O(queries x probes), independent of corpus size.
      val masks: Seq[Long] = 0L +:
        (0 until NPlanes).map(p => 1L << p) ++:
        (for (p <- 0 until NPlanes; r <- p + 1 until NPlanes)
          yield (1L << p) | (1L << r))
      val probes = q.select(col("q_id"), col("q_emb"), col("q_norm2"),
        explode(array(masks.map(m => col("q_bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      val cands = e.filter(col("vec_id") >= NQueries)
        .join(broadcast(probes), "bucket")
      val scored = cands.withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
    }

  val annLshSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | planes AS (SELECT p, i,
       |     CAST(('0x' || substr(md5(p || '_' || (i-1)), 1, 8))::UBIGINT % 2001
       |          AS BIGINT) - 1000 AS w
       |   FROM (SELECT unnest(generate_series(0, ${NPlanes - 1})) AS p), idx),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, emb, (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2
       |       FROM e),
       | dots AS (SELECT vec_id, p, SUM(emb[i] * w) AS dot
       |          FROM e, planes GROUP BY 1, 2),
       | buckets AS (SELECT vec_id,
       |     CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
       |       AS bucket
       |   FROM dots GROUP BY 1),
       | masks AS (
       |   SELECT 0::BIGINT AS m
       |   UNION ALL
       |   SELECT (1::BIGINT << p) FROM (SELECT unnest(generate_series(0, ${NPlanes - 1})) AS p)
       |   UNION ALL
       |   SELECT (1::BIGINT << p) | (1::BIGINT << r)
       |   FROM (SELECT unnest(generate_series(0, ${NPlanes - 1})) AS p),
       |        (SELECT unnest(generate_series(0, ${NPlanes - 1})) AS r)
       |   WHERE r > p),
       | q AS (SELECT b.vec_id AS q_id, f.emb AS q_emb, f.norm2 AS q_norm2,
       |         xor(b.bucket, m.m) AS bucket
       |       FROM buckets b JOIN f ON b.vec_id = f.vec_id
       |       CROSS JOIN masks m WHERE b.vec_id < $NQueries),
       | c AS (SELECT f.vec_id, f.emb, f.norm2, b.bucket
       |       FROM f JOIN buckets b ON f.vec_id = b.vec_id WHERE f.vec_id >= $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM c JOIN q ON c.bucket = q.bucket)
       |SELECT q_id, vec_id, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------- linear probe training
  private val ProbeIters = 24

  /** TRAIN a linear probe on the embeddings (one-vs-rest least squares for
    * label 0 via full-batch gradient descent) and score every vector — the
    * training counterpart of the inference-only hashed classifier, and the
    * standard "linear probe" diagnostic a training pipeline runs on a new
    * embedding space.
    *
    * Integer-exact END TO END, including the iterative loop: features are
    * floor(x*1000) longs, weights live at scale 1e6, margins and gradients
    * are pure BIGINT sums (order-independent — no float accumulates
    * anywhere), and the weight update divides with both engines'
    * truncate-toward-zero integer division. The decision threshold is the
    * class-mean midpoint (the converged LS fit of a 10%-positive class
    * never reaches 0.5), again in integer space. So even this ITERATIVE
    * TRAINING operator hash-checks against a DuckDB recursive-CTE oracle
    * bit-for-bit — no tolerance, no rows-only fallback.
    *
    * The step size is 1/max_j||x_j||², data-derived and integer-exact:
    * lambda_max(X'X/n) <= max||x||², so descent is stable on ANY input
    * (a fixed rate diverges the moment features correlate — PipelineSpec
    * pins a planted separable set that a lr=20 run sends to infinity).
    *
    * Scale: the classic distributed full-batch GD shape — weights (64
    * longs) broadcast each iteration, gradients partial-aggregate
    * map-side into one 64-long array per partition, K scans over a cached
    * prepared dataset. At 100 TB you'd subsample or mini-batch; the plan
    * shape is unchanged. */
  def linearProbe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val MarginScale = 1000000000L // weight scale 1e6 x feature scale 1e3
    val prep = embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
      .map { case (id, emb, label) =>
        // float->double widening is exact and *1000/floor round identically
        // in both engines, so these features match the oracle's bit-for-bit
        (id, emb.map(x => math.floor(x.toDouble * 1000).toLong),
          if (label == 0) 1L else 0L)
      }
      .cache()
    try {
      val n = prep.count()
      // max squared row norm at feature scale 1e6 — the lr normalizer
      val maxNorm2 = prep.map { case (_, e, _) =>
        var s = 0L
        var i = 0
        while (i < Dim) { s += e(i) * e(i); i += 1 }
        s
      }.reduce(math.max)
      // Size gate, the BPE-trainer pattern: below it the training set
      // (64 longs + a label per row) collects once and the K iterations
      // run as driver loops — K Spark jobs' scheduling latency dominates
      // tiny inputs (measured 2.1s -> 1.1s warm at sf0.1; the residual is
      // the prep/count/norm/threshold jobs, not the loop). Above it, the
      // distributed loop: broadcast weights, map-side partial gradients.
      // IDENTICAL Long arithmetic either way, so the gate never changes
      // results (DedupScaleSpec pins bit-parity on the oracled entry).
      val gate = GraftConf.ProbeMaxDriverRows.get(spark)
      var w = Array.fill(Dim)(0L)
      def step(w0: Array[Long], grad: Array[Long]): Array[Long] =
        // dw_real = grad_real / maxnorm2_real collapses to this all-integer
        // form (the 1e6 feature-square scale cancels the weight scale)
        Array.tabulate(Dim)(dd => w0(dd) - grad(dd) / (n * maxNorm2))
      if (n <= gate) {
        val local = prep.map { case (_, e, y) => (e, y) }.collect()
        for (_ <- 1 to ProbeIters) {
          val g = new Array[Long](Dim)
          local.foreach { case (e, y) =>
            var m = 0L
            var i = 0
            while (i < Dim) { m += w(i) * e(i); i += 1 }
            val r = m - y * MarginScale
            i = 0
            while (i < Dim) { g(i) += r * e(i); i += 1 }
          }
          w = step(w, g)
        }
      } else for (_ <- 1 to ProbeIters) {
        val bw = spark.sparkContext.broadcast(w)
        val grad = prep.mapPartitions { rows =>
          val g = new Array[Long](Dim)
          rows.foreach { case (_, e, y) =>
            var m = 0L
            var i = 0
            while (i < Dim) { m += bw.value(i) * e(i); i += 1 }
            val r = m - y * MarginScale
            i = 0
            while (i < Dim) { g(i) += r * e(i); i += 1 }
          }
          Iterator.single(g)
        }.reduce { (a, b) =>
          val out = new Array[Long](Dim)
          var i = 0
          while (i < Dim) { out(i) = a(i) + b(i); i += 1 }
          out
        }
        w = step(w, grad)
        bw.unpersist(blocking = false)
      }
      val bw = spark.sparkContext.broadcast(w)
      val scored = prep.map { case (id, e, y) =>
        var m = 0L
        var i = 0
        while (i < Dim) { m += bw.value(i) * e(i); i += 1 }
        (id, y, m)
      }.toDF("vec_id", "y", "m")
      // class-mean midpoint threshold, integer-exact (truncating division
      // in BOTH engines); doubled so the compare needs no further division
      // nullable reads: a dataset with an EMPTY class has no class mean —
      // the oracle's thr CTE yields NULL predicted there, and decoding the
      // NULL sum into a non-null tuple would crash instead of matching it
      val t = scored.groupBy()
        .agg(sum(when(col("y") === 1, col("m"))).as("s1"),
             sum(when(col("y") === 0, col("m"))).as("s0"),
             count(when(col("y") === 1, 1)).as("p"),
             count(when(col("y") === 0, 1)).as("nn"))
        .as[(Option[Long], Option[Long], Long, Long)].head()
      val t2: Option[Long] = for {
        s1 <- t._1; s0 <- t._2
        if t._3 > 0 && t._4 > 0
      } yield s1 / t._3 + s0 / t._4
      // lazy result: re-executing it recomputes one narrow scan + score
      // pass with the (tiny) broadcast weights — nothing stays pinned
      scored.select(
        col("vec_id"),
        col("y").cast("int").as("y"),
        round(col("m").cast("double") / MarginScale, 6).as("margin"),
        t2.map(v => (col("m") * 2 > v).as("predicted"))
          .getOrElse(lit(null).cast("boolean").as("predicted")))
    } finally prep.unpersist(blocking = false)
  }

  val linearProbeSql: String =
    s"""WITH RECURSIVE
       | idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS emb,
       |         CASE WHEN label = 0 THEN 1::BIGINT ELSE 0::BIGINT END AS y
       |       FROM embeddings),
       | v0 AS (SELECT list({'emb': emb, 'y': y}) AS vs, CAST(COUNT(*) AS BIGINT) AS n,
       |          MAX(CAST(list_sum(list_transform(emb, v -> v * v)) AS BIGINT)) AS mx
       |        FROM e),
       | state(it, w) AS (
       |   SELECT 0, list_transform(range(1, ${Dim + 1}), d -> 0::BIGINT)
       |   UNION ALL
       |   SELECT it + 1,
       |     list_transform(range(1, ${Dim + 1}), d ->
       |       w[d] - CAST(list_sum(list_transform(rl,
       |                jr -> jr.rj * jr.emb[d])) AS BIGINT) // (n * mx))
       |   FROM (
       |     SELECT it, w, v0.n, v0.mx,
       |       list_transform(v0.vs, v ->
       |         {'rj': CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |                  i -> w[i] * v.emb[i])) AS BIGINT) - v.y * 1000000000,
       |          'emb': v.emb}) AS rl
       |     FROM state, v0
       |     WHERE it < $ProbeIters
       |   ) base
       | ),
       | wf AS (SELECT w FROM state ORDER BY it DESC LIMIT 1),
       | m AS (SELECT e.vec_id, e.y,
       |         CAST((SELECT SUM(wf.w[i] * e.emb[i]) FROM idx) AS BIGINT) AS mi
       |       FROM e, wf),
       | thr AS (SELECT SUM(CASE WHEN y = 1 THEN mi END) // COUNT(CASE WHEN y = 1 THEN 1 END)
       |           + SUM(CASE WHEN y = 0 THEN mi END) // COUNT(CASE WHEN y = 0 THEN 1 END)
       |           AS t2
       |         FROM m)
       |SELECT vec_id, CAST(y AS INTEGER) AS y,
       |  ROUND(CAST(mi AS DOUBLE) / 1000000000, 6) AS margin,
       |  mi * 2 > thr.t2 AS predicted
       |FROM m, thr""".stripMargin

  // ------------------------------------------------- ANN recall evaluation
  /** Recall@K of the LSH-bucketed ANN against the exact brute-force top-K
    * — the evaluation loop a production ANN deployment runs after every
    * index build to keep the approximation honest. Both searches are
    * deterministic (scaled-int math, round-6 cosines, vec_id tie-breaks),
    * so the evaluation itself carries a full DuckDB oracle rather than a
    * statistical bound.
    *
    * Scale: the inputs are the per-query top-K tables (queries x K rows,
    * corpus-size-independent), so the recall join/aggregate is negligible
    * next to the searches that produce them. */
  def annRecall(spark: SparkSession, d: String): DataFrame =
    recallAgainstExact(knnBrute(spark, d), annLsh(spark, d))

  /** Same honesty loop for the IVF index — every index variant gets its
    * own recall gate. */
  def annRecallIvf(spark: SparkSession, d: String): DataFrame =
    recallAgainstExact(knnBrute(spark, d), annIvf(spark, d))

  /** Recall@K of PREFIX-TRUNCATED cosine search (first [[TruncDim]] of
    * [[Dim]] dims) vs the full-dimension exact top-K — the evaluation that
    * quantifies the Matryoshka/dimension-reduction serving trade before
    * [[annRerank]] commits to a truncation width. Same brute scan shape
    * with a shorter vector; the recall join is corpus-size-independent.
    *
    * Choosing the coarse pass (measured, `SCALE_ANN_r12.json`): prefix
    * truncation assumes the embedder concentrates similarity in the
    * leading dims (Matryoshka training) — on a spectrum-weighted fixture
    * matching that premise it reads 0.92/0.88 recall at x1/x256, while on
    * an isotropic fixture it degrades to prefilter-only (0.04 regardless
    * of pool depth). The sign-bit BQ coarse pass is the mirror image:
    * 0.82 isotropic but 0.34 concentrated (tail-dim sign bits are
    * noise-dominated when energy lives in the head). Pick by the
    * embedder's energy spectrum; this recall row is the guardrail. */
  def prefixRecall(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), slice(scaled(col("embedding")), 1, TruncDim).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm2").as("q_norm2"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val truncated = e.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"))
    recallAgainstExact(knnBrute(spark, d), truncated)
  }

  lazy val prefixRecallSql: String = recallSqlAgainst(
    s"""SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |      ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i])
       |                  FROM (SELECT unnest(generate_series(1, $TruncDim)) AS i)) AS DOUBLE)
       |        / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |        DESC, c.vec_id) AS rk
       |  FROM (
       |    SELECT t.vec_id, emb, (SELECT SUM(emb[i] * emb[i])
       |       FROM (SELECT unnest(generate_series(1, $TruncDim)) AS i)) AS norm2
       |    FROM (SELECT vec_id,
       |            list_transform(embedding,
       |              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT))
       |              [1:$TruncDim] AS emb
       |          FROM embeddings) t) c
       |  CROSS JOIN (
       |    SELECT t.vec_id AS q_id, emb AS q_emb, (SELECT SUM(emb[i] * emb[i])
       |       FROM (SELECT unnest(generate_series(1, $TruncDim)) AS i)) AS q_norm2
       |    FROM (SELECT vec_id,
       |            list_transform(embedding,
       |              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT))
       |              [1:$TruncDim] AS emb
       |          FROM embeddings) t
       |    WHERE t.vec_id < $NQueries) q
       |  WHERE c.vec_id >= $NQueries)
       |WHERE rk <= $TopK""".stripMargin)

  private def recallAgainstExact(exactDf: DataFrame, approxDf: DataFrame): DataFrame = {
    val exact = exactDf.select(col("q_id"), col("vec_id"))
    val approx = approxDf.select(col("q_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / TopK, 6)
          .as("recall_at_k"))
  }

  private def recallSqlAgainst(approxSql: String): String =
    s"""WITH ex AS ($knnBruteSql),
       | ap AS ($approxSql),
       | hits AS (SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       |          FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
       |          GROUP BY 1)
       |SELECT q.q_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $TopK, 6) AS recall_at_k
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin

  lazy val annRecallSql: String = recallSqlAgainst(annLshSql)
  lazy val annRecallIvfSql: String = recallSqlAgainst(annIvfSql)

  /** Recall@K of the compressed [[ivfpqSearch]] index vs exact cosine —
    * the honesty loop for the doubly-lossy IVFADC path (cell pruning +
    * residual quantization), run before trading recall for a 32× smaller
    * index. */
  def annRecallIvfpq(spark: SparkSession, d: String): DataFrame =
    recallAgainstExact(knnBrute(spark, d), ivfpqSearch(spark, d))

  lazy val annRecallIvfpqSql: String = recallSqlAgainst(ivfpqSearchSql)

  // ------------------------------------------- graded ranking evaluation
  /** NDCG@K + MRR of the LSH index against the exact ranking — the graded
    * companion to [[annRecall]]'s set overlap: recall answers WHETHER the
    * true neighbors surfaced, NDCG whether they surfaced in the right
    * ORDER (gain = K+1-exact_rank of the hit), MRR how early the first
    * true neighbor appears. Standard IR evaluation over the same per-query
    * top-K tables (queries x K rows, corpus-size-independent).
    *
    * Determinism: discounts use natural log, `gain / ln(pos+1)` — the
    * `ln 2` of the textbook log2 form cancels in the DCG/IDCG ratio, and
    * `ln` is the transcendental both engines already agree on bit-for-bit
    * (every LM oracle leans on it). Per-query DCG terms are folded in
    * APPROX-RANK ORDER over a sorted collected array (Spark `aggregate`
    * fold ≡ DuckDB ordered `list_sum`), never a distributed double sum —
    * the order-dependence footgun the money aggregates document. */
  def rankEval(spark: SparkSession, d: String): DataFrame =
    rankEvalAgainstExact(knnBrute(spark, d), annLsh(spark, d))

  private def rankEvalAgainstExact(exactDf: DataFrame, approxDf: DataFrame): DataFrame = {
    val ex = exactDf.select(col("q_id"), col("vec_id"), col("rk").as("ex_rk"))
    val ap = approxDf.select(col("q_id"), col("vec_id"), col("rk").as("ap_rk"))
    val hits = ex.join(ap, Seq("q_id", "vec_id"))
      .select(col("q_id"), col("ap_rk"),
        (lit(TopK + 1) - col("ex_rk")).cast("double").as("gain"))
    val dcg = hits.groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("ap_rk"), col("gain")))).as("hl"))
      .select(col("q_id"),
        aggregate(col("hl"), lit(0.0), (acc, h) =>
          acc + h.getField("gain") /
            log(h.getField("ap_rk").cast("double") + lit(1.0))).as("dcg"),
        element_at(col("hl"), 1).getField("ap_rk").as("first_hit"),
        size(col("hl")).cast("long").as("n_hits"))
    val idcg = ex.groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("ex_rk")))).as("el"))
      .select(col("q_id"),
        aggregate(col("el"), lit(0.0), (acc, h) =>
          acc + (lit((TopK + 1).toDouble) - h.getField("ex_rk").cast("double")) /
            log(h.getField("ex_rk").cast("double") + lit(1.0))).as("idcg"))
    idcg.join(dcg, Seq("q_id"), "left")
      .select(col("q_id"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg_at_k"),
        round(coalesce(lit(1.0) / col("first_hit").cast("double"), lit(0.0)), 6)
          .as("mrr"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  private def rankEvalSqlAgainst(approxSql: String): String =
    s"""WITH ex AS ($knnBruteSql),
       | ap AS ($approxSql),
       | h AS (SELECT ex.q_id, ap.rk AS ap_rk,
       |         CAST(${TopK + 1} - ex.rk AS DOUBLE) AS gain
       |       FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id),
       | d AS (SELECT q_id,
       |         list_sum(list_transform(list({'r': ap_rk, 'g': gain} ORDER BY ap_rk),
       |           x -> x.g / ln(CAST(x.r AS DOUBLE) + 1))) AS dcg,
       |         MIN(ap_rk) AS first_hit,
       |         CAST(COUNT(*) AS BIGINT) AS n_hits
       |       FROM h GROUP BY 1),
       | i AS (SELECT q_id,
       |         list_sum(list_transform(list(rk ORDER BY rk),
       |           r -> CAST(${TopK + 1} - r AS DOUBLE) / ln(CAST(r AS DOUBLE) + 1)))
       |           AS idcg
       |       FROM ex GROUP BY 1)
       |SELECT i.q_id,
       |  ROUND(COALESCE(d.dcg, 0) / i.idcg, 6) AS ndcg_at_k,
       |  ROUND(COALESCE(CAST(1 AS DOUBLE) / d.first_hit, 0), 6) AS mrr,
       |  COALESCE(d.n_hits, 0) AS n_hits
       |FROM i LEFT JOIN d ON i.q_id = d.q_id""".stripMargin

  lazy val rankEvalSql: String = rankEvalSqlAgainst(annLshSql)

  // ----------------------------------------------- two-stage rerank ANN
  /** Prefix length for the coarse pass and the coarse candidate budget.
    * These embeddings are NOT Matryoshka-trained (no information
    * concentration in the prefix), so the prefix must stay wide for usable
    * recall — measured at sf0.001: trunc 8/cand 25 -> 0.18, 16/50 -> 0.54,
    * 32/50 -> 0.74. A prefix-trained embedder moves these numbers to ~1. */
  private val TruncDim = 32
  /** Rerank-pool floor; the effective pool is corpus-scaled — see
    * [[coarsePoolOf]]. */
  private val CoarseK = 50
  private val CoarseKDiv = 10L

  /** Effective rerank-pool size: max(floor, n / div) — a FIXED pool is
    * not scale-free (the r10 tfidf-cap lesson, re-learned on the v5
    * distinct-replica fixture: emb_prefix_recall read 0.04 and
    * emb_bq_rerank_recall 0.20 at x256 because 50/100-candidate pools
    * tuned at 500 vectors were asked to bridge a 0.5M corpus where the
    * true top-5 sit far deeper in the coarse ranking). The floor binds at
    * every oracle-gate scale, so gate hashes are unchanged; the oracles
    * replay the same GREATEST-over-count formula. The honest scale
    * statement matches tfidf's: a recall-preserving shortlist under a
    * fixed-resolution coarse pass grows ~linearly with the corpus — the
    * pool's job is bounding the constant, not buying sub-linear recall. */
  private def coarsePoolOf(spark: SparkSession, d: String,
                           floor: Int, div: Long): Int =
    math.max(floor.toLong, embeddingCount(spark, d) / div).toInt

  /** Two-stage retrieval (truncate-then-rerank, the Matryoshka/PQ-refine
    * serving pattern): a coarse pass scores only the first [[TruncDim]] of
    * [[Dim]] dimensions and keeps [[CoarseK]] candidates per query; the
    * exact full-dimension cosine then reranks just those. The coarse scan
    * reads a 2x narrower vector (with prefix-split storage, a 2x smaller
    * column), and full vectors are touched for CoarseK rows per query
    * instead of the corpus — the standard recall/bandwidth trade between
    * brute force ([[knnBrute]]) and inverted structures ([[annIvf]]).
    *
    * Same determinism contract as the other ANN operators: scaled-int
    * dots, round-6 cosines, vec_id tie-breaks — the approximation itself
    * is replicated by the oracle, so recall misses are reproduced, not
    * assumed away. */
  def annRerank(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("emb8", slice(col("emb"), 1, TruncDim))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      .withColumn("norm2_8", dotScaled(col("emb8"), col("emb8")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("emb8").as("q_emb8"), col("norm2").as("q_norm2"),
        col("norm2_8").as("q_norm2_8"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("coarse_cos").desc, col("vec_id"))
    val coarse = e.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(q))
      // guard the TRUNCATED norm: a vector that is zero in the first
      // TruncDim dims (but valid overall) would produce a 0/0 = NaN
      // cosine, and NaN sorts LARGEST in Spark but not in DuckDB — such
      // vectors rank last (-2 < any real cosine) identically in both
      .withColumn("coarse_cos",
        when(col("norm2_8") > 0 && col("q_norm2_8") > 0, round(
          dotScaled(col("emb8"), col("q_emb8")).cast("double") /
            (sqrt(col("norm2_8").cast("double")) * sqrt(col("q_norm2_8").cast("double"))), 6))
        .otherwise(lit(-2.0)))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <=
        coarsePoolOf(spark, d, CoarseK, CoarseKDiv))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    coarse
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
  }

  val annRerankSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | idx8 AS (SELECT unnest(generate_series(1, $TruncDim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, emb,
       |         (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2,
       |         (SELECT SUM(emb[i] * emb[i]) FROM idx8) AS norm2_8
       |       FROM e),
       | q AS (SELECT vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2,
       |         norm2_8 AS q_norm2_8
       |       FROM f WHERE vec_id < $NQueries),
       | c AS (SELECT vec_id, emb, norm2, norm2_8 FROM f
       |       WHERE vec_id >= $NQueries),
       | coarse AS (SELECT q.q_id, c.vec_id, c.emb, c.norm2, q.q_emb, q.q_norm2,
       |         CASE WHEN c.norm2_8 > 0 AND q.q_norm2_8 > 0
       |           THEN ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx8) AS DOUBLE)
       |             / (sqrt(CAST(c.norm2_8 AS DOUBLE)) * sqrt(CAST(q.q_norm2_8 AS DOUBLE))), 6)
       |           ELSE -2.0 END
       |           AS coarse_cos
       |       FROM c CROSS JOIN q),
       | kept AS (SELECT * FROM (
       |     SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |                 ORDER BY coarse_cos DESC, vec_id) AS crk
       |     FROM coarse)
       |   WHERE crk <= GREATEST($CoarseK,
       |     (SELECT COUNT(*) FROM embeddings) // $CoarseKDiv)),
       | s AS (SELECT q_id, vec_id,
       |         ROUND(CAST((SELECT SUM(emb[i] * q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM kept)
       |SELECT q_id, vec_id, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------------- cosine near-dup
  /** Embedding-cosine near-duplicate pairs across the whole corpus:
    * all-pairs exact cosine with a threshold. Quadratic by nature — the
    * scale path is [[annLsh]]/[[annIvf]]; this is the exact baseline the
    * approximate variants are measured against. Scaled-integer math keeps
    * the oracle bit-stable. */
  def neardupCosine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // Size gate, symmetric with neardupJaccardCompute's: a corpus within the
    // broadcast budget ships the whole scaled matrix once; beyond it the
    // blocked path broadcasts one row block at a time (nBlocks sized so each
    // block fits the same budget). Identical per-pair arithmetic either way,
    // so the gate never changes results (DedupScaleSpec pins bit-parity on
    // the oracled entry itself).
    val maxBroadcastDocs = GraftConf.DedupMaxBroadcastDocs.get(spark)
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .as[(Long, Array[Long])]
    // memoized corpus count (the projection doesn't change it): the gate
    // must not launch a count job on every DataFrame construction
    val n = embeddingCount(spark, d)
    if (n > maxBroadcastDocs) {
      val nBlocks = math.ceil(n.toDouble / maxBroadcastDocs).toInt
      return neardupCosineBlocked(spark, d, nBlocks)
    }
    // Dense all-pairs dot products: broadcast the (small) scaled matrix and
    // loop in JVM per partition — a crossJoin with per-pair zip_with/
    // aggregate expressions runs interpreted per element and was 22s for
    // 2M pairs; the tight loop is <1s.
    val all = spark.sparkContext.broadcast(
      e.collect().sortBy(_._1).map { case (id, v) =>
        (id, v, math.sqrt(v.map(x => x.toDouble * x).sum))
      })
    e.mapPartitions(rows => cosinePairsAgainst(rows, all.value))
      .toDF("v1", "v2", "cosine")
  }

  /** Block-matrix form of [[neardupCosine]] — the corpus-scale path: the
    * right side is split into `nBlocks` row blocks by vec_id and only ONE
    * block is ever broadcast at a time (driver + executor memory bound by
    * corpus/nBlocks, chosen so a block fits the broadcast budget); each
    * round streams the whole left side once against that block. Identical
    * per-pair arithmetic, so the union of rounds reproduces the exact
    * baseline bit-for-bit (DedupScaleSpec). The per-round broadcast is
    * torn down eagerly to keep peak memory at one block. */
  private[graft] def neardupCosineBlocked(spark: SparkSession, d: String,
                                          nBlocks: Int): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .as[(Long, Array[Long])]
    val rounds = (0 until nBlocks).map { b =>
      val block = spark.sparkContext.broadcast(
        e.filter(pmod(col("vec_id"), lit(nBlocks)) === b)
          .as[(Long, Array[Long])].collect().sortBy(_._1)
          .map { case (id, v) =>
            (id, v, math.sqrt(v.map(x => x.toDouble * x).sum))
          })
      val part = e.mapPartitions(rows => cosinePairsAgainst(rows, block.value))
        .toDF("v1", "v2", "cosine")
        // materialize the round before the next block's broadcast replaces
        // this one (localCheckpoint cuts the lineage so unpersisting the
        // broadcast is safe, without an external store)
        .localCheckpoint(true)
      block.destroy()
      part
    }
    rounds.reduce(_ union _)
  }

  /** Compare every left row against the broadcast (id, scaled-vec, norm)
    * corpus slice, emitting ordered pairs (id < id2) at cosine >= 0.4.
    * Shared by the exact baseline and the blocked scale path — one
    * arithmetic, bit-identical results. */
  private def cosinePairsAgainst(
      rows: Iterator[(Long, Array[Long])],
      corpus: Array[(Long, Array[Long], Double)]): Iterator[(Long, Long, Double)] =
    rows.flatMap { case (id, v) =>
      val na = math.sqrt(v.map(x => x.toDouble * x).sum)
      corpus.iterator.filter(_._1 > id).flatMap { case (id2, v2, nb) =>
        var dot = 0L
        var i = 0
        while (i < v.length) { dot += v(i) * v2(i); i += 1 }
        val raw = dot.toDouble / (na * nb)
        // BigDecimal HALF_UP matches Spark/DuckDB ROUND but costs ~1us per
        // call; only pairs near/above the threshold (raw >= 0.3999990, a
        // margin below the 0.3999995 rounding boundary) need the exact
        // rounding — the overwhelming majority of the n^2/2 pairs exit on
        // this double compare
        if (raw < 0.3999990) None
        else {
          val cos = BigDecimal(raw)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (cos >= 0.4) Some((id, id2, cos)) else None
        }
      }
    }

  val neardupCosineSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, emb, (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2 FROM e)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  ROUND(CAST((SELECT SUM(a.emb[i] * b.emb[i]) FROM idx) AS DOUBLE)
       |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))), 6) AS cosine
       |FROM f a JOIN f b ON a.vec_id < b.vec_id
       |WHERE ROUND(CAST((SELECT SUM(a.emb[i] * b.emb[i]) FROM idx) AS DOUBLE)
       |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))), 6) >= 0.4""".stripMargin

  // ------------------------------------------------------------ IVF ANN
  /** IVF-style ANN: coarse cells from per-label centroids, queries probe
    * their nearest `NProbe` cells, exact cosine within the probed cells. At
    * scale the cell assignment is a broadcast join against k centroids and
    * the search space shrinks by ~k/NProbe.
    *
    * Centroids are floor(sum/count) in SCALED-INT space (cosine is
    * scale-invariant, so dropping the fractional part only perturbs the cell
    * shape, not correctness), which keeps every dot product integer-exact —
    * cell assignment, probe ranking, and final cosines are all bit-stable
    * across engines, so this approximate operator has a full DuckDB oracle. */
  def annIvf(spark: SparkSession, d: String): DataFrame =
    // per-query top-K result table (queries x K rows): memoized like
    // [[knnBrute]] — the recall/rank evaluations re-ran the whole search
    // per consumer otherwise
    MemoCache.frame(spark, ("ann-ivf", d)) {
      val eRaw = embeddings(spark, d)
        .select(col("vec_id"), col("label"), scaled(col("embedding")).as("emb"))
      val e = eRaw.drop("label")
        .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      val cents = labelCellCentroids(eRaw)
      // assign every vector to its nearest cell; queries keep top-NProbe cells
      val scoredCells = e.crossJoin(broadcast(cents))
        .withColumn("csim", dotScaled(col("emb"), col("cemb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("cnorm2").cast("double"))))
      // corpus argmax via max(struct) aggregation — same (csim desc, cell asc)
      // rule as a rank-1 window (negcell breaks csim ties toward the smaller
      // cell) but with map-side partial aggregation instead of a full sort
      // shuffle of every (vector, cell) pair; the window only runs over the
      // NQueries query vectors.
      val corpusCells = scoredCells.filter(col("vec_id") >= NQueries)
        .groupBy(col("vec_id"))
        .agg(max(struct(col("csim"), (-col("cell")).as("negcell"),
          col("cell"), col("emb"), col("norm2"))).as("m"))
        .select(col("vec_id"), col("m.emb").as("emb"),
          col("m.norm2").as("norm2"), col("m.cell").as("cell"))
      val wv = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
      val queryCells = scoredCells.filter(col("vec_id") < NQueries)
        .withColumn("crk", row_number().over(wv))
        .filter(col("crk") <= NProbe)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm2").as("q_norm2"), col("cell"))
      val scored = corpusCells.join(broadcast(queryCells), "cell")
        .withColumn("cosine", round(
          dotScaled(col("emb"), col("q_emb")).cast("double") /
            (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
    }

  val annIvfSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | cv AS (SELECT label, i,
       |          CAST(FLOOR(CAST(SUM(emb[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |        FROM e, idx GROUP BY 1, 2),
       | cl AS (SELECT label AS cell, list(v ORDER BY i) AS cemb FROM cv GROUP BY 1),
       | cn AS (SELECT cell, cemb, (SELECT SUM(cemb[i] * cemb[i]) FROM idx) AS cnorm2
       |        FROM cl),
       | f AS (SELECT vec_id, emb, (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2
       |       FROM e),
       | sim AS (SELECT f.vec_id, f.emb, f.norm2, cn.cell,
       |           CAST((SELECT SUM(f.emb[i] * cn.cemb[i]) FROM idx) AS DOUBLE)
       |             / (sqrt(CAST(f.norm2 AS DOUBLE)) * sqrt(CAST(cn.cnorm2 AS DOUBLE)))
       |             AS csim
       |         FROM f CROSS JOIN cn),
       | ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |              ORDER BY csim DESC, cell) AS crk FROM sim),
       | c AS (SELECT vec_id, emb, norm2, cell FROM ranked
       |       WHERE crk = 1 AND vec_id >= $NQueries),
       | q AS (SELECT vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2, cell
       |       FROM ranked WHERE crk <= $NProbe AND vec_id < $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         ROUND(CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(c.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM c JOIN q ON c.cell = q.cell)
       |SELECT q_id, vec_id, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------------------ PQ codes
  /** Product quantization (Jégou et al. 2011) — the vector-compression
    * building block for warehouse-scale ANN: the 64-dim embedding splits
    * into [[PqM]] subvectors and each subvector is replaced by the index of
    * its nearest codebook entry, compressing 64 floats to [[PqM]] small
    * ints (32× here). The codebook per subspace is the corresponding
    * subvector of the first [[PqK]] corpus vectors — the deterministic
    * sampled-from-data initialization a k-means trainer would start from,
    * so the whole operator (training init + encoding) is bit-stable and
    * carries a full DuckDB oracle.
    *
    * Scale: the codebook is tiny and broadcast; encoding is a narrow scan
    * with an integer-exact argmin per (vector, subspace) — squared L2 in
    * scaled-int space via three native dot products (no per-element
    * lambdas). The groupBy argmin uses min(struct(dist2, k)): map-side
    * partial aggregation, no sort shuffle. Emits (vec_id, subspace, code,
    * dist2) rows; dist2 doubles as the per-subspace reconstruction error. */
  private val PqM = 8        // subspaces
  private val PqSubDim = Dim / PqM
  private val PqK = 16       // codebook entries per subspace

  /** (vec_id, subspace, col=subvector) rows from a scaled-int embedding
    * frame — one row per PQ subspace. */
  private def subvectors(df: DataFrame): DataFrame = df
    .select(col("vec_id"), posexplode(array(
      (0 until PqM).map(m => slice(col("emb"), m * PqSubDim + 1, PqSubDim)): _*)))
    .withColumnRenamed("pos", "subspace")

  /** Integer-exact squared L2 between two scaled-int subvectors via three
    * native dot products. */
  private def l2sq(a: Column, b: Column): Column =
    dotScaled(a, a) + dotScaled(b, b) - lit(2L) * dotScaled(a, b)

  def pqCodes(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val sub = subvectors(e).withColumnRenamed("col", "sv")
    val cb = subvectors(e.filter(col("vec_id") < PqK))
      .select(col("vec_id").as("k"), col("subspace"), col("col").as("cv"))
    sub.join(broadcast(cb), "subspace")
      .withColumn("dist2", l2sq(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min(struct(col("dist2"), col("k"))).as("m"))
      .select(col("vec_id"), col("subspace"),
        col("m.k").cast("int").as("code"), col("m.dist2").as("dist2"))
  }

  val pqCodesSql: String =
    s"""WITH jdx AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | sub AS (SELECT vec_id, m,
       |           emb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS sv
       |         FROM e, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       | cb AS (SELECT vec_id AS k, m, sv AS cv FROM sub WHERE vec_id < $PqK),
       | d AS (SELECT s.vec_id, s.m AS subspace, cb.k,
       |         CAST((SELECT SUM((s.sv[j] - cb.cv[j]) * (s.sv[j] - cb.cv[j]))
       |               FROM jdx) AS BIGINT) AS dist2
       |       FROM sub s JOIN cb ON s.m = cb.m)
       |SELECT vec_id, subspace, CAST(k AS INT) AS code, dist2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
       |              ORDER BY dist2, k) AS rn FROM d)
       |WHERE rn = 1""".stripMargin

  // ------------------------------------------------------ PQ ADC search
  /** Asymmetric-distance top-k over the PQ-compressed corpus — the read
    * path PQ exists for: the UNCOMPRESSED query builds a per-subspace
    * lookup table of exact distances to every codebook entry (M×K = 128
    * tiny rows, broadcast), and a corpus vector's approximate distance is
    * the SUM of M table lookups on its stored codes — no corpus embedding
    * is touched at query time. At 100 TB the codes table is ~32× smaller
    * than the embeddings and the scan is a broadcast-hash-probe + partial
    * aggregation; every step is integer-exact, so the oracle hash-checks
    * the full approximate ranking. */
  def pqSearch(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val cb = subvectors(e.filter(col("vec_id") < PqK))
      .select(col("vec_id").as("k"), col("subspace"), col("col").as("cv"))
    // per-query ADC lookup tables: exact dist2(query subvector, entry)
    val tables = subvectors(e.filter(col("vec_id") < NQueries))
      .select(col("vec_id").as("q_id"), col("subspace"), col("col").as("qv"))
      .join(cb, "subspace")
      .select(col("q_id"), col("subspace"), col("k"),
        l2sq(col("qv"), col("cv")).as("t"))
    val codes = pqCodes(spark, d).filter(col("vec_id") >= NQueries)
    val scored = codes
      .join(broadcast(tables),
        codes("subspace") === tables("subspace") &&
          codes("code") === tables("k"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("t")).as("approx_dist2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dist2"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("approx_dist2"), col("rk"))
  }

  val pqSearchSql: String =
    s"""WITH jdx AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | sub AS (SELECT vec_id, m,
       |           emb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS sv
       |         FROM e, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       | cb AS (SELECT vec_id AS k, m, sv AS cv FROM sub WHERE vec_id < $PqK),
       | d AS (SELECT s.vec_id, s.m, cb.k,
       |         CAST((SELECT SUM((s.sv[j] - cb.cv[j]) * (s.sv[j] - cb.cv[j]))
       |               FROM jdx) AS BIGINT) AS dist2
       |       FROM sub s JOIN cb ON s.m = cb.m),
       | codes AS (SELECT vec_id, m, k AS code FROM (
       |     SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                 ORDER BY dist2, k) AS rn FROM d)
       |   WHERE rn = 1 AND vec_id >= $NQueries),
       | t AS (SELECT vec_id AS q_id, m, k, dist2 AS t FROM d
       |       WHERE vec_id < $NQueries),
       | s AS (SELECT t.q_id, codes.vec_id,
       |         CAST(SUM(t.t) AS BIGINT) AS approx_dist2
       |       FROM codes JOIN t ON codes.m = t.m AND codes.code = t.k
       |       GROUP BY 1, 2)
       |SELECT q_id, vec_id, approx_dist2, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY approx_dist2, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------------ IVF-PQ (IVFADC)
  /** The full IVFADC pipeline (Jégou et al. 2011) — coarse cells + product
    * quantization OF THE RESIDUALS + asymmetric-distance search, i.e. the
    * architecture FAISS `IndexIVFPQ` ships and every billion-vector
    * deployment actually runs. Composition of the proven blocks above:
    * [[annIvf]]'s integer centroids give the cells; residuals are exact
    * integer subtractions; the residual codebook, encoding argmin and ADC
    * tables reuse the [[pqCodes]]/[[pqSearch]] machinery. A query probes
    * its top-NProbe cells, builds one ADC table PER PROBED CELL (residuals
    * are cell-relative), and scores a corpus vector as the sum of M table
    * lookups on its stored codes — corpus embeddings are never touched at
    * query time.
    *
    * Scale: centroids + codebook + ADC tables all broadcast (k·M·K tiny
    * rows); the codes table is ~32× smaller than the embeddings and is the
    * only thing scanned per query. Every step is integer-exact, so the
    * whole approximate index has a full DuckDB oracle. */
  def ivfpqSearch(spark: SparkSession, d: String): DataFrame =
    // per-query top-K result table (queries x K rows): memoized like
    // [[knnBrute]] — the recall/rank evaluations re-ran the whole search
    // per consumer otherwise
    MemoCache.frame(spark, ("ivfpq-search", d)) {
      val eRaw = embeddings(spark, d)
        .select(col("vec_id"), col("label"), scaled(col("embedding")).as("emb"))
      val e = eRaw.drop("label")
        .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      val cents = labelCellCentroids(eRaw)
      val scoredCells = e.crossJoin(broadcast(cents))
        .withColumn("csim", dotScaled(col("emb"), col("cemb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("cnorm2").cast("double"))))
      val residual = expr("zip_with(emb, cemb, (a, b) -> a - b)")
      // corpus: nearest cell (map-side argmax, as annIvf), residual vs it
      val corpusRes = scoredCells.filter(col("vec_id") >= NQueries)
        .groupBy(col("vec_id"))
        .agg(max(struct(col("csim"), (-col("cell")).as("negcell"),
          col("cell"), col("emb"), col("cemb"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"),
          col("m.emb").as("emb"), col("m.cemb").as("cemb"))
        .select(col("vec_id"), col("cell"), residual.as("remb"))
      def rsub(df: DataFrame, idCols: Seq[String]) = df
        .select(idCols.map(col) :+ posexplode(array(
          (0 until PqM).map(m => slice(col("remb"), m * PqSubDim + 1, PqSubDim)): _*)): _*)
        .withColumnRenamed("pos", "subspace")
      // residual codebook: the first PqK corpus vectors' residual subvectors
      val cb = rsub(corpusRes.filter(col("vec_id") < NQueries + PqK),
          Seq("vec_id"))
        .select(col("vec_id").as("k"), col("subspace"), col("col").as("cv"))
      val codes = rsub(corpusRes, Seq("vec_id", "cell"))
        .withColumnRenamed("col", "sv")
        .join(broadcast(cb), "subspace")
        .withColumn("dist2", l2sq(col("sv"), col("cv")))
        .groupBy(col("vec_id"), col("cell"), col("subspace"))
        .agg(min(struct(col("dist2"), col("k"))).as("m"))
        .select(col("vec_id"), col("cell"), col("subspace"), col("m.k").as("code"))
      // queries: top-NProbe cells, one residual (and ADC table) per cell
      val wv = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
      val qRes = scoredCells.filter(col("vec_id") < NQueries)
        .withColumn("crk", row_number().over(wv))
        .filter(col("crk") <= NProbe)
        .select(col("vec_id").as("q_id"), col("cell"), residual.as("remb"))
      val tables = rsub(qRes, Seq("q_id", "cell"))
        .withColumnRenamed("col", "qv")
        .join(broadcast(cb), "subspace")
        .select(col("q_id"), col("cell"), col("subspace"), col("k"),
          l2sq(col("qv"), col("cv")).as("t"))
      val scored = codes.join(broadcast(tables), Seq("cell", "subspace"))
        .filter(col("code") === col("k"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("t")).as("approx_dist2"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("approx_dist2"), col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("approx_dist2"), col("rk"))
    }

  val ivfpqSearchSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | jdx AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j),
       | ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       | e AS (SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | cv AS (SELECT label, i,
       |          CAST(FLOOR(CAST(SUM(emb[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |        FROM e, idx GROUP BY 1, 2),
       | cl AS (SELECT label AS cell, list(v ORDER BY i) AS cemb FROM cv GROUP BY 1),
       | cn AS (SELECT cell, cemb, (SELECT SUM(cemb[i] * cemb[i]) FROM idx) AS cnorm2
       |        FROM cl),
       | f AS (SELECT vec_id, emb, (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2
       |       FROM e),
       | sim AS (SELECT f.vec_id, f.emb, cn.cell, cn.cemb,
       |           CAST((SELECT SUM(f.emb[i] * cn.cemb[i]) FROM idx) AS DOUBLE)
       |             / (sqrt(CAST(f.norm2 AS DOUBLE)) * sqrt(CAST(cn.cnorm2 AS DOUBLE)))
       |             AS csim
       |         FROM f CROSS JOIN cn),
       | ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |              ORDER BY csim DESC, cell) AS crk FROM sim),
       | cres AS (SELECT vec_id, cell,
       |            list_transform(range(1, ${Dim + 1}), i -> emb[i] - cemb[i]) AS remb
       |          FROM ranked WHERE crk = 1 AND vec_id >= $NQueries),
       | rsub AS (SELECT vec_id, cell, m,
       |            remb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS sv
       |          FROM cres, ms),
       | cb AS (SELECT vec_id AS k, m, sv AS cv FROM rsub
       |        WHERE vec_id < ${NQueries + PqK}),
       | dmat AS (SELECT r.vec_id, r.cell, r.m, cb.k,
       |            CAST((SELECT SUM((r.sv[j] - cb.cv[j]) * (r.sv[j] - cb.cv[j]))
       |                  FROM jdx) AS BIGINT) AS dist2
       |          FROM rsub r JOIN cb ON r.m = cb.m),
       | codes AS (SELECT vec_id, cell, m, k AS code FROM (
       |     SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                 ORDER BY dist2, k) AS rn FROM dmat)
       |   WHERE rn = 1),
       | qres AS (SELECT vec_id AS q_id, cell,
       |            list_transform(range(1, ${Dim + 1}), i -> emb[i] - cemb[i]) AS remb
       |          FROM ranked WHERE crk <= $NProbe AND vec_id < $NQueries),
       | qsub AS (SELECT q_id, cell, m,
       |            remb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS qv
       |          FROM qres, ms),
       | t AS (SELECT q.q_id, q.cell, q.m, cb.k,
       |         CAST((SELECT SUM((q.qv[j] - cb.cv[j]) * (q.qv[j] - cb.cv[j]))
       |               FROM jdx) AS BIGINT) AS t
       |       FROM qsub q JOIN cb ON q.m = cb.m),
       | s AS (SELECT t.q_id, codes.vec_id, CAST(SUM(t.t) AS BIGINT) AS approx_dist2
       |       FROM codes JOIN t ON codes.cell = t.cell AND codes.m = t.m
       |            AND codes.code = t.k
       |       GROUP BY 1, 2)
       |SELECT q_id, vec_id, approx_dist2, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY approx_dist2, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------------- scalar quantization
  /** Per-dimension uint8 scalar quantization (SQ8) — the other standard
    * vector-compression scheme next to PQ (FAISS `ScalarQuantizer`, Milvus
    * SQ8): each dimension maps to `floor((x-mn_i)*255/(mx_i-mn_i))` against
    * the GLOBAL per-dimension min/max, compressing a float to one byte (4×)
    * with no codebook training at all. All arithmetic stays in scaled-int
    * space: the numerator `(x_s-mn_s)*255` is a non-negative long and the
    * integer division is engine-independent, so codes are bit-stable.
    *
    * Scale: the stats pass is a 64-row aggregate (map-side combined) that
    * collapses to ONE broadcast row of min/max arrays; encoding is then an
    * exchange-free narrow scan. Stats cover the whole table (queries
    * included) so [[sqCodes]] and [[sqSearch]] share one quantizer. */
  private def sqStats(e: DataFrame): DataFrame = e
    .select(posexplode(col("emb")))
    .groupBy(col("pos"))
    .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
    .groupBy()
    .agg(sort_array(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("s"))
    .select(expr("transform(s, t -> t.mn)").as("mn_arr"),
            expr("transform(s, t -> t.mx)").as("mx_arr"))

  /** `transform` SQL computing the uint8 code per element against the
    * broadcast `mn_arr`/`mx_arr` (flat dimensions collapse to code 0). */
  private val sqCodeExpr =
    """transform(emb, (x, i) -> CASE
      |  WHEN element_at(mx_arr, i + 1) = element_at(mn_arr, i + 1) THEN CAST(0 AS BIGINT)
      |  ELSE ((x - element_at(mn_arr, i + 1)) * 255) DIV
      |       (element_at(mx_arr, i + 1) - element_at(mn_arr, i + 1))
      |END)""".stripMargin

  def sqCodes(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    e.crossJoin(broadcast(sqStats(e)))
      .select(col("vec_id"), posexplode(expr(sqCodeExpr)))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        col("col").cast("int").as("code"))
  }

  val sqCodesSql: String =
    s"""WITH e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | st AS (SELECT i, MIN(emb[i]) AS mn, MAX(emb[i]) AS mx FROM e, idx GROUP BY 1)
       |SELECT vec_id, i AS dim,
       |  CAST(CASE WHEN mx = mn THEN 0
       |            ELSE ((emb[i] - mn) * 255) // (mx - mn) END AS INT) AS code
       |FROM e, st""".stripMargin

  /** Asymmetric SQ search (the read path): the UNCOMPRESSED query scores
    * against DEQUANTIZED corpus codes — dequantization keeps the exact
    * rational `mn*255 + code*(mx-mn)` numerator (denominator 255 is a
    * constant, rank-irrelevant), so the approximate inner product
    * `Σ q_i·dq_i` is one exact long dot product per corpus vector and the
    * full approximate ranking hash-checks against DuckDB. Corpus codes
    * never leave their partition: queries and the stats row broadcast,
    * top-k is a per-query window over |corpus| scored rows. */
  def sqSearch(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val dq = e.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(sqStats(e)))
      .withColumn("codes", expr(sqCodeExpr))
      .select(col("vec_id"), expr(
        """transform(codes, (c, i) ->
          |  element_at(mn_arr, i + 1) * 255 +
          |  c * (element_at(mx_arr, i + 1) - element_at(mn_arr, i + 1)))""".stripMargin)
        .as("dq"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    dq.crossJoin(broadcast(q))
      .withColumn("score", dotScaled(col("dq"), col("q_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("score"), col("rk"))
  }

  val sqSearchSql: String =
    s"""WITH e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | st AS (SELECT i, MIN(emb[i]) AS mn, MAX(emb[i]) AS mx FROM e, idx GROUP BY 1),
       | cs AS (SELECT vec_id, i,
       |          CASE WHEN mx = mn THEN 0
       |               ELSE ((emb[i] - mn) * 255) // (mx - mn) END AS code
       |        FROM e, st WHERE vec_id >= $NQueries),
       | dq AS (SELECT vec_id, cs.i, mn * 255 + code * (mx - mn) AS dqv
       |        FROM cs JOIN st ON cs.i = st.i),
       | q AS (SELECT vec_id AS q_id, i, emb[i] AS qv
       |       FROM e, idx WHERE vec_id < $NQueries),
       | s AS (SELECT q_id, dq.vec_id, CAST(SUM(dqv * qv) AS BIGINT) AS score
       |       FROM dq JOIN q ON dq.i = q.i GROUP BY 1, 2)
       |SELECT q_id, vec_id, score, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY score DESC, vec_id) AS rk FROM s)
       |WHERE rk <= $TopK""".stripMargin

  // ------------------------------------------- binary quantization (BQ)
  /** One packed 32-bit sign half: bit j set iff scaled(emb)[lo+j] > 0 —
    * 32 unrolled constant-shift terms OR-reduced, codegen-resident (the
    * zorder idiom), no UDF and no per-element lambda. Two halves instead
    * of one 64-bit word keep every packed value positive, so the SQL
    * oracle's disjoint-bit SUM replay never touches the sign bit.
    *
    * The terms read the RAW float array and test `x * 1e7 >= 1` — exactly
    * `floor(x * 1e7) > 0`, the oracle's scaled-integer sign — because an
    * aliased scaled() array would be INLINED by CollapseProject into all
    * 64 element_at terms, re-scaling the whole 64-float array per term
    * (measured: 0.48 s warm for the 32k-row encode; 0.03 s this way). */
  private def bqPack(raw: Column, lo: Int): Column =
    (0 until 32).map { j =>
      when(element_at(raw, lo + j + 1).cast("double") * lit(1e7) >= 1.0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  private def bqPackSqlHalf(lo: Int): String =
    s"""(SELECT CAST(COALESCE(SUM(CASE WHEN emb[j + ${lo + 1}] > 0
       |    THEN (1::BIGINT << j) ELSE 0 END), 0) AS BIGINT)
       |  FROM (SELECT unnest(generate_series(0, 31)) AS j))""".stripMargin

  /** Sign-bit binary quantization codes: 64 float dims compress to 8
    * packed bytes (two 32-bit halves) — a 32x scan-side compression.
    * Production serving keeps ONLY this table hot; the float vectors stay
    * cold for the rerank tail ([[annRerank]]'s pattern). */
  def bqCodes(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d)
      .select(col("vec_id"),
        bqPack(col("embedding"), 0).as("code_lo"),
        bqPack(col("embedding"), 32).as("code_hi"))

  val bqCodesSql: String =
    s"""WITH e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings)
       |SELECT vec_id,
       |  ${bqPackSqlHalf(0)} AS code_lo,
       |  ${bqPackSqlHalf(32)} AS code_hi
       |FROM e""".stripMargin

  /** Hamming top-K over the packed sign codes: distance = popcount(xor)
    * summed over the two halves — the cheapest vector distance there is
    * (two xors + two popcounts per candidate, SIMD-friendly, fully inside
    * whole-stage codegen via the built-in `bit_count`).
    *
    * Scale: still a linear scan, but over 8-byte codes instead of 256-byte
    * float rows — memory-bandwidth-bound at 1/32 the bytes, which is the
    * whole BQ trade; at cluster scale the scan composes with [[annIvf]]'s
    * cell pruning exactly like PQ does (Hamming replaces the ADC table).
    * Queries broadcast; per-query window top-K on integer distance with
    * the vec_id tie-break (Hamming ties are COMMON — 65 possible values —
    * so the deterministic tie-break is what makes the output hashable). */
  def bqSearch(spark: SparkSession, d: String): DataFrame =
    // per-query top-K result table (queries x K rows): memoized like
    // [[knnBrute]] — the recall/rank evaluations re-ran the whole search
    // per consumer otherwise
    MemoCache.frame(spark, ("bq-search", d)) {
      val codes = bqCodes(spark, d)
      val q = codes.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
      val corpus = codes.filter(col("vec_id") >= NQueries)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("hamming"), col("vec_id"))
      corpus.crossJoin(broadcast(q))
        .withColumn("hamming",
          (bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("code_hi").bitwiseXOR(col("q_hi")))).cast("int"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("hamming"), col("rk"))
    }

  /** Hamming scan + per-query rank, shared by the search and rerank
    * oracles (they differ only in how deep they cut the ranking). */
  private val bqHammingRankedSql: String =
    s"""WITH codes AS ($bqCodesSql),
       | q AS (SELECT vec_id AS q_id, code_lo AS q_lo, code_hi AS q_hi
       |       FROM codes WHERE vec_id < $NQueries),
       | c AS (SELECT vec_id, code_lo, code_hi FROM codes WHERE vec_id >= $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         CAST(bit_count(xor(c.code_lo, q.q_lo)) AS INT) +
       |         CAST(bit_count(xor(c.code_hi, q.q_hi)) AS INT) AS hamming
       |       FROM c CROSS JOIN q),
       | hranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |               ORDER BY hamming, vec_id) AS rk FROM s)""".stripMargin

  val bqSearchSql: String =
    s"""$bqHammingRankedSql
       |SELECT q_id, vec_id, hamming, rk FROM hranked
       |WHERE rk <= $TopK""".stripMargin

  /** The BQ honesty loop: recall@K of sign-bit Hamming search vs exact
    * cosine — measured, like every other index variant's, before anyone
    * trusts the 32x compression. Measured at sf0.01: mean recall@5 = 0.24
    * (per-dimension mean-centering was probed and does NOT help on this
    * corpus — 0.22 — so the simpler raw sign bit stays). That number is
    * the reason production BQ is a PREFILTER, not a ranker — see
    * [[bqRerank]], which restores recall to 0.84 here. */
  def bqRecall(spark: SparkSession, d: String): DataFrame =
    recallAgainstExact(knnBrute(spark, d), bqSearch(spark, d))

  lazy val bqRecallSql: String = recallSqlAgainst(bqSearchSql)

  // floor 100 = 20x K (2.5% of the sf0.01 corpus); effective shortlist is
  // corpus-scaled via [[coarsePoolOf]] (n/40 keeps the documented 2.5%)
  private val BqShortlist = 100
  private val BqShortlistDiv = 40L

  /** BQ as production uses it — a two-stage scan: the 8-byte Hamming scan
    * shortlists [[BqShortlist]] candidates per query (the cheap pass over
    * 1/32 the bytes), then ONLY the shortlist fetches its float vectors
    * for the exact cosine top-K. Measured at sf0.01: recall@5 = 0.24 raw
    * ([[bqRecall]]) → 0.84 reranked ([[bqRerankRecall]]) while the float
    * pass touches 2.5% of the corpus.
    *
    * Scale: the shortlist is |queries| x [[BqShortlist]] rows — broadcast
    * back onto the corpus for the float fetch, so the full-precision table
    * NEVER shuffles ([[annRerank]]'s invariant, reached through the BQ
    * scan instead of an LSH index). */
  def bqRerank(spark: SparkSession, d: String): DataFrame =
    // per-query top-K result table (queries x K rows): memoized like
    // [[knnBrute]] — the recall/rank evaluations re-ran the whole search
    // per consumer otherwise
    MemoCache.frame(spark, ("bq-rerank", d)) {
      val codes = bqCodes(spark, d)
      val q = codes.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
      val wHam = Window.partitionBy(col("q_id"))
        .orderBy(col("hamming"), col("vec_id"))
      val short = codes.filter(col("vec_id") >= NQueries)
        .crossJoin(broadcast(q))
        .withColumn("hamming",
          (bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("code_hi").bitwiseXOR(col("q_hi")))).cast("int"))
        .withColumn("hrk", row_number().over(wHam))
        .filter(col("hrk") <=
          coarsePoolOf(spark, d, BqShortlist, BqShortlistDiv))
        .select(col("q_id"), col("vec_id"))
      val e = embeddings(spark, d)
        .select(col("vec_id"), scaled(col("embedding")).as("emb"))
        .withColumn("norm2", dotScaled(col("emb"), col("emb")))
      val qe = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm2").as("q_norm2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      e.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(qe), Seq("q_id"))
        .withColumn("cosine", round(
          dotScaled(col("emb"), col("q_emb")).cast("double") /
            (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
    }

  val bqRerankSql: String =
    s"""$bqHammingRankedSql,
       | sl AS (SELECT q_id, vec_id FROM hranked
       |        WHERE rk <= GREATEST($BqShortlist,
       |          (SELECT COUNT(*) FROM embeddings) // $BqShortlistDiv)),
       | idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, SUM(emb[i] * emb[i]) AS norm2 FROM e, idx GROUP BY 1),
       | qe AS (SELECT e.vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2
       |        FROM e JOIN f ON e.vec_id = f.vec_id WHERE e.vec_id < $NQueries),
       | ce AS (SELECT e.vec_id, emb, norm2
       |        FROM e JOIN f ON e.vec_id = f.vec_id),
       | r AS (SELECT sl.q_id, sl.vec_id,
       |         ROUND(CAST((SELECT SUM(ce.emb[i] * qe.q_emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(ce.norm2 AS DOUBLE)) * sqrt(CAST(qe.q_norm2 AS DOUBLE))), 6)
       |           AS cosine
       |       FROM sl JOIN ce ON sl.vec_id = ce.vec_id
       |               JOIN qe ON sl.q_id = qe.q_id)
       |SELECT q_id, vec_id, cosine, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |              ORDER BY cosine DESC, vec_id) AS rk FROM r)
       |WHERE rk <= $TopK""".stripMargin

  /** Recall of the two-stage BQ scan — the number that justifies shipping
    * BQ at all (see [[bqRerank]]). */
  def bqRerankRecall(spark: SparkSession, d: String): DataFrame =
    recallAgainstExact(knnBrute(spark, d), bqRerank(spark, d))

  lazy val bqRerankRecallSql: String = recallSqlAgainst(bqRerankSql)

  // ------------------------------------------------------ semantic dedup
  private val SemDedupThreshold = 0.4

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): assign every
    * vector to its nearest coarse cell, then compare pairs only WITHIN a
    * cell; a vector is a semantic duplicate if some lower-id cell-mate's
    * cosine reaches the threshold (keep-first policy — `dup_of` names the
    * smallest such neighbor). Flag-not-drop, like the reference's duplicate
    * handling.
    *
    * Scale: this is exactly why SemDeDup clusters first — the quadratic
    * pairing is confined to a cell, so cost is Σ|cell|², and the plan is
    * one broadcast join (cells) + one self-join shuffled on the cell key.
    * The cells HERE come from the fixture's fixed-cardinality `label`
    * column (deterministic, so the full output hash-checks against
    * DuckDB); labels are NOT a tunable knob — one heavy label makes its
    * cell quadratic. The scale path is [[semDedupKmeans]], which derives
    * the cells from the k-means trainer with k growing with the corpus
    * (k ≈ √n), the standard IVF/SemDeDup sizing. Cell assignment and pair
    * cosines reuse the integer-exact centroid/dot machinery of
    * [[annIvf]]. */
  def semDedup(spark: SparkSession, d: String): DataFrame = {
    // Label cells are a fixed-count partition (10 on the test tables), so
    // the within-cell pair pass grows as n²/10 — ScaleProbe measured the
    // x4→x16 step at 8.3x for 4x the vectors. Past the gate the operator
    // routes to [[semDedupKmeans]], whose √n cell count bounds pair work
    // at ~n^1.5 — which is also the paper's actual algorithm (k-means
    // cells; labels are only a deterministic stand-in at oracle scale).
    //
    // ORACLE CONTRACT: [[semDedupSql]] replays the label-cell form, i.e.
    // it describes this operator at-or-under the gate (all driver-gate
    // fixtures qualify: ≤2000 vectors). Past the gate the output keeps
    // its schema but the cell structure — an index parameter of the
    // approximation, like annIvf's NProbe — changes to k-means; that
    // regime is pinned by DedupScaleSpec (gate-forced routing must equal
    // the direct k-means call bit-for-bit), not by the SQL oracle.
    // default 2^12: n²/(2·10) pairs ≈ 840k at the boundary
    if (embeddingCount(spark, d) > GraftConf.DedupMaxLabelCellVecs.get(spark))
      return semDedupKmeans(spark, d)
    val eRaw = embeddings(spark, d)
      .select(col("vec_id"), col("label"), scaled(col("embedding")).as("emb"))
    val e = eRaw.drop("label")
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    semDedupWithCells(e, labelCellCentroids(eRaw))
  }

  /** SemDeDup over k-means-derived cells — the corpus-scale form: the cell
    * count is a PARAMETER (default ≈ √n, so expected cell size √n keeps
    * Σ|cell|² ≈ n^1.5 instead of n²), trained by the same distributed
    * Lloyd rounds as [[kmeans]] and assigned/deduped by the same
    * integer-exact cell machinery as [[semDedup]]. */
  def semDedupKmeans(spark: SparkSession, d: String, k: Int = 0): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val kk =
      if (k > 0) k
      else math.max(KmK, math.ceil(math.sqrt(embeddingCount(spark, d).toDouble)).toInt)
    val cents = trainedCentroids(spark, d, kk, KmIters)
      .select(col("cluster").cast("long").as("cell"), col("cemb"))
      .withColumn("cnorm2", dotScaled(col("cemb"), col("cemb")))
    semDedupWithCells(e, cents)
  }

  /** Shared SemDeDup tail: nearest-cell assignment (broadcast centroids),
    * within-cell pair pass, keep-first duplicate flags. `e` carries
    * (vec_id, emb, norm2); `cents` carries (cell, cemb, cnorm2). */
  private def semDedupWithCells(e: DataFrame, cents: DataFrame): DataFrame = {
    // slim argmax: only (vec_id, cell, csim) flows through the k·n-row
    // aggregate, and the winning cell re-joins the embedding frame on
    // vec_id. `assigned` feeds the self-joined pair pass twice plus the
    // final flag join, so its recomputed upstream stays narrow three
    // times over; in single-consumer kmAssign the same reshape loses
    // (the extra keyed exchange buys nothing there — see its note).
    val best = e.crossJoin(broadcast(cents))
      .withColumn("csim", dotScaled(col("emb"), col("cemb")).cast("double") /
        (sqrt(col("norm2").cast("double")) * sqrt(col("cnorm2").cast("double"))))
      .select(col("vec_id"), col("cell"), col("csim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cell")).as("negcell"),
        col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
    val assigned = e.join(best, "vec_id")
      .select(col("vec_id"), col("cell"), col("emb"), col("norm2"))
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .withColumn("cosine", round(
        dotScaled(col("a.emb"), col("b.emb")).cast("double") /
          (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))), 6))
      .filter(col("cosine") >= SemDedupThreshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("b.vec_id")).as("dup_of"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  val semDedupSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | cv AS (SELECT label, i,
       |          CAST(FLOOR(CAST(SUM(emb[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |        FROM e, idx GROUP BY 1, 2),
       | cl AS (SELECT label AS cell, list(v ORDER BY i) AS cemb FROM cv GROUP BY 1),
       | cn AS (SELECT cell, cemb, (SELECT SUM(cemb[i] * cemb[i]) FROM idx) AS cnorm2
       |        FROM cl),
       | f AS (SELECT vec_id, emb, (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2
       |       FROM e),
       | sim AS (SELECT f.vec_id, f.emb, f.norm2, cn.cell,
       |           CAST((SELECT SUM(f.emb[i] * cn.cemb[i]) FROM idx) AS DOUBLE)
       |             / (sqrt(CAST(f.norm2 AS DOUBLE)) * sqrt(CAST(cn.cnorm2 AS DOUBLE)))
       |             AS csim
       |         FROM f CROSS JOIN cn),
       | a AS (SELECT vec_id, emb, norm2, cell FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY csim DESC, cell) AS crk FROM sim)
       |       WHERE crk = 1),
       | p AS (SELECT x.vec_id AS vec_id, MIN(y.vec_id) AS dup_of
       |       FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id > y.vec_id
       |       WHERE ROUND(CAST((SELECT SUM(x.emb[i] * y.emb[i]) FROM idx) AS DOUBLE)
       |           / (sqrt(CAST(x.norm2 AS DOUBLE)) * sqrt(CAST(y.norm2 AS DOUBLE))), 6)
       |           >= $SemDedupThreshold
       |       GROUP BY 1)
       |SELECT a.vec_id, a.cell, p.dup_of IS NOT NULL AS is_dup, p.dup_of
       |FROM a LEFT JOIN p ON a.vec_id = p.vec_id""".stripMargin

  // ------------------------------------------------------------ k-means
  private val KmK = 8          // clusters
  private val KmIters = 2      // Lloyd update rounds

  /** Distributed k-means (Lloyd's algorithm), the trainer behind the coarse
    * cells that [[annIvf]] and [[semDedup]] consume: deterministic seeding
    * from the first [[KmK]] corpus vectors, [[KmIters]] assign/update
    * rounds, and a final assignment. All in scaled-integer space — squared
    * L2 via three exact dot products, centroid updates as floor(sum/count)
    * per dimension — so every round is bit-stable and the whole trainer
    * hash-checks against a DuckDB replica.
    *
    * Scale: each round is the canonical distributed Lloyd shape — broadcast
    * the k centroids against the corpus scan, per-vector argmin as a
    * min(struct) partial aggregation (map-side combine, no sort), and a
    * k×dim-sized centroid update aggregation. Rounds are a fixed, small
    * number; nothing driver-side grows with the corpus. */
  def kmeans(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    kmAssign(e, trainedCentroids(spark, d, KmK, KmIters))
      .select(col("vec_id"), col("cluster"), col("dist2"))
  }

  /** One Lloyd assignment round: broadcast centroids, per-vector argmin as
    * a min(struct) partial aggregation (tie-break dist2 then cluster). */
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame =
    // the embedding rides through the argmin struct on purpose: partial
    // aggregation collapses the k·n score rows back to n per partition
    // BEFORE the exchange, so only n embedding-bearing rows cross the
    // wire — an argmin-then-rejoin reshape measured slower here (the
    // extra keyed exchange outweighs the in-stage width for this
    // single-consumer assignment)
    e.crossJoin(broadcast(cents))
      .withColumn("dist2", l2sq(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("cluster"), col("emb"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.dist2").as("dist2"), col("m.emb").as("emb"))

  /** Centroid update: floor(sum/count) per dimension in scaled-int space. */
  private def kmUpdate(assigned: DataFrame): DataFrame = assigned
    .select(col("cluster"), posexplode(col("emb")))
    .groupBy(col("cluster"), col("pos"))
    .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("cv"))
    .groupBy(col("cluster"))
    .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("cs"))
    .select(col("cluster"), transform(col("cs"), _.getField("cv")).as("cemb"))

  /** The trained centroid table (cluster, cemb) after `iters` Lloyd rounds
    * from the deterministic first-k seed — the shared trainer behind
    * [[kmeans]] and [[semDedupKmeans]]. */
  private[graft] def trainedCentroids(spark: SparkSession, d: String,
                                      k: Int, iters: Int): DataFrame =
    // memoized per (dataset, k, iters) so every consumer (kmeans,
    // inertia, semantic dedup) reuses one training run; the build
    // persists and materializes the trained table itself
    MemoCache.frame(spark, ("kmeans-centroids", d, k, iters)) {
      val e = embeddings(spark, d)
        .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      val seed = e.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cluster"), col("emb").as("cemb"))
      val trained = (1 to iters).foldLeft(seed)((c, _) => kmUpdate(kmAssign(e, c)))
        .persist()
      trained.count()
      trained
    }

  /** Per-cluster inertia (within-cluster sum of squared distances) + sizes
    * — the clustering-quality evaluation loop, the k-means analog of
    * [[annRecall]]: run after every training round to keep the cluster
    * structure honest. Pure rollup of the integer-exact assignment, so the
    * whole evaluation hash-checks. */
  def kmeansInertia(spark: SparkSession, d: String): DataFrame =
    kmeans(spark, d)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("dist2")).as("inertia"))

  lazy val kmeansInertiaSql: String =
    s"""WITH base AS ($kmeansSql)
       |SELECT cluster, COUNT(*) AS n_vectors, CAST(SUM(dist2) AS BIGINT) AS inertia
       |FROM base GROUP BY 1""".stripMargin

  // one assign CTE + one update CTE pair per round, mirroring the Spark
  // fold exactly (argmin tie-break: dist2, then cluster)
  private def kmAssignCte(n: Int, cents: String): String =
    s""" a$n AS (SELECT vec_id, cluster, dist2, emb FROM (
       |   SELECT f.vec_id, c.cluster, f.emb,
       |     CAST((SELECT SUM((f.emb[i] - c.cemb[i]) * (f.emb[i] - c.cemb[i]))
       |           FROM idx) AS BIGINT) AS dist2,
       |     ROW_NUMBER() OVER (PARTITION BY f.vec_id
       |       ORDER BY (SELECT SUM((f.emb[i] - c.cemb[i]) * (f.emb[i] - c.cemb[i]))
       |                 FROM idx), c.cluster) AS rn
       |   FROM f CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
  private def kmUpdateCte(n: Int): String =
    s""" u$n AS (SELECT cluster, i,
       |   CAST(FLOOR(CAST(SUM(emb[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |   FROM a$n, idx GROUP BY 1, 2),
       | c$n AS (SELECT cluster, list(v ORDER BY i) AS cemb FROM u$n GROUP BY 1)""".stripMargin

  /** The shared [[kmeansSql]] training chain, ending at the trained
    * centroid table `c2` — reused by every oracle that consumes the
    * trained model ([[kmeansSql]], [[silhouetteSql]]). */
  private def kmChainCtes: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, emb FROM e),
       | c0 AS (SELECT CAST(vec_id AS INT) AS cluster, emb AS cemb FROM e
       |        WHERE vec_id < $KmK),
       |${kmAssignCte(1, "c0")},
       |${kmUpdateCte(1)},
       |${kmAssignCte(2, "c1")},
       |${kmUpdateCte(2)}""".stripMargin

  val kmeansSql: String =
    s"""$kmChainCtes,
       |${kmAssignCte(3, "c2")}
       |SELECT vec_id, cluster, dist2 FROM a3""".stripMargin

  // --------------------------------------------------- simplified silhouette
  /** Simplified (centroid-based) silhouette — the clustering-quality readout
    * over the [[kmeans]] model (Vendramin et al.'s medoid-free variant):
    * per vector, a = distance to its own centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/b = 1 − √(d_own/d_next) since the
    * assignment is the argmin (a ≤ b, so s ∈ [0,1] here). Per-vector scores
    * quantize to FLOOR(1e6·s) longs BEFORE the per-cluster mean, so the
    * aggregation is an exact integer sum (a float mean would be
    * summation-order-dependent across engines) and only the final
    * mean division is floating point.
    *
    * Scale: one broadcast of k centroids, one crossJoin scored map-side
    * into a k-bounded collect_list per vector (k = [[KmK]]), one
    * cluster-grain rollup — the same shape as [[kmeansInertia]]. */
  def silhouette(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val top2 = e.crossJoin(broadcast(trainedCentroids(spark, d, KmK, KmIters)))
      .withColumn("dist2", l2sq(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(slice(sort_array(collect_list(struct(col("dist2"), col("cluster")))),
        1, 2).as("t2"))
      .select(col("vec_id"),
        col("t2")(0).getField("cluster").as("cluster"),
        col("t2")(0).getField("dist2").as("d_own"),
        col("t2")(1).getField("dist2").as("d_next"))
    top2
      .withColumn("s_scaled",
        when(col("d_next") === 0, 0L).otherwise(
          floor(lit(1000000.0) * (lit(1.0) -
            sqrt(col("d_own").cast("double") / col("d_next")))).cast("long")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("s_scaled")).cast("double") / lit(1000000.0) /
          count(lit(1)), 6).as("mean_silhouette"))
  }

  /** [[kmChainCtes]] (same trained model) + the rn≤2 pivot and the same
    * integer-quantized scores. */
  val silhouetteSql: String =
    s"""$kmChainCtes,
       | pair AS (SELECT vec_id,
       |     MAX(CASE WHEN rn = 1 THEN cluster END) AS cluster,
       |     MAX(CASE WHEN rn = 1 THEN dist2 END) AS d_own,
       |     MAX(CASE WHEN rn = 2 THEN dist2 END) AS d_next
       |   FROM (
       |     SELECT f.vec_id, c.cluster,
       |       CAST((SELECT SUM((f.emb[i] - c.cemb[i]) * (f.emb[i] - c.cemb[i]))
       |             FROM idx) AS BIGINT) AS dist2,
       |       ROW_NUMBER() OVER (PARTITION BY f.vec_id
       |         ORDER BY (SELECT SUM((f.emb[i] - c.cemb[i]) * (f.emb[i] - c.cemb[i]))
       |                   FROM idx), c.cluster) AS rn
       |     FROM f CROSS JOIN c2 c) WHERE rn <= 2 GROUP BY 1),
       | s AS (SELECT vec_id, cluster,
       |     CASE WHEN d_next = 0 THEN CAST(0 AS BIGINT)
       |          ELSE CAST(FLOOR(1000000.0 * (1.0 -
       |                 sqrt(CAST(d_own AS DOUBLE) / d_next))) AS BIGINT)
       |     END AS s_scaled
       |   FROM pair)
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  ROUND(CAST(SUM(s_scaled) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
       |    AS mean_silhouette
       |FROM s GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ outliers
  /** Embedding-space outlier scoring — the contamination/junk detector of
    * a curation pipeline: each vector's squared distance to the corpus
    * centroid, z-scored over the corpus, flagged one-sided at z > 3 (far
    * from the centroid; being unusually CLOSE is not an anomaly).
    *
    * Exactness: the centroid quantizes to the scaled-integer grid
    * (floor(per-dim sum / n) — the sum is an exact long while n x 1e7 <
    * 2^53, far beyond any real corpus's per-dim mass), so every distance is
    * an EXACT long ([[dotScaled]] of the integer diff with itself) and the
    * corpus moments are exact integer sums (decimal-widened: dist2 < 2^53
    * and sum-of-squares < 10^38 up to ~10^6 x corpus — shard the stats per
    * stratum beyond that, like the daily-rollup pattern). The only doubles
    * are the final mean/variance/z, the same fixed formula both engines
    * evaluate on identical inputs ([[graft.queries.EventQueries.anomaly]]'s
    * determinism argument).
    *
    * Scale: per-dim sums are ONE map-side-combinable shuffle of 64 x
    * partitions rows; the 64-long centroid broadcasts; scoring is a narrow
    * pass; the moment agg is one more single-row reduce. No window over the
    * corpus, no driver collect. */
  def outliers(spark: SparkSession, d: String): DataFrame = {
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val centroidRow = e
      .select(posexplode(col("emb")))
      .groupBy(col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
      .select(col("pos"),
        floor(col("s").cast("double") / col("cnt")).cast("long").as("mq"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mq")))),
        x => x.getField("mq")).as("centroid"))
    // materialized once: the moment aggregate AND the output probe both
    // consume it — without the checkpoint each branch re-scans the
    // embeddings and recomputes the distance pass (same single-scan fix
    // as the rolling sketch queries)
    val scored = e.crossJoin(broadcast(centroidRow))
      .select(col("vec_id"),
        dotScaled(
          zip_with(col("emb"), col("centroid"), (a, b) => a - b),
          zip_with(col("emb"), col("centroid"), (a, b) => a - b)).as("dist2"))
      .localCheckpoint()
    val stats = scored.agg(
      count(lit(1)).as("n"),
      sum(col("dist2").cast("decimal(38,0)")).cast("double").as("sum_d"),
      sum(col("dist2").cast("decimal(20,0)") * col("dist2").cast("decimal(20,0)"))
        .cast("double").as("sumsq_d"))
    val mean = col("sum_d") / col("n")
    val variance =
      (col("sumsq_d") - col("sum_d") * col("sum_d") / col("n")) / (col("n") - 1)
    scored.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("dist2"),
        when(col("n") >= 2 && variance > 0,
          round((col("dist2").cast("double") - mean) / sqrt(variance), 6))
          .as("z"))
      .withColumn("is_outlier", col("z") > 3)
  }

  val outliersSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id, list_transform(embedding,
       |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | s AS (SELECT i, CAST(SUM(emb[i]) AS BIGINT) AS sm, COUNT(*) AS cnt
       |       FROM e, idx GROUP BY i),
       | m AS (SELECT i, CAST(FLOOR(CAST(sm AS DOUBLE) / cnt) AS BIGINT) AS mq
       |       FROM s),
       | d AS (SELECT vec_id,
       |         CAST(SUM((emb[m.i] - m.mq) * (emb[m.i] - m.mq)) AS BIGINT)
       |           AS dist2
       |       FROM e, m GROUP BY 1),
       | st AS (SELECT COUNT(*) AS n, CAST(SUM(dist2) AS DOUBLE) AS sum_d,
       |          CAST(SUM(CAST(dist2 AS HUGEINT) * dist2) AS DOUBLE) AS sumsq_d
       |        FROM d),
       | z AS (SELECT vec_id, dist2,
       |         CASE WHEN n >= 2
       |               AND (sumsq_d - sum_d * sum_d / n) / (n - 1) > 0
       |              THEN ROUND((CAST(dist2 AS DOUBLE) - sum_d / n)
       |                   / sqrt((sumsq_d - sum_d * sum_d / n) / (n - 1)), 6)
       |         END AS z
       |       FROM d, st)
       |SELECT vec_id, dist2, z, z > 3 AS is_outlier FROM z""".stripMargin

  // --------------------------------------- Johnson-Lindenstrauss recall
  /** Random-projection (Johnson-Lindenstrauss / Achlioptas ±1) dimension
    * reduction 64 → 32 with the two-stage retrieve-then-rerank honesty
    * loop: fetch CandK = 4K candidates by PROJECTED dot, and measure what
    * fraction of the exact top-K the candidate set retains — exactly what
    * a production JL sketch costs you, since the exact rerank of the
    * candidates recovers precisely the retained members. The sign matrix
    * is derived from md5("i,j") parity, so both engines materialize the
    * IDENTICAL matrix without shipping state; projections of scaled-int
    * embeddings are exact integer sums (|p_j| <= 64 * 5.3e6, proj dots
    * < 2^61 — no overflow), making ranks engine-exact.
    *
    * Honesty note: the fixture's embeddings are near-isotropic, so exact
    * dot gaps are tiny and measured recall (~0.4-0.5 here) is a WORST
    * CASE — clustered real-world embeddings separate far better under the
    * same sketch. That is the point of measuring instead of assuming.
    *
    * Scale: the matrix is a 64x32 constant (broadcast), projection is one
    * narrow map over the corpus, and the scoring join broadcasts only the
    * NQueries query vectors — same shape as [[knnBrute]]. */
  def jlRecall(spark: SparkSession, d: String): DataFrame = {
    val ProjDim = 32
    val CandK = 4 * TopK
    val signs: Array[Array[Long]] = Array.tabulate(Dim, ProjDim) { (i, j) =>
      val hex = graft.functions.Digests.md5Utf8(s"$i,$j").map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(13), 16) % 2 == 0) 1L else -1L
    }
    val bc = spark.sparkContext.broadcast(signs)
    val project = udf((emb: scala.collection.Seq[Long]) => {
      val m = bc.value
      val a = emb.toArray
      val out = new Array[Long](ProjDim)
      var j = 0
      while (j < ProjDim) {
        var s = 0L; var i = 0
        while (i < a.length) { s += m(i)(j) * a(i); i += 1 }
        out(j) = s; j += 1
      }
      out.toSeq
    })
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("p", project(col("emb")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("p").as("q_p"))
    val scored = e.filter(col("vec_id") >= NQueries).crossJoin(broadcast(q))
      .withColumn("dot_exact", dotScaled(col("emb"), col("q_emb")))
      .withColumn("dot_proj", dotScaled(col("p"), col("q_p")))
    def top(dotCol: String, k: Int) = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col(dotCol).desc, col("vec_id"))))
      .filter(col("rk") <= k).select(col("q_id"), col("vec_id"))
    // both top-k frames are NQueries x K rows — broadcast, never sort-merge
    val hits = top("dot_exact", TopK)
      .join(broadcast(top("dot_proj", CandK)), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    q.select(col("q_id")).join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(TopK))
  }

  val jlRecallSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | jdx AS (SELECT unnest(generate_series(1, 32)) AS j),
       | e AS (SELECT vec_id, list_transform(embedding,
       |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | m AS (SELECT i, j, CASE WHEN CAST('0x' || substr(
       |         md5((i - 1) || ',' || (j - 1)), 1, 13) AS UBIGINT) % 2 = 0
       |         THEN 1 ELSE -1 END AS s
       |       FROM idx, jdx),
       | p AS (SELECT vec_id, j, CAST(SUM(s * emb[i]) AS BIGINT) AS pj
       |       FROM e, m GROUP BY vec_id, j),
       | pl AS (SELECT vec_id, list(pj ORDER BY j) AS p FROM p GROUP BY 1),
       | ep AS (SELECT e.vec_id, emb, p FROM e JOIN pl ON e.vec_id = pl.vec_id),
       | q AS (SELECT vec_id AS q_id, emb AS q_emb, p AS q_p FROM ep
       |       WHERE vec_id < $NQueries),
       | s AS (SELECT q.q_id, c.vec_id,
       |         CAST((SELECT SUM(c.emb[i] * q.q_emb[i]) FROM idx) AS BIGINT)
       |           AS dot_exact,
       |         CAST((SELECT SUM(c.p[j] * q.q_p[j]) FROM jdx) AS BIGINT)
       |           AS dot_proj
       |       FROM ep c CROSS JOIN q WHERE c.vec_id >= $NQueries),
       | te AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, ROW_NUMBER()
       |         OVER (PARTITION BY q_id ORDER BY dot_exact DESC, vec_id) AS rk
       |         FROM s) WHERE rk <= $TopK),
       | tp AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, ROW_NUMBER()
       |         OVER (PARTITION BY q_id ORDER BY dot_proj DESC, vec_id) AS rk
       |         FROM s) WHERE rk <= ${4 * TopK}),
       | h AS (SELECT te.q_id, COUNT(*) AS n_hit FROM te
       |       JOIN tp ON te.q_id = tp.q_id AND te.vec_id = tp.vec_id
       |       GROUP BY 1)
       |SELECT q.q_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $TopK AS recall
       |FROM q LEFT JOIN h ON q.q_id = h.q_id""".stripMargin

  // ------------------------------------------------------- MMR selection
  /** Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR'98): greedily select the candidate maximizing
    * `sim(q, d) - max_{s in S} sim(d, s)` — relevance minus redundancy
    * (lambda = 1/2, scaled by 2: same argmax, all-INTEGER scores on the
    * scaled-int dot products, so both engines agree exactly; empty-set
    * redundancy is 0 by convention, making pick #1 the plain MIPS argmax).
    * This is the diversity-aware subset selector of retrieval/data-curation
    * pipelines (dedup-aware context packing, diverse training-batch mining).
    *
    * Scale shape: the greedy loop is inherently sequential in k, so the
    * driver runs k rounds of one distributed argmax each (the
    * [[graft.queries.DocQueries]] pagerank/BPE driver-loop pattern): the
    * selected set is MODEL-sized (k vectors, broadcast), each round is one
    * narrow corpus pass + TakeOrdered(1), and the corpus is cached across
    * rounds. The redundancy scorer is a broadcast tight-loop UDF (max over
    * <= k dot products per row — the interpreted-lambda column form would
    * re-walk nested arrays per element). Oracle: full greedy replay in a
    * recursive CTE with the argmax as a correlated ORDER BY/LIMIT 1, the
    * BPE-oracle pattern. */
  def mmrSelect(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val k = 10
    val e = embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("emb"))
    val qEmb = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Long]]("emb").toArray
    // Driver gate (the pagerank/cluster-resolver pattern): the greedy walk
    // is k sequential argmax ROUNDS — distributed, that is k full jobs of
    // per-round overhead for ~1e6 multiplies of actual arithmetic. A
    // candidate set of at most `maxDriverVecs` collects once
    // and runs the identical integer greedy (same score, same
    // (score desc, vec_id) tie-break) on the driver; above the gate the
    // distributed loop below is unchanged.
    val maxDriverVecs = 1L << 17
    if (embeddingCount(spark, d) <= maxDriverVecs) {
      val rows = e.filter(col("vec_id") >= NQueries)
        .select(col("vec_id"), col("emb"))
        .as[(Long, scala.collection.Seq[Long])].collect()
        .map { case (id, emb) =>
          val a = emb.toArray
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * qEmb(i); i += 1 }
          (id, a, s)
        }.sortBy(_._1)
      var selDr = Vector.empty[(Int, Long, Long, Long)]
      var selEmbsDr = Vector.empty[Array[Long]]
      val taken = scala.collection.mutable.Set.empty[Long]
      for (r <- 1 to k) {
        var bestId = -1L; var bestScore = 0L; var bestSim = 0L
        var bestEmb: Array[Long] = null
        rows.foreach { case (id, a, simq) =>
          if (!taken.contains(id)) {
            var red = 0L; var s = 0
            while (s < selEmbsDr.length) {
              val v = selEmbsDr(s)
              var dot = 0L; var i = 0
              while (i < a.length) { dot += a(i) * v(i); i += 1 }
              if (s == 0 || dot > red) red = dot
              s += 1
            }
            val score = simq - red
            // (score desc, vec_id asc): rows scan in vec_id order, so a
            // strict > keeps the smallest id among ties
            if (bestId < 0 || score > bestScore) {
              bestId = id; bestScore = score; bestSim = simq; bestEmb = a
            }
          }
        }
        if (bestId >= 0) {
          selDr :+= ((r, bestId, bestSim, bestScore))
          selEmbsDr :+= bestEmb
          taken += bestId
        }
      }
      return selDr.toDF("rank", "vec_id", "sim_q", "score")
    }
    val cand = e.filter(col("vec_id") >= NQueries)
      .withColumn("sim_q", dotScaled(col("emb"), typedLit(qEmb.toSeq)))
      .cache()
    var selected = Vector.empty[(Int, Long, Long, Long)] // rank, id, simq, score
    var selEmbs = Vector.empty[Array[Long]]
    try for (r <- 1 to k) {
      val bc = spark.sparkContext.broadcast(selEmbs.toArray)
      try {
      val redundancy = udf((emb: scala.collection.Seq[Long]) => {
        val a = emb.toArray
        val sel = bc.value
        var best = 0L
        var s = 0
        while (s < sel.length) {
          val v = sel(s)
          var dot = 0L
          var i = 0
          while (i < a.length) { dot += a(i) * v(i); i += 1 }
          if (s == 0 || dot > best) best = dot
          s += 1
        }
        best
      })
      val picked = selected.map(_._2)
      val pick = cand.filter(if (picked.isEmpty) lit(true)
                             else !col("vec_id").isin(picked: _*))
        .withColumn("score", col("sim_q") - redundancy(col("emb")))
        .orderBy(col("score").desc, col("vec_id"))
        .select(col("vec_id"), col("emb"), col("sim_q"), col("score"))
        .head()
      selected :+= ((r, pick.getLong(0), pick.getLong(2), pick.getLong(3)))
      selEmbs :+= pick.getAs[scala.collection.Seq[Long]]("emb").toArray
      // each round's broadcast is consumed by the head() above — release
      // it now instead of accumulating k copies until ContextCleaner GC
      } finally bc.unpersist(blocking = false)
    } finally cand.unpersist(blocking = false)
    // the result is fully materialized driver-side, so nothing re-reads
    // the unpersisted candidate cache
    selected.toDF("rank", "vec_id", "sim_q", "score")
  }

  val mmrSelectSql: String =
    s"""WITH RECURSIVE
       | e AS (SELECT vec_id, list_transform(embedding,
       |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
       | c AS (SELECT vec_id, emb,
       |         CAST(list_sum(list_transform(range(1, $Dim + 1),
       |           i -> emb[i] * q_emb[i])) AS BIGINT) AS simq
       |       FROM e, q WHERE vec_id >= $NQueries),
       | state(iter, sel) AS (
       |   SELECT 0,
       |     CAST([] AS STRUCT(id BIGINT, emb BIGINT[], simq BIGINT, score BIGINT)[])
       |   UNION ALL
       |   -- DuckDB 1.0 lambda binder can't see CORRELATED columns, so the
       |   -- redundancy dot hoists both arrays into the subquery's own FROM
       |   -- (unnest(st.sel) + c.emb projection) before the list_transform.
       |   SELECT iter + 1, list_append(sel, (
       |     SELECT {'id': vec_id, 'emb': emb, 'simq': simq, 'score': score}
       |     FROM (
       |       SELECT c.vec_id, c.emb, c.simq,
       |              c.simq - COALESCE((
       |                SELECT MAX(CAST(list_sum(list_transform(range(1, $Dim + 1),
       |                  i -> x.cemb[i] * x.u.emb[i])) AS BIGINT))
       |                FROM (SELECT unnest(st.sel) AS u, c.emb AS cemb) x), 0)
       |                AS score
       |       FROM c
       |       WHERE NOT EXISTS (SELECT 1 FROM (SELECT unnest(st.sel) AS u) y
       |                         WHERE y.u.id = c.vec_id)
       |     )
       |     ORDER BY score DESC, vec_id
       |     LIMIT 1))
       |   FROM state st WHERE iter < 10
       | ),
       | fin AS (SELECT sel FROM state ORDER BY iter DESC LIMIT 1)
       |SELECT CAST(i AS INT) AS rank, sel[i].id AS vec_id,
       |       sel[i].simq AS sim_q, sel[i].score AS score
       |FROM fin, (SELECT unnest(generate_series(1, 10)) AS i)
       |WHERE i <= len(sel)""".stripMargin

  // ------------------------------------------------------- sharded HNSW
  /** Scatter-gather HNSW ([[graft.functions.Hnsw]]) — the graph-ANN path
    * of the index family (LSH/IVF/PQ are bucket-and-quantize; HNSW is the
    * navigable-small-world graph that wins on recall-per-probe for
    * high-dimensional corpora). 100-TB shape: the corpus hash-partitions
    * into shards, EACH EXECUTOR builds a graph over its shard only inside
    * one `mapPartitions` pass (build is inherently sequential per graph —
    * sharding is what makes it distributed; memory is O(shard), never
    * O(corpus)), the broadcast queries search every shard (ef beam), and
    * the per-shard top-k candidates — |queries| x shards x k rows, not
    * vectors — union into an integer-exact cosine rerank that ranks
    * EXACTLY like [[knnBrute]] (same scaled-floor arithmetic, same rounded
    * tie-break), so ulp noise inside the graph can only affect which
    * candidates surface, never how emitted rows rank.
    *
    * mapPartitions is deliberate here (SURVEY §4 last-resort rule): a
    * graph insert mutates adjacency state across the whole shard — there
    * is no per-row expression formulation. The graph itself is
    * deterministic (md5-derived levels, (dist, id) tie-breaks), so the
    * emitted rows are stable run-to-run; [[hnswRecall]] carries the
    * measured-recall gate and `HnswSpec` pins graph invariants, recall,
    * and determinism. No SQL oracle for the search itself: a navigable
    * graph walk is not SQL-expressible, and an exactness oracle would
    * misclaim the operator (it is approximate by design). */
  def hnswSearch(spark: SparkSession, d: String): DataFrame =
    hnswScored(spark, d)
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))

  /** The gathered per-shard candidates (q_id, vec_id) — the ONLY part of
    * the HNSW pipeline that is not SQL-expressible. Memoized: search,
    * rerank-oracle and recall views all consume the same gather. */
  private def hnswCandidates(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // More shards = smaller graphs = faster (insert cost grows with graph
    // size) AND higher recall (the exact rerank sees each shard's top-k);
    // the cost is gather rows, |queries| x shards x k — trivial. At
    // warehouse scale this is one graph per partition; the fixed count
    // keeps shard membership (and thus emitted candidates) deterministic
    // across hosts, which a defaultParallelism-derived count would not.
    val shards = 16
    // Recall-first parameters, measured on the x16 scaled fixture (80k
    // 64-dim near-random vectors, 16 shards — distance concentration makes
    // this the HARD regime for graph ANN): (m=8, ef=64) read recall 0.62;
    // (8, 256) 0.90; (16, 256) 1.00. They trade exactly as the paper says;
    // these buy recall.
    val (m, efC, efS) = (16, 128, 256)
    MemoCache.frame(spark, ("hnsw-cands", d)) {
      val e = embeddings(spark, d)
      // NQueries probe rows to the driver — the broadcast-only-probes
      // pattern every index query here uses (gate: fixture contract).
      val qRows = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
      val qb = spark.sparkContext.broadcast(qRows)
      e.filter(col("vec_id") >= NQueries)
        .select(col("vec_id"), col("embedding"))
        .repartition(shards, pmod(hash(col("vec_id")), lit(shards)))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val nodes = it.toArray
          if (nodes.isEmpty) Iterator.empty
          else {
            val g = graft.functions.Hnsw.build(nodes, m, efC)
            qb.value.iterator.flatMap { case (qid, qv) =>
              g.search(qv, efS, TopK).iterator.map { case (id, _) => (qid, id) }
            }
          }
        }.toDF("q_id", "vec_id")
    }
  }

  /** Candidates + integer-exact cosine rerank, ranked over the FULL
    * candidate set (shards are disjoint so (q_id, vec_id) is unique). */
  private def hnswScored(spark: SparkSession, d: String): DataFrame = {
    val cands = hnswCandidates(spark, d)
    val e = embeddings(spark, d)
    val scaledE = e.select(col("vec_id"), scaled(col("embedding")).as("emb"))
      .withColumn("norm2", dotScaled(col("emb"), col("emb")))
    val q = scaledE.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm2").as("q_norm2"))
    val scored = scaledE.join(broadcast(cands), "vec_id").join(broadcast(q), "q_id")
      .withColumn("cosine", round(
        dotScaled(col("emb"), col("q_emb")).cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("q_norm2").cast("double"))), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
  }

  /** The HNSW rerank under a FULL DuckDB oracle — shrinks the unoracled
    * surface to the beam search alone: emits EVERY gathered candidate with
    * its exact rounded cosine and its rank over the whole candidate set.
    * The oracle ([[hnswRerankSql]]) takes only the (q_id, vec_id) PAIR
    * IDENTITIES from this query's own parquet output and independently
    * recomputes both score and rank from the raw `embeddings` table — if
    * Spark's scaled-int dot, rounding, or window ranking were wrong
    * anywhere in the HNSW pipeline, the recomputation diverges. Candidate
    * QUALITY is separately gated by the measured-recall row
    * ([[hnswRecall]], ≥0.9 vs exact brute force). */
  def hnswRerank(spark: SparkSession, d: String): DataFrame =
    hnswScored(spark, d)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))

  /** `{GRAFT_OUT}` is substituted by Verify with the dump directory: the
    * oracle reads the candidate pair set from the Spark output it is
    * checking (identity only — scores and ranks are recomputed here). */
  val hnswRerankSql: String =
    s"""WITH idx AS (SELECT unnest(generate_series(1, $Dim)) AS i),
       | e AS (SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS emb
       |       FROM embeddings),
       | f AS (SELECT vec_id, emb,
       |         (SELECT SUM(emb[i] * emb[i]) FROM idx) AS norm2
       |       FROM e),
       | cand AS (SELECT q_id, vec_id
       |          FROM '{GRAFT_OUT}/emb_hnsw_rerank/*.parquet'),
       | q AS (SELECT vec_id AS q_id, emb AS q_emb, norm2 AS q_norm2
       |       FROM f WHERE vec_id < $NQueries),
       | sc AS (SELECT cand.q_id, cand.vec_id,
       |     ROUND(CAST((SELECT SUM(f.emb[i] * q.q_emb[i]) FROM idx) AS DOUBLE)
       |       / (sqrt(CAST(f.norm2 AS DOUBLE)) * sqrt(CAST(q.q_norm2 AS DOUBLE))), 6)
       |       AS cosine
       |   FROM cand JOIN f ON cand.vec_id = f.vec_id
       |   JOIN q ON cand.q_id = q.q_id)
       |SELECT q_id, vec_id, cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
       |    AS INT) AS rk
       |FROM sc""".stripMargin

  /** Measured-recall gate for [[hnswSearch]] vs the exact [[knnBrute]]
    * truth — the honesty loop every approximate index here carries. The
    * oracle pins the flag TRUE (the graph walk is not SQL-replayable);
    * `HnswSpec` pins the exact recall values. Measured at the defaults:
    * 1.0 at sf0.001–sf0.01 AND at the x16 scaled fixture (80k vectors,
    * where the (m=8, ef=64) starting parameters read 0.62 — the honest
    * number that set the recall-first defaults above); at x256 (509k
    * distinct-replica vectors, r11 `SCALE_ANN_r11.json`) the gate still
    * holds with the same parameters — the only ANN path here whose
    * shipped knobs survive 256x unchanged. The 0.9 floor is the
    * operating guarantee, not the measurement. */
  def hnswRecall(spark: SparkSession, d: String): DataFrame = {
    val truth = knnBrute(spark, d).select(col("q_id"), col("vec_id"))
    val got = hnswSearch(spark, d)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(got, Seq("q_id", "vec_id"), "left")
      .agg(count(lit(1)).as("truth_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .select(
        lit(NQueries).as("n_queries"), lit(TopK).as("k"),
        col("truth_pairs"),
        (col("hits").cast("double") / col("truth_pairs") >= 0.9).as("ok"))
  }

  val hnswRecallSql: String =
    s"""SELECT $NQueries AS n_queries, $TopK AS k,
       |  CAST($NQueries * $TopK AS BIGINT) AS truth_pairs, true AS ok""".stripMargin

  // ----------------------------------------------------------- PCA (top PC)
  /** The data-scale stage of [[pcaTop]], exposed so `PlanSpec` can assert
    * its shape (pcaTop itself returns a driver-solved literal row — its
    * plan is a LocalTableScan; the aggregation runs at construction). */
  private[graft] def pcaCells(e: DataFrame): DataFrame =
    e.select(explode(expr(
        """flatten(transform(s, (x, i) -> transform(s, (y, j) ->
          |  struct(i AS i, j AS j, x * y AS p))))""".stripMargin)).as("c"))
      .select(col("c.i"), col("c.j"), col("c.p"))
      .groupBy("i", "j").agg(sum(col("p").cast("decimal(38,0)")).as("P"))

  private[graft] def pcaScaled(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d).select(scaled(col("embedding")).as("s"))

  /** Driver-side covariance + grid-rounded power-iteration solve shared by
    * [[pcaTop]] and [[pcaProject]] — ONE implementation so the "same
    * bits" claim between the two queries holds by construction, memoized
    * per (session, dataset) so a verify sweep running both pays the
    * 4096-cell decimal aggregation once. Returns (n, S, cp, v). */
  private def pcaSolve(spark: SparkSession, d: String)
      : (Long, Map[Int, java.math.BigDecimal], Array[Array[Double]], Array[Double]) =
    MemoCache.getOrElseUpdate(spark, ("pca-solve", d))({
      val dim = Dim
      val e = pcaScaled(spark, d)
      val cells = pcaCells(e)
      val firsts = e.select(posexplode(col("s")).as(Seq("i", "si")))
        .groupBy("i").agg(sum(col("si").cast("decimal(38,0)")).as("S"))
      val n = e.count()
      val P = cells.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2))).toMap
      val S = firsts.collect().map(r => (r.getInt(0), r.getDecimal(1))).toMap
      val nBd = java.math.BigDecimal.valueOf(n)
      val cp = Array.tabulate(dim, dim)((i, j) =>
        nBd.multiply(P((i, j))).subtract(S(i).multiply(S(j))).doubleValue)
      def grid9(x: Double): Double =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      var v = Array.fill(dim)(1.0)
      for (_ <- 1 to 20) {
        val w = Array.tabulate(dim) { i =>
          var a = 0.0; var j = 0
          while (j < dim) { a += cp(i)(j) * v(j); j += 1 }
          a
        }
        val mw = w.map(math.abs).max
        v = w.map(x => grid9(x / mw))
      }
      (n, S, cp, v)
    })(_ => ())

  /** Distributed PCA, top principal component — the whitening/compression
    * preprocessing step quantizers (PQ/SQ) and outlier detectors assume:
    * the data-scale work is ONE map-side-combinable aggregation of the
    * exact integer second-moment matrix (4096 cells for d=64; the shuffle
    * carries cells x partitions, never vectors), the 64x64 eigen-solve then
    * runs on the driver over a model-sized frame (the k-means-centroid
    * convention). Covariance stays EXACT integers until the solve:
    * C'_ij = n·Σ s_i s_j − S_i·S_j over the scaled-long embeddings,
    * accumulated in DECIMAL(38,0) (long Σ s_i s_j overflows past ~10^5
    * vectors).
    *
    * Engine-parity for an ITERATIVE float algorithm: each power-iteration
    * step re-quantizes the vector onto a 1e-9 grid (round-half-away, both
    * engines), so double summation-order noise (~1e-14 relative) can never
    * escape a step — after 20 steps both engines hold the bit-identical
    * vector, and the emitted Rayleigh ratio rounds at 1e-6, nine orders
    * above the noise. The DuckDB oracle replays everything including the
    * iteration (recursive CTE over a DOUBLE[] state with the identical
    * grid rounding). */
  def pcaTop(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dim = Dim
    val (n, _, cp, v) = pcaSolve(spark, d)
    var lam = 0.0
    var trace = 0.0
    for (i <- 0 until dim) {
      trace += cp(i)(i)
      for (j <- 0 until dim) lam += cp(i)(j) * v(i) * v(j)
    }
    val amax = v.map(math.abs).max
    val topDim = v.indexWhere(x => math.abs(x) == amax).toLong
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n, topDim, round6(lam / trace),
        round6(lam / (n.toDouble * n * 1e14))))
      .toDF("n", "top_dim", "explained_ratio", "top_eigenvalue")
  }

  /** Per-vector projection onto the top principal component — the usable
    * output of [[pcaTop]] (1-d curriculum ordering, PCA outlier scores,
    * split keys): coord = v·(s − μ) in raw embedding units. The driver
    * solves v exactly as pcaTop does (same grid-rounded iteration → same
    * bits), the projection itself is one broadcast-literal narrow pass
    * over the corpus. Rounded at 1e-6, nine orders above double
    * summation-order noise, so the full-replay oracle hash-matches. */
  def pcaProject(spark: SparkSession, d: String): DataFrame = {
    val dim = Dim
    val (n, sums, _, v) = pcaSolve(spark, d)
    var mdot = 0.0
    for (i <- 0 until dim) mdot += v(i) * sums(i).doubleValue
    val mean = mdot / n
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    embeddings(spark, d)
      .select(col("vec_id"), scaled(col("embedding")).as("s"))
      .select(col("vec_id"),
        round((aggregate(zip_with(col("s"), vLit, (x, wv) => x.cast("double") * wv),
          lit(0.0), (a, b) => a + b) - mean) / 1e7, 6).as("pc1"))
  }

  /** Shared CTE chain (covariance + grid-rounded iteration) ending at
    * `fin(v)` — both PCA oracles build on it. */
  private def pcaCtes: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000000) AS BIGINT)) AS s FROM embeddings),
       | nn AS (SELECT COUNT(*) AS n FROM e),
       | fm AS (SELECT i, SUM(s[i+1]) AS S FROM e, (SELECT unnest(range($Dim)) AS i) GROUP BY 1),
       | sm AS (SELECT i, j, SUM(CAST(s[i+1] * s[j+1] AS DECIMAL(38,0))) AS P
       |        FROM e, (SELECT unnest(range($Dim)) AS i), (SELECT unnest(range($Dim)) AS j) GROUP BY 1,2),
       | cmat AS (SELECT sm.i, sm.j,
       |     CAST(CAST((SELECT n FROM nn) AS DECIMAL(38,0)) * P
       |        - CAST(f1.S AS DECIMAL(38,0)) * f2.S AS DOUBLE) AS c
       |   FROM sm JOIN fm f1 ON sm.i = f1.i JOIN fm f2 ON sm.j = f2.i),
       | it(iter, v) AS (
       |   SELECT 0, (SELECT list(CAST(1.0 AS DOUBLE) ORDER BY i) FROM (SELECT unnest(range($Dim)) AS i))
       |   UNION ALL
       |   SELECT iter+1, wl.lst FROM it, LATERAL (
       |     SELECT list(ROUND(w / mw, 9) ORDER BY i) AS lst FROM (
       |       SELECT i, w, MAX(ABS(w)) OVER () AS mw FROM (
       |         SELECT cm.i AS i, SUM(cm.c * it.v[cm.j+1]) AS w FROM cmat cm GROUP BY 1)))
       |     wl
       |   WHERE it.iter < 20),
       | fin AS (SELECT v FROM it WHERE iter = 20)""".stripMargin

  val pcaTopSql: String =
    s"""$pcaCtes,
       | lam AS (SELECT SUM(cm.c * f.v[cm.i+1] * f.v[cm.j+1]) AS l FROM cmat cm, fin f),
       | tr AS (SELECT SUM(c) AS t FROM cmat WHERE i = j),
       | td AS (SELECT MIN(i) AS top_dim FROM (SELECT i, ABS(v[i+1]) AS a FROM fin, (SELECT unnest(range($Dim)) AS i))
       |        WHERE a = (SELECT MAX(ABS(v[i2+1])) FROM fin, (SELECT unnest(range($Dim)) AS i2)))
       |SELECT (SELECT n FROM nn) AS n, (SELECT top_dim FROM td) AS top_dim,
       |  ROUND((SELECT l FROM lam) / (SELECT t FROM tr), 6) AS explained_ratio,
       |  ROUND((SELECT l FROM lam) / ((SELECT n FROM nn)*(SELECT n FROM nn)*1e14), 6) AS top_eigenvalue""".stripMargin

  val pcaProjectSql: String =
    s"""$pcaCtes,
       | md AS (SELECT SUM(f.v[fm.i+1] * CAST(fm.S AS DOUBLE)) / (SELECT n FROM nn) AS mean
       |        FROM fm, fin f)
       |SELECT e.vec_id,
       |  ROUND(((SELECT SUM(f.v[i+1] * e.s[i+1])
       |          FROM fin f, (SELECT unnest(range($Dim)) AS i))
       |         - (SELECT mean FROM md)) / 1e7, 6) AS pc1
       |FROM e""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pca"            -> (pcaTop _),
    "emb_pca_project"    -> (pcaProject _),
    "emb_hnsw_search"    -> (hnswSearch _),
    "emb_hnsw_rerank"    -> (hnswRerank _),
    "emb_hnsw_recall"    -> (hnswRecall _),
    "emb_jl_recall"      -> (jlRecall _),
    "emb_mmr_select"     -> (mmrSelect _),
    "emb_outliers"       -> (outliers _),
    "emb_kmeans"         -> (kmeans _),
    "emb_silhouette"     -> (silhouette _),
    "emb_mutual_knn"     -> (mutualKnn _),
    "emb_kmeans_inertia" -> (kmeansInertia _),
    "emb_semdedup"       -> (semDedup _),
    "emb_pq_search"      -> (pqSearch _),
    "emb_ivfpq_search"   -> (ivfpqSearch _),
    "emb_ann_recall_ivfpq" -> (annRecallIvfpq _),
    "emb_pq_codes"       -> (pqCodes _),
    "emb_sq_codes"       -> (sqCodes _),
    "emb_sq_search"      -> (sqSearch _),
    "emb_bq_codes"       -> (bqCodes _),
    "emb_bq_search"      -> (bqSearch _),
    "emb_bq_recall"      -> (bqRecall _),
    "emb_bq_rerank"      -> (bqRerank _),
    "emb_bq_rerank_recall" -> (bqRerankRecall _),
    "emb_knn_brute"      -> (knnBrute _),
    "emb_mips"           -> (mips _),
    "emb_hard_negatives" -> (hardNegatives _),
    "emb_hybrid_search"  -> (hybridSearch _),
    "emb_centroids"      -> (centroids _),
    "emb_ann_lsh"        -> (annLsh _),
    "emb_ann_ivf"        -> (annIvf _),
    "emb_ann_rerank"     -> (annRerank _),
    "emb_ann_recall"     -> (annRecall _),
    "emb_ann_recall_ivf" -> (annRecallIvf _),
    "emb_rank_eval"      -> (rankEval _),
    "emb_prefix_recall"  -> (prefixRecall _),
    "emb_linear_probe"   -> (linearProbe _),
    "emb_neardup_cosine" -> (neardupCosine _))

  val oracles: Map[String, String] = Map(
    "emb_jl_recall"      -> jlRecallSql,
    "emb_mmr_select"     -> mmrSelectSql,
    "emb_outliers"       -> outliersSql,
    "emb_kmeans"         -> kmeansSql,
    "emb_silhouette"     -> silhouetteSql,
    "emb_mutual_knn"     -> mutualKnnSql,
    "emb_kmeans_inertia" -> kmeansInertiaSql,
    "emb_semdedup"       -> semDedupSql,
    "emb_pq_codes"       -> pqCodesSql,
    "emb_pq_search"      -> pqSearchSql,
    "emb_ivfpq_search"   -> ivfpqSearchSql,
    "emb_ann_recall_ivfpq" -> annRecallIvfpqSql,
    "emb_sq_codes"       -> sqCodesSql,
    "emb_bq_codes"       -> bqCodesSql,
    "emb_bq_search"      -> bqSearchSql,
    "emb_bq_recall"      -> bqRecallSql,
    "emb_bq_rerank"      -> bqRerankSql,
    "emb_bq_rerank_recall" -> bqRerankRecallSql,
    "emb_sq_search"      -> sqSearchSql,
    "emb_knn_brute"      -> knnBruteSql,
    "emb_pca"            -> pcaTopSql,
    "emb_pca_project"    -> pcaProjectSql,
    "emb_hnsw_recall"    -> hnswRecallSql,
    "emb_hnsw_rerank"    -> hnswRerankSql,
    "emb_mips"           -> mipsSql,
    "emb_hard_negatives" -> hardNegativesSql,
    "emb_hybrid_search"  -> hybridSearchSql,
    "emb_centroids"      -> centroidsSql,
    "emb_ann_lsh"        -> annLshSql,
    "emb_ann_ivf"        -> annIvfSql,
    "emb_ann_rerank"     -> annRerankSql,
    "emb_ann_recall"     -> annRecallSql,
    "emb_ann_recall_ivf" -> annRecallIvfSql,
    "emb_rank_eval"      -> rankEvalSql,
    "emb_prefix_recall"  -> prefixRecallSql,
    "emb_linear_probe"   -> linearProbeSql,
    "emb_neardup_cosine" -> neardupCosineSql)
}
