package graft.queries

import graft.GraftConf
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table: exact and
  * near deduplication (shingle-Jaccard, MinHash+LSH, SimHash), text quality
  * scoring, language-ID heuristics, token statistics, and content
  * fingerprinting.
  *
  * Scale design:
  *  - tokenize/shingle/signature work is per-row array math inside one
  *    narrow codegen stage — no explode unless a join needs it;
  *  - the exact near-dup path prunes candidates by shingle co-occurrence
  *    BEFORE computing Jaccard (the shingle join carries only
  *    (shingle, doc_id) pairs, and partial aggregation collapses counts
  *    map-side) — at 100 TB this is the standard inverted-index block join;
  *  - MinHash/LSH replaces the quadratic candidate step with band-bucket
  *    joins: cost is O(docs x bands), independent of pair count.
  */
object DocQueries {

  private def toks(c: Column): Column =
    split(trim(c), graft.functions.MinHash.WsRe)

  /** Per-(session, dataset) document count, computed once ([[CountMemo]])
    * — several operators size scale-dependent knobs (the tfidf posting
    * cap) from it, and re-counting on every invocation is an extra Spark
    * job even on a memo hit (the knob is part of the memo key, so it
    * resolves before the lookup). Parquet row-count metadata, no column
    * scan. */
  private def docCount(spark: SparkSession, d: String): Long =
    CountMemo.getOrCompute(spark, ("doc-count", d))(
      documents(spark, d).count())

  /** English-marker stopwords shared by the quality and language-ID
    * operators (and their SQL oracles). */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val stopwordSet = stopwords.toSet

  // ---------------------------------------------------------- exact dedup
  /** Exact duplicate grouping by content hash (hash-groupBy dedup): one
    * shuffle on md5(text); canonical id is the smallest doc_id. */
  def dedupExact(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
           count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- fingerprint
  /** Content-defined fingerprint: md5 over the normalized text (lowercase,
    * whitespace collapsed). Robust to formatting-only variants. */
  def fingerprint(spark: SparkSession, d: String): DataFrame =
    documents(spark, d).select(
      col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), graft.functions.MinHash.WsRe, " ")).as("fingerprint"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- token stats
  /** All whitespace-token statistics in one per-row pass
    * ([[graft.functions.TextStats]]) — the HOF formulation
    * (`filter`/`aggregate`/`array_distinct`) re-ran the regex split per
    * statistic because higher-order functions evaluate interpreted, outside
    * both codegen and runtime subexpression elimination. Since r10 a native
    * expression ([[graft.functions.TextStatsExpr]]): direct InternalRow
    * construction inside whole-stage codegen, no udf encoder round trip on
    * this per-document path (r9 UDF-audit conversion). */
  private def textStatsUdf(c: Column): Column =
    graft.functions.GraftFunctions.textStats(c, stopwordSet)

  /** Token counting: whitespace tokens, distinct types, type/token ratio,
    * mean token length. Pure narrow stage. */
  def tokenStats(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("__st", textStatsUdf(col("text")))
      .select(
        col("doc_id"),
        col("__st.nTokens").as("n_tokens"),
        col("__st.nTypes").as("n_types"),
        (col("__st.nTypes").cast("double") / col("__st.nTokens")).as("ttr"),
        (col("__st.charSum").cast("double") / col("__st.nTokens"))
          .as("mean_token_len"))

  val tokenStatsSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents)
      |SELECT doc_id, len(tk) AS n_tokens,
      |  len(list_distinct(tk)) AS n_types,
      |  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
      |  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
      |    AS mean_token_len
      |FROM t""".stripMargin

  // ---------------------------------------------------------- quality
  /** Quality scoring: length agreement (claimed n_chars vs actual), stopword
    * ratio, type/token ratio — combined into a [0,1]-ish score. Mirrors the
    * shape of standard web-corpus quality filters. Single-pass stats struct;
    * see [[tokenStats]]. */
  def quality(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("__st", textStatsUdf(col("text")))
      .select(
        col("doc_id"), col("lang"),
        length(trim(col("text"))).as("len_actual"),
        (col("__st.stopHits").cast("double") / col("__st.nTokens"))
          .as("stopword_ratio"),
        (col("__st.nTypes").cast("double") / col("__st.nTokens")).as("ttr"))
      .withColumn("quality_score",
        round((col("stopword_ratio") * 2 + col("ttr")) / 3, 6))

  val qualitySql: String =
    s"""WITH t AS (SELECT doc_id, lang, trim(text) AS tx,
       |            string_split_regex(trim(text), '\\s+') AS tk FROM documents)
       |SELECT doc_id, lang, length(tx) AS len_actual,
       |  CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |    / len(tk) AS stopword_ratio,
       |  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
       |  ROUND((CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(tk) * 2
       |         + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)) / 3, 6) AS quality_score
       |FROM t""".stripMargin

  // --------------------------------------------------- character entropy
  /** Character-entropy quality signal — the compressibility proxy of web
    * curation stacks: gibberish/boilerplate (low entropy: repeated runs,
    * padding) and binary-ish noise (near-max entropy) both sit away from
    * natural text's band. H = log2(n) − (Σ cᵢ·log2 cᵢ)/n over per-char
    * counts. Determinism across engines: each per-character term quantizes
    * to FLOOR(1e6·cᵢ·log2 cᵢ) BEFORE the per-doc sum — integer addition is
    * order-free where a float Σ would be summation-order-dependent; only
    * the final combination is floating point, evaluated in one fixed
    * formula on identical inputs.
    *
    * Scale: explode to (doc, char) rows, one map-side-combinable count,
    * one doc-grain rollup — alphabet-bounded fan-in per doc. */
  def charEntropy(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      // empty/null text has no characters: the oracle's unnest emits no
      // rows for it, while Spark's split("", "") yields [""] and would
      // produce an n=0 row the oracle does not have
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).as("n"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("n"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(floor(lit(1000000.0) * col("c").cast("double") *
        log2(col("c").cast("double"))).cast("long")).as("t"))
      .select(col("doc_id"), col("n").cast("long").as("n_chars_raw"),
        round(log2(col("n").cast("double")) -
          col("t").cast("double") / lit(1000000.0) / col("n"), 6)
          .as("entropy_bits"))

  val charEntropySql: String =
    """WITH ch AS (SELECT doc_id, length(text) AS n,
      |    unnest(string_split(text, '')) AS ch FROM documents),
      | c AS (SELECT doc_id, n, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2, 3),
      | t AS (SELECT doc_id, n,
      |    CAST(SUM(CAST(FLOOR(1000000.0 * c * log2(CAST(c AS DOUBLE))) AS BIGINT))
      |      AS BIGINT) AS t
      |  FROM c GROUP BY 1, 2)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_raw,
      |  ROUND(log2(CAST(n AS DOUBLE)) - CAST(t AS DOUBLE) / 1000000.0 / n, 6)
      |    AS entropy_bits
      |FROM t""".stripMargin

  // ---------------------------------------------------------- language id
  /** N-gram/stopword language heuristic: English-marker token share drives
    * the call; emits prediction + agreement with the labeled lang.
    * Single-pass stats struct; see [[tokenStats]]. */
  def langId(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("__st", textStatsUdf(col("text")))
      .select(col("doc_id"), col("lang"),
        (col("__st.stopHits").cast("double") / col("__st.nTokens"))
          .as("en_marker_ratio"))
      .withColumn("predicted_lang",
        when(col("en_marker_ratio") >= 0.04, "en").otherwise("unk"))
      .withColumn("agrees", col("predicted_lang") === col("lang"))

  val langIdSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |            string_split_regex(trim(text), '\\s+') AS tk FROM documents)
       |SELECT doc_id, lang,
       |  CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |    / len(tk) AS en_marker_ratio,
       |  CASE WHEN CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(tk) >= 0.04
       |       THEN 'en' ELSE 'unk' END AS predicted_lang,
       |  (CASE WHEN CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(tk) >= 0.04
       |        THEN 'en' ELSE 'unk' END) = lang AS agrees
       |FROM t""".stripMargin

  // ------------------------------------------- threshold-free classifier eval
  /** Threshold-free evaluation of the language-ID scorer ([[langId]]'s
    * en-marker ratio against truth `lang = 'en'`): exact AUC via the
    * tie-averaged rank-sum (Mann-Whitney) formulation, expected calibration
    * error over 10 score bins, and accuracy at the operating threshold —
    * the eval loop a quality/langid filter needs before its threshold is
    * trusted at corpus scale.
    *
    * Integer-exact throughout, so the oracle hash-matches bit-for-bit:
    * scores discretize to s6 = floor(ratio * 1e6) (identical doubles
    * floored identically in both engines); the AUC numerator
    * `Σ_pos(2·cumBelow + cnt + 1) − nPos·(nPos+1)` is an integer (2× the
    * classic rank sum, keeping half-ranks integral); the ECE numerator
    * telescopes to `Σ_bins |pos_b·1e6 − Σ s6_b|` — an integer sum whose
    * order cannot matter, where the naive Σ (n_b/N)·|acc − conf| would be
    * a float fold. The one window runs over DISTINCT SCORES (≤ 1e6+1 rows
    * by construction, like [[graft.queries.EventQueries.exactQuantiles]]'s
    * compressed CDF), never over documents.
    *
    * On the synthetic fixture the verdict is honestly damning — AUC 0.53,
    * ECE 0.37, threshold accuracy below the majority class (the fixture's
    * `lang` labels don't correlate with its shared vocabulary) — which is
    * precisely the report that stops a bad filter from shipping. */
  def classifierEval(spark: SparkSession, d: String): DataFrame = {
    // the scored-rows scan feeds FOUR consumers (auc, best-threshold, ece,
    // accuracy) — memo-cache it or each re-runs the per-row textStats UDF
    // over the whole corpus (the tfidf-index measured pattern)
    val s = MemoCache.frame(spark, ("cls-scores", d))(
      documents(spark, d)
        .withColumn("__st", textStatsUdf(col("text")))
        .select(
          floor(col("__st.stopHits").cast("double") / col("__st.nTokens") * 1e6)
            .cast("long").as("s6"),
          (col("lang") === "en").cast("long").as("y")))
    val byScore = s.groupBy(col("s6"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val w = Window.orderBy(col("s6")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("s6"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = byScore
      .withColumn("cumBelow", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("cumPosBelow", coalesce(sum(col("pos")).over(w), lit(0L)))
      .withColumn("nAll", sum(col("cnt")).over(wAll))
      .withColumn("posAll", sum(col("pos")).over(wAll))
    val aucRow = cdf.agg(
      sum(col("pos") * (lit(2) * col("cumBelow") + col("cnt") + 1)).as("rankSum2"),
      sum(col("pos")).as("n_pos"), sum(col("cnt")).as("n"))
    // threshold sweep: predict positive at s6 >= t for each distinct t;
    // tp/fp/fn are integer CDF reads, f1 one division — argmax with the
    // (f1 desc, t asc) deterministic tie-break
    val bestRow = cdf
      .select(col("s6").as("best_thr_s6"),
        (lit(2.0) * (col("posAll") - col("cumPosBelow")) /
          (lit(2.0) * (col("posAll") - col("cumPosBelow"))
            + (col("nAll") - col("cumBelow") - (col("posAll") - col("cumPosBelow")))
            + col("cumPosBelow"))).as("best_f1"))
      .orderBy(col("best_f1").desc, col("best_thr_s6")).limit(1)
    val eceRow = s
      .withColumn("bin", least(expr("s6 DIV 100000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"), sum(col("s6")).as("s6sum"))
      .agg(sum(abs(col("pos") * 1000000L - col("s6sum"))).as("eceNum"))
    val accRow = s
      .agg(sum(((col("s6") >= 40000L) === (col("y") === 1L)).cast("long")).as("agree"))
    aucRow.crossJoin(broadcast(eceRow)).crossJoin(broadcast(accRow))
      .crossJoin(broadcast(bestRow))
      .select(col("n"), col("n_pos"),
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          (col("rankSum2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2.0) * col("n_pos") * (col("n") - col("n_pos"))))
          .as("auc"),
        (col("eceNum").cast("double") / (lit(1e6) * col("n"))).as("ece"),
        (col("agree").cast("double") / col("n")).as("acc_at_threshold"),
        col("best_thr_s6"), round(col("best_f1"), 6).as("best_f1"))
  }

  val classifierEvalSql: String =
    s"""WITH t AS (SELECT lang, string_split_regex(trim(text), '\\s+') AS tk
      |           FROM documents),
      | s AS (SELECT
      |    CAST(FLOOR(CAST(len(list_filter(tk, x -> x IN
      |      (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
      |      / len(tk) * 1e6) AS BIGINT) AS s6,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM t),
      | g AS (SELECT s6, count(*) AS cnt, SUM(y) AS pos FROM s GROUP BY 1),
      | r AS (SELECT *,
      |         COALESCE(SUM(cnt) OVER (ORDER BY s6
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumBelow,
      |         COALESCE(SUM(pos) OVER (ORDER BY s6
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumPosBelow,
      |         SUM(cnt) OVER () AS nAll, SUM(pos) OVER () AS posAll
      |       FROM g),
      | a AS (SELECT CAST(SUM(pos * (2 * cumBelow + cnt + 1)) AS BIGINT) AS rankSum2,
      |              CAST(SUM(pos) AS BIGINT) AS n_pos,
      |              CAST(SUM(cnt) AS BIGINT) AS n
      |       FROM r),
      | b AS (SELECT s6 AS best_thr_s6,
      |         ROUND(2.0 * (posAll - cumPosBelow)
      |           / (2.0 * (posAll - cumPosBelow)
      |              + (nAll - cumBelow - (posAll - cumPosBelow))
      |              + cumPosBelow), 6) AS best_f1
      |       FROM r
      |       ORDER BY 2.0 * (posAll - cumPosBelow)
      |           / (2.0 * (posAll - cumPosBelow)
      |              + (nAll - cumBelow - (posAll - cumPosBelow))
      |              + cumPosBelow) DESC, s6
      |       LIMIT 1),
      | e AS (SELECT CAST(SUM(ABS(pos * 1000000 - s6sum)) AS BIGINT) AS eceNum
      |       FROM (SELECT LEAST(s6 // 100000, 9) AS bin, count(*) AS cnt,
      |               SUM(y) AS pos, SUM(s6) AS s6sum
      |             FROM s GROUP BY 1)),
      | c AS (SELECT CAST(SUM(CASE WHEN (s6 >= 40000) = (y = 1) THEN 1 ELSE 0 END)
      |         AS BIGINT) AS agree FROM s)
      |SELECT n, n_pos,
      |  CASE WHEN n_pos > 0 AND n_pos < n THEN
      |    CAST(rankSum2 - n_pos * (n_pos + 1) AS DOUBLE)
      |      / (2.0 * n_pos * (n - n_pos)) END AS auc,
      |  CAST(eceNum AS DOUBLE) / (1e6 * n) AS ece,
      |  CAST(agree AS DOUBLE) / n AS acc_at_threshold,
      |  best_thr_s6, best_f1
      |FROM a, e, c, b""".stripMargin

  // ---------------------------------------------------------- exact near-dup
  /** Common shingles carry no dedup signal but quadratic join cost: a
    * shingle in F docs contributes F² candidate pairs. Capping document
    * frequency keeps candidate generation linear-ish while near-dup pairs
    * (which share many, mostly rarer, shingles) still collide — the
    * standard production pruning for inverted-index dedup. */
  private val DfCap = 10

  private val shinglesUdf =
    udf((text: String) => graft.functions.MinHash.shingleHashes(text))

  /** Exact n-gram Jaccard near-duplicate pairs via inverted-index blocking:
    * explode distinct shingles, self-join on shingle (map-side combinable),
    * intersection counts -> Jaccard, threshold 0.3. Join carries only
    * (shingle, doc_id); Jaccard math is int-exact so the oracle hash-matches
    * bit-for-bit.
    *
    * The pair table is the shared intermediate of near-dup detection
    * ([[neardupJaccard]]) and cluster resolution ([[dedupClusters]]): a
    * production dedup pipeline materializes it once and both outputs read
    * it. Memoized per (session, dataset) in the bounded [[MemoCache]] and
    * Spark-cached, so the second consumer hits the in-memory relation
    * instead of re-running the candidate join + merge-walk. (Plan-level
    * cache matching can't do this automatically here: the mapPartitions
    * stage closes over a fresh lambda per call, which never canonicalizes
    * equal.) */
  def neardupJaccard(spark: SparkSession, d: String): DataFrame =
    // NOT separately memoized/cached: this is a cheap filter/projection
    // over the already-memoized [[scoredPairs]] table — a second cached
    // copy duplicated near-identical rows across two of the LRU slots.
    neardupJaccardCompute(spark, d)

  /** The (doc_id, hashed-shingle-set) scan, memoized: the Jaccard dedup,
    * containment, and their consumers all start from this projection, and
    * a per-invocation .cache() here both leaked its registry entry when an
    * LRU eviction dropped only the OUTER memoized frame and re-warned on
    * every repeat invocation ("already cached" — the CacheManager keys by
    * plan). One entry, one release. */
  private def shingleDocs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("shingle-docs", d))(
      documents(spark, d)
        .select(col("doc_id"), shinglesUdf(col("text")).as("sh")))

  /** The verified (d1, d2, n1, n2, inter) candidate-pair table, memoized:
    * the Jaccard dedup and the containment operator run the IDENTICAL
    * candidate generation + merge-walk verify (empty shingle sets never
    * reach the exploded index, so containment's size(sh)>0 pre-filter was
    * value-neutral), and each previously rebuilt it per family. One build,
    * both consumers project/filter the cached rows. */
  private[queries] def scoredPairs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("scored-pairs", d)) {
      val docs = shingleDocs(spark, d)
      // NOT repartitioned before the explode: measured 6.2s -> 6.8s cold
      // (the extra exchange's planning/codegen outweighs parallelizing the
      // index build; the groupBy's own exchange already spreads the reduce)
      val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      // verify on the FULL (hashed) shingle sets of each candidate pair —
      // sets use the oracle-replicable md5-low-32 shingle hash (8-byte
      // keys shuffle/compare ~8x cheaper than shingle strings, and both
      // engines hash identically, so even collisions agree bit-for-bit).
      // The broadcast-merge-walk vs candidate-join physical choice lives
      // in [[scoredCandidatePairs]].
      scoredCandidatePairs(spark, docs, rareShingleCandidates(ex))
    }

  private[graft] def neardupJaccardCompute(spark: SparkSession, d: String): DataFrame =
    scoredPairs(spark, d)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.3)
      .select(col("d1"), col("d2"), col("inter"), col("jaccard"))

  /** Candidate pairs from ONE shuffle: group the inverted index by shingle
    * into posting lists, keep the rare ones (2..DfCap docs), emit all
    * in-posting pairs. Replaces the df-count + two-sided join formulation
    * (three shuffles over the 1M-row index; measured 2.6s → 1.1s warm at
    * sf0.1) — and at cluster scale posting-list pair emission bounds the
    * blow-up to df² ≤ 100 rows per shingle by construction.
    * distinct BEFORE the merge-walk: near-dup pairs share ~40 rare
    * shingles each, so the raw pair stream carries ~40x duplicates of
    * exactly the pairs whose merge-walk is longest — measured, deduping
    * early beats walking duplicates (2.7s vs 3.0s warm at sf0.1).
    * Shared by [[neardupJaccardCompute]] and [[containment]]. */
  private def rareShingleCandidates(ex: DataFrame): DataFrame =
    ex.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, DfCap))
      .select(explode(col("ids")).as("d1"), col("ids"))
      .select(col("d1"), explode(col("ids")).as("d2"))
      .filter(col("d1") < col("d2"))
      .distinct()

  // ------------------------------------------------------ containment dedup
  /** Asymmetric (containment) near-dup detection: C(A→B) = |A∩B| / |A| on
    * the 3-token shingle sets, oriented small-set-into-large — the dedup
    * axis symmetric Jaccard MISSES: a paragraph quoted whole inside a much
    * longer page has tiny Jaccard (union is dominated by the container) but
    * containment ≈ 1. Standard curation signal for quote-inclusion /
    * boilerplate-envelope / subset-shard leakage. Candidates come from the
    * same rare-shingle posting lists as [[neardupJaccard]] (a contained doc
    * shares ALL its shingles with the container, so any of its rare
    * shingles collides); verification is the same sorted merge walk with
    * the min-set denominator. Threshold 0.8; both engines compute the same
    * int/int double division, so the boundary agrees bit-for-bit.
    *
    * Scale: identical shape to [[neardupJaccardCompute]] — one posting
    * shuffle for candidates, then either a broadcast merge-walk (corpus
    * under the gate) or two keyed joins against the shingle table, never
    * all-pairs. */
  def containment(spark: SparkSession, d: String): DataFrame = {
    // same memoized candidate+verify table as the Jaccard operator — only
    // the orientation/threshold readout below differs
    scoredPairs(spark, d)
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2")).as("contained_id"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1")).as("container_id"),
        least(col("n1"), col("n2")).cast("long").as("n_contained"),
        col("inter"),
        (col("inter").cast("double") /
          least(col("n1"), col("n2")).cast("double")).as("containment"))
      .filter(col("containment") >= 0.8)
  }

  val containmentSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | g AS (SELECT DISTINCT doc_id,
       |         CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
       | rare AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) BETWEEN 2 AND $DfCap),
       | gr AS (SELECT g.* FROM g JOIN rare USING (s)),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM gr a JOIN gr b ON a.s = b.s AND a.doc_id < b.doc_id),
       | iv AS (SELECT c.d1, c.d2, COUNT(*) AS inter
       |        FROM cand c
       |        JOIN g g1 ON g1.doc_id = c.d1
       |        JOIN g g2 ON g2.doc_id = c.d2 AND g2.s = g1.s
       |        GROUP BY 1, 2),
       | sc AS (SELECT iv.d1, iv.d2, s1.n AS n1, s2.n AS n2, iv.inter
       |        FROM iv JOIN sz s1 ON s1.doc_id = iv.d1
       |                JOIN sz s2 ON s2.doc_id = iv.d2)
       |SELECT CASE WHEN n1 <= n2 THEN d1 ELSE d2 END AS contained_id,
       |       CASE WHEN n1 <= n2 THEN d2 ELSE d1 END AS container_id,
       |       CAST(LEAST(n1, n2) AS BIGINT) AS n_contained,
       |       CAST(inter AS BIGINT) AS inter,
       |       CAST(inter AS DOUBLE) / CAST(LEAST(n1, n2) AS DOUBLE) AS containment
       |FROM sc
       |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(n1, n2) AS DOUBLE) >= 0.8""".stripMargin

  /** Broadcast-or-join gate for the shingle-set verify paths: the corpus
    * must fit the budget by BOTH doc count and estimated shingle BYTES
    * (8 per hash) — a doc-count gate alone lets a long-document corpus
    * broadcast multi-GB, the exact hazard fuzzyDedup's text gate closed.
    * One agg action over the memo-cached shingle scan. */
  private def shingleBroadcastable(spark: SparkSession, docs: DataFrame): Boolean = {
    val st = docs
      .agg(count(lit(1)), coalesce(sum(size(col("sh")).cast("long")), lit(0L)))
      .head()
    st.getLong(0) <= GraftConf.DedupMaxBroadcastDocs.get(spark) &&
      8L * st.getLong(1) <= DedupMaxBroadcastBytes
  }

  /** Byte budget of the dedup-family broadcast gates (with the doc-count
    * bound [[GraftConf.DedupMaxBroadcastDocs]]). */
  private val DedupMaxBroadcastBytes = 128L << 20

  /** (d1, d2, n1, n2, inter) for every candidate pair — the verify core
    * SHARED by the Jaccard and containment operators (one implementation,
    * so a fix applies to both), behind [[shingleBroadcastable]]. The two
    * physical forms produce bit-identical rows (DedupScaleSpec pins the
    * oracled consumer). */
  private def scoredCandidatePairs(spark: SparkSession, docs: DataFrame,
                                   candidates: DataFrame): DataFrame = {
    import spark.implicits._
    if (shingleBroadcastable(spark, docs)) {
      val sortedSets = spark.sparkContext.broadcast(
        docs.as[(Long, Array[Long])].collect().toMap) // hashes arrive pre-sorted
      candidates.as[(Long, Long)].mapPartitions { it =>
        val m = sortedSets.value
        it.map { case (d1, d2) =>
          val a = m(d1); val b = m(d2)
          (d1, d2, a.length.toLong, b.length.toLong,
            sortedIntersectionSize(a, b).toLong)
        }
      }.toDF("d1", "d2", "n1", "n2", "inter")
    } else {
      val inter = udf((a: Seq[Long], b: Seq[Long]) =>
        sortedIntersectionSize(a.toArray, b.toArray).toLong)
      candidates
        .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
        .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          size(col("sh1")).cast("long").as("n1"),
          size(col("sh2")).cast("long").as("n2"),
          inter(col("sh1"), col("sh2")).as("inter"))
    }
  }

  /** Merge-walk intersection size of two ascending-sorted hash arrays. */
  private def sortedIntersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter
  }

  val neardupJaccardSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | g AS (SELECT DISTINCT doc_id,
       |         CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | rare AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) <= $DfCap),
       | gr AS (SELECT g.* FROM g JOIN rare USING (s)),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM gr a JOIN gr b ON a.s = b.s AND a.doc_id < b.doc_id),
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1)
       |SELECT d1, d2,
       |  len(list_intersect(s1.sh, s2.sh)) AS inter,
       |  CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |    (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS jaccard
       |FROM cand JOIN sets s1 ON d1 = s1.doc_id JOIN sets s2 ON d2 = s2.doc_id
       |WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |    (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) >= 0.3""".stripMargin

  // ------------------------------------------------- near-dup clustering
  /** Resolve near-duplicate PAIRS into clusters and pick one canonical
    * document per cluster (the component-minimum doc_id) — the step an
    * actual dedup pipeline ships: drop every row whose canonical is not
    * itself.
    *
    * Scale: the pair graph is the OUTPUT of near-dup detection, bounded
    * tiny relative to the corpus by construction, so connected components
    * run as driver-side union-find over the collected pairs and the label
    * table broadcasts back over the corpus — one narrow assignment pass.
    * A size gate guards the collect: pair graphs beyond
    * `spark.graft.dedup.maxDriverPairs` (adversarial corpora —
    * mass-duplicated boilerplate makes the pair graph unbounded) route
    * through the distributed [[graft.functions.Components.components]]
    * instead — iterative min-label propagation, each round one join +
    * map-side-combinable min agg until fixpoint. Both paths produce the
    * same deterministic component-minimum labels (ComponentsSpec parity +
    * DedupScaleSpec forcing the gate). */
  def dedupClusters(spark: SparkSession, d: String): DataFrame =
    resolveClusters(spark, d, neardupJaccard(spark, d).select(col("d1"), col("d2")))

  /** Pair graph → per-document (canonical id, duplicate flag). Shared by
    * the exact-Jaccard pipeline ([[dedupClusters]]) and the MinHash one
    * ([[minhashDedup]]) — the candidate generator differs, the resolution
    * step is identical. */
  private def resolveClusters(
      spark: SparkSession, d: String, pairsDf: DataFrame): DataFrame = {
    import spark.implicits._
    val (labelDf, smallGraph) =
      if (pairsDf.count() <= GraftConf.DedupMaxDriverPairs.get(spark)) {
        val pairs = pairsDf.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        // ITERATIVE find + path compression: the recursive form built an
        // O(n)-deep parent chain on a chain-shaped pair graph (pairs
        // arriving (k, k+1) descending) and overflowed the driver stack
        // during the final labeling pass — inside the gate this exists for
        def find(x: Long): Long = {
          var r = parent.getOrElseUpdate(x, x)
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        (parent.keys.toSeq.map(n => n -> find(n)).toDF("node", "label"), true)
      } else (graft.functions.Components.components(pairsDf, "d1", "d2"), false)
    // the label table is bounded by the duplicated subset: broadcast it on
    // the driver path (known-small); on the distributed path leave the
    // strategy to AQE, which broadcasts iff the fixpoint output is small
    val labeled = if (smallGraph) broadcast(labelDf) else labelDf
    documents(spark, d).select(col("doc_id"))
      .join(labeled, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("canonical_doc_id"),
        (coalesce(col("label"), col("doc_id")) =!= col("doc_id")).as("is_duplicate"))
  }

  /** DuckDB replica: same pair graph (the neardup CTE chain), components
    * via a recursive transitive-closure walk, label = MIN reachable id. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |       FROM documents),
       | g AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | rare AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) <= $DfCap),
       | gr AS (SELECT g.* FROM g JOIN rare USING (s)),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM gr a JOIN gr b ON a.s = b.s AND a.doc_id < b.doc_id),
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1),
       | pairs AS (SELECT d1, d2
       |   FROM cand JOIN sets s1 ON d1 = s1.doc_id JOIN sets s2 ON d2 = s2.doc_id
       |   WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |     (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) >= 0.3),
       | edges AS (SELECT d1, d2 FROM pairs
       |           UNION ALL SELECT d2, d1 FROM pairs),
       | walk(node, lab) AS (
       |   SELECT DISTINCT d1, d1 FROM edges
       |   UNION
       |   SELECT e.d1, w.lab FROM edges e JOIN walk w ON e.d2 = w.node),
       | labels AS (SELECT node, MIN(lab) AS label FROM walk GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(l.label, d.doc_id) AS canonical_doc_id,
       |  COALESCE(l.label, d.doc_id) <> d.doc_id AS is_duplicate
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.node""".stripMargin

  // ---------------------------------------------------------- minhash + LSH
  private val MinhashK = 64    // signature length
  // 8 rows x 8 bands: the LSH S-curve midpoint sits at (1/8)^(1/8) ≈ 0.77 —
  // deliberately selective, because on a small-vocab corpus every random
  // pair shares common shingles (pairwise Jaccard ~0.2) and r=4 bands made
  // candidate generation quadratic (bench: 824s at sf0.1; r=8 cuts the
  // per-band collision rate from jac^4 to jac^8).
  private val BandRows = 8     // rows per band -> 8 bands

  /** MinHash signature via [[graft.functions.MinHash]] — one UDF call per
    * row (the column-expression formulation is interpreted per element by
    * Spark's higher-order functions and was 35x slower; see MinHash.scala). */
  private val minhashSigUdf =
    udf((text: String) => graft.functions.MinHash.signatureFromText(text, MinhashK))

  /** (doc_id, band, bucket) rows from a signature frame — the ONE banding
    * layout shared by [[minhashLsh]] and [[crossDedup]] (both DuckDB
    * oracles replay it, so the slicing must never diverge between them).
    * Band key = the 8 signature values themselves (array equi-join), not a
    * 32-bit hash of them: the oracles join on the exact values, and a
    * hash collision between distinct band keys would otherwise create a
    * Spark-only candidate the oracle never checks. */
  private def minhashBands(df: DataFrame, carry: Seq[String] = Nil): DataFrame =
    df.select(col("doc_id") +: carry.map(col) :+
        posexplode(transform(sequence(lit(0), lit(MinhashK / BandRows - 1)),
          b => slice(col("sig"), b * BandRows + 1, lit(BandRows)))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** MinHash+LSH near-dup: band-bucket join produces candidates, exact
    * Jaccard verifies (precision 1 by construction). The signature hash is
    * md5-derived integer math ([[graft.functions.MinHash]]), so the oracle
    * replays signatures → bands → candidates → verification EXACTLY — LSH's
    * inherent misses near the threshold are reproduced by the oracle, not
    * assumed away (an earlier all-pairs oracle relied on recall being 1,
    * which held at sf0.01 but dropped a pair at sf0.1). */
  def minhashLsh(spark: SparkSession, d: String): DataFrame =
    lshVerifiedPairs(spark, d).filter(col("jaccard") >= 0.3)

  /** LSH candidates with their EXACT Jaccard, no threshold floor — the
    * shared generator behind [[minhashLsh]] (0.3 floor) and [[dedupSweep]]
    * (which needs the full candidate score distribution). Memoized like
    * [[neardupJaccard]]'s pair table: every consumer (lsh, end-to-end
    * dedup, decontaminated split, the sweep) reads ONE materialization. */
  private def lshVerifiedPairs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("lsh-pairs", d)) {
      // Materialize the signatures BEFORE the self-joins: the sig expression
      // inlines the murmur+min tree 64x, and the band self-join would
      // otherwise duplicate that whole tree on both sides (codegen blowup —
      // this was an 800s-vs-8s difference at sf0.1). At cluster scale this is
      // a persisted signature table, typically written once and reused.
      val docs = minhashDocs(spark, d)
      val bands = minhashBands(docs)
      val candidates = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      val withSets = candidates
        .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      withSets.select(col("d1"), col("d2"),
          (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
    }

  /** (doc_id, shingles, minhash signature), memoized — the persisted
    * signature-table analog; shared by the LSH pair table and cross-corpus
    * dedup (same registry-entry/leak rationale as [[shingleDocs]]). */
  private def minhashDocs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("minhash-docs", d))(
      documents(spark, d)
        .select(col("doc_id"), shinglesUdf(col("text")).as("sh"),
          minhashSigUdf(col("text")).as("sig"))
        .filter(size(col("sh")) > 0))

  /** Dedup threshold-sensitivity sweep: how many verified near-dup pairs
    * (and how many distinct documents) each Jaccard cutoff 0.1…0.9 would
    * flag — the tuning readout run before committing a corpus to one
    * threshold (a cliff between two cutoffs means the corpus has a
    * boilerplate band there; a flat tail means the choice is safe). Domain
    * = the LSH candidate set with exact scores (no floor), so the sweep
    * sees everything banding can see.
    *
    * Scale: candidate volume is the LSH-bounded pair set; the sweep itself
    * is a 9-way explode over it with map-side-combinable counts. */
  def dedupSweep(spark: SparkSession, d: String): DataFrame = {
    // Already MemoCache-cached inside lshVerifiedPairs — a second .cache()
    // here would bypass the MemoCache bounding policy and leak the handle.
    val pairs = lshVerifiedPairs(spark, d)
    val spine = spark.range(1, 10).select(col("id").cast("int").as("t10"))
    val byT = pairs
      .select(col("jaccard"), explode(sequence(lit(1), lit(9))).as("t10"))
      .filter(col("jaccard") >= col("t10").cast("double") / 10.0)
      .groupBy(col("t10")).agg(count(lit(1)).as("n_pairs"))
    val docsByT = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc"), col("jaccard"))
      .select(col("doc"), col("jaccard"),
        explode(sequence(lit(1), lit(9))).as("t10"))
      .filter(col("jaccard") >= col("t10").cast("double") / 10.0)
      .groupBy(col("t10")).agg(countDistinct(col("doc")).as("n_docs_flagged"))
    spine.join(byT, Seq("t10"), "left").join(docsByT, Seq("t10"), "left")
      .select(col("t10"),
        (col("t10").cast("double") / 10.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
  }

  // ---------------------------------------------------------- simhash
  /** 64-bit SimHash per document from token-frequency-weighted hash bits,
    * plus banded Hamming-neighbor pairs (4x16-bit chunks: pairs at Hamming
    * distance <= 3 must share a chunk — pigeonhole, so blocking is exact).
    *
    * The per-token hash is the LOW 64 BITS OF md5 rather than xxhash64:
    * DuckDB computes the identical value via
    * ('0x'||substr(md5(tok),17,16))::UBIGINT, which turns this operator from
    * rows-only-checked into hash-oracled. Computed by the [[graft.functions
    * .SimHash]] native expression — one narrow pass per document, no
    * explode/shuffle (the 64-wide aggregate formulation cost two shuffles
    * and seconds of codegen). */
  def simhash(spark: SparkSession, d: String): DataFrame =
    // repartition BEFORE the hash expression: the test parquet is a single
    // row group (single-threaded scan), and in production many-split scans
    // give the same post-exchange parallelism for the md5 loops
    documents(spark, d).repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))

  /** SimHash neighbor pairs within Hamming distance 3 via 16-bit chunk
    * blocking. */
  def simhashPairs(spark: SparkSession, d: String): DataFrame = {
    val sh = simhash(spark, d)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** The signatures → bands → band-collision-candidates CTE chain, shared
    * verbatim by [[minhashLshSql]] and the blocked-fuzzy oracles so the
    * candidate set can never diverge between them. */
  private val lshCandCtes: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | g AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | hm AS (SELECT doc_id, s AS m FROM g),
       | perms AS (SELECT unnest(generate_series(0, ${MinhashK - 1})) AS i),
       | sigs AS (SELECT doc_id, i,
       |            MIN((m * (2*i + 1) + (i*40503 + 2531011)) % 2147483647) AS sig
       |          FROM hm, perms GROUP BY 1, 2),
       | bands AS (SELECT doc_id, i // $BandRows AS band,
       |             string_agg(sig::VARCHAR, '_' ORDER BY i) AS bkey
       |           FROM sigs GROUP BY 1, 2),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** Full replication of [[minhashLsh]]: md5-low-32 shingle hash, the same
    * k=64 affine permutations, 8-row banding with the 8 signature values as
    * the band key on BOTH sides (Spark joins the slice arrays, the oracle
    * a canonical string of the same values), band-collision candidates,
    * exact-Jaccard verification. */
  val minhashLshSql: String =
    s"""$lshCandCtes,
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1)
       |SELECT d1, d2,
       |  CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |    (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS jaccard
       |FROM cand JOIN sets s1 ON d1 = s1.doc_id JOIN sets s2 ON d2 = s2.doc_id
       |WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |    (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) >= 0.3""".stripMargin

  /** [[lshCandCtes]] + exact scores + the 9-cutoff spine. */
  val dedupSweepSql: String =
    s"""$lshCandCtes,
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1),
       | p AS (SELECT d1, d2,
       |     CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |       (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS jac
       |   FROM cand JOIN sets s1 ON d1 = s1.doc_id JOIN sets s2 ON d2 = s2.doc_id),
       | th AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS t10),
       | pc AS (SELECT t10, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |        FROM p, th WHERE jac >= t10 / 10.0 GROUP BY 1),
       | dc AS (SELECT t10, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_flagged
       |        FROM (SELECT d1 AS doc, jac FROM p
       |              UNION ALL SELECT d2, jac FROM p), th
       |        WHERE jac >= t10 / 10.0 GROUP BY 1)
       |SELECT th.t10, th.t10 / 10.0 AS threshold,
       |  COALESCE(pc.n_pairs, 0) AS n_pairs,
       |  COALESCE(dc.n_docs_flagged, 0) AS n_docs_flagged
       |FROM th LEFT JOIN pc USING (t10) LEFT JOIN dc USING (t10)""".stripMargin

  // --------------------------------------------- minhash end-to-end dedup
  /** The full MinHash dedup pipeline a production corpus sweep ships:
    * signatures → banded LSH candidates → exact-Jaccard verification →
    * connected components → one canonical document per cluster, flag-not-
    * drop. Identical resolution machinery to [[dedupClusters]] (driver
    * union-find below `spark.graft.dedup.maxDriverPairs`, distributed
    * min-label propagation above); the difference is the candidate
    * generator — banded LSH keeps candidate generation sub-quadratic at
    * corpus scale where the df-capped inverted index of [[neardupJaccard]]
    * would still enumerate every rare-shingle pair. */
  def minhashDedup(spark: SparkSession, d: String): DataFrame =
    resolveClusters(spark, d, minhashLsh(spark, d).select(col("d1"), col("d2")))

  // ------------------------------------------- cross-corpus (delta) dedup
  /** Incremental-shard dedup: near-dup INCOMING documents against the
    * EXISTING corpus — the shape every production ingest runs daily (is
    * today's crawl already in the training set?), distinct from the
    * self-join family above. A deterministic md5 split stands in for the
    * shard boundary (~10% incoming). The probe is asymmetric LSH: band keys
    * of the (small) delta broadcast against the banded base corpus — no
    * self-join, no all-pairs; the base corpus streams once. At warehouse
    * scale the base band table is the persisted LSH index [[minhashLsh]]
    * already maintains, so a daily shard probe touches only the index, and
    * when a shard outgrows the broadcast budget the same plan degrades to a
    * shuffled equi-join on (band, bucket). Verified pairs use exact Jaccard
    * over the full hashed shingle sets; output ranks every incoming doc's
    * base-corpus matches (rk=1 row = its canonical prior copy). */
  def crossDedup(spark: SparkSession, d: String): DataFrame = {
    val incoming = conv(substring(
        md5(concat(lit("xd"), col("doc_id").cast("string"))), 25, 8), 16, 10)
      .cast("long") % 10 === 0
    // narrow derivation of the memoized signature table — `incoming` is a
    // pure function of doc_id, so no second cache entry is needed
    val docs = minhashDocs(spark, d).withColumn("incoming", incoming)
    val inBands = minhashBands(docs.filter(col("incoming")))
    val baseBands = minhashBands(docs.filter(!col("incoming")))
    // Size-gate the broadcast: a normal daily shard broadcasts its band keys
    // over the streamed base index, but a backfill-sized delta would OOM the
    // driver if the hint were unconditional — above the threshold the same
    // equi-join plans as a shuffle on (band, bucket). The count is free-ish:
    // it populates the cache the rest of the pipeline reuses.
    val maxBroadcastDelta = 2000000L
    val nIncoming = docs.filter(col("incoming")).count()
    val probeSide =
      if (nIncoming <= maxBroadcastDelta) broadcast(inBands.as("a"))
      else inBands.as("a")
    val cand = baseBands.as("b").join(probeSide,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("d_in"), col("b.doc_id").as("d_base"))
      .distinct()
    val verified = cand
      .join(docs.select(col("doc_id").as("d_in"), col("sh").as("sh1")), "d_in")
      .join(docs.select(col("doc_id").as("d_base"), col("sh").as("sh2")), "d_base")
      .select(col("d_in"), col("d_base"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
    val w = Window.partitionBy(col("d_in"))
      .orderBy(col("jaccard").desc, col("d_base"))
    verified.withColumn("rk", row_number().over(w))
      .select(col("d_in").as("doc_id"), col("d_base").as("match_id"),
        col("jaccard"), col("rk"))
  }

  /** DuckDB replica: the [[minhashDedupSql]] signature/band CTE chain with
    * the band join split asymmetrically by the same md5 shard flag. */
  val crossDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |       FROM documents),
       | g AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | perms AS (SELECT unnest(generate_series(0, ${MinhashK - 1})) AS i),
       | sigs AS (SELECT doc_id, i,
       |            MIN((s * (2*i + 1) + (i*40503 + 2531011)) % 2147483647) AS sig
       |          FROM g, perms GROUP BY 1, 2),
       | bands AS (SELECT doc_id, i // $BandRows AS band,
       |             string_agg(sig::VARCHAR, '_' ORDER BY i) AS bkey
       |           FROM sigs GROUP BY 1, 2),
       | flag AS (SELECT doc_id,
       |            CAST(('0x' || substr(md5('xd' || doc_id::VARCHAR), 25, 8))
       |              ::UBIGINT AS BIGINT) % 10 = 0 AS incoming
       |          FROM documents),
       | cand AS (SELECT DISTINCT a.doc_id AS d_in, b.doc_id AS d_base
       |          FROM bands a
       |          JOIN flag fa ON a.doc_id = fa.doc_id AND fa.incoming
       |          JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |          JOIN flag fb ON b.doc_id = fb.doc_id AND NOT fb.incoming),
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1),
       | pairs AS (SELECT d_in, d_base,
       |     CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |       (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))
       |       AS jaccard
       |   FROM cand JOIN sets s1 ON d_in = s1.doc_id
       |        JOIN sets s2 ON d_base = s2.doc_id)
       |SELECT d_in AS doc_id, d_base AS match_id, jaccard, rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY d_in
       |             ORDER BY jaccard DESC, d_base) AS rk
       |  FROM pairs WHERE jaccard >= 0.3)""".stripMargin

  /** The [[minhashLshSql]] signature/band/verify CTE chain feeding the same
    * recursive transitive-closure walk as [[dedupClustersSql]], ending at a
    * `labels(node, label)` relation — the shared prefix of every oracle that
    * consumes minhash cluster labels ([[minhashDedupSql]],
    * [[splitDecontamSql]]). */
  private val minhashLabelCtes: String =
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |       FROM documents),
       | g AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS s
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |       WHERE i + 2 <= len(tk)),
       | hm AS (SELECT doc_id, s AS m FROM g),
       | perms AS (SELECT unnest(generate_series(0, ${MinhashK - 1})) AS i),
       | sigs AS (SELECT doc_id, i,
       |            MIN((m * (2*i + 1) + (i*40503 + 2531011)) % 2147483647) AS sig
       |          FROM hm, perms GROUP BY 1, 2),
       | bands AS (SELECT doc_id, i // $BandRows AS band,
       |             string_agg(sig::VARCHAR, '_' ORDER BY i) AS bkey
       |           FROM sigs GROUP BY 1, 2),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       | sets AS (SELECT doc_id, list(s) AS sh FROM g GROUP BY 1),
       | pairs AS (SELECT d1, d2
       |   FROM cand JOIN sets s1 ON d1 = s1.doc_id JOIN sets s2 ON d2 = s2.doc_id
       |   WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
       |     (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) >= 0.3),
       | edges AS (SELECT d1, d2 FROM pairs
       |           UNION ALL SELECT d2, d1 FROM pairs),
       | walk(node, lab) AS (
       |   SELECT DISTINCT d1, d1 FROM edges
       |   UNION
       |   SELECT e.d1, w.lab FROM edges e JOIN walk w ON e.d2 = w.node),
       | labels AS (SELECT node, MIN(lab) AS label FROM walk GROUP BY 1)""".stripMargin

  /** DuckDB replica: the [[minhashLshSql]] CTE chain (signatures → bands →
    * verified pairs) feeding the same recursive transitive-closure walk as
    * [[dedupClustersSql]]. */
  val minhashDedupSql: String =
    s"""$minhashLabelCtes
       |SELECT d.doc_id,
       |  COALESCE(l.label, d.doc_id) AS canonical_doc_id,
       |  COALESCE(l.label, d.doc_id) <> d.doc_id AS is_duplicate
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.node""".stripMargin

  /** DuckDB replica of [[simhashPairs]]: same md5-low-64 token hash, same
    * sign-of-weighted-bit-sums simhash; the oracle compares ALL pairs (the
    * Spark side's 16-bit chunk blocking is exact by pigeonhole, so the
    * results coincide by construction, not data-dependently). */
  val simhashPairsSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |             FROM documents),
      | tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      | tfh AS (SELECT doc_id, tf,
      |           ('0x' || substr(md5(tok), 17, 16))::UBIGINT AS h FROM tf),
      | bits AS (SELECT doc_id, j,
      |            SUM(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
      |          FROM tfh, (SELECT unnest(generate_series(0, 63)) AS j)
      |          GROUP BY 1, 2),
      | sh AS (SELECT doc_id,
      |          BIT_OR(CASE WHEN s > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END)
      |            AS simhash
      |        FROM bits GROUP BY 1)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  // ------------------------------------------------- tokenizer (BPE-ish)
  /** Sub-word-style token counting with a BPE-ish regex (letter runs,
    * digit runs, single punctuation — the pre-tokenization split GPT-style
    * tokenizers apply before merges), alongside whitespace tokens. */
  def tokenCounts(spark: SparkSession, d: String): DataFrame =
    documents(spark, d).select(
      col("doc_id"),
      size(split(trim(col("text")), graft.functions.MinHash.WsRe)).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit(s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9${graft.functions.MinHash.Ws}]"), lit(0)))
        .as("bpeish_tokens"))

  val tokenCountsSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpeish_tokens
      |FROM documents""".stripMargin

  // ------------------------------------------------- URL canonical dedup
  /** URL-canonicalization dedup — the FIRST dedup pass of a web-crawl
    * pipeline (cheaper than any content hash: two fetches of the same page
    * usually differ only in URL dressing). Canonical form: lowercased
    * scheme+authority, default :443 port stripped, fragment dropped,
    * tracking params (utm_*, ref) filtered out of the query — params that
    * select different CONTENT (page=2) survive, so this is not "strip the
    * query". The test tables carry no URLs, so the query synthesizes a
    * deterministic messy URL per row (three dressing variants per page id,
    * the [[piiScrub]] pattern) and the oracle replays the synthesis.
    * Exchange-free narrow map + one keyed window — at 100 TB this is a
    * pure scan plus one shuffle on the canonical key. */
  def urlDedup(spark: SparkSession, d: String): DataFrame = {
    val k = expr("doc_id div 3")
    val messy = when(col("doc_id") % 3 === 0,
        concat(lit("https://Example.com/page"), k,
          lit("?utm_source=x&ref=feed")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("HTTPS://EXAMPLE.COM:443/page"), k, lit("/")))
      .otherwise(concat(lit("https://example.com/page"), k,
        lit("?page=2#section")))
    urlDedupOn(documents(spark, d).select(col("doc_id"), messy.as("url")))
  }

  /** The canonicalization + keep-first grouping over any (doc_id, url)
    * frame — split out so tests can feed arbitrary URLs (idempotence and
    * residue properties live in PropertySpec). */
  private[graft] def urlDedupOn(urls: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical_url"))
    urls
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("base", regexp_extract(col("nofrag"), "^([^?]*)", 1))
      .withColumn("qs", regexp_extract(col("nofrag"), "\\?(.*)$", 1))
      .withColumn("auth", regexp_extract(col("base"), "^[^/]*//[^/]*", 0))
      .withColumn("authlower",
        concat(lower(col("auth")), expr("substring(base, length(auth) + 1)")))
      .withColumn("nos", regexp_replace(
        regexp_replace(col("authlower"), "^(https://[^/:]+):443(/.*)?$", "$1$2"),
        "/+$", ""))
      // regex, not LIKE: in LIKE patterns `_` is the any-char wildcard, so
      // 'utm_%' would also strip content params named utma/utm1/...
      .withColumn("kq", expr("array_join(filter(split(qs, '&'), " +
        "p -> NOT p RLIKE '^utm_' AND NOT p RLIKE '^ref=' AND p <> ''), '&')"))
      .withColumn("canonical_url", concat(col("nos"),
        when(col("kq") =!= "", concat(lit("?"), col("kq"))).otherwise(lit(""))))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(w))
      .withColumn("n_variants", count(lit(1)).over(w))
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("canonical_doc_id"),
        (col("doc_id") =!= col("canonical_doc_id")).as("is_dup"),
        col("n_variants"))
  }

  val urlDedupSql: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      'https://Example.com/page' || (doc_id // 3) || '?utm_source=x&ref=feed'
      |    WHEN doc_id % 3 = 1 THEN
      |      'HTTPS://EXAMPLE.COM:443/page' || (doc_id // 3) || '/'
      |    ELSE 'https://example.com/page' || (doc_id // 3) || '?page=2#section'
      |    END AS url FROM documents),
      | p AS (SELECT doc_id, url,
      |    regexp_extract(regexp_replace(url, '#.*$', ''), '^([^?]*)', 1) AS base,
      |    regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS qs
      |    FROM m),
      | c AS (SELECT doc_id, url, qs,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(base, '^[^/]*//[^/]*')) ||
      |        substring(base, length(regexp_extract(base, '^[^/]*//[^/]*')) + 1),
      |      '^(https://[^/:]+):443(/.*)?$', '\1\2'),
      |      '/+$', '') AS nos
      |    FROM p),
      | f AS (SELECT doc_id, url, nos,
      |    array_to_string(list_filter(string_split(qs, '&'),
      |      p -> NOT regexp_matches(p, '^utm_') AND NOT regexp_matches(p, '^ref=')
      |           AND p <> ''), '&') AS kq
      |    FROM c),
      | canon AS (SELECT doc_id, url,
      |    nos || CASE WHEN kq <> '' THEN '?' || kq ELSE '' END AS canonical_url
      |    FROM f)
      |SELECT doc_id, url, canonical_url,
      |  MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_doc_id,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_dup,
      |  COUNT(*) OVER (PARTITION BY canonical_url) AS n_variants
      |FROM canon""".stripMargin

  // ------------------------------------------------- PII scrubbing
  /** PII scrubbing — the redaction pass a training-data pipeline runs before
    * anything else: find/replace emails and phone numbers, count what was
    * redacted. The regexes are deliberately RE2-safe (no lookaround) so the
    * oracle runs them verbatim. Test data carries no PII, so the query
    * synthesizes a deterministic email+phone per row (same pattern as the
    * source-roundtrip queries) and the oracle replays the synthesis. Narrow
    * single-stage scan: at 100 TB this is a pure map, no shuffle. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def piiScrub(spark: SparkSession, d: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    documents(spark, d).select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("dirty"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("scrubbed_md5"))
  }

  val piiScrubSql: String =
    s"""WITH s AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |  '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    AS dirty
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(dirty, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(dirty, '$PhoneRe')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(dirty, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
       |FROM s""".stripMargin

  // ------------------------------------------------- HTML stripping
  /** HTML boilerplate stripping — tag removal + whitespace normalization,
    * the first stage of web-corpus text extraction. Markup is synthesized
    * deterministically per row (test docs are plain text); the tag regex is
    * the same in Java and RE2 so the oracle replays it. Narrow single-stage
    * scan. */
  def htmlStrip(spark: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><body><h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
      lit("</p><a href=\"http://site.example/d/"), col("doc_id"),
      lit("\">link</a></body></html>"))
    val clean = trim(regexp_replace(regexp_replace(html, "<[^>]+>", " "),
      graft.functions.MinHash.WsRe, " "))
    documents(spark, d).select(
      col("doc_id"),
      size(regexp_extract_all(html, lit("<[^>]+>"), lit(0))).as("n_tags"),
      length(clean).as("clean_len"),
      md5(clean).as("clean_md5"))
  }

  val htmlStripSql: String =
    """WITH s AS (SELECT doc_id,
      |  '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
      |  '</p><a href="http://site.example/d/' || CAST(doc_id AS VARCHAR) ||
      |  '">link</a></body></html>' AS html
      |  FROM documents),
      | c AS (SELECT doc_id, html,
      |   trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
      |     '\s+', ' ', 'g')) AS clean
      |  FROM s)
      |SELECT doc_id,
      |  len(regexp_extract_all(html, '<[^>]+>')) AS n_tags,
      |  length(clean) AS clean_len,
      |  md5(clean) AS clean_md5
      |FROM c""".stripMargin

  // ------------------------------------------------- unicode cleaning
  /** Unicode text cleaning — NFC normalization + control-char strip +
    * horizontal-whitespace collapse, the canonical pre-tokenization
    * transform (decomposed accents defeat exact/MinHash dedup because
    * "é" and "e+◌́" shingle differently; stray control bytes poison
    * tokenizers). The fixture text is ASCII, so a deterministic dirty
    * suffix (decomposed accents, a tab run, a vertical tab) is appended
    * per row to exercise every rule; the oracle rebuilds the identical
    * suffix from code points and replays NFC via DuckDB's native
    * `nfc_normalize`, making this an INDEPENDENT check of the
    * [[graft.functions.UnicodeNormalize]] expression (two unrelated
    * Unicode implementations must agree byte-for-byte under md5).
    * Narrow single-stage scan — no shuffle, trivially 100-TB-safe. */
  def unicodeClean(spark: SparkSession, d: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" café  naïve\t\tx\u000Bend"))
    val clean = trim(regexp_replace(regexp_replace(
      graft.functions.GraftFunctions.unicodeNormalize(dirty, "NFC"),
      "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""), "[ \\t]+", " "))
    documents(spark, d).select(
      col("doc_id"),
      length(dirty).as("raw_len"),
      length(clean).as("clean_len"),
      md5(clean).as("clean_md5"))
  }

  val unicodeCleanSql: String =
    """WITH s AS (SELECT doc_id,
      |  text || ' cafe' || chr(769) || '  nai' || chr(776) || 've'
      |       || chr(9) || chr(9) || 'x' || chr(11) || 'end' AS dirty
      |  FROM documents),
      | c AS (SELECT doc_id, dirty,
      |   trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
      |     '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'), '[ \t]+', ' ', 'g')) AS clean
      |  FROM s)
      |SELECT doc_id, length(dirty) AS raw_len,
      |  length(clean) AS clean_len, md5(clean) AS clean_md5
      |FROM c""".stripMargin

  // ------------------------------------------------- deterministic sampling
  /** Deterministic (seeded) sampling — the split/eval-subset primitive of a
    * training pipeline: an md5-derived uniform key makes membership a pure
    * function of (seed, doc_id), so the sample is reproducible across runs,
    * engines, and repartitioning — no RNG state, no order dependence.
    * Integer modulus on the 32-bit key avoids float thresholds entirely
    * (bit-stable oracle). Narrow scan: at 100 TB this is a pushed-down-ish
    * filter, no shuffle. Keeps ~1/5 of rows per stratum. */
  def sampleDeterministic(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("sample_key",
        conv(substring(md5(concat(lit("smpl"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long"))
      .filter(col("sample_key") % 5 === 0)
      .select(col("doc_id"), col("lang"), col("sample_key"))

  /** Weighted reservoir sample (Efraimidis-Spirakis A-ES, IPL 2006): a
    * deterministic weight-proportional sample WITHOUT replacement — each doc
    * draws a seeded uniform u and the k smallest `-ln(u)/weight` keys win,
    * which is exactly weighted sampling w/o replacement (the exponential-
    * clocks argument). The classic sequential reservoir becomes, in Spark,
    * a pure TakeOrdered: key is a narrow per-row expression, `orderBy(key)
    * .limit(k)` plans per-partition partial top-k + driver merge of k — no
    * global sort, no RNG state, reproducible under repartitioning. This is
    * THE quality-weighted subset selector of a training pipeline (sample
    * 1M docs proportional to quality score from 10B candidates).
    *
    * u derives from md5(doc_id) exactly as [[sampleDeterministic]]: 13 hex
    * chars = 52 bits, (v + 0.5) / 2^52 — exact in doubles, never 0 or 1;
    * weight is n_chars (>= 1 in the fixture). `ln` is the one libm call:
    * JVM and DuckDB may differ in the last ulp, but selection flips only
    * if the k-th/k+1-th keys collide within ~1e-15 relative — the fixture
    * gaps are ~1e-3, and the emitted key value itself is compared at the
    * driver's 9 significant digits. */
  def weightedSample(spark: SparkSession, d: String): DataFrame = {
    val v = conv(substring(md5(concat(lit("res:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("double")
    val u = (v + lit(0.5)) / lit(4503599627370496.0) // 2^52, exact scaling
    val key = -log(u) / col("n_chars").cast("double")
    val top = documents(spark, d)
      .select(col("doc_id"), col("n_chars"), key.as("sel_key"))
      .orderBy(col("sel_key"), col("doc_id")).limit(100)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("sel_key"), col("doc_id"))))
  }

  val weightedSampleSql: String =
    """WITH k AS (SELECT doc_id, n_chars,
      |    -ln((('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
      |         + 0.5) / 4503599627370496.0) / n_chars AS sel_key
      |  FROM documents)
      |SELECT doc_id, n_chars, sel_key, rank FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY sel_key, doc_id) AS INT) AS rank
      |  FROM k)
      |WHERE rank <= 100""".stripMargin

  /** WITHIN-document repeated-block removal (the Gopher/C4 "remove
    * duplicated lines" rule at block granularity — [[paragraphDedup]]'s
    * corpus-wide cousin, but scoped to one document): later occurrences of
    * a block already seen in the SAME doc drop, first stays, order is
    * preserved. Entirely per-row array math — filter-with-index over the
    * block list — so the operator is exchange-free at any scale; the md5
    * of the cleaned text pins the exact kept sequence, not just counts. */
  def lineDedup(spark: SparkSession, d: String): DataFrame = {
    val tk = toks(col("text"))
    val nBlocks = ceil(size(tk).cast("double") / ParaTokens).cast("int")
    val paras = transform(sequence(lit(0), nBlocks - 1), i =>
      array_join(slice(tk, i * ParaTokens + 1, lit(ParaTokens)), " "))
    documents(spark, d)
      .select(col("doc_id"), paras.as("blocks"))
      .select(col("doc_id"),
        size(col("blocks")).as("n_blocks"),
        expr("filter(blocks, (p, i) -> array_position(slice(blocks, 1, i), p) = 0)")
          .as("kept"))
      .select(col("doc_id"), col("n_blocks"),
        (col("n_blocks") - size(col("kept"))).as("n_dup_blocks"),
        round(size(col("kept")).cast("double") / col("n_blocks"), 6)
          .as("kept_frac"),
        md5(array_join(col("kept"), " ")).as("cleaned_md5"))
  }

  lazy val lineDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | b AS (SELECT doc_id,
       |         list_transform(
       |           range(0, CAST(CEIL(len(tk) / $ParaTokens.0) AS INT)),
       |           i -> array_to_string(tk[i * $ParaTokens + 1 : (i + 1) * $ParaTokens], ' '))
       |           AS blocks
       |       FROM t),
       | k AS (SELECT doc_id, len(blocks) AS n_blocks,
       |         list_filter(blocks,
       |           (p, i) -> NOT list_contains(blocks[1:i-1], p)) AS kept
       |       FROM b)
       |SELECT doc_id, n_blocks,
       |  n_blocks - len(kept) AS n_dup_blocks,
       |  ROUND(CAST(len(kept) AS DOUBLE) / n_blocks, 6) AS kept_frac,
       |  md5(array_to_string(kept, ' ')) AS cleaned_md5
       |FROM k""".stripMargin

  /** One-row dataset card: the corpus-level summary a training-data
    * release ships — volumes, vocabulary breadth proxies, exact-duplicate
    * rate. One scan + distinct aggregates (each a two-phase exchange over
    * its own key); the duplicate rate reuses the exact-text convention of
    * [[dedupExact]]. */
  def corpusStats(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(size(toks(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs"), 6))
      .withColumn("mean_tokens_per_doc",
        round(col("n_tokens").cast("double") / col("n_docs"), 6))

  val corpusStatsSql: String =
    """SELECT n_docs, n_unique_texts, n_langs, n_sources, n_tokens, n_chars,
      |  ROUND(CAST(n_docs - n_unique_texts AS DOUBLE) / n_docs, 6) AS dup_rate,
      |  ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS mean_tokens_per_doc
      |FROM (
      |  SELECT COUNT(*) AS n_docs,
      |    COUNT(DISTINCT md5(text)) AS n_unique_texts,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    COUNT(DISTINCT source) AS n_sources,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM documents)""".stripMargin

  /** Deterministic train/val/test split assignment (80/10/10 by an
    * md5-derived bucket of the doc id) — the reproducible split every
    * training run needs: no RNG, no order dependence, stable under
    * re-partitioning and re-runs, and any engine recomputes the same
    * assignment from the id alone. Exchange-free narrow scan. */
  def splitAssign(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("bucket",
        (conv(substring(md5(concat(lit("split"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % 100).cast("int"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))

  val splitAssignSql: String =
    """SELECT doc_id, lang, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))
      |         AS UBIGINT) % 100 AS INT) AS bucket
      |  FROM documents)""".stripMargin

  /** Leakage-free (decontaminated) train/val/test split: near-duplicate
    * documents must land in the SAME split, or eval measures memorization —
    * the naive per-doc hash split ([[splitAssign]]) puts ~20% of every
    * near-dup cluster's members in val/test while their twins train. The fix
    * keys the split hash on the near-dup cluster CANONICAL id
    * ([[minhashDedup]]'s component-minimum label) instead of the raw doc id,
    * so a whole cluster moves as one unit; singletons (canonical = self)
    * reduce exactly to [[splitAssign]]'s assignment. `leak_prevented` flags
    * the rows the naive split would have separated from their cluster.
    *
    * Scale: the label table is the dedup output (bounded by the duplicated
    * subset); the split assignment itself is one narrow md5-bucket pass over
    * it — no shuffle beyond what [[minhashDedup]] already does. */
  def splitDecontam(spark: SparkSession, d: String): DataFrame = {
    def bucketOf(c: Column): Column =
      (conv(substring(md5(concat(lit("split"), c.cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100).cast("int")
    def splitOf(b: Column): Column =
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    minhashDedup(spark, d)
      .select(col("doc_id"), col("canonical_doc_id"),
        splitOf(bucketOf(col("canonical_doc_id"))).as("split"),
        splitOf(bucketOf(col("doc_id"))).as("naive_split"))
      .select(col("doc_id"), col("canonical_doc_id"), col("split"),
        (col("canonical_doc_id") =!= col("doc_id") &&
          col("split") =!= col("naive_split")).as("leak_prevented"))
  }

  /** DuckDB replica: [[minhashLabelCtes]] (same clusters) + the same
    * md5-bucket split arithmetic keyed on the canonical label. */
  val splitDecontamSql: String =
    s"""$minhashLabelCtes,
       | lab AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS canon
       |         FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
       | b AS (SELECT doc_id, canon,
       |         CAST(CAST(('0x' || substr(md5('split' || CAST(canon AS VARCHAR)), 1, 8))
       |              AS UBIGINT) % 100 AS INT) AS cb,
       |         CAST(CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))
       |              AS UBIGINT) % 100 AS INT) AS nb
       |       FROM lab)
       |SELECT doc_id, canon AS canonical_doc_id,
       |  CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val'
       |       ELSE 'test' END AS split,
       |  (canon <> doc_id AND
       |   CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val'
       |        ELSE 'test' END <>
       |   CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'val'
       |        ELSE 'test' END) AS leak_prevented
       |FROM b""".stripMargin

  val sampleDeterministicSql: String =
    """SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 8))
      |       AS UBIGINT)::BIGINT AS sample_key
      |FROM documents
      |WHERE CAST(('0x' || substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 8))
      |       AS UBIGINT) % 5 = 0""".stripMargin

  // ------------------------------------------------- stratified sampling
  /** Stratified quota sampling — exact per-stratum subsets for eval splits
    * and mixture rebalancing: within every (source, lang) stratum keep the
    * QUOTA documents with the smallest md5-derived keys. Unlike the
    * Bernoulli sampler ([[sampleDeterministic]]) the stratum size is EXACT
    * (min(quota, stratum size)), and membership is still a pure function of
    * doc_id — stable across runs, engines, and repartitioning.
    *
    * Scale: one shuffle on the stratum key, then a per-stratum top-K
    * window. Stratum count is small (sources × languages) while corpus
    * rows are huge, so the window partitions are large but the selection
    * is a single pass per partition; a skew-prone stratum (one source
    * dominating the corpus) salts naturally because the md5 order is
    * uniform — AQE splits oversized partitions. */
  private val SampleQuota = 5

  def stratifiedSample(spark: SparkSession, d: String): DataFrame = {
    val key = conv(substring(md5(concat(lit("strat"), col("doc_id"))), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("strat_key"), col("doc_id"))
    documents(spark, d)
      .select(col("doc_id"), col("source"), col("lang"), key.as("strat_key"))
      .withColumn("strat_rank", row_number().over(w))
      .filter(col("strat_rank") <= SampleQuota)
  }

  val stratifiedSampleSql: String =
    s"""WITH k AS (SELECT doc_id, source, lang,
       |    CAST(('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))
       |         AS UBIGINT)::BIGINT AS strat_key
       |  FROM documents)
       |SELECT doc_id, source, lang, strat_key, strat_rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang
       |                               ORDER BY strat_key, doc_id) AS strat_rank
       |  FROM k)
       |WHERE strat_rank <= $SampleQuota""".stripMargin

  // ------------------------------------------------- quality buckets
  /** Per-language quality deciles — the curriculum/mixture building block:
    * each document gets its NTILE(10) bucket within its language, ordered
    * by the composite quality score (ties broken by doc_id so the decile
    * assignment is total and engine-independent). Downstream pipelines
    * sample "top-3-decile French" etc. without global thresholds.
    *
    * Scale: the score is the same single-pass narrow stats struct as
    * [[quality]]; the decile is one shuffle on lang + an in-partition
    * sort. Languages are few and large — exactly the window shape AQE
    * handles; for a single dominant language the two-phase alternative is
    * a percentile-sketch cutpoint broadcast, which [[graft.functions.Hll]]
    * -style sketches support, but exact NTILE is the oracle-checkable
    * form. */
  def qualityBuckets(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score"), col("doc_id"))
    quality(spark, d)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .withColumn("decile", ntile(10).over(w))
  }

  val qualityBucketsSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |            string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       | q AS (SELECT doc_id, lang,
       |  ROUND((CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len(tk) * 2
       |         + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)) / 3, 6) AS quality_score
       |  FROM t)
       |SELECT doc_id, lang, quality_score,
       |  NTILE(10) OVER (PARTITION BY lang ORDER BY quality_score, doc_id)
       |    AS decile
       |FROM q""".stripMargin

  // ------------------------------------------------- decontamination
  /** Generic form: flag rows of `train` whose `fpCol` value appears in
    * `bench` (broadcast hash probe; no shuffle of the training corpus).
    * The corpus here has no planted duplicates, so the query's flag column
    * is validated structurally by the oracle and the true-positive path by
    * PipelineSpec's planted-contamination test. */
  def flagContaminated(train: DataFrame, bench: DataFrame, fpCol: String): DataFrame =
    train.join(
        broadcast(bench.select(col(fpCol).as("bench_fp")).distinct()),
        col(fpCol) === col("bench_fp"), "left")
      .withColumn("contaminated", col("bench_fp").isNotNull)
      .drop("bench_fp")

  /** Benchmark decontamination — flag training documents whose normalized
    * fingerprint collides with a held-out/benchmark set (here: every 97th
    * doc stands in for the benchmark). The benchmark fingerprint set is
    * tiny relative to the corpus, so it broadcasts and the corpus streams
    * through a hash-probe left join — no corpus shuffle at any scale. */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val fp = md5(regexp_replace(lower(trim(col("text"))), graft.functions.MinHash.WsRe, " "))
    val docs = documents(spark, d).select(col("doc_id"), fp.as("fingerprint"))
    flagContaminated(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0), "fingerprint")
  }

  val decontaminateSql: String =
    """WITH fp AS (SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |  FROM documents),
      | bench AS (SELECT DISTINCT fingerprint AS bench_fp FROM fp
      |           WHERE doc_id % 97 = 0)
      |SELECT f.doc_id, f.fingerprint, b.bench_fp IS NOT NULL AS contaminated
      |FROM fp f LEFT JOIN bench b ON f.fingerprint = b.bench_fp
      |WHERE f.doc_id % 97 <> 0""".stripMargin

  // ------------------------------------------- bloom-filter decontamination
  /** Bloom-filter decontamination — the corpus-scale path of
    * [[decontaminate]]: when the benchmark fingerprint set outgrows an
    * exact broadcast set, a Bloom filter over it (built DISTRIBUTED by
    * Spark's mergeable sketch aggregation — partitions build partial
    * filters, the driver ORs bitsets) probes every corpus row in O(k)
    * hashes with NO false negatives and a bounded false-positive rate;
    * a production pipeline re-checks the (tiny) flagged subset exactly.
    * Not DuckDB-oracled (the filter's hash layout is Spark-internal);
    * DedupScaleSpec pins the no-false-negative contract against the exact
    * path and bounds the FP rate at the configured fpp. */
  def decontaminateBloom(spark: SparkSession, d: String,
                         fpp: Double = 0.01): DataFrame = {
    val fp = md5(regexp_replace(lower(trim(col("text"))), graft.functions.MinHash.WsRe, " "))
    val docs = documents(spark, d).select(col("doc_id"), fp.as("fingerprint"))
    flagContaminatedBloom(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0), "fingerprint", fpp)
  }

  /** Frame-level Bloom probe (the [[flagContaminated]] counterpart): flag
    * every `train` row whose `fpCol` MIGHT be in `bench` — no false
    * negatives, FP rate ≤ fpp by construction. */
  def flagContaminatedBloom(train: DataFrame, bench: DataFrame,
                            fpCol: String, fpp: Double = 0.01): DataFrame = {
    val bloom = bench.stat.bloomFilter(
      fpCol, math.max(bench.count(), 1L), fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    val probe = udf((s: String) => bc.value.mightContainString(s))
    train.withColumn("maybe_contaminated", probe(col(fpCol)))
  }

  // ------------------------------------------------- vocabulary
  /** Corpus vocabulary top-k: token frequencies with a deterministic
    * (count desc, token asc) total order. The explode→count aggregation
    * partially combines map-side and the top-k is a TakeOrdered, not a
    * global sort — the standard vocab-build shape at corpus scale. */
  def vocabTopK(spark: SparkSession, d: String): DataFrame = {
    // top-k BEFORE the rank window: orderBy+limit plans TakeOrderedAndProject
    // (per-partition partial top-k, no global sort), and the unpartitioned
    // rank window then runs over 20 rows, not the whole vocabulary
    val top = documents(spark, d)
      .select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_docs_x_tf"))
      .orderBy(col("n_docs_x_tf").desc, col("token"))
      .limit(20)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("n_docs_x_tf").desc, col("token"))))
  }

  val vocabTopKSql: String =
    """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |           FROM documents),
      | c AS (SELECT token, COUNT(*) AS n_docs_x_tf FROM t GROUP BY 1)
      |SELECT token, n_docs_x_tf, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs_x_tf DESC, token) AS rank
      |  FROM c)
      |WHERE rank <= 20""".stripMargin

  // ------------------------------------------------- collocations (PMI)
  /** Top-k collocations by pointwise mutual information — the classic
    * corpus-linguistics "which word pairs belong together" statistic
    * (Church & Hanks 1990). PMI = log(p(w1,w2)/(p(w1)p(w2))) is ranked by
    * its RATIONAL argument `c12·N_bigrams/(c1·c2)` in 1e-6 scaled integer
    * units instead of the log — log is monotone, so the ranking is
    * identical, and integer division keeps the oracle bit-exact where a
    * libm log could differ in the last ulp between engines. Min count 5
    * suppresses the rare-pair PMI explosion (standard practice).
    *
    * Scale: two token scans (bigram + unigram counts, both one
    * map-side-combinable shuffle), unigram counts joined on the word keys
    * (vocabulary-sized — keyed joins, nothing broadcast), one-row totals
    * broadcast, TakeOrdered top-k. The 1e-6 scaling fits long up to
    * ~10^12 bigram occurrences; past that the counts themselves should be
    * log-scaled before ranking. */
  private val CollocMinCount = 5
  private val CollocTopK = 20

  def collocations(spark: SparkSession, d: String): DataFrame = {
    val tk = documents(spark, d).select(toks(col("text")).as("tk"))
    val bigrams = tk.select(explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), (a, b) -> struct(a AS w1, b AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // ONE bigram pass: the unfiltered (w1, w2) counts yield both the
    // frequent-pair table and the total bigram mass (sum of group counts ==
    // count of instances), where counting `bigrams` separately re-ran the
    // tokenize + explode a second time.
    val bcAll = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val bc = bcAll.filter(col("c12") >= CollocMinCount)
    val uc = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = bcAll.agg(sum(col("c12")).as("nb"))
    val scored = bc
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .join(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        expr("(c12 * nb * 1000000) DIV (c1 * c2)").as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
    scored.withColumn("rank", row_number().over(
      Window.orderBy(col("pmi_scaled").desc, col("w1"), col("w2"))))
  }

  val collocationsSql: String =
    s"""WITH t AS (SELECT string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
       |        FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |        WHERE i + 1 <= len(tk)),
       | bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
       |        HAVING COUNT(*) >= $CollocMinCount),
       | uc AS (SELECT w, COUNT(*) AS c FROM
       |          (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
       | tot AS (SELECT COUNT(*) AS nb FROM bg),
       | s AS (SELECT w1, w2, c12,
       |         (c12 * nb * 1000000) // (u1.c * u2.c) AS pmi_scaled
       |       FROM bc JOIN uc u1 ON bc.w1 = u1.w
       |               JOIN uc u2 ON bc.w2 = u2.w, tot)
       |SELECT w1, w2, c12, pmi_scaled, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1, w2) AS rank
       |  FROM s)
       |WHERE rank <= $CollocTopK""".stripMargin

  // ------------------------------------------------- readability scoring
  /** Flesch reading-ease per document from three deterministic counts:
    * sentences (non-empty `[.!?]+` segments), whitespace words, and
    * vowel-group syllables (`[aeiouy]+` runs — the standard heuristic; a
    * run never spans whitespace, so one regexp count over the whole text
    * equals the per-word sum). The score itself is a fixed-order double
    * expression over integer counts, rounded to 6 decimals at the edge.
    * Exchange-free narrow scan at any scale. */
  def readability(spark: SparkSession, d: String): DataFrame =
    documents(spark, d).select(
      col("doc_id"),
      size(filter(split(col("text"), "[.!?]+"), s => trim(s) =!= ""))
        .cast("long").as("n_sentences"),
      size(toks(col("text"))).cast("long").as("n_words"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("n_syllables"))
    .withColumn("flesch",
      when(col("n_sentences") > 0 && col("n_words") > 0,
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 6)))

  val readabilitySql: String =
    """SELECT doc_id, n_sentences, n_words, n_syllables,
      |  CASE WHEN n_sentences > 0 AND n_words > 0 THEN
      |    ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |                  - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
      |  END AS flesch
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
      |             s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM documents)""".stripMargin

  // ------------------------------------------------- repetition metrics
  /** Gopher-style repetition quality metrics (Rae et al. 2021, Table A1):
    * excessive n-gram repetition marks low-quality/boilerplate text. Per
    * document: bigram count, the most-frequent bigram's share of all bigram
    * occurrences, and the share of occurrences whose bigram appears more
    * than once. The metric is doc-local, so it runs as a tight per-row JVM
    * loop — one narrow codegen stage, NO explode/shuffle at any scale (the
    * explode + groupBy(doc_id, bigram) formulation shuffles the full bigram
    * stream twice for a per-doc statistic). Integer counts; the two ratios
    * are single divisions of exact longs, so the oracle hash-matches. */
  private val repetitionUdf = udf((text: String) => {
    // null text → zero-count row, matching the oracle's LEFT JOIN + COALESCE
    val tk = if (text == null) Array.empty[String]
             else graft.functions.MinHash.sqlToks(text)
    if (tk.length < 2) (0L, 0L, 0L)
    else {
      val counts = new java.util.HashMap[String, Long](tk.length * 2)
      var i = 0
      while (i < tk.length - 1) {
        counts.merge(tk(i) + " " + tk(i + 1), 1L, _ + _)
        i += 1
      }
      var top = 0L; var dup = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        if (c > top) top = c
        if (c > 1) dup += c
      }
      (tk.length - 1L, top, dup)
    }
  })

  def repetition(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(col("doc_id"), repetitionUdf(col("text")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_bigrams"),
        col("r._2").as("top_bigram_count"),
        col("r._3").as("dup_bigram_count"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          round(col("top_bigram_count").cast("double") / col("n_bigrams"), 6)))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") > 0,
          round(col("dup_bigram_count").cast("double") / col("n_bigrams"), 6)))

  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | bg AS (SELECT doc_id,
      |          unnest(list_transform(range(1, len(tk)),
      |                                i -> tk[i] || ' ' || tk[i+1])) AS bg
      |        FROM t WHERE len(tk) >= 2),
      | c AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bg GROUP BY 1, 2),
      | a AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |         CAST(MAX(tf) AS BIGINT) AS top_bigram_count,
      |         CAST(SUM(CASE WHEN tf > 1 THEN tf ELSE 0 END) AS BIGINT)
      |           AS dup_bigram_count
      |       FROM c GROUP BY 1)
      |SELECT t.doc_id,
      |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(a.top_bigram_count, 0) AS top_bigram_count,
      |  COALESCE(a.dup_bigram_count, 0) AS dup_bigram_count,
      |  CASE WHEN a.n_bigrams > 0
      |       THEN ROUND(CAST(a.top_bigram_count AS DOUBLE) / a.n_bigrams, 6)
      |  END AS top_bigram_frac,
      |  CASE WHEN a.n_bigrams > 0
      |       THEN ROUND(CAST(a.dup_bigram_count AS DOUBLE) / a.n_bigrams, 6)
      |  END AS dup_bigram_frac
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id""".stripMargin

  // ------------------------------------------------- BM25 keyword search
  /** BM25 keyword retrieval (k1=1.2, b=0.75) — the lexical-search companion
    * to the embedding ANN operators: score every document against a fixed
    * term set, return the top 15.
    *
    * Scale design: per-doc term frequencies are narrow per-row array math
    * (no explode); the corpus statistics (N, avgdl, per-term document
    * frequencies) reduce to ONE tiny row that joins back by broadcast —
    * so the whole query is scan → scalar-stats crossjoin → TakeOrdered,
    * with no shuffle of the corpus itself. At 100 TB the stats row is a
    * pre-computed dictionary entry and scoring stays embarrassingly
    * parallel.
    *
    * Determinism: tf/dl/df are exact longs; the score sums three terms in
    * fixed textual order with identically-parenthesized arithmetic in both
    * engines, and the result is rounded to 6 decimals before the rank sort
    * (ties broken by doc_id). */
  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 15

  def bm25(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    // Memoized: the per-term tf projection re-runs the tokenizer once per
    // filter lambda (projection collapse inlines `t` into every use), and
    // the frame is consumed twice (corpus stats + the scored scan).
    val base = MemoCache.frame(spark, ("bm25-base", d))(
      documents(spark, d).select(
        col("doc_id") +: size(t).as("dl") +:
          Bm25Terms.zipWithIndex.map { case (term, i) =>
            size(filter(t, x => x === term)).cast("long").as(s"tf$i")
          }: _*))
    // one-row corpus statistics: broadcast back over the scan
    val statCols =
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        Bm25Terms.indices.map(i =>
          count(when(col(s"tf$i") > 0, lit(1))).as(s"df$i"))
    val stats = base.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val score = Bm25Terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      val tfn = (col(s"tf$i").cast("double") * (Bm25K1 + 1)) /
        (col(s"tf$i").cast("double") +
          lit(Bm25K1) * (lit(1) - Bm25B + lit(Bm25B) * col("dl").cast("double") / col("avgdl")))
      idf * tfn
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), round(score, 6).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
  }

  val bm25Sql: String = {
    val tfs = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$term')) AS BIGINT) AS tf$i"
    }.mkString(",\n      |         ")
    val dfs = Bm25Terms.indices.map(i =>
      s"CAST(COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS BIGINT) AS df$i")
      .mkString(",\n      |          ")
    val score = Bm25Terms.indices.map(i =>
      s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * " +
        s"((CAST(tf$i AS DOUBLE) * ${Bm25K1 + 1}) / (CAST(tf$i AS DOUBLE) + " +
        s"$Bm25K1 * (1 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) / avgdl)))")
      .mkString("\n      |      + ")
    s"""WITH b AS (SELECT doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl,
       |         $tfs
       |       FROM (SELECT doc_id, text,
       |               string_split_regex(trim(text), '\\s+') AS tk
       |             FROM documents)),
       | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |          $dfs
       |        FROM b),
       | s AS (SELECT doc_id, dl,
       |         ROUND($score, 6) AS bm25
       |       FROM b CROSS JOIN st)
       |SELECT doc_id, dl, bm25, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
       |  FROM s WHERE bm25 > 0)
       |WHERE rank <= $Bm25TopK""".stripMargin
  }

  // ------------------------------------------------- winnowing fingerprint
  /** Rolling-hash winnowing fingerprints (the MOSS scheme): k-gram rolling
    * hashes, minimum per sliding window — robust local fingerprints for
    * partial-overlap detection. JVM UDF (rolling-hash loops don't map to
    * SQL); validated on shared-substring docs in PipelineSpec. */
  private val winnowUdf = udf((text: String) => {
    val k = 8; val window = 4
    val s = text.toLowerCase.replaceAll(graft.functions.MinHash.WsRe, " ")
    if (s.length < k) Array.empty[Long]
    else {
      val B = 257L; val M = (1L << 31) - 1
      // after `h = h*B + c_new`, the departing char's coefficient is B^k
      var pow = 1L; (1 to k).foreach(_ => pow = pow * B % M)
      val hashes = new Array[Long](s.length - k + 1)
      var h = 0L
      var i = 0
      while (i < s.length) {
        h = (h * B + s.charAt(i)) % M
        if (i >= k) h = (h - s.charAt(i - k) * pow % M + M * M) % M
        if (i >= k - 1) hashes(i - k + 1) = h
        i += 1
      }
      // winnow: min hash of each window, deduped on (value, position) moves
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var w = 0
      while (w + window <= hashes.length) {
        var mn = Long.MaxValue
        var j = w
        while (j < w + window) { if (hashes(j) < mn) mn = hashes(j); j += 1 }
        out += mn
        w += 1
      }
      out.toArray
    }
  })

  /** Raw per-doc fingerprint arrays — the form downstream overlap joins
    * consume (explode + self-join on fingerprint). */
  def winnowArrays(spark: SparkSession, d: String): DataFrame =
    documents(spark, d).select(
      col("doc_id"), winnowUdf(col("text")).as("fingerprints"))

  /** Scalar fingerprint summaries (count/min/max/sum of the distinct
    * winnowed hashes) rather than the raw array: the driver's comparator
    * sorts rows with pandas, which cannot order array cells — and the
    * scalar form is exactly expressible in DuckDB list lambdas, giving this
    * operator a real hash-checked oracle. */
  def winnowFingerprints(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(col("doc_id"), winnowUdf(col("text")).as("fps"))
      .select(
        col("doc_id"),
        size(col("fps")).as("n_fingerprints"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        when(size(col("fps")) > 0,
          aggregate(col("fps"), lit(0L), (a, x) => a + x)).as("fp_sum"))

  /** DuckDB replica of the winnow UDF: the k-gram rolling hash is a plain
    * polynomial hash mod 2^31-1, so each position's hash is a direct
    * 8-term dot product with B^j mod M constants; window minima + distinct
    * via list lambdas. Matches the JVM loop bit-for-bit on ASCII/BMP text. */
  val winnowSql: String = {
    val M = (1L << 31) - 1
    val pows = Seq(623063367L, 336663071L, 168429323L, 67503107L,
      16974593L, 66049L, 257L, 1L)
    val terms = pows.zipWithIndex
      .map { case (p, j) => s"ord(t[i+$j])*$p::BIGINT" }.mkString(" + ")
    s"""WITH s AS (
       |  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
       |  FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 8 THEN CAST([] AS BIGINT[])
       |         ELSE list_transform(range(1, len(t)-8+2), i -> ($terms) % $M)
       |    END AS hashes
       |  FROM s
       |), m AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(hashes)-4+2),
       |      w -> list_min(hashes[w:w+3]))) AS fps
       |  FROM h
       |)
       |SELECT doc_id, len(fps) AS n_fingerprints,
       |  list_min(fps) AS fp_min, list_max(fps) AS fp_max,
       |  CAST(list_sum(fps) AS BIGINT) AS fp_sum
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- unigram LM scoring
  /** Vocabulary cap for the broadcast unigram model: web-corpus vocabularies
    * are unbounded (typos, ids, numbers), so only the top `VocabCap` tokens
    * by frequency ship to executors and everything else scores at the OOV
    * floor (count 1 — the rarest a token can be). 2^20 entries ≈ tens of MB
    * broadcast, independent of corpus size. The fixture vocabulary is far
    * below the cap, so the (uncapped) DuckDB oracle stays exact. */
  private val VocabCap = GraftConf.LmVocabCap.default

  // Trained models (unigram/bigram/CMS LM, DSIR) memoize in the bounded
  // [[MemoCache]] so repeated invocations (bench cold+warm, plan
  // inspection after a run) neither re-run the model-build job nor leak
  // one broadcast per call — and a session sweeping many (dataset, cap)
  // keys frees the LRU model's executor copies instead of pinning all.

  /** The count-min form of the [[unigramLm]] model
    * ([[graft.functions.CountMin]]): where the top-K cap keeps EXACT counts
    * for the vocabulary head and floors the tail at OOV, the sketch keeps
    * an e/width-bounded OVERestimate for every token in constant memory —
    * no (token, count) shuffle at all (the sketch partial-aggregates
    * map-side), no vocabulary-sized broadcast. Scores therefore never
    * exceed the exact model's nll, and agree bit-for-bit unless a token
    * collides in all [[graft.functions.CountMin.Depth]] hash rows
    * (SketchSpec pins exact agreement on the fixture corpus). Opt-in via
    * `spark.graft.lm.cmsModel=true`; the DuckDB oracle checks the exact
    * path. */
  private def unigramLmCms(spark: SparkSession, d: String): DataFrame = {
    val (bc, lnTotal) = MemoCache.getOrElseUpdate(spark, ("cms-lm", d))({
      val row = documents(spark, d)
        .select(explode(toks(col("text"))).as("token"))
        .agg(graft.functions.CountMin.sketch(col("token")).as("cms"),
             count(lit(1)).as("total"))
        .head()
      (spark.sparkContext.broadcast(row.getSeq[Long](0).toArray),
        math.log(row.getLong(1).toDouble))
    })(_._1.unpersist(blocking = false))
    val nllUdf = udf((tk: Seq[String]) => {
      if (tk == null || tk.isEmpty) None
      else {
        var s = 0.0
        var i = 0
        while (i < tk.length) {
          s += math.log(math.max(
            graft.functions.CountMin.query(bc.value, tk(i)), 1L).toDouble)
          i += 1
        }
        Some(lnTotal - s / tk.length)
      }
    })
    documents(spark, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        round(nllUdf(col("tk")), 6).as("nll"))
  }

  /** CCNet-style language-model quality score: mean negative log-likelihood
    * of each document under a corpus unigram model (Wenzek et al. 2020 score
    * low-perplexity ≈ fluent text; here the model is the corpus itself).
    *
    * Scale: the model build is ONE map-side-combinable shuffle (token →
    * count); the trained model then broadcasts and scoring is a narrow
    * per-row pass. At web-corpus scale the broadcast stays bounded by
    * capping the vocabulary to the top-K tokens + an OOV floor (here the
    * synthetic vocabulary is tiny, so no cap fires). The per-row fold runs
    * in token order, so the double sum is order-deterministic and the
    * DuckDB oracle (same fold via list_transform/list_sum) hash-matches. */
  def unigramLm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    if (GraftConf.LmCmsModel.get(spark)) return unigramLmCms(spark, d)
    val cap = GraftConf.LmVocabCap.get(spark)
    val (bc, lnTotal) = MemoCache.getOrElseUpdate(spark, ("unigram-lm", d, cap))({
      val counts = documents(spark, d)
        .select(explode(toks(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      // total token mass BEFORE the cap (the model normalizer); the cap only
      // bounds what ships to executors
      val total = counts.agg(sum(col("cnt"))).as[Long].head()
      val freq = counts.orderBy(col("cnt").desc, col("token")).limit(cap)
        .as[(String, Long)].collect().toMap
      (spark.sparkContext.broadcast(freq), math.log(total.toDouble))
    })(_._1.unpersist(blocking = false))
    // the UDF takes the ALREADY-TOKENIZED array, so scoring, n_tokens and
    // the oracle share one tokenization by construction (a Java-side
    // re-tokenize diverges on tab/newline edges: String.trim strips all
    // whitespace, SQL trim only spaces)
    val nllUdf = udf((tk: Seq[String]) => {
      if (tk == null || tk.isEmpty) None
      else {
        var s = 0.0
        var i = 0
        while (i < tk.length) {
          s += math.log(bc.value.getOrElse(tk(i), 1L).toDouble)
          i += 1
        }
        Some(lnTotal - s / tk.length)
      }
    })
    documents(spark, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        round(nllUdf(col("tk")), 6).as("nll"))
  }

  val unigramLmSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | c AS (SELECT token, COUNT(*) AS cnt
      |       FROM (SELECT unnest(tk) AS token FROM t) GROUP BY 1),
      | n AS (SELECT SUM(cnt) AS total FROM c),
      | m AS (SELECT map(list(token), list(cnt)) AS mp FROM c)
      |SELECT doc_id, len(tk) AS n_tokens,
      |  ROUND(ln(CAST(n.total AS DOUBLE))
      |        - list_sum(list_transform(tk,
      |            x -> ln(CAST(map_extract(m.mp, x)[1] AS DOUBLE))))
      |          / len(tk), 6) AS nll
      |FROM t, n, m""".stripMargin

  // ------------------------------------------------- bigram LM scoring
  /** Top-`cap` (count DESC, key ASC) counts of `ex`'s exploded `g` column,
    * collected — the shared model-build shape of the bigram-LM family. */
  private def topCounts(spark: SparkSession, ex: DataFrame,
                        cap: Int): Map[String, Long] = {
    import spark.implicits._
    ex.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(cap)
      .as[(String, Long)].collect().toMap
  }

  /** Exploded "w1 w2" bigram instances, ONE tokenize per document: the
    * previous `transform(sequence(...), i -> concat(element_at(tk, i), ...))`
    * column re-evaluated the regex tokenizer inside the un-codegen'd HOF
    * lambda for every `element_at` reference (2x per token position — the
    * same pathology [[shingles3Udf]] documents); projecting `tk` first and
    * zip_with'ing two slices (the [[collocations]] shape) binds the
    * tokenizer output once per row. Empty/one-token docs yield empty
    * slices, so no `when` guard is needed. */
  private def bigramInstances(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(toks(col("text")).as("tk"))
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), (a, b) -> concat(a, ' ', b))"))
        .as("g"))

  /** The capped bigram count model, memoized ONCE for the family:
    * [[bigramLm]] and [[knBigram]] both previously ran the identical
    * explode + count + TakeOrdered + collect as part of their own model
    * builds. Driver-side map only (release is a no-op — no cluster
    * storage; bounded by `cap`). */
  private def bigramCounts(spark: SparkSession, d: String,
                           cap: Int): Map[String, Long] =
    MemoCache.getOrElseUpdate(spark, ("bigram-counts", d, cap))(
      topCounts(spark, bigramInstances(spark, d), cap))(_ => ())

  /** Bigram-LM quality score: mean conditional negative log-likelihood
    * `-(1/(n-1)) Σ ln P(tᵢ | tᵢ₋₁)` with `P(b|a) = c(a b)/c(a)` trained on
    * the corpus itself — the next-order refinement of [[unigramLm]]'s
    * CCNet-style scoring (fluent local word order scores low). Unseen
    * bigrams/unigrams fall back to count 1 in both engines.
    *
    * Scale: identical shape to [[unigramLm]] — two map-side-combinable
    * count aggregations (bigram + unigram), both capped to the top-K
    * entries (`spark.graft.lm.vocabCap`) before broadcast, then a narrow
    * per-row fold in token order (order-deterministic double sum, so the
    * DuckDB oracle hash-matches). */
  def bigramLm(spark: SparkSession, d: String): DataFrame = {
    val cap = GraftConf.LmVocabCap.get(spark)
    val tk = toks(col("text"))
    // the two model builds memoize once per (session, dataset, cap);
    // repeated invocations only pay the fold
    val (bg, ug) = MemoCache.getOrElseUpdate(spark, ("bigram-lm", d, cap))((
      spark.sparkContext.broadcast(bigramCounts(spark, d, cap)),
      spark.sparkContext.broadcast(topCounts(spark,
        documents(spark, d).select(explode(tk).as("g")), cap))))(
      v => { v._1.unpersist(blocking = false); v._2.unpersist(blocking = false) })
    val nllUdf = udf((t: Seq[String]) => {
      if (t == null || t.length < 2) None
      else {
        var s = 0.0
        var i = 1
        while (i < t.length) {
          s += math.log(ug.value.getOrElse(t(i - 1), 1L).toDouble) -
            math.log(bg.value.getOrElse(t(i - 1) + " " + t(i), 1L).toDouble)
          i += 1
        }
        Some(s / (t.length - 1))
      }
    })
    documents(spark, d)
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        round(nllUdf(col("tk")), 6).as("nll2"))
  }

  val bigramLmSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | bgx AS (SELECT unnest(list_transform(range(1, len(tk)),
      |           i -> tk[i] || ' ' || tk[i+1])) AS g
      |         FROM t WHERE len(tk) >= 2),
      | bc AS (SELECT g, COUNT(*) AS cnt FROM bgx GROUP BY 1),
      | uc AS (SELECT g, COUNT(*) AS cnt
      |        FROM (SELECT unnest(tk) AS g FROM t) GROUP BY 1),
      | bm AS (SELECT map(list(g), list(cnt)) AS mp FROM bc),
      | um AS (SELECT map(list(g), list(cnt)) AS mp FROM uc)
      |SELECT doc_id, len(tk) AS n_tokens,
      |  CASE WHEN len(tk) >= 2 THEN
      |    ROUND(list_sum(list_transform(range(1, len(tk)),
      |      i -> ln(CAST(COALESCE(map_extract(um.mp, tk[i])[1], 1) AS DOUBLE))
      |         - ln(CAST(COALESCE(map_extract(bm.mp, tk[i] || ' ' || tk[i+1])[1], 1) AS DOUBLE))))
      |      / (len(tk) - 1), 6)
      |  END AS nll2
      |FROM t, bm, um""".stripMargin

  // ------------------------------------------- Kneser–Ney bigram scoring
  /** Interpolated Kneser–Ney bigram scoring — the smoothing that ships in
    * real LM-quality filters (KenLM-style): absolute discount D=0.75 on
    * observed bigrams, with the discounted mass redistributed by the
    * CONTINUATION probability `P_cont(w) = N1+(·w) / |bigrams|` (how many
    * distinct contexts a word follows, not how often it occurs — "Francisco"
    * is frequent but predictable, so it scores low). Unseen contexts back
    * off to `P_cont` alone; unseen continuations floor at 0.5/|bigrams|.
    *
    * Scale: same shape as [[bigramLm]] — one capped map-side-combinable
    * bigram count aggregation; the context totals, follower fan-out and
    * continuation counts all derive from that one model table on the
    * driver (model-sized work, not data-sized), broadcast once, then a
    * narrow in-order per-row fold. The DuckDB oracle replays the same
    * arithmetic expression-for-expression, so doubles agree bit-for-bit. */
  def knBigram(spark: SparkSession, d: String): DataFrame = {
    val cap = GraftConf.LmVocabCap.get(spark)
    val tk = toks(col("text"))
    val model = MemoCache.getOrElseUpdate(spark, ("kn-bigram", d, cap))({
      // the SAME capped bigram count table [[bigramLm]] scores against —
      // shared via [[bigramCounts]] instead of re-running the explode +
      // count + TakeOrdered + collect per family member
      val bc: Map[String, Long] = bigramCounts(spark, d, cap)
      // context totals / follower fan-out / continuation counts are pure
      // functions of the (capped) model — derive once on the driver
      val ctx = bc.groupMapReduce(_._1.split(" ", 2)(0))(_._2)(_ + _)
      val nfol = bc.groupMapReduce(_._1.split(" ", 2)(0))(_ => 1L)(_ + _)
      val cont = bc.groupMapReduce(_._1.split(" ", 2)(1))(_ => 1L)(_ + _)
      spark.sparkContext.broadcast((bc, ctx, nfol, cont, bc.size.toLong))
    })(_.unpersist(blocking = false))
    val knUdf = udf((t: Seq[String]) => {
      if (t == null || t.length < 2) None
      else {
        val (bc, ctx, nfol, cont, z) = model.value
        var s = 0.0
        var i = 1
        while (i < t.length) {
          val v = t(i - 1); val w = t(i)
          val pc = cont.get(w).map(_.toDouble).getOrElse(0.5) / z
          val p = ctx.get(v) match {
            case Some(cv) =>
              (math.max(bc.getOrElse(v + " " + w, 0L).toDouble - 0.75, 0.0) +
                0.75 * nfol(v).toDouble * pc) / cv.toDouble
            case None => pc
          }
          s += math.log(p)
          i += 1
        }
        Some(-s / (t.length - 1))
      }
    })
    documents(spark, d)
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        round(knUdf(col("tk")), 6).as("kn_nll"))
  }

  val knBigramSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      |           FROM documents),
      | bgx AS (SELECT unnest(list_transform(range(1, len(tk)),
      |           i -> tk[i] || ' ' || tk[i+1])) AS g
      |         FROM t WHERE len(tk) >= 2),
      | -- replay the Spark side's top-(count,key) model cap so the oracle
      | -- stays exact even on a corpus whose bigram vocabulary exceeds it
      | bc AS (SELECT g, cnt FROM (
      |          SELECT g, COUNT(*) AS cnt FROM bgx GROUP BY 1
      |          ORDER BY cnt DESC, g LIMIT $VocabCap)),
      | cx AS (SELECT split_part(g, ' ', 1) AS v, SUM(cnt) AS ctx,
      |               COUNT(*) AS nfol FROM bc GROUP BY 1),
      | cw AS (SELECT split_part(g, ' ', 2) AS w, COUNT(*) AS cont
      |        FROM bc GROUP BY 1),
      | z AS (SELECT COUNT(*) AS z FROM bc),
      | bm AS (SELECT map(list(g), list(cnt)) AS mp FROM bc),
      | xm AS (SELECT map(list(v), list(ctx)) AS mp FROM cx),
      | nm AS (SELECT map(list(v), list(nfol)) AS mp FROM cx),
      | cm AS (SELECT map(list(w), list(cont)) AS mp FROM cw)
      |SELECT doc_id, len(tk) AS n_tokens,
      |  CASE WHEN len(tk) >= 2 THEN
      |    ROUND(-list_sum(list_transform(range(1, len(tk)),
      |      i -> ln(CASE WHEN map_extract(xm.mp, tk[i])[1] IS NOT NULL THEN
      |          (GREATEST(CAST(COALESCE(map_extract(bm.mp,
      |              tk[i] || ' ' || tk[i+1])[1], 0) AS DOUBLE) - 0.75, 0)
      |           + 0.75 * CAST(map_extract(nm.mp, tk[i])[1] AS DOUBLE)
      |             * (CAST(COALESCE(map_extract(cm.mp, tk[i+1])[1], 0.5)
      |                 AS DOUBLE) / z.z))
      |          / CAST(map_extract(xm.mp, tk[i])[1] AS DOUBLE)
      |        ELSE CAST(COALESCE(map_extract(cm.mp, tk[i+1])[1], 0.5)
      |               AS DOUBLE) / z.z END)))
      |      / (len(tk) - 1), 6)
      |  END AS kn_nll
      |FROM t, bm, xm, nm, cm, z""".stripMargin

  // ------------------------------------------------- source mixing report
  /** Training-data mixing report: per (source, lang) document/token/char
    * volumes and each cell's share of corpus tokens — the table a data-mix
    * plan is tuned against. One map-side-combinable aggregation; the corpus
    * total is a one-row broadcast (same shape as [[bm25]]'s stats join).
    * Shares divide exact longs, so the oracle hash-matches. */
  def sourceMix(spark: SparkSession, d: String): DataFrame = {
    val per = documents(spark, d)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks(col("text")))).as("n_tokens"),
        sum(length(col("text"))).as("n_chars"))
    val total = per.agg(sum(col("n_tokens")).as("corpus_tokens"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("n_tokens").cast("double") / col("corpus_tokens"), 6)
          .as("token_share"))
  }

  val sourceMixSql: String =
    """WITH per AS (
      |  SELECT source, lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, lang, n_docs, n_tokens, n_chars,
      |  ROUND(CAST(n_tokens AS DOUBLE) / (SELECT SUM(n_tokens) FROM per), 6)
      |    AS token_share
      |FROM per""".stripMargin

  // ------------------------------------------------- temperature mixing
  /** Per-source weight frame shared by [[mixTemperature]] and
    * [[mixApply]] — ONE definition of (token mass, sqrt_scaled, totals,
    * anchor c), so the reported accept_prob and the applied threshold
    * cannot drift apart. Totals + anchor come from ONE unpartitioned
    * window over the source-cardinality frame (tens of rows — the
    * single-partition WindowExec is free) rather than a second aggregate:
    * an `agg` branch would recompute the per-source frame and re-scan the
    * whole corpus. */
  private def mixWeights(spark: SparkSession, d: String): DataFrame = {
    val per = documents(spark, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(toks(col("text")))).as("n_tokens"))
      .withColumn("sqrt_scaled",
        floor(sqrt(col("n_tokens").cast("double")) * 1000000).cast("long"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.select(
      col("source"), col("n_docs"), col("n_tokens"), col("sqrt_scaled"),
      sum(col("n_tokens")).over(w).as("tot_tokens"),
      sum(col("sqrt_scaled")).over(w).as("tot_sqrt"),
      min(col("n_tokens").cast("double") / col("sqrt_scaled").cast("double"))
        .over(w).as("c"))
  }

  /** The acceptance probability column over a [[mixWeights]] frame. */
  private def acceptProb: Column =
    least(lit(1.0),
      col("sqrt_scaled").cast("double") / col("n_tokens").cast("double")
        * col("c"))

  /** Temperature-smoothed source-mixing weights (the multilingual-training
    * mix of Conneau & Lample 2019 §3.1 / mC4, at alpha = 0.5): a source's
    * target share is proportional to sqrt(its token mass), pulling
    * over-represented sources down and the tail up. Reports, per source:
    * the raw token share, the smoothed target share, and the acceptance
    * probability a downsampling-only rebalance would apply
    * (accept_prob = (target/raw) scaled so the most under-represented
    * source keeps everything).
    *
    * Determinism: alpha is fixed at 0.5 because sqrt is the ONE power IEEE
    * requires correctly rounded — pow(x, 0.7) may differ between libm and
    * the JVM in the last ulp, sqrt cannot. Token masses are exact longs,
    * sqrt(mass) scales to a long (floor x 1e6) BEFORE any cross-row sum, so
    * both totals are exact integer sums (order-free) and every double op
    * after that is a single divide/multiply on identical inputs.
    *
    * Scale: one map-side-combinable shuffle to (source) — source
    * cardinality is tiny, so the weight table is a broadcast-sized frame;
    * the corpus itself is never re-read. */
  def mixTemperature(spark: SparkSession, d: String): DataFrame =
    mixWeights(spark, d).select(
      col("source"), col("n_docs"), col("n_tokens"),
      round(col("n_tokens").cast("double") / col("tot_tokens").cast("double"), 6)
        .as("weight_raw"),
      round(col("sqrt_scaled").cast("double") / col("tot_sqrt").cast("double"), 6)
        .as("weight_smoothed"),
      round(acceptProb, 6).as("accept_prob"))

  val mixTemperatureSql: String =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY 1),
      | s AS (SELECT source, n_docs, n_tokens,
      |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
      |      AS sqrt_scaled
      |  FROM per),
      | t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
      |              CAST(SUM(sqrt_scaled) AS BIGINT) AS tot_sqrt,
      |              MIN(CAST(n_tokens AS DOUBLE) / CAST(sqrt_scaled AS DOUBLE))
      |                AS c
      |       FROM s)
      |SELECT source, n_docs, n_tokens,
      |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(t.tot_tokens AS DOUBLE), 6)
      |    AS weight_raw,
      |  ROUND(CAST(sqrt_scaled AS DOUBLE) / CAST(t.tot_sqrt AS DOUBLE), 6)
      |    AS weight_smoothed,
      |  ROUND(LEAST(1.0, CAST(sqrt_scaled AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |        * t.c), 6) AS accept_prob
      |FROM s, t""".stripMargin

  /** Realize the [[mixTemperature]] target mix by downsampling-only
    * rejection: each document carries a 32-bit md5-derived key (pure
    * function of doc_id — reproducible across runs, engines, partitionings,
    * exactly like [[sampleDeterministic]]) and survives iff
    * key < floor(accept_prob x 2^32). The per-source acceptance threshold
    * is an exact long, so membership never compares floats.
    *
    * The totals cancel algebraically in accept_prob
    * ((q/p) x min(p/q) — both shares divide by the same totals), so the
    * threshold computes from per-source longs alone: no cross-row double
    * sum anywhere on the acceptance path.
    *
    * Scale: the weight table is source-cardinality rows → broadcast join
    * onto the corpus scan; the only shuffle is the weight-table build.
    * The corpus side stays a narrow filter — at 100 TB this is scan +
    * broadcast-hash-join + filter, no exchange on the big side. */
  def mixApply(spark: SparkSession, d: String): DataFrame = {
    // SAME weight frame and acceptance expression as the report query —
    // the threshold is floor(accept_prob x 2^32) of mixTemperature's
    // accept_prob by construction, not by parallel maintenance
    val thresholds = mixWeights(spark, d).select(
      col("source"),
      floor(acceptProb * 4294967296.0).cast("long").as("mix_threshold"))
    documents(spark, d)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit("mix"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long").as("mix_key"))
      .join(broadcast(thresholds), Seq("source"))
      .filter(col("mix_key") < col("mix_threshold"))
      .select(col("doc_id"), col("source"), col("mix_key"))
  }

  val mixApplySql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY 1),
      | s AS (SELECT source, n_tokens,
      |    CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
      |      AS sqrt_scaled
      |  FROM per),
      | c AS (SELECT MIN(CAST(n_tokens AS DOUBLE) / CAST(sqrt_scaled AS DOUBLE))
      |         AS c FROM s),
      | th AS (SELECT source,
      |    CAST(FLOOR(LEAST(1.0,
      |      CAST(sqrt_scaled AS DOUBLE) / CAST(n_tokens AS DOUBLE) * c.c)
      |      * 4294967296.0) AS BIGINT) AS mix_threshold
      |  FROM s, c),
      | k AS (SELECT doc_id, source,
      |    CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))
      |         AS UBIGINT)::BIGINT AS mix_key
      |  FROM documents)
      |SELECT k.doc_id, k.source, k.mix_key
      |FROM k JOIN th ON k.source = th.source
      |WHERE k.mix_key < th.mix_threshold""".stripMargin

  // ------------------------------------------- domain reweighting (DoReMi)
  private val ReweightIters = 8
  private val ReweightEta = 0.1
  private val ReweightFloor = 1e-9

  /** DoReMi-style domain reweighting (Xie et al. 2023): iteratively
    * upweight the domains the proxy model finds HARD (excess loss above
    * the corpus baseline) via multiplicative weights, so the training mix
    * spends capacity where the model underfits. The proxy loss here is
    * the corpus-trained [[unigramLm]] NLL (the same CCNet-style scorer
    * the quality family uses); excess(s) = mean NLL of source s minus the
    * corpus mean. Update per iteration: `w ← w·(1 + η·excess)` (the
    * linearized exp(η·excess) multiplicative-weights step — polynomial,
    * so the oracle replays it exactly), floored at [[ReweightFloor]] and
    * renormalized left-to-right.
    *
    * Determinism: per-source NLL mass is an INTEGER sum of round-6 NLLs
    * scaled by 1e6 (no distributed double sum); means are integer
    * divisions; the [[ReweightIters]] iterations run on the driver over
    * source-cardinality data (model-sized work, the BPE/linear-probe
    * precedent) with the identical fold order the DuckDB recursive CTE
    * uses, then broadcast back as a frame.
    *
    * Scale: the heavy work is [[unigramLm]]'s one scoring pass; the
    * reweighting itself touches |sources| rows. At 100 TB the per-source
    * masses come off that same scan as a map-side-combinable aggregate —
    * nothing here grows with the corpus. */
  def domainReweight(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val mass = unigramLm(spark, d)
      .join(documents(spark, d).select("doc_id", "source"), "doc_id")
      .filter(col("nll").isNotNull)
      .groupBy("source")
      .agg(
        sum(round(col("nll") * 1000000.0, 0).cast("long")).as("mass"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    val totalMass = mass.foldLeft(0L)(_ + _._2)
    val totalN = mass.foldLeft(0L)(_ + _._3)
    val baseline = totalMass / totalN // integer mean, exact in both engines
    val meanNll = mass.map { case (_, m, n) => m / n }
    val excess = meanNll.map(m => (m - baseline).toDouble / 1000000.0)
    val s = mass.length
    var w = Array.fill(s)(1.0 / s)
    for (_ <- 1 to ReweightIters) {
      val up = Array.tabulate(s)(i =>
        math.max(w(i) * (1.0 + ReweightEta * excess(i)), ReweightFloor))
      val z = up.foldLeft(0.0)(_ + _) // left-to-right, = the oracle's list_sum
      w = up.map(_ / z)
    }
    // rounding happens through Spark's round() so it matches the oracle's
    val rows = mass.indices.map { i =>
      (mass(i)._1, mass(i)._3, meanNll(i).toDouble / 1000000.0, excess(i), w(i))
    }
    rows.toDF("source", "n_docs", "mean_nll_raw", "excess_raw", "weight_raw")
      .select(col("source"), col("n_docs"),
        round(col("mean_nll_raw"), 6).as("mean_nll"),
        round(col("excess_raw"), 6).as("excess_nll"),
        round(col("weight_raw"), 6).as("weight"),
        // how far the mix moves each domain vs uniform
        round(col("weight_raw") * s, 6).as("boost"))
  }

  lazy val domainReweightSql: String =
    s"""WITH RECURSIVE u AS ($unigramLmSql),
       | sm AS (SELECT d.source,
       |          CAST(SUM(CAST(ROUND(u.nll * 1000000, 0) AS BIGINT)) AS BIGINT) AS mass,
       |          CAST(COUNT(*) AS BIGINT) AS n
       |        FROM u JOIN documents d ON u.doc_id = d.doc_id
       |        WHERE u.nll IS NOT NULL GROUP BY 1),
       | b AS (SELECT SUM(mass) // SUM(n) AS b FROM sm),
       | l AS (SELECT list(source ORDER BY source) AS names,
       |         list(mass // n ORDER BY source) AS means,
       |         list(n ORDER BY source) AS ns
       |       FROM sm),
       | ex AS (SELECT names, means, ns,
       |          list_transform(means, m -> CAST(m - b.b AS DOUBLE) / 1000000) AS e
       |        FROM l, b),
       | it(i, w) AS (
       |   SELECT 0, (SELECT list_transform(e, x -> CAST(1 AS DOUBLE) / len(e)) FROM ex)
       |   UNION ALL
       |   SELECT i + 1, list_transform(up, u2 -> u2 / z)
       |   FROM (SELECT i, up, list_sum(up) AS z FROM (
       |     SELECT it.i, list_transform(range(1, len(it.w) + 1),
       |       j -> GREATEST(it.w[j] * (1 + CAST($ReweightEta AS DOUBLE) * ex.e[j]),
       |                     CAST($ReweightFloor AS DOUBLE))) AS up
       |     FROM it, ex WHERE it.i < $ReweightIters))
       | ),
       | wf AS (SELECT w FROM it ORDER BY i DESC LIMIT 1)
       |SELECT ex.names[j] AS source, ex.ns[j] AS n_docs,
       |  ROUND(CAST(ex.means[j] AS DOUBLE) / 1000000, 6) AS mean_nll,
       |  ROUND(ex.e[j], 6) AS excess_nll,
       |  ROUND(wf.w[j], 6) AS weight,
       |  ROUND(wf.w[j] * len(ex.names), 6) AS boost
       |FROM ex, wf,
       |  (SELECT unnest(generate_series(1,
       |     (SELECT CAST(len(names) AS INT) FROM ex))) AS j)
       |WHERE j <= len(ex.names)""".stripMargin

  // ------------------------------------------------- curriculum ordering
  /** Curriculum ordering — the deterministic training-order primitive:
    * documents sort best-first WITHIN each source (stopword-density
    * quality proxy, scaled-int), and sources interleave round-robin so
    * no training window sees a single-source run. `train_pos` is the
    * 0-based global position in that order.
    *
    * Scale: the naive formulation is a global row_number — a
    * single-partition window over the corpus. Instead the global position
    * computes ARITHMETICALLY per row: with per-source sizes broadcast
    * (source cardinality is tiny), a document at within-source round r has
    * exactly sum_s min(size_s, r-1) documents in earlier rounds before it,
    * plus the sources ordered ahead of it inside round r. One source-keyed
    * window shuffle + a broadcast — no global sort, no driver collect,
    * holds at any corpus size. */
  def curriculum(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val sw = filter(t, x => x.isInCollection(stopwords))
    val base = documents(spark, d).select(
      col("doc_id"), col("source"),
      floor(size(sw) * 1000.0 / size(t)).cast("long").as("quality_milli"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_milli").desc, col("doc_id"))
    val sizesRow = base.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      .agg(sort_array(collect_list(struct(col("source"), col("sz"))))
        .as("sizes"))
    val posUdf = udf((round: Int, source: String,
                      sizes: Seq[org.apache.spark.sql.Row]) => {
      var before = 0L
      var intra = 0L
      sizes.foreach { r =>
        val (s, sz) = (r.getString(0), r.getLong(1))
        before += math.min(sz, round - 1L)
        if (sz >= round && s < source) intra += 1L
      }
      before + intra
    })
    base.withColumn("round", row_number().over(w))
      .crossJoin(broadcast(sizesRow))
      .select(col("doc_id"), col("source"), col("quality_milli"), col("round"),
        posUdf(col("round"), col("source"), col("sizes")).as("train_pos"))
  }

  val curriculumSql: String =
    s"""WITH b AS (SELECT doc_id, source,
       |    CAST(FLOOR(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |           x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")})))
       |         * 1000.0
       |         / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
       |      AS quality_milli
       |  FROM documents),
       | k AS (SELECT doc_id, source, quality_milli,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY quality_milli DESC, doc_id) AS round
       |  FROM b),
       | sz AS (SELECT source, COUNT(*) AS sz FROM b GROUP BY 1)
       |SELECT k.doc_id, k.source, k.quality_milli, k.round,
       |  CAST((SELECT COALESCE(SUM(LEAST(z.sz, k.round - 1)), 0) FROM sz z)
       |    + (SELECT COUNT(*) FROM sz z
       |       WHERE z.sz >= k.round AND z.source < k.source) AS BIGINT)
       |    AS train_pos
       |FROM k""".stripMargin

  // ------------------------------------------------- BPE tokenizer
  /** Merge count for the corpus-trained BPE model ([[bpeTrain]]) that the
    * oracles replay; tests override it via [[GraftConf.BpeMerges]]. */
  private val BpeMerges = GraftConf.BpeMerges.default


  /** Distributed BPE training (Sennrich et al. 2016), the real merge loop —
    * not the regex approximation of [[tokenCounts]]:
    *
    *  1. ONE corpus-scale shuffle builds the word-frequency table (this is
    *     the only pass over the documents — classic BPE trains on the
    *     vocabulary, not the corpus);
    *  2. each of the M iterations explodes the CURRENT symbol sequences
    *     into adjacent pairs weighted by word count, partial-aggregates
    *     map-side, and ships exactly ONE row (the argmax pair, tie-broken
    *     deterministically by (count desc, left, right)) to the driver;
    *  3. the winning merge applies distributively ([[graft.functions.Bpe
    *     .mergePair]]) and the loop continues on the updated vocabulary.
    *
    * Scale: classic BPE trains on the VOCABULARY, so after the one
    * corpus-scale shuffle the working set is orders of magnitude below
    * corpus rows. Two paths, gated like the dedup driver-collect family
    * (`spark.graft.bpe.maxDriverVocab`, default 2^20):
    *
    *  - vocab fits the gate → collect (word, count) and run the merge loop
    *    on the driver: M iterations over <=1M entries is milliseconds, vs
    *    M Spark jobs whose per-stage scheduling + AQE re-planning latency
    *    dominates (measured at sf0.1: 17s distributed vs <1s driver —
    *    the data is 31 words);
    *  - open-vocabulary corpus above the gate → the distributed loop:
    *    per-iteration pair explode + map-side-combined count, ONE argmax
    *    row (tie-broken (count desc, left, right)) to the driver, merge
    *    applied distributively. Each iteration's vocabulary is
    *    `localCheckpoint`ed, not merely cached — a cache leaves the full
    *    typed-map lineage in the plan and re-analysis cost grows
    *    superlinearly (measured: 16 merges 155s → 13s with the lineage
    *    cut). On a fault-sensitive cluster run, swap in reliable
    *    `checkpoint()`.
    *
    * Both paths share [[graft.functions.Bpe]] and the tie-break, and
    * PipelineSpec pins them to identical merge tables (plus a naive
    * in-test reference). The DuckDB oracles ([[bpeTrainSql]] /
    * [[bpeEncodeSql]]) replay the full iterative loop with recursive CTEs
    * over the capped merge list, so both queries hash-check. */
  private def bpeMerges(spark: SparkSession, d: String): Seq[(String, String, Long)] = {
    import spark.implicits._
    // merges memoize per (session, dataset, merges) — the trainer is
    // iterative, so repeated calls (train + encode + bench warm passes)
    // must not re-run M jobs each; plain driver data, so release is a no-op
    val m = GraftConf.BpeMerges.get(spark)
    MemoCache.getOrElseUpdate(spark, ("bpe-merges", d, m))({
      val gate = GraftConf.BpeMaxDriverVocab.get(spark)
      var vocab = documents(spark, d)
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)]
        .map { case (w, c) => (graft.functions.Bpe.wordSymbols(w), c) }
        .localCheckpoint()
      if (vocab.count() <= gate) {
        val local = vocab.collect()
        vocab.unpersist()
        trainDriver(local, m)
      } else {
        val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        try {
          var i = 0
          var exhausted = false
          while (i < m && !exhausted) {
            val best = vocab
              .flatMap { case (syms, c) =>
                (0 until syms.length - 1).map(j => ((syms(j), syms(j + 1)), c))
              }
              .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
              .map { case ((l, r), c) => (l, r, c) }
              .orderBy(col("_3").desc, col("_1"), col("_2"))
              .limit(1).collect()
            if (best.isEmpty) exhausted = true
            else {
              val (l, r, c) = best(0)
              merges += ((l, r, c))
              val next = vocab
                .map { case (syms, cnt) =>
                  (graft.functions.Bpe.mergePair(syms, l, r), cnt)
                }.localCheckpoint() // eager: materializes AND cuts lineage
              vocab.unpersist()
              vocab = next
            }
            i += 1
          }
        } finally vocab.unpersist()
        merges.toSeq
      }
    })(_ => ())
  }

  /** The same merge loop on a driver-resident vocabulary (small side of
    * the gate): identical pair counting, argmax tie-break, and
    * [[graft.functions.Bpe.mergePair]] application as the distributed
    * path. */
  private def trainDriver(vocabIn: Array[(Array[String], Long)], m: Int)
      : Seq[(String, String, Long)] = {
    var vocab = vocabIn
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < m && !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((l, r, c))
        vocab = vocab.map { case (syms, cnt) =>
          (graft.functions.Bpe.mergePair(syms, l, r), cnt)
        }
      }
      i += 1
    }
    merges.toSeq
  }

  /** The learned merge table as a frame: (rank, left, right, merged,
    * pair_count). */
  def bpeTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, d).zipWithIndex
      .map { case ((l, r, c), i) => (i, l, r, l + r, c) }
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Encode every document with the corpus-trained merges: broadcast the
    * rank map, then one narrow per-row pass ([[graft.functions.Bpe
    * .encodeWord]] per whitespace token — rank-priority merging, the real
    * inference loop). Output is the BPE token count, the compression ratio
    * vs raw characters (scaled-int, so the frame stays float-free), and an
    * md5 over the full symbol stream (order-sensitive digest — any merge
    * misapplication anywhere in the document changes it). */
  def bpeEncode(spark: SparkSession, d: String): DataFrame = {
    val rank = bpeMerges(spark, d).zipWithIndex
      .map { case ((l, r, _), i) => (l, r) -> i }.toMap
    bpeEncodeOn(documents(spark, d),
      spark.sparkContext.broadcast(rank))
  }

  /** BPE encoding as a frame-level transform over a pre-trained broadcast
    * rank map: pure narrow column math + one JVM UDF, so the SAME
    * expressions encode a batch table or a streaming source (tokenize as
    * documents arrive, model trained offline — the serving shape).
    * Exercised on a MemoryStream in StateSpec. */
  def bpeEncodeOn(docs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]])
      : DataFrame =
    // native expression ([[graft.functions.BpeEncodeExpr]]) since r10: the
    // encode loop reads ArrayData in place inside whole-stage codegen — no
    // per-row Seq[String] conversion (r9 UDF-audit conversion)
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"),
        length(col("text")).as("n_chars_raw"))
      .withColumn("e",
        graft.functions.GraftFunctions.bpeEncodeTokens(col("tk"), bc))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_words"),
        col("e.nTokens").as("n_bpe_tokens"),
        // chars-per-BPE-token x1000 — the compression the merges bought
        when(col("e.nTokens") > 0,
          floor(col("n_chars_raw") * lit(1000L) / col("e.nTokens")).cast("long"))
          .as("compression_milli"),
        col("e.md5").as("bpe_md5"))

  /** DuckDB replay of the FULL BPE merge loop — the piece that makes the
    * two BPE queries hash-checkable rather than rows-only: a single-row
    * recursive CTE carries the whole (symbols, count) vocabulary as a list
    * and performs each iteration's pair-count/argmax/merge with list
    * lambdas. The sequential merge-apply uses `list_reduce` over a
    * `chr(31)`-joined symbol string: the merged symbol is exactly
    * left||right, so merging = dropping the separator — which reproduces
    * [[graft.functions.Bpe.mergePair]]'s non-overlapping left-to-right
    * scan ("aaa" + (a,a) → [aa, a]). chr(31) is safe as separator and
    * order-neutral for the (count desc, left, right) tie-break because it
    * sorts below every printable symbol character and the corpus contains
    * no control characters. */
  private def bpeStateCtes(m: Int): String =
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS tk
       |       FROM documents),
       | wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(tk) AS word FROM t) GROUP BY 1),
       | v0 AS (SELECT list({'syms':
       |            CASE WHEN len(word) = 0 THEN CAST([] AS VARCHAR[])
       |                 ELSE list_transform(range(1, len(word) + 1), i ->
       |                   CASE WHEN i = len(word) THEN word[i:i] || '</w>'
       |                        ELSE word[i:i] END)
       |            END,
       |          'cnt': cnt}) AS vocab
       |        FROM wc),
       | state(iter, vocab, merges) AS (
       |   SELECT 0, (SELECT vocab FROM v0),
       |          CAST([] AS STRUCT(l VARCHAR, r VARCHAR, c BIGINT)[])
       |   UNION ALL
       |   SELECT iter + 1,
       |     list_transform(vocab, w -> {'syms':
       |        CASE WHEN len(w.syms) = 0 THEN w.syms
       |             ELSE string_split(list_reduce(w.syms, (acc, x) ->
       |               CASE WHEN x = best.r AND (acc = best.l OR ends_with(acc, chr(31) || best.l))
       |                    THEN acc || x
       |                    ELSE acc || chr(31) || x END), chr(31))
       |        END, 'cnt': w.cnt}),
       |     list_append(merges, best)
       |   FROM (
       |     SELECT iter, vocab, merges,
       |       (SELECT {'l': string_split(mm.p, chr(31))[1],
       |                'r': string_split(mm.p, chr(31))[2],
       |                'c': mm.c}
       |        FROM (
       |          SELECT p, list_sum(list_transform(pairs.ps, q ->
       |                     CASE WHEN q.p = p THEN q.c ELSE 0 END)) AS c
       |          FROM (SELECT unnest(list_distinct(list_transform(pairs.ps, q -> q.p))) AS p)
       |          ORDER BY c DESC, string_split(p, chr(31))[1], string_split(p, chr(31))[2]
       |          LIMIT 1) mm
       |       ) AS best
       |     FROM state,
       |       LATERAL (SELECT flatten(list_transform(vocab, w ->
       |                  list_transform(range(1, len(w.syms)), j ->
       |                    {'p': w.syms[j] || chr(31) || w.syms[j+1], 'c': w.cnt}))) AS ps) pairs
       |     WHERE iter < $m
       |   )
       |   WHERE best IS NOT NULL
       | ),
       | fin AS (SELECT merges FROM state ORDER BY iter DESC LIMIT 1)""".stripMargin

  /** Tokenizer fertility by language — BPE tokens emitted per whitespace
    * word, the metric multilingual tokenizer evaluations report (a
    * language the merges under-serve shows fertility ≫ 1): reuses the
    * trained-rank encoding of [[bpeEncode]], joins the language, and
    * aggregates integer-exactly (milli-token ratio via floor division).
    * Cost = the encode pass + one lang-keyed rollup. */
  def fertility(spark: SparkSession, d: String): DataFrame =
    bpeEncode(spark, d)
      .join(documents(spark, d).select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        expr("(n_bpe_tokens * 1000) DIV n_words").as("fertility_milli"))

  lazy val fertilitySql: String =
    s"""WITH base AS ($bpeEncodeSql)
       |SELECT d.lang, CAST(SUM(b.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |  CAST((SUM(b.n_bpe_tokens) * 1000) // SUM(b.n_words) AS BIGINT)
       |    AS fertility_milli
       |FROM base b JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin

  val bpeTrainSql: String =
    s"""${bpeStateCtes(BpeMerges)}
       |SELECT CAST(i - 1 AS INTEGER) AS rank,
       |       merges[i].l AS "left", merges[i].r AS "right",
       |       merges[i].l || merges[i].r AS merged,
       |       merges[i].c AS pair_count
       |FROM fin, (SELECT unnest(generate_series(1, $BpeMerges)) AS i)
       |WHERE i <= len(merges)""".stripMargin

  /** Encode oracle: greedy rank-priority inference per distinct WORD via a
    * second recursive CTE (each step applies the lowest-rank merge whose
    * pair occurs — located by a separator-bounded `contains` — until no
    * rank applies), then the per-document symbol stream reassembles in
    * token order for the order-sensitive md5. */
  val bpeEncodeSql: String =
    s"""${bpeStateCtes(BpeMerges)},
       | mlist AS (SELECT list({'rank': i - 1,
       |                        'l': merges[i].l, 'r': merges[i].r}) AS ms
       |           FROM fin, (SELECT unnest(generate_series(1, $BpeMerges)) AS i)
       |           WHERE i <= len(merges)),
       | enc(word, s, it) AS (
       |   SELECT word,
       |     list_reduce(
       |       list_transform(range(1, len(word) + 1), i ->
       |         CASE WHEN i = len(word) THEN word[i:i] || '</w>' ELSE word[i:i] END),
       |       (a, b) -> a || chr(31) || b),
       |     0
       |   FROM wc WHERE len(word) > 0
       |   UNION ALL
       |   SELECT word,
       |     list_reduce(string_split(s, chr(31)), (acc, x) ->
       |       CASE WHEN x = bm.r AND (acc = bm.l OR ends_with(acc, chr(31) || bm.l))
       |            THEN acc || x
       |            ELSE acc || chr(31) || x END),
       |     it + 1
       |   FROM (
       |     SELECT word, s, it,
       |       ms[CAST(list_min(list_transform(ms, m ->
       |            CASE WHEN contains(chr(31) || s || chr(31),
       |                               chr(31) || m.l || chr(31) || m.r || chr(31))
       |                 THEN m.rank END)) AS INTEGER) + 1] AS bm
       |     FROM enc, mlist)
       |   WHERE bm.l IS NOT NULL
       | ),
       | wfinal AS (SELECT word, s FROM (
       |              SELECT word, s, row_number() OVER (PARTITION BY word ORDER BY it DESC) AS rn
       |              FROM enc) WHERE rn = 1),
       | p AS (SELECT doc_id, i, tk[i] AS word
       |       FROM t, (SELECT unnest(generate_series(1, (SELECT max(len(tk)) FROM t))) AS i)
       |       WHERE i <= len(tk)),
       | j AS (SELECT p.doc_id, p.i,
       |         CASE WHEN len(p.word) = 0 THEN CAST([] AS VARCHAR[])
       |              ELSE string_split(w.s, chr(31)) END AS syms
       |       FROM p LEFT JOIN wfinal w ON p.word = w.word),
       | agg AS (SELECT doc_id, flatten(list(syms ORDER BY i)) AS stream FROM j GROUP BY 1)
       |SELECT t.doc_id,
       |  len(t.tk) AS n_words,
       |  CAST(len(a.stream) AS INTEGER) AS n_bpe_tokens,
       |  CASE WHEN len(a.stream) > 0
       |       THEN CAST(FLOOR(len(t.text) * 1000.0 / len(a.stream)) AS BIGINT) END
       |    AS compression_milli,
       |  md5(array_to_string(a.stream, ' ')) AS bpe_md5
       |FROM t JOIN agg a ON t.doc_id = a.doc_id""".stripMargin

  // --------------------------------------------- unigram-LM tokenizer
  /** Unigram-LM subword segmentation (the SentencePiece-unigram serving
    * shape, Kudo 2018): each word segments into the vocabulary pieces that
    * maximize Σ log p(piece) under a unigram piece model — the maximum-
    * likelihood counterpart of [[bpeEncode]]'s greedy merge replay, and the
    * second of the two tokenizer families production pipelines actually
    * run. The model here is count-derived in one pass (every ≤6-char
    * substring of every word type, frequency-weighted; vocab = the full
    * corpus alphabet — guaranteeing coverage — plus the top
    * [[UniVocabK]] multi-char pieces): the EM-trained weights of a real
    * SentencePiece model drop into the same broadcast map without touching
    * the segmentation machinery.
    *
    * Determinism across engines: piece scores are FLOOR(1e6·ln(c/C)) longs,
    * so Viterbi sums are exact integer arithmetic and equal-score ties are
    * EXACT, broken by (fewer pieces, lexicographically-least segmentation).
    * The tie-break order is DP-safe: same-position prefixes with equal
    * (score, pieces) have equal-length segmentation strings (pieces cover
    * the same chars, separators count pieces), so the lexicographic winner
    * survives any common completion. `ln` is the one libm call, off the
    * comparison path except at the FLOOR boundary (~1e-1 away on the
    * fixture).
    *
    * Scale: the model build aggregates substring counts map-side (bounded:
    * ≤ 6·|word| pieces per word TYPE, and the word-type table is
    * Heaps-law-bounded); the chosen vocab is ≤ alphabet+64 entries —
    * broadcast as a plain map; Viterbi runs once per word TYPE over that
    * map (a measured tight loop, not expressible as built-ins), and
    * documents join the segmented types. Nothing fact-scale shuffles
    * except the one word-count aggregation. */
  private val UniMaxPiece = 6
  private val UniVocabK = 64
  private val UniLpScale = 1000000L

  /** (word, freq) word-type table of the corpus tokens, memoized: the
    * unigram and WordPiece trainers and the WordPiece encoder all start
    * from it. */
  private def uniWords(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("uni-words", d))(
      documents(spark, d)
        .select(explode(toks(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).cast("long").as("freq")))

  def unigramTok(spark: SparkSession, d: String): DataFrame = {
    val words = uniWords(spark, d)
    // substring counts, frequency-weighted over word TYPES
    val counts = words.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(1, least($UniMaxPiece, length(word) - i + 1)),
           |            j -> substring(word, i, j))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("c"))
    val chars = counts.filter(length(col("p")) === 1)
    val multi = counts.filter(length(col("p")) > 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("p"))))
      .filter(col("rk") <= UniVocabK).drop("rk")
    // the chosen vocab is model-sized (alphabet + UniVocabK): collect +
    // broadcast is the intended shape, same as the capped LM models
    val vocab = chars.union(multi).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = vocab.map(_._2).sum
    val lp: Map[String, Long] = vocab.map { case (p, c) =>
      p -> math.floor(UniLpScale * math.log(c.toDouble / total)).toLong
    }.toMap
    val bc = spark.sparkContext.broadcast(lp)
    val segUdf = udf((word: String) => {
      val model = bc.value
      val n = word.length
      // best(i) = (score, npieces, seg) — order: score desc, npieces asc,
      // seg asc; null = unreachable (cannot happen: alphabet ⊆ vocab)
      val best = new Array[(Long, Int, String)](n + 1)
      best(0) = (0L, 0, "")
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - UniMaxPiece)
        while (j < i) {
          if (best(j) != null) {
            model.get(word.substring(j, i)).foreach { w =>
              val cand = (best(j)._1 + w, best(j)._2 + 1,
                if (best(j)._3.isEmpty) word.substring(j, i)
                else best(j)._3 + " " + word.substring(j, i))
              val cur = best(i)
              if (cur == null || cand._1 > cur._1 ||
                  (cand._1 == cur._1 && (cand._2 < cur._2 ||
                    (cand._2 == cur._2 && cand._3 < cur._3))))
                best(i) = cand
            }
          }
          j += 1
        }
        i += 1
      }
      val b = best(n)
      if (b == null) null else (b._1, b._2, b._3)
    })
    words
      .withColumn("s", segUdf(col("word")))
      .select(col("word"), col("freq"),
        col("s._1").as("score_scaled"),
        col("s._2").cast("int").as("n_pieces"),
        col("s._3").as("seg"))
  }

  /** Full replay: same counts, same floored log-scores, and Viterbi as an
    * EXHAUSTIVE recursive path enumeration (words are short; the oracle
    * does not need the DP) ranked by the identical (score desc, pieces,
    * seg) order — so a DP bug on the Spark side cannot agree by accident. */
  val unigramTokSql: String =
    s"""WITH RECURSIVE
       | w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |       FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |             FROM documents)
       |       WHERE len(word) > 0 GROUP BY 1),
       | subs AS (SELECT w.freq, substr(w.word, i.i, j.j) AS p
       |          FROM w,
       |            -- data-derived bound (the bpeEncode idiom): a fixed cap
       |            -- would silently drop pieces of any word type past it
       |            (SELECT unnest(generate_series(1,
       |               (SELECT CAST(MAX(len(word)) AS INT) FROM w))) AS i) i,
       |            (SELECT unnest(generate_series(1, $UniMaxPiece)) AS j) j
       |          WHERE i.i + j.j - 1 <= len(w.word)),
       | cnt AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM subs GROUP BY 1),
       | vocab0 AS (SELECT p, c FROM cnt WHERE len(p) = 1
       |            UNION ALL
       |            SELECT p, c FROM (
       |              SELECT p, c, ROW_NUMBER() OVER (ORDER BY c DESC, p) AS rk
       |              FROM cnt WHERE len(p) > 1) WHERE rk <= $UniVocabK),
       | tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM vocab0),
       | vocab AS (SELECT p,
       |             CAST(FLOOR($UniLpScale * ln(CAST(c AS DOUBLE) / tc)) AS BIGINT) AS lp
       |           FROM vocab0, tot),
       | paths(word, pos, score, npieces, seg) AS (
       |   SELECT word, 0, CAST(0 AS BIGINT), 0, CAST('' AS VARCHAR) FROM w
       |   UNION ALL
       |   SELECT p2.word, p2.pos + len(v.p), p2.score + v.lp, p2.npieces + 1,
       |          CASE WHEN p2.seg = '' THEN v.p ELSE p2.seg || ' ' || v.p END
       |   FROM paths p2 JOIN vocab v
       |     ON substr(p2.word, p2.pos + 1, len(v.p)) = v.p
       |   WHERE p2.pos < len(p2.word)),
       | best AS (SELECT word, score, npieces, seg,
       |            ROW_NUMBER() OVER (PARTITION BY word
       |              ORDER BY score DESC, npieces, seg) AS rk
       |          FROM paths JOIN (SELECT word AS wd, len(word) AS wl FROM w) lw
       |            ON word = wd AND pos = wl)
       |SELECT w.word, w.freq, b.score AS score_scaled,
       |  CAST(b.npieces AS INT) AS n_pieces, b.seg
       |FROM best b JOIN w ON b.word = w.word WHERE b.rk = 1""".stripMargin

  // --------------------------------------------- WordPiece tokenizer
  /** WordPiece greedy longest-match-first encoding (the BERT serving
    * tokenizer, Devlin et al. 2019 / Song et al. 2021 "Fast WordPiece"):
    * the third tokenizer family next to [[bpeEncode]] (merge replay) and
    * [[unigramTok]] (max-likelihood Viterbi). Pieces are position-classed —
    * a START piece may only open a word, a CONTINUATION piece (rendered
    * `##x`) only extend one — and each step takes the LONGEST vocabulary
    * piece matching at the cursor, no backtracking.
    *
    * Vocabulary is count-derived like [[unigramTok]]'s (every ≤
    * [[UniMaxPiece]]-char substring of every word type, frequency-weighted,
    * classed by position): all single characters per class — which
    * guarantees coverage over the corpus the counts came from, since any
    * character at a continuation position of any word contributes a
    * continuation single — plus the top [[WpVocabK]] multi-char pieces per
    * class by (count desc, piece). A trained WordPiece vocab drops into the
    * same two broadcast sets.
    *
    * Oracle equivalence: single-char coverage makes dead ends impossible
    * (every suffix is completable char-by-char), and with no dead ends the
    * greedy segmentation is exactly the one whose PIECE-LENGTH SEQUENCE is
    * lexicographically greatest among all complete segmentations — at each
    * cut the greedy piece is the longest matching AND completable one. The
    * oracle therefore enumerates every complete segmentation recursively
    * (the [[unigramTok]] machinery) and ranks by the length-sequence string
    * (lengths 1..6 encode as 'A'..'F'; equal totals make prefix ordering
    * sound), so a greedy-loop bug here cannot agree by accident.
    *
    * Scale: identical shape to [[unigramTok]] — one map-side-combinable
    * substring count over word TYPES, a model-sized vocab collect +
    * broadcast, and a per-word-type tight loop; nothing document-scale
    * shuffles. */
  private val WpVocabK = 48

  /** The trained WordPiece vocabulary as a frame: (p, cont) with cont 0 =
    * word-start piece class, 1 = continuation. Written to parquet, this is
    * the publication format the streaming tokenize-at-ingest form
    * ([[graft.streaming.Streams.wordpieceBatch]]) hot-loads via
    * `RefreshableDim` — train here, publish, serve live. */
  def wordpieceVocab(spark: SparkSession, d: String): DataFrame = {
    val words = uniWords(spark, d)
    val counts = words.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(1, least($UniMaxPiece, length(word) - i + 1)),
           |    j -> named_struct('p', substring(word, i, j),
           |                      'cont', IF(i = 1, 0, 1)))))""".stripMargin)).as("e"))
      .select(col("freq"), col("e.p").as("p"), col("e.cont").as("cont"))
      .groupBy(col("p"), col("cont")).agg(sum(col("freq")).as("c"))
    val chars = counts.filter(length(col("p")) === 1)
      .select(col("p"), col("cont"))
    val multi = counts.filter(length(col("p")) > 1)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cont")).orderBy(col("c").desc, col("p"))))
      .filter(col("rk") <= WpVocabK).select(col("p"), col("cont"))
    chars.union(multi)
  }

  def wordpieceTok(spark: SparkSession, d: String): DataFrame = {
    val words = uniWords(spark, d)
    // model-sized (2 alphabets + 2*WpVocabK): collect + broadcast, the
    // same intended shape as the unigram vocab
    val vocab = wordpieceVocab(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val bcModel = spark.sparkContext.broadcast(
      (vocab.collect { case (p, 0) => p }.toSet,
       vocab.collect { case (p, 1) => p }.toSet))
    // the greedy walk lives in graft.functions.WordPiece (codepoint-offset
    // longest-match-first), shared verbatim with the streaming
    // tokenize-at-ingest form so batch and live encoding can never drift;
    // applied through the native WordPieceEncodeExpr (r9 UDF-audit
    // conversion)
    words
      .withColumn("e", graft.functions.GraftFunctions.wordpieceEncode(
        col("word"), bcModel, UniMaxPiece))
      .select(col("word"), col("freq"),
        col("e.nPieces").cast("int").as("n_pieces"),
        col("e.seg").as("seg"))
  }

  val wordpieceTokSql: String =
    s"""WITH RECURSIVE
       | w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |       FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |             FROM documents)
       |       WHERE len(word) > 0 GROUP BY 1),
       | subs AS (SELECT w.freq, substr(w.word, i.i, j.j) AS p,
       |            CASE WHEN i.i = 1 THEN 0 ELSE 1 END AS cont
       |          FROM w,
       |            (SELECT unnest(generate_series(1,
       |               (SELECT CAST(MAX(len(word)) AS INT) FROM w))) AS i) i,
       |            (SELECT unnest(generate_series(1, $UniMaxPiece)) AS j) j
       |          WHERE i.i + j.j - 1 <= len(w.word)),
       | cnt AS (SELECT p, cont, CAST(SUM(freq) AS BIGINT) AS c
       |         FROM subs GROUP BY 1, 2),
       | vocab AS (SELECT p, cont FROM cnt WHERE len(p) = 1
       |           UNION ALL
       |           SELECT p, cont FROM (
       |             SELECT p, cont, ROW_NUMBER() OVER (PARTITION BY cont
       |                 ORDER BY c DESC, p) AS rk
       |             FROM cnt WHERE len(p) > 1) WHERE rk <= $WpVocabK),
       | paths(word, pos, npieces, lens, seg) AS (
       |   SELECT word, 0, 0, CAST('' AS VARCHAR), CAST('' AS VARCHAR) FROM w
       |   UNION ALL
       |   SELECT p2.word, p2.pos + len(v.p), p2.npieces + 1,
       |          p2.lens || chr(CAST(64 + len(v.p) AS INT)),
       |          CASE WHEN p2.seg = '' THEN v.p
       |               ELSE p2.seg || ' ##' || v.p END
       |   FROM paths p2 JOIN vocab v
       |     ON substr(p2.word, p2.pos + 1, len(v.p)) = v.p
       |    AND v.cont = CASE WHEN p2.pos = 0 THEN 0 ELSE 1 END
       |   WHERE p2.pos < len(p2.word)),
       | best AS (SELECT word, npieces, seg,
       |            ROW_NUMBER() OVER (PARTITION BY word
       |              ORDER BY lens DESC) AS rk
       |          FROM paths JOIN (SELECT word AS wd, len(word) AS wl FROM w) lw
       |            ON word = wd AND pos = wl)
       |SELECT w.word, w.freq, CAST(b.npieces AS INT) AS n_pieces, b.seg
       |FROM best b JOIN w ON b.word = w.word WHERE b.rk = 1""".stripMargin

  // ------------------------------------------------- composite filter chain
  /** C4-style cleaning filter chain (Raffel et al. 2020 §2.2 shape): each
    * rule is an independent boolean column, `keep` is their conjunction and
    * `drop_reason` names the first failing rule — flag-not-drop, like the
    * reference's corrupt/duplicate flags, so downstream consumers choose
    * their own policy. Pure narrow stage: every rule is per-row column
    * math, no shuffle at any scale. */
  def filterChain(spark: SparkSession, d: String): DataFrame =
    filterChainOn(documents(spark, d))

  /** The filter chain as a frame-level transform: pure narrow column math,
    * so the SAME expressions run over a batch table or a streaming source
    * (continuous curation — the reference's flag-don't-drop stance applied
    * to a document stream). Exercised on a MemoryStream in StreamsSpec. */
  def filterChainOn(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val sw = filter(t, x => x.isInCollection(stopwords))
    docs
      .select(col("doc_id"),
        size(t).as("n_tokens"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"),
        (size(sw).cast("double") / size(t)).as("stopword_ratio"),
        (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double")
          / size(t)).as("mean_token_len"))
      .withColumn("r_min_tokens", col("n_tokens") >= 10)
      .withColumn("r_max_tokens", col("n_tokens") <= 5000)
      .withColumn("r_ttr", col("ttr") >= 0.2)
      .withColumn("r_stopwords", col("stopword_ratio") >= 0.02)
      .withColumn("r_token_len",
        col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
      .withColumn("keep",
        col("r_min_tokens") && col("r_max_tokens") && col("r_ttr") &&
          col("r_stopwords") && col("r_token_len"))
      .withColumn("drop_reason",
        when(!col("r_min_tokens"), "min_tokens")
          .when(!col("r_max_tokens"), "max_tokens")
          .when(!col("r_ttr"), "ttr")
          .when(!col("r_stopwords"), "stopwords")
          .when(!col("r_token_len"), "token_len"))
  }

  val filterChainSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       | f AS (SELECT doc_id, len(tk) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
       |    CAST(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |      / len(tk) AS stopword_ratio,
       |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |      / len(tk) AS mean_token_len
       |  FROM t)
       |SELECT doc_id, n_tokens, ttr, stopword_ratio, mean_token_len,
       |  n_tokens >= 10 AS r_min_tokens,
       |  n_tokens <= 5000 AS r_max_tokens,
       |  ttr >= 0.2 AS r_ttr,
       |  stopword_ratio >= 0.02 AS r_stopwords,
       |  mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS r_token_len,
       |  n_tokens >= 10 AND n_tokens <= 5000 AND ttr >= 0.2
       |    AND stopword_ratio >= 0.02
       |    AND mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS keep,
       |  CASE WHEN NOT n_tokens >= 10 THEN 'min_tokens'
       |       WHEN NOT n_tokens <= 5000 THEN 'max_tokens'
       |       WHEN NOT ttr >= 0.2 THEN 'ttr'
       |       WHEN NOT stopword_ratio >= 0.02 THEN 'stopwords'
       |       WHEN NOT (mean_token_len >= 2.0 AND mean_token_len <= 12.0)
       |         THEN 'token_len' END AS drop_reason
       |FROM f""".stripMargin

  // ------------------------------------------------- shard + sequence pack
  private val NShards = 8
  private val SeqLen = 2048

  /** Deterministic training shuffle + sequence packing: every document gets
    * a pseudorandom-but-reproducible shard and position (md5-derived key —
    * the same seeded-hash shuffle as [[sampleDeterministic]], so reruns and
    * retries produce identical shards with no RNG or input-order
    * dependence), then documents pack greedily into fixed-token-budget
    * sequences in shard order: `seq_id` = which training sequence of
    * `SeqLen` tokens the document starts in.
    *
    * Scale: one shuffle on the shard key; the position/cumsum window sorts
    * within each shard only. At corpus scale shard count rises with the
    * data (shards are the write/read parallelism of the training run), so
    * per-shard state stays bounded — the standard pre-tokenization layout
    * pass. Cumulative sums are exact longs over a deterministic total
    * order, so the oracle hash-matches. */
  def shardPack(spark: SparkSession, d: String): DataFrame = {
    val skey = conv(substring(md5(concat(lit("shard"), col("doc_id").cast("string"))), 25, 8), 16, 10)
      .cast("long")
    val base = documents(spark, d)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        skey.as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(NShards)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    base
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seq_id",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / SeqLen)
          .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("cum_tokens"), col("seq_id"))
  }

  val shardPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 25, 8))::UBIGINT
       |         AS BIGINT) AS skey
       |  FROM documents),
       | s AS (SELECT *, CAST(skey % $NShards AS INT) AS shard FROM t)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS pos, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY skey, doc_id
       |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
       |      AS DOUBLE) / $SeqLen) AS BIGINT) AS seq_id
       |FROM s WINDOW w AS (PARTITION BY shard ORDER BY skey, doc_id)""".stripMargin

  // ------------------------------------------------- importance weighting
  /** DSIR-style importance weighting (Xie et al. 2023): score every corpus
    * document by the average per-token log-likelihood ratio between a
    * unigram model of a small TARGET set (here the doc_id%97 benchmark
    * slice, as in [[decontaminate]]) and a unigram model of the remaining
    * SOURCE corpus — the data-selection signal for matching a pretraining
    * mix to a target distribution. Unseen tokens fall back to count 1 in
    * both models and both engines.
    *
    * Scale: BOTH models build from ONE corpus pass — a flagged dual-count
    * aggregation (token → target count, source count), localCheckpointed at
    * vocabulary size so the totals and the two top-K cuts are micro-jobs
    * over the small table instead of three more corpus scans (the naive
    * per-side build ran 5 corpus-shaped jobs per call and dominated the
    * bench). The models broadcast, memoized per (session, dataset, cap)
    * like [[unigramLm]]'s, and scoring is a narrow per-row fold over the
    * already-tokenized array in document order, so the double arithmetic is
    * reproducible and the oracle hash-matches. At 100 TB the source model
    * would cap its vocabulary behind a count-min sketch; the fold is
    * unchanged. */
  def importance(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // same top-K vocabulary cap as [[unigramLm]]: the total token mass (the
    // normalizer) aggregates BEFORE the cap, so only what ships to
    // executors is bounded; off-model tokens fall back to count 1 exactly
    // as OOV does. The cap is overridable for tests that make it bind.
    val cap = GraftConf.LmVocabCap.get(spark)
    val docs = documents(spark, d)
    val (bcT, bcS, lnTgtTotal, lnSrcTotal) =
      MemoCache.getOrElseUpdate(spark, ("dsir", d, cap))({
        val counts = docs
          .select((col("doc_id") % 97 === 0).as("is_tgt"),
            explode(toks(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tcnt"),
               sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("scnt"))
          .localCheckpoint()
        val totals = counts.agg(sum(col("tcnt")), sum(col("scnt"))).head()
        // a token absent from a side must stay OUT of that side's map so
        // scoring falls back to the count-1 OOV floor, same as the
        // per-side build did
        val tgt = counts.filter(col("tcnt") > 0)
          .orderBy(col("tcnt").desc, col("token")).limit(cap)
          .select(col("token"), col("tcnt")).as[(String, Long)].collect().toMap
        val src = counts.filter(col("scnt") > 0)
          .orderBy(col("scnt").desc, col("token")).limit(cap)
          .select(col("token"), col("scnt")).as[(String, Long)].collect().toMap
        counts.unpersist()
        (spark.sparkContext.broadcast(tgt), spark.sparkContext.broadcast(src),
          math.log(totals.getLong(0).toDouble), math.log(totals.getLong(1).toDouble))
      })(v => { v._1.unpersist(blocking = false); v._2.unpersist(blocking = false) })
    val ratioUdf = udf((tk: Seq[String]) => {
      if (tk == null || tk.isEmpty) None
      else {
        var s = 0.0
        var i = 0
        while (i < tk.length) {
          s += math.log(bcT.value.getOrElse(tk(i), 1L).toDouble) -
            math.log(bcS.value.getOrElse(tk(i), 1L).toDouble)
          i += 1
        }
        Some(s / tk.length + (lnSrcTotal - lnTgtTotal))
      }
    })
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        round(ratioUdf(col("tk")), 6).as("importance"))
  }

  /** The DSIR SELECTION step — the piece that turns importance scores
    * into a training subset: keep the top 20% of scoreable documents by
    * target-likelihood-ratio, deterministic ties broken by doc_id. TopN
    * plans as TakeOrderedAndProject (per-partition partial top-N, no
    * global sort); N itself is the one driver-side scalar. TakeOrdered
    * heaps N rows per partition, so at a scale where 20% of the corpus
    * outgrows executor heaps the selection becomes one extra aggregate —
    * compute the 80th-percentile score, flag `importance > threshold`,
    * and resolve the boundary ties by id — trading the heap for a
    * second scan; the rank form here is the oracle-exact one. */
  def dsirSelect(spark: SparkSession, d: String): DataFrame = {
    val scored = importance(spark, d)
    val n = math.ceil(scored.count() / 5.0).toInt
    scored.orderBy(col("importance").desc, col("doc_id")).limit(n)
  }

  lazy val dsirSelectSql: String =
    s"""WITH scored AS ($importanceSql)
       |SELECT * FROM scored
       |ORDER BY importance DESC, doc_id
       |LIMIT (SELECT CAST(CEIL(COUNT(*) / 5.0) AS BIGINT) FROM scored)""".stripMargin

  val importanceSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | tc AS (SELECT token, COUNT(*) AS cnt
      |        FROM (SELECT unnest(tk) AS token FROM t WHERE doc_id % 97 = 0)
      |        GROUP BY 1),
      | sc AS (SELECT token, COUNT(*) AS cnt
      |        FROM (SELECT unnest(tk) AS token FROM t WHERE doc_id % 97 <> 0)
      |        GROUP BY 1),
      | tn AS (SELECT SUM(cnt) AS total FROM tc),
      | sn AS (SELECT SUM(cnt) AS total FROM sc),
      | tm AS (SELECT map(list(token), list(cnt)) AS mp FROM tc),
      | sm AS (SELECT map(list(token), list(cnt)) AS mp FROM sc)
      |SELECT doc_id, len(tk) AS n_tokens,
      |  ROUND(list_sum(list_transform(tk,
      |          x -> ln(CAST(COALESCE(map_extract(tm.mp, x)[1], 1) AS DOUBLE))
      |             - ln(CAST(COALESCE(map_extract(sm.mp, x)[1], 1) AS DOUBLE))))
      |        / len(tk)
      |      + (ln(CAST(sn.total AS DOUBLE)) - ln(CAST(tn.total AS DOUBLE))), 6)
      |    AS importance
      |FROM t, tn, sn, tm, sm
      |WHERE doc_id % 97 <> 0""".stripMargin

  // ------------------------------------------------- paragraph-level dedup
  private val ParaTokens = 10

  /** Corpus-wide paragraph-level exact dedup (the CCNet line-dedup pass,
    * Wenzek et al. 2020): every paragraph keeps its first occurrence across
    * the WHOLE corpus (ordered by doc_id, then position) and later copies
    * are dropped; a document survives as the ordered concatenation of its
    * kept paragraphs. Test documents are single-line, so paragraphs are
    * synthesized as consecutive [[ParaTokens]]-token blocks.
    *
    * Scale: one shuffle keyed on the paragraph hash for the first-occurrence
    * rank, one shuffle back on doc_id to reassemble — the canonical two-
    * exchange shape of corpus-level line dedup. The hash key spreads
    * uniformly (no skew), partial counts combine map-side, and nothing per
    * group exceeds the duplicate multiplicity of one paragraph. */
  def paragraphDedup(spark: SparkSession, d: String): DataFrame = {
    val tk = toks(col("text"))
    val nParas = ceil(size(tk).cast("double") / ParaTokens).cast("int")
    val paras = transform(sequence(lit(0), nParas - 1), i =>
      struct(i.as("i"),
        array_join(slice(tk, i * ParaTokens + 1, lit(ParaTokens)), " ").as("para")))
    val exploded = documents(spark, d)
      .select(col("doc_id"), explode(paras).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.para").as("para"))
    val w = Window.partitionBy(md5(col("para"))).orderBy(col("doc_id"), col("i"))
    exploded
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        count(when(col("rn") > 1, lit(1))).as("n_dup_paras"),
        sort_array(collect_list(when(col("rn") === 1,
          struct(col("i"), col("para"))))).as("kept"))
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        round((col("n_paras") - col("n_dup_paras")).cast("double")
          / col("n_paras"), 6).as("kept_frac"),
        md5(array_join(transform(col("kept"), _.getField("para")), " "))
          .as("kept_md5"))
  }

  val paragraphDedupSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       | p AS (SELECT doc_id,
       |    unnest(list_transform(
       |      range(0, CAST(ceil(CAST(len(tk) AS DOUBLE) / $ParaTokens) AS BIGINT)),
       |      i -> struct_pack(i := i,
       |        para := array_to_string(
       |          tk[(i*$ParaTokens+1):(i*$ParaTokens+$ParaTokens)], ' ')))) AS s
       |    FROM t),
       | q AS (SELECT doc_id, s.i AS i, s.para AS para FROM p),
       | r AS (SELECT doc_id, i, para,
       |    ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, i) AS rn
       |    FROM q)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_paras,
       |  CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dup_paras,
       |  ROUND(CAST(COUNT(*) - COUNT(CASE WHEN rn > 1 THEN 1 END) AS DOUBLE)
       |        / COUNT(*), 6) AS kept_frac,
       |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN para END, ' ' ORDER BY i),
       |      '')) AS kept_md5
       |FROM r GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- substring-window dedup
  private val SubWin = 10 // tokens per sliding window

  /** Exact duplicated-substring detection at window granularity (the
    * ExactSubstr pass of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", re-expressed set-style): every
    * [[SubWin]]-token sliding window (stride 1) is content-hashed; a hash
    * occurring more than once corpus-wide marks EVERY occurrence as
    * duplicated text — unlike [[paragraphDedup]]'s keep-first blocks, this
    * flags both copies and catches duplication at arbitrary offsets, which
    * is what the suffix-array formulation buys; windows are the bounded-
    * memory approximation of it.
    *
    * Scale: the window index is ≈ one row per token — big but uniform; the
    * global frequency count shuffles on the window hash (perfectly spread
    * by construction, partial counts combine map-side) and the per-document
    * rollup shuffles back on doc_id. Two keyed exchanges total, the
    * [[paragraphDedup]] shape over overlapping windows. */
  def substringDedup(spark: SparkSession, d: String): DataFrame = {
    // tk sits behind an explicit projection: referenced from inside the
    // transform lambda, an inlined split would be re-executed once per
    // WINDOW POSITION (higher-order lambdas opt out of codegen
    // subexpression elimination), turning the O(tokens) window pass into
    // O(tokens²) regex work. Window hashes are the oracle-replicable
    // md5-low-32 (8-byte shuffle/sort keys instead of 32-char hex strings;
    // both engines hash identically, so collision-induced counts agree
    // bit-for-bit). Measured 1.41s -> see below warm at sf0.1.
    val base = documents(spark, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
    val wins = when(size(col("tk")) >= SubWin,
        transform(sequence(lit(1), size(col("tk")) - (SubWin - 1)),
          i => conv(substring(
              md5(array_join(slice(col("tk"), i, lit(SubWin)), " ")), 25, 8),
            16, 10).cast("long")))
      .otherwise(array().cast("array<bigint>"))
    // explode_outer keeps zero-window docs as a single null-h row, so the
    // per-doc aggregate already covers every document — no second scan and
    // no re-join against the documents table. Null rows get a synthetic
    // PER-DOC window key (negative, disjoint from real md5-low-32 hashes,
    // which are non-negative) so a short-document-heavy corpus doesn't
    // funnel every null into one reducer; their count(h) is 0 either way,
    // so synthetic rows can never look duplicated.
    val ex = base.select(col("doc_id"), explode_outer(wins).as("h"))
    val freq = Window.partitionBy(coalesce(col("h"), -col("doc_id") - 1))
    ex.withColumn("cnt", count(col("h")).over(freq))
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_windows"),
        count(when(col("cnt") > 1, lit(1))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") /
          when(col("n_windows") > 0, col("n_windows")), 6).as("dup_frac"))
  }

  val substringDedupSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       | w AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk) - ${SubWin - 1} + 1),
       |      i -> CAST(('0x' || substr(
       |        md5(array_to_string(tk[i:i+${SubWin - 1}], ' ')), 25, 8)
       |        )::UBIGINT AS BIGINT))) AS h
       |    FROM t WHERE len(tk) >= $SubWin),
       | f AS (SELECT doc_id, COUNT(*) AS n_windows,
       |         COUNT(CASE WHEN cnt > 1 THEN 1 END) AS n_dup_windows
       |       FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM w)
       |       GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(f.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(COALESCE(f.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  ROUND(CAST(f.n_dup_windows AS DOUBLE) / f.n_windows, 6) AS dup_frac
       |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id""".stripMargin

  // ------------------------------------------------- context-window chunking
  private val ChunkSize = 16   // tokens per chunk
  private val ChunkOverlap = 4 // tokens shared with the previous chunk

  /** Fixed-budget document chunking with overlap — the context-window
    * splitter of a training/RAG pipeline: documents longer than [[ChunkSize]]
    * tokens emit overlapping windows at stride (size - overlap), each with
    * its position and content hash. Pure per-row array math + one generate —
    * a single narrow stage, no exchange at any scale (contrast
    * [[shardPack]], which needs the cross-document cumsum). */
  def chunk(spark: SparkSession, d: String): DataFrame =
    chunkOn(documents(spark, d))

  /** Chunking as a frame-level transform: stateless per-row generate, so
    * the SAME expressions run over a batch table or a streaming source
    * (documents chunk as they arrive — no watermark or state needed).
    * Exercised on a MemoryStream in StateSpec. */
  def chunkOn(docs: DataFrame): DataFrame = {
    val stride = ChunkSize - ChunkOverlap
    val tk = toks(col("text"))
    val nChunks = ceil(greatest(size(tk) - ChunkOverlap, lit(1)).cast("double")
      / stride).cast("int")
    docs
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        c => slice(tk, c * stride + 1, lit(ChunkSize)))))
      .select(col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        (col("pos").cast("long") * stride + 1).as("start_token"),
        size(col("col")).as("chunk_len"),
        md5(array_join(col("col"), " ")).as("chunk_md5"))
  }

  val chunkSql: String = {
    val stride = ChunkSize - ChunkOverlap
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       | p AS (SELECT doc_id,
       |    unnest(list_transform(
       |      range(0, CAST(ceil(CAST(greatest(len(tk) - $ChunkOverlap, 1) AS DOUBLE)
       |                         / $stride) AS BIGINT)),
       |      c -> struct_pack(cid := c,
       |        chunk := tk[(c*$stride+1):(c*$stride+$ChunkSize)]))) AS s
       |    FROM t)
       |SELECT doc_id,
       |  CAST(s.cid AS INT) AS chunk_id,
       |  CAST(s.cid * $stride + 1 AS BIGINT) AS start_token,
       |  CAST(len(s.chunk) AS INT) AS chunk_len,
       |  md5(array_to_string(s.chunk, ' ')) AS chunk_md5
       |FROM p""".stripMargin
  }

  // ------------------------------------------------- contamination rate
  /** N-gram size for fractional contamination scoring: the GPT-3/PaLM
    * decontamination recipe flags training docs sharing rare n-grams with
    * an eval set (n=13 there; n=5 here because the synthetic docs are
    * 10-99 tokens). */
  private val ContamN = 5
  /** Distinct word [[ContamN]]-grams in tight JVM code
    * ([[graft.functions.MinHash.ngrams]]) — the column formulation
    * (`transform(sequence(...), i -> concat_ws(...))`) runs interpreted
    * per element and dominated the query (5.5s → 0.6s warm at sf0.1). */
  private val contamNgramsUdf = udf((text: String) =>
    if (text == null) Array.empty[String]
    else graft.functions.MinHash.ngrams(text, ContamN))

  /** Fractional n-gram contamination — the graded companion to the binary
    * [[decontaminate]] flag: for every training document, the share of its
    * distinct [[ContamN]]-grams that also occur anywhere in the benchmark
    * set (docs with doc_id % 97 == 0 stand in, as in [[decontaminate]]).
    * Catches PARTIAL leakage (a quoted benchmark question inside an
    * otherwise-clean page) that whole-document fingerprints miss.
    *
    * Scale: the benchmark n-gram set is small by definition (eval suites,
    * not corpora) so it broadcasts; the corpus explodes to (doc, ngram)
    * rows, hash-probes the broadcast, and the groupBy(doc_id) partially
    * aggregates map-side — explode keeps a document's rows in one
    * partition, so the single exchange carries ~1 row per document. */
  def contaminationRate(spark: SparkSession, d: String): DataFrame = {
    val docs = documents(spark, d)
    contaminationRateOn(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0))
  }

  /** Frame-level form of [[contaminationRate]] (planted-leak tests and
    * real benchmark tables plug in here). */
  def contaminationRateOn(train: DataFrame, bench: DataFrame): DataFrame = {
    val exploded = train
      .select(col("doc_id"), contamNgramsUdf(col("text")).as("ng"))
      .select(col("doc_id"), size(col("ng")).cast("long").as("n_ngrams"),
        explode_outer(col("ng")).as("g"))
    val benchNg = bench.select(explode(contamNgramsUdf(col("text"))).as("bg"))
      .distinct()
    exploded
      .join(broadcast(benchNg), col("g") === col("bg"), "left")
      .groupBy(col("doc_id"), col("n_ngrams"))
      .agg(count(col("bg")).as("n_hits"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
        when(col("n_ngrams") > 0,
          round(col("n_hits").cast("double") / col("n_ngrams"), 6))
          .as("contamination_rate"),
        (col("n_hits") > 0).as("contaminated_ngram"))
  }

  val contaminationRateSql: String = {
    val parts = (0 until ContamN).map(k => if (k == 0) "tk[i]" else s"tk[i+$k]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | ng AS (SELECT doc_id,
       |          CASE WHEN len(tk) >= $ContamN
       |               THEN list_distinct(list_transform(
       |                      range(1, len(tk) - ${ContamN - 2}), i -> $parts))
       |               ELSE CAST([] AS VARCHAR[]) END AS ng
       |        FROM t),
       | bench AS (SELECT DISTINCT unnest(ng) AS bg FROM ng WHERE doc_id % 97 = 0),
       | ex AS (SELECT doc_id, unnest(ng) AS g FROM ng WHERE doc_id % 97 <> 0),
       | hits AS (SELECT e.doc_id, COUNT(b.bg) AS n_hits
       |          FROM ex e LEFT JOIN bench b ON e.g = b.bg GROUP BY 1),
       | base AS (SELECT doc_id, CAST(len(ng) AS BIGINT) AS n_ngrams FROM ng
       |          WHERE doc_id % 97 <> 0)
       |SELECT base.doc_id, base.n_ngrams,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CASE WHEN base.n_ngrams > 0
       |       THEN ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / base.n_ngrams, 6)
       |  END AS contamination_rate,
       |  COALESCE(h.n_hits, 0) > 0 AS contaminated_ngram
       |FROM base LEFT JOIN hits h ON base.doc_id = h.doc_id""".stripMargin
  }

  // ------------------------------------------------- TF-IDF similarity search
  /** Every doc_id % [[TfidfProbeMod]] == 0 is a probe query. */
  private val TfidfProbeMod = 101
  private val TfidfTopK = 10
  /** Fixed-point scale for the integer idf (see [[tfidfKnn]] determinism
    * note). */
  private val TfidfScale = 1000L
  /** Default df cap (fraction of corpus) and the degeneracy gate: the cap
    * auto-applies only when it would drop at most this fraction of the
    * vocabulary (see [[tfidfKnn]]). */
  private val TfidfDfCapFrac = 0.5
  private val TfidfCapMaxDropFrac = 0.2
  /** Impact-pruning posting cap for [[tfidfKnnCapped]]:
    * max([[TfidfPostingCapMin]], n_docs / [[TfidfPostingCapDiv]]) — a
    * FIXED cap is not scale-free, and the r10 x256 probe proved it: at
    * 1.28M documents a hard 1024 cap pruned the mid-df terms through
    * which replica-dense neighbors are reachable and the oracled recall
    * honesty row collapsed to 0.194. Scaling the cap as a corpus FRACTION
    * is the actual Anh-Moffat posture (keep the postings whose impact can
    * still matter): candidate generation stays ~linear in corpus size —
    * sub-linear per unit — instead of saturating into recall loss. At the
    * oracle gate scales (500/5,000 docs) the floor binds, so gate hashes
    * are unchanged. */
  private val TfidfPostingCapMin = 1024
  private val TfidfPostingCapDiv = 64L

  /** Sparse-vector similarity search: TF-IDF weighted cosine top-k over the
    * corpus vocabulary — the lexical analog of [[EmbeddingQueries.knnBrute]]
    * and the retrieval companion to [[bm25]] (which scores a fixed term
    * set; this searches doc-vs-doc).
    *
    * Scale design: the classic sparse formulation — postings (doc, term,
    * tf) from one explode+combine, document frequencies from one term-keyed
    * aggregation, probe vectors broadcast, and the dot products reduce
    * map-side keyed by (probe, doc). Nothing is all-pairs: cost is
    * O(sum over terms of df(term) x probe_tf(term)), the inverted-index
    * bound. At warehouse scale the df table is a precomputed dictionary and
    * the probe side stays a broadcast.
    *
    * Determinism: idf is scaled-INTEGER ((N * [[TfidfScale]]) DIV df —
    * reciprocal-df weighting instead of the float log, chosen so weights,
    * dots and norms are exact longs in both engines; log-idf at 100 TB is a
    * one-line swap but loses the bit-exact oracle). The only floats are the
    * final sqrt/divide from exact longs, rounded to 6 before the rank sort
    * (ties by doc_id).
    *
    * Exactness bound: a df=1 term has weight tf x N x [[TfidfScale]], and
    * the norm accumulates w^2 — signed-64 overflow arrives around N ~ 3x10^6
    * docs (Spark would WRAP silently; DuckDB errors). Past that, drop
    * [[TfidfScale]] toward 1 or swap the norm accumulation to DECIMAL —
    * the plan shape is unchanged either way. */
  def tfidfKnn(spark: SparkSession, d: String): DataFrame =
    // Memoized alongside the index: the top-k output is probe-bounded
    // (≤ probes × TfidfTopK rows — model-sized), and the recall row joins
    // BOTH rank tails, so without this it re-runs the full corpus×probe
    // scoring join its two siblings already paid for.
    MemoCache.frame(spark, ("tfidf-knn", d, GraftConf.TfidfDfCapFrac.get(spark))) {
      val (weights, norms) = tfidfIndex(spark, d)
      val probes = weights.filter(col("doc_id") % TfidfProbeMod === 0)
        .select(col("doc_id").as("probe_id"), col("term"), col("w").as("pw"))
      tfidfRank(weights, norms, probes)
    }

  /** The TF-IDF weight/norm tables are the search INDEX — the shared
    * intermediate every probe batch reads, and the one both [[tfidfKnn]]
    * and the impact-pruned [[tfidfKnnCapped]] rank against. A production
    * pipeline materializes them once (a parquet index build); locally they
    * memoize per (session, dataset, df cap) — without it the weight subtree
    * (scan → explode → two keyed stages) re-executes for each of its four
    * consumers (corpus side, probe broadcast, both norm lookups): measured
    * 2.5s → 0.9s warm at sf0.1. */
  private def tfidfIndex(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    // Impact pruning ([[GraftConf.TfidfDfCapFrac]], DEFAULT 0.5): drop
    // terms whose df exceeds the given fraction of the corpus. On a web
    // corpus stopword postings dominate the term-keyed exchange while
    // ranking nothing (bottom-of-scale idf) — 0.5 is the classic stopword
    // cap, and at warehouse scale it is the default path, not an opt-in.
    // Degeneracy gate: when the cap is NOT set explicitly, it auto-applies
    // only if the terms it would drop are <= `TfidfCapMaxDropFrac` (0.2)
    // of the vocabulary — on a Zipf corpus the >0.5-df terms are a handful
    // of stopwords, while on a degenerate tiny-vocab corpus (the synthetic
    // fixture's 31 terms, nearly all corpus-dense) capping would empty the
    // index, so the gate leaves it uncapped there. The oracle replays the
    // same gate + cap, so both regimes stay hash-exact; an explicit conf
    // value applies unconditionally (pinned by PipelineSpec's planted
    // hot-term test).
    val capConf = GraftConf.TfidfDfCapFrac.get(spark)
    val capFrac = capConf.getOrElse(TfidfDfCapFrac)
    // evict superseded cap settings for this (session, dataset) eagerly
    // (ahead of LRU pressure): each entry pins two corpus-sized cached
    // frames — sweeping dfCapFrac must not accumulate abandoned index
    // copies in executor memory; the rank tails derived from the index go
    // with it
    MemoCache.evict(spark, {
      case ("tfidf-index" | "tfidf-knn" | "tfidf-capped", `d`, cfg) => cfg != capConf
      case _ => false
    })
    MemoCache.getOrElseUpdate(spark, ("tfidf-index", d, capConf))({
      val docs = documents(spark, d)
      // Terms enter the index as 52-bit md5-prefix HASHES (longs), not
      // strings: no tfidf output carries a term, so every term-keyed
      // exchange (the (doc_id, term) tf aggregate, the df aggregate, the
      // posting⋈df join, the broadcast probe vectors) moves/compares 8-byte
      // keys instead of token strings — the same oracle-replayable
      // `('0x'||substr(md5(g),20,13))::UBIGINT` window the hashed setsim
      // index uses, so a collision merges the same tokens in both engines
      // and parity stays bit-exact (guide §2.3: narrower shuffle keys).
      val postings = docs
        .select(col("doc_id"), explode(toksHash52Udf(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // document frequencies via two-phase aggregation (map-side partial
      // combine), NOT a term-partitioned window: Zipf-hot terms would pile
      // every posting into one window partition, and WindowExec can't
      // skew-split — the aggregate emits <= one partial per (term,
      // partition) and the join below is AQE-skew-splittable
      val dfTable = postings.groupBy("term").agg(count(lit(1)).as("df"))
      val joined = postings
        .join(dfTable, "term")
        .crossJoin(broadcast(nDocs))
      // model-sized decision (one row over the vocab table), made once per
      // memoized index build
      val applyCap = capFrac > 0 && (capConf.isDefined || {
        val g = dfTable.crossJoin(broadcast(nDocs))
          .agg(count(lit(1)).as("nv"),
            sum(when(col("df") > col("n_docs") * capFrac, 1L).otherwise(0L))
              .as("ncap")).head()
        g.getLong(0) > 0 && g.getLong(1).toDouble <= g.getLong(0) * TfidfCapMaxDropFrac
      })
      val capped =
        if (applyCap) joined.filter(col("df") <= col("n_docs") * capFrac)
        else joined
      val w = capped
        .selectExpr("doc_id", "term",
          s"tf * ((n_docs * $TfidfScale) DIV df) AS w")
        .cache()
      (w, w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm2")).cache())
    })(v => { v._1.unpersist(blocking = false); v._2.unpersist(blocking = false) })
  }

  /** Corpus-postings × probe-terms scoring tail, shared by the exact and
    * impact-pruned variants: `corpusW` is the posting table candidates come
    * from, `probes` the (probe_id, term, pw) broadcast side; norms are
    * always the EXACT full norms. */
  private def tfidfRank(corpusW: DataFrame, norms: DataFrame,
                        probes: DataFrame): DataFrame = {
    val probeNorms = norms.filter(col("doc_id") % TfidfProbeMod === 0)
      .select(col("doc_id").as("probe_id"), col("nrm2").as("pnrm2"))
    val dots = corpusW
      .join(broadcast(probes), Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(col("pw") * col("w")).as("dot"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    dots
      .join(norms, "doc_id")
      .join(broadcast(probeNorms), "probe_id")
      .withColumn("cosine", round(col("dot").cast("double") /
        (sqrt(col("pnrm2").cast("double")) * sqrt(col("nrm2").cast("double"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("probe_id"), col("doc_id"), col("cosine"), col("rank"))
  }

  /** Impact-pruned TF-IDF kNN — the posting-list bound the df-cap cannot
    * give: the df-cap drops terms denser than a FRACTION of the corpus, so
    * on a growing corpus the sub-cap tail's posting lists still grow
    * linearly and the candidate join's output grows with posting² (the
    * honest x64 probe read the x16→x64 segment at ~1.25x over linear —
    * exactly this tail). Standard impact ordering (Anh & Moffat): each
    * term keeps only its posting-cap (≥ 1024, see [[TfidfPostingCapMin]])
    * highest-WEIGHT postings as candidate generators, via the
    * partial-aggregating [[graft.functions.TopK]] (the shuffle carries
    * ≤ cap rows per (term, split) — a term-partitioned rank window would
    * pile Zipf-hot postings onto one reducer). Probe term vectors and
    * norms stay exact; a surviving pair's dot counts only unpruned
    * postings, which the oracle replays term-for-term. Recall cost vs the
    * exact ranking is the oracled [[tfidfRecall]] row (1.0 at the gate sf
    * — no posting reaches the cap floor in a 500-doc corpus; the
    * corpus-fraction cap exists for the scale where posting lists outgrow
    * it — see [[TfidfPostingCapDiv]] for the x256 lesson). */
  def tfidfKnnCapped(spark: SparkSession, d: String): DataFrame = {
    // the SQL oracle replays the same GREATEST(floor, n_docs/div) formula
    val cap = math.max(TfidfPostingCapMin.toLong,
      docCount(spark, d) / TfidfPostingCapDiv).toInt
    MemoCache.frame(spark, ("tfidf-capped", d, GraftConf.TfidfDfCapFrac.get(spark))) {
      val (weights, norms) = tfidfIndex(spark, d)
      // w fits a double exactly here (tf·(N·scale DIV df) < 2^53 up to
      // ~10^15 — far past the long-overflow bound the index already
      // documents), and (w desc, doc_id asc) is the UDAF's total order
      val pruned = weights.groupBy(col("term"))
        .agg(graft.functions.TopK.topKByValue(cap,
          col("w").cast("double"), col("doc_id")).as("top"))
        .select(col("term"), explode(col("top")).as("e"))
        .select(col("term"), col("e._2").as("doc_id"),
          col("e._1").cast("long").as("w"))
      val probes = weights.filter(col("doc_id") % TfidfProbeMod === 0)
        .select(col("doc_id").as("probe_id"), col("term"), col("w").as("pw"))
      tfidfRank(pruned, norms, probes)
    }
  }

  /** Honesty row: impact-pruned top-k pairs vs the exact ranking. */
  def tfidfRecall(spark: SparkSession, d: String): DataFrame = {
    val exact = tfidfKnn(spark, d).select(col("probe_id"), col("doc_id"))
    val capped = tfidfKnnCapped(spark, d)
      .select(col("probe_id"), col("doc_id"), lit(1L).as("hit"))
    exact.join(capped, Seq("probe_id", "doc_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0L)).as("n_found"))
      .select(col("n_truth"), col("n_found"),
        when(col("n_truth") === 0, 1.0)
          .otherwise(round(col("n_found").cast("double") / col("n_truth"), 6))
          .as("recall"))
      .withColumn("ok", col("recall") >= 0.9)
  }

  /** JVM-side twin of the oracle's hashed-token unnest below — see the
    * tfidfIndex comment; multiplicity-preserving (tf counts repeats). */
  private val toksHash52Udf = udf((text: String) =>
    if (text == null) Array.empty[Long]
    else graft.functions.MinHash.tokenHashes52(text))

  private val tfidfBaseCtes: String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |           FROM documents),
       | -- tokens hashed to the 52-bit md5 prefix window, replaying the
       | -- Spark index's long term keys (collisions merge identically)
       | p AS (SELECT doc_id, unnest(list_transform(tk,
       |         g -> CAST(('0x' || substr(md5(g), 20, 13))::UBIGINT AS BIGINT)))
       |         AS term FROM t),
       | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM p GROUP BY 1, 2),
       | n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       | idf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       | -- replay the default df-cap + degeneracy gate of the Spark side:
       | -- cap terms with df > $TfidfDfCapFrac*N unless that would drop more
       | -- than $TfidfCapMaxDropFrac of the vocabulary (degenerate corpus)
       | v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv,
       |         CAST(SUM(CASE WHEN CAST(df AS DOUBLE) > n.n_docs * $TfidfDfCapFrac
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS ncap
       |       FROM idf CROSS JOIN n),
       | w AS (SELECT tf.doc_id, tf.term,
       |         tf.tf * ((n.n_docs * $TfidfScale) // idf.df) AS w
       |       FROM tf CROSS JOIN n CROSS JOIN v JOIN idf ON tf.term = idf.term
       |       WHERE CAST(v.ncap AS DOUBLE) > v.nv * $TfidfCapMaxDropFrac
       |          OR CAST(idf.df AS DOUBLE) <= n.n_docs * $TfidfDfCapFrac),
       | nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm2
       |         FROM w GROUP BY 1)""".stripMargin

  /** Scoring tail over a named corpus-posting CTE (`w` exact, `pruned`
    * impact-capped) — the rank chain both oracles share. */
  private def tfidfRankSql(corpus: String, prefix: String): String =
    s""" ${prefix}dots AS (SELECT pw.doc_id AS probe_id, c.doc_id,
       |            CAST(SUM(pw.w * c.w) AS BIGINT) AS dot
       |          FROM $corpus c JOIN w pw ON c.term = pw.term
       |          WHERE pw.doc_id % $TfidfProbeMod = 0
       |            AND c.doc_id <> pw.doc_id
       |          GROUP BY 1, 2),
       | ${prefix}cos AS (SELECT d.probe_id, d.doc_id,
       |           ROUND(CAST(d.dot AS DOUBLE) /
       |             (sqrt(CAST(np.nrm2 AS DOUBLE)) * sqrt(CAST(nd.nrm2 AS DOUBLE))),
       |             6) AS cosine
       |         FROM ${prefix}dots d
       |         JOIN nrm np ON np.doc_id = d.probe_id
       |         JOIN nrm nd ON nd.doc_id = d.doc_id),
       | ${prefix}top AS (SELECT probe_id, doc_id, cosine, rank FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |                ORDER BY cosine DESC, doc_id) AS INT) AS rank
       |    FROM ${prefix}cos)
       |  WHERE rank <= $TfidfTopK)""".stripMargin

  private val tfidfPrunedCte: String =
    s""" pruned AS (SELECT term, doc_id, w FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY term
       |                ORDER BY w DESC, doc_id) AS prk
       |    FROM w)
       |  WHERE prk <= GREATEST($TfidfPostingCapMin,
       |    (SELECT n_docs FROM n) // $TfidfPostingCapDiv))""".stripMargin

  val tfidfKnnSql: String =
    s"""WITH $tfidfBaseCtes,
       |${tfidfRankSql("w", "")}
       |SELECT probe_id, doc_id, cosine, rank FROM top""".stripMargin

  val tfidfCappedSql: String =
    s"""WITH $tfidfBaseCtes,
       |$tfidfPrunedCte,
       |${tfidfRankSql("pruned", "")}
       |SELECT probe_id, doc_id, cosine, rank FROM top""".stripMargin

  val tfidfRecallSql: String =
    s"""WITH $tfidfBaseCtes,
       |$tfidfPrunedCte,
       |${tfidfRankSql("w", "x")},
       |${tfidfRankSql("pruned", "c")},
       | m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       |     CAST(COUNT(c.doc_id) AS BIGINT) AS n_found
       |   FROM xtop t LEFT JOIN ctop c
       |     ON t.probe_id = c.probe_id AND t.doc_id = c.doc_id)
       |SELECT n_truth, n_found,
       |  CASE WHEN n_truth = 0 THEN 1.0
       |       ELSE ROUND(CAST(n_found AS DOUBLE) / n_truth, 6) END AS recall,
       |  (CASE WHEN n_truth = 0 THEN 1.0
       |        ELSE ROUND(CAST(n_found AS DOUBLE) / n_truth, 6) END) >= 0.9
       |    AS ok
       |FROM m""".stripMargin

  // ------------------------------------------------- hashed linear classifier
  /** Hashing-trick linear classifier inference (the fastText/Vowpal-Wabbit
    * serving shape): each token hashes straight to a weight — here a
    * DETERMINISTIC synthetic model, w(t) = (md5-derived 32-bit int of
    * "w:"+t) mod 2001 - 1000, standing in for trained weights so the oracle
    * can replicate the arithmetic. The per-doc logit is the exact integer
    * sum of token weights (multiplicity counted), the label its sign, and
    * the margin the mean weight per token.
    *
    * Scale: there is NO model table at all — the weight is computed from
    * the token hash in-row, so inference is a single narrow codegen-free
    * UDF pass with zero exchanges and zero broadcast; a real trained model
    * swaps the hash-derived weight for `bcWeights.value(h % dim)`, keeping
    * the same shape with one small broadcast array. */
  private val classifierUdf = udf((text: String) => {
    val tk = if (text == null) Array.empty[String]
             else graft.functions.MinHash.sqlToks(text)
    // ThreadLocal digest + direct byte arithmetic (MinHash.md5High32) —
    // the naive per-row getInstance + hex format/parse costs several
    // allocations per token on the hot scoring path
    var logit = 0L
    var i = 0
    while (i < tk.length) {
      logit += graft.functions.MinHash.md5High32("w:" + tk(i)) % 2001 - 1000
      i += 1
    }
    (tk.length.toLong, logit)
  })

  def hashClassifier(spark: SparkSession, d: String): DataFrame =
    hashClassifierOn(documents(spark, d))

  /** Frame-level form: stateless per-row scoring, so the same expressions
    * serve batch tables and streaming sources. */
  def hashClassifierOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), classifierUdf(col("text")).as("c"))
      .select(col("doc_id"),
        col("c._1").as("n_tokens"),
        col("c._2").as("logit"))
      .withColumn("label", col("logit") > 0)
      .withColumn("margin",
        when(col("n_tokens") > 0,
          round(col("logit").cast("double") / col("n_tokens"), 6)))

  val hashClassifierSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | s AS (SELECT doc_id, CAST(COALESCE(len(tk), 0) AS BIGINT) AS n_tokens,
      |         CAST(COALESCE(list_sum(list_transform(tk, x ->
      |           CAST(('0x' || substr(md5('w:' || x), 1, 8)) AS UBIGINT)::BIGINT
      |             % 2001 - 1000)), 0) AS BIGINT) AS logit
      |       FROM t)
      |SELECT doc_id, n_tokens, logit, logit > 0 AS label,
      |  CASE WHEN n_tokens > 0
      |       THEN ROUND(CAST(logit AS DOUBLE) / n_tokens, 6) END AS margin
      |FROM s""".stripMargin

  // ------------------------------------------------- naive Bayes classify
  /** TRAINED multinomial Naive Bayes over the corpus — the classical
    * language-ID / quality-filter training loop the hash classifier above
    * only serves: an 80% deterministic split (doc_id % 5 != 0) trains
    * per-class token counts with add-one smoothing, the 20% holdout is
    * scored `log prior(c) + Σ_tokens log p(w|c)` and labeled argmax.
    * Unseen tokens get the smoothed 1/(tokens_c + V) mass — the standard
    * estimator, so the oracle replays training AND inference exactly.
    *
    * Scale: training is one (token, class) groupBy (map-side partials);
    * the model stays DISTRIBUTED — inference joins exploded holdout tokens
    * against the count table on (token, class) (shuffle hash join at
    * vocab scale, no driver materialization, unlike the broadcast LM
    * models), fanned across the 5-row class dim; one doc-keyed aggregate
    * and a per-doc argmax window finish it. Every stage is linear in
    * token postings. */
  def nbClassify(spark: SparkSession, d: String): DataFrame = {
    // The exploded token table feeds FIVE consumers (class stats, doc
    // total, vocab size, word counts, the test side) — uncached, each
    // re-ran the tokenize + explode. Memoized like the other shared token
    // projections (uni-words, shingle-docs).
    val tk = MemoCache.frame(spark, ("nb-tokens", d))(
      documents(spark, d)
        .select(col("doc_id"), col("lang"),
          explode(toks(col("text"))).as("w")))
    val train = tk.filter(col("doc_id") % 5 =!= 0)
    val test = tk.filter(col("doc_id") % 5 === 0)
    val cls = train.groupBy(col("lang").as("c"))
      .agg(countDistinct(col("doc_id")).as("dc"), count(lit(1)).as("tc"))
    val tot = train.agg(countDistinct(col("doc_id")).as("td"))
    val voc = train.agg(countDistinct(col("w")).as("v"))
    val wc = train.groupBy(col("w"), col("lang").as("c"))
      .agg(count(lit(1)).as("cnt"))
    val scored = test
      .crossJoin(broadcast(cls))
      .crossJoin(broadcast(voc))
      .crossJoin(broadcast(tot))
      .join(wc, Seq("w", "c"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(col("doc_id"), col("lang"), col("c"),
        col("tc"), col("dc"), col("v"), col("td"))
      .agg(sum(log((col("cnt") + 1).cast("double") / (col("tc") + col("v"))))
        .as("ll"))
      .select(col("doc_id"), col("lang").as("true_lang"), col("c"),
        (col("ll") + log(col("dc").cast("double") / col("td"))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("c"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("c").as("predicted"),
        (col("c") === col("true_lang")).as("correct"),
        round(col("score"), 3).as("score"))
  }

  /** Exact replay: same split, same counts, same smoothing, same argmax
    * tie-break (score desc, class asc). */
  val nbClassifySql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      | train AS (SELECT * FROM tk WHERE doc_id % 5 != 0),
      | test AS (SELECT * FROM tk WHERE doc_id % 5 = 0),
      | cls AS (SELECT lang AS c, COUNT(DISTINCT doc_id) AS dc, COUNT(*) AS tc
      |   FROM train GROUP BY 1),
      | tot AS (SELECT COUNT(DISTINCT doc_id) AS td FROM train),
      | voc AS (SELECT COUNT(DISTINCT w) AS v FROM train),
      | wc AS (SELECT w, lang AS c, COUNT(*) AS cnt FROM train GROUP BY 1, 2),
      | sc AS (SELECT t.doc_id, t.lang AS true_lang, cls.c,
      |     SUM(ln((COALESCE(wc.cnt, 0) + 1)::DOUBLE / (cls.tc + voc.v)))
      |       + ln(cls.dc::DOUBLE / tot.td) AS score
      |   FROM test t
      |   CROSS JOIN cls CROSS JOIN voc CROSS JOIN tot
      |   LEFT JOIN wc ON wc.w = t.w AND wc.c = cls.c
      |   GROUP BY t.doc_id, t.lang, cls.c, cls.tc, cls.dc, voc.v, tot.td),
      | rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |     ORDER BY score DESC, c) AS rn FROM sc)
      |SELECT doc_id, true_lang, c AS predicted,
      |  c = true_lang AS correct, ROUND(score, 3) AS score
      |FROM rk WHERE rn = 1""".stripMargin

  // ------------------------------------------------- RAKE keyphrases
  /** RAKE keyphrase extraction (Rose et al., "Automatic Keyword Extraction
    * from Individual Documents", 2010): candidate phrases are maximal
    * stopword-delimited token runs (runs longer than 4 tokens are not
    * candidates — the standard length cap), each word scores
    * degree/frequency over all candidate-phrase instances (degree = sum of
    * hosting-phrase lengths, frequency = instance count), and a phrase
    * scores the sum of its words' scores. Corpus-wide top-20 by
    * (score desc, phrase asc).
    *
    * Scale: run segmentation is one per-doc cumulative-sum window (doc
    * key); word stats one token-keyed groupBy; phrase scoring explodes
    * only DISTINCT phrases against the word-score table (token-keyed hash
    * join); the final top-20 is a TakeOrdered, not a global sort. Linear
    * in token postings throughout. */
  private val RakeStop = Seq("a", "the", "of", "and", "in", "to", "is", "on")
  private val RakeMaxLen = 4
  private val RakeTopK = 20

  def rakeKeywords(spark: SparkSession, d: String): DataFrame = {
    val tk = documents(spark, d)
      .select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "w")))
      .withColumn("stop", col("w").isInCollection(RakeStop))
    val runs = tk
      .withColumn("run", sum(col("stop").cast("int"))
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(!col("stop"))
    // Memoized: `inst` feeds BOTH the word-stat aggregation and the
    // distinct-phrase table below, and the uncached plan re-ran the token
    // explode + per-doc running-sum window + collect_list groupBy — the
    // query's entire data-scale prefix — once per consumer.
    val inst = MemoCache.frame(spark, ("rake-inst", d))(
      runs.groupBy(col("doc_id"), col("run"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          count(lit(1)).as("len"))
        .filter(col("len") <= RakeMaxLen))
    val ws = inst
      .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val distinctPh = inst.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
    val scored = distinctPh
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(ws, "w")
      .groupBy("phrase", "n_occ")
      .agg(sum(col("deg").cast("double") / col("freq")).as("score"))
    // top-k BEFORE the rank window (the vocabTopK idiom): orderBy+limit
    // plans TakeOrderedAndProject — per-partition partial top-k, no global
    // sort — and the unpartitioned window then ranks 20 rows, not the vocab
    val top = scored.orderBy(col("score").desc, col("phrase")).limit(RakeTopK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("phrase"))))
      .select(col("rank"), col("phrase"), col("n_occ"),
        round(col("score"), 3).as("score"))
  }

  val rakeKeywordsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       | tk AS (SELECT doc_id, i AS pos, tks[i] AS w,
       |    tks[i] IN (${RakeStop.map("'" + _ + "'").mkString(", ")}) AS stop
       |  FROM t, (SELECT unnest(generate_series(1,
       |            (SELECT MAX(len(tks)) FROM t))) AS i) g
       |  WHERE i <= len(tks)),
       | runs AS (SELECT doc_id, pos, w, stop,
       |    SUM(CASE WHEN stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS run
       |  FROM tk),
       | inst AS (SELECT doc_id, run,
       |    array_to_string(list(w ORDER BY pos), ' ') AS phrase,
       |    COUNT(*) AS len
       |  FROM runs WHERE NOT stop GROUP BY doc_id, run
       |  HAVING COUNT(*) <= $RakeMaxLen),
       | pw AS (SELECT unnest(string_split(phrase, ' ')) AS w, len FROM inst),
       | ws AS (SELECT w, COUNT(*) AS freq, SUM(len) AS deg FROM pw GROUP BY 1),
       | dp AS (SELECT phrase, COUNT(*) AS n_occ FROM inst GROUP BY 1),
       | dpw AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
       |  FROM dp),
       | sc AS (SELECT phrase, n_occ,
       |    SUM(deg::DOUBLE / freq) AS score
       |  FROM dpw JOIN ws USING (w) GROUP BY 1, 2)
       |SELECT rank, phrase, n_occ, ROUND(score, 3) AS score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, phrase) AS INT)
       |    AS rank FROM sc)
       |WHERE rank <= $RakeTopK""".stripMargin

  // ------------------------------------------------- TextRank keywords
  /** TextRank keyword scoring (Mihalcea & Tarau 2004): damped PageRank over
    * the word co-occurrence graph — an undirected edge per adjacent token
    * pair (self-loops dropped), weight = corpus-wide adjacency count. The
    * corpus-level complement of [[rakeKeywords]]' per-document degree/freq
    * heuristic: a word ranks high when its NEIGHBORS rank high, which
    * separates connective hub words from merely frequent ones.
    *
    * Same integer-exact iteration scheme as the event-graph pagerank
    * (`EventQueries.pagerank`): ranks in units of 1e-12 (`TrScale`), 10
    * rounds of `base + 85·Σ(rank(src) DIV ow(src))·w DIV 100` — every op a
    * long, so both engines iterate bit-identically and the oracle is a
    * recursive-CTE replay, not an epsilon compare.
    *
    * Scale: the word graph is vocabulary-sized — tiny next to the corpus at
    * any scale (Heaps' law) — so after one map-side-combinable adjacency
    * aggregation the rank loop runs on model-sized tables; below
    * [[GraftConf.TextrankMaxDriverEdges]] it iterates on the driver (10
    * distributed rounds of per-job overhead dwarf arithmetic on a vocab
    * graph), above it the identical updates run as joins, checkpointed per
    * round to keep lineage flat. */
  private val TrScale = 1000000000000L
  private val TrIters = 10

  def textrank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // adjacent-pair weights, canonical (a < b), self-loops dropped —
    // exchange-free until the pair-count agg via [[collocations]]'
    // zip_with(slice, slice) idiom. NOT transform(sequence(...), i ->
    // tk[i]): a lambda referencing tk gets the inlined split() re-run once
    // PER ELEMENT after projection collapse (measured 2.4s → 8.9s at
    // sf0.1); zip_with's lambda only touches its own arguments, so the
    // tokenizer runs a constant ~3x per doc (size + two slices).
    //
    // The trained GRAPH (cached edge/node tables + their counts) is
    // memoized per dataset: a repeat invocation was otherwise re-running
    // the corpus tokenize + adjacency aggregation + two counts + two
    // collects every time (the rank loop itself is cheap driver
    // arithmetic).
    val (edges, nodes, n, nEdges) = MemoCache.getOrElseUpdate(
      spark, ("textrank-graph", d))({
      val adj = documents(spark, d)
        .select(toks(col("text")).as("tk"))
        .select(explode(expr(
          "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
            "(a, b) -> struct(a AS w, b AS nxt))")).as("pr"))
        .filter(col("pr.w") =!= col("pr.nxt"))
        .select(least(col("pr.w"), col("pr.nxt")).as("a"),
          greatest(col("pr.w"), col("pr.nxt")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("wt"))
      val e = adj.select(col("a").as("src"), col("b").as("dst"), col("wt"))
        .union(adj.select(col("b").as("src"), col("a").as("dst"), col("wt")))
        .cache()
      val nd = e.select(col("src").as("node")).distinct().cache()
      (e, nd, nd.count(), e.count())
    })({ case (e, nd, _, _) =>
      e.unpersist(blocking = false); nd.unpersist(blocking = false); ()
    })
    // n = 0 (no edges): the driver loop runs over no nodes and yields the
    // empty result with its usual schema
    val base = 15L * TrScale / (100L * math.max(n, 1L))
    val ranks: DataFrame = if (nEdges <= GraftConf.TextrankMaxDriverEdges.get(spark)) {
      val es = edges.as[(String, String, Long)].collect()
      val ow = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      val ns = nodes.as[String].collect()
      var rank = ns.map(_ -> TrScale / n).toMap
      for (_ <- 1 to TrIters) {
        val sc = collection.mutable.Map.empty[String, Long]
        es.foreach { case (s, t2, w) =>
          sc(t2) = sc.getOrElse(t2, 0L) + rank(s) / ow(s) * w
        }
        rank = ns.map(v => v -> (base + 85L * sc.getOrElse(v, 0L) / 100L)).toMap
      }
      ns.map(v => (v, rank(v))).toSeq.toDF("node", "rank")
    } else {
      val outw = edges.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
      var r = nodes.withColumn("rank", lit(TrScale / n))
      for (_ <- 1 to TrIters) {
        val contribs = edges.join(outw, "src")
          .join(r.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"),
            (expr("rank DIV ow") * col("wt")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("sc"))
        r = nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) DIV 100"))
              .as("rank"))
          .localCheckpoint()
      }
      r
    }
    ranks.select(col("node").as("word"), col("rank").as("rank_scaled"),
      (col("rank").cast("double") / TrScale).as("rank"))
  }

  /** Recursive-CTE replay over the word graph — the same state-as-list
    * idiom as the event pagerank oracle. */
  val textrankSql: String =
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |       FROM documents),
       | adj AS (SELECT LEAST(tk[i], tk[i+1]) AS a, GREATEST(tk[i], tk[i+1]) AS b,
       |           CAST(COUNT(*) AS BIGINT) AS wt
       |         FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
       |         WHERE i + 1 <= len(tk) AND tk[i] <> tk[i+1]
       |         GROUP BY 1, 2),
       | edges AS (SELECT a AS src, b AS dst, wt FROM adj
       |           UNION ALL SELECT b, a, wt FROM adj),
       | nodes AS (SELECT DISTINCT src AS node FROM edges),
       | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       | outw AS (SELECT src, SUM(wt) AS ow FROM edges GROUP BY 1),
       | packed AS (SELECT list({'src': src, 'dst': dst, 'w': wt, 'ow': ow}) AS es
       |            FROM edges JOIN outw USING (src)),
       | nl AS (SELECT list(node ORDER BY node) AS ns FROM nodes),
       | pr(it, rl) AS (
       |   SELECT 0, list_transform(ns, x -> $TrScale // n) FROM nl, nn
       |   UNION ALL
       |   SELECT it + 1, list_transform(ns, v ->
       |       (15 * $TrScale) // (100 * n) +
       |       (85 * COALESCE(CAST(list_sum(list_transform(es, e ->
       |          CASE WHEN e.dst = v
       |               THEN (rl[list_position(ns, e.src)] // e.ow) * e.w
       |               ELSE 0 END)) AS BIGINT), 0)) // 100)
       |   FROM pr, packed, nl, nn WHERE it < $TrIters),
       | f AS (SELECT rl FROM pr ORDER BY it DESC LIMIT 1)
       |SELECT ns[i] AS word, rl[i] AS rank_scaled,
       |  CAST(rl[i] AS DOUBLE) / $TrScale AS rank
       |FROM f, nl,
       |  (SELECT unnest(generate_series(1, (SELECT CAST(n AS INT) FROM nn))) AS i)""".stripMargin

  // ------------------------------------------------- Zipf / Heaps fit
  /** Corpus-statistics fit: the Zipf exponent via ordinary least squares of
    * ln(freq) on ln(rank) over the top-1000 vocabulary, plus Heaps-law
    * inputs (vocab size vs token mass). A natural-text corpus fits
    * slope ≈ -1; a synthetic or templated corpus shows up immediately in
    * the slope and R² — the cheap corpus-health gauge run before heavier
    * curation.
    *
    * Scale: one token groupBy (map-side partials), top-1000 by
    * TakeOrdered, the regression a single aggregate over 1000 rows.
    * One row out. */
  def zipfFit(spark: SparkSession, d: String): DataFrame = {
    val counts = documents(spark, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("w")).limit(1000)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("w"))))
    val fit = top.agg(
      count(lit(1)).as("n_ranks"),
      round(expr("regr_slope(ln(n), ln(rank))"), 4).as("zipf_slope"),
      round(expr("regr_intercept(ln(n), ln(rank))"), 4).as("zipf_intercept"),
      round(expr("regr_r2(ln(n), ln(rank))"), 4).as("zipf_r2"))
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("n")).as("token_mass"))
    fit.crossJoin(broadcast(totals))
  }

  val zipfFitSql: String =
    """WITH c AS (SELECT w, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |    FROM documents) GROUP BY 1),
      | top AS (SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT)
      |     AS rank
      |   FROM c ORDER BY n DESC, w LIMIT 1000),
      | fit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
      |    ROUND(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
      |    ROUND(regr_intercept(ln(n), ln(rank)), 4) AS zipf_intercept,
      |    ROUND(regr_r2(ln(n), ln(rank)), 4) AS zipf_r2
      |  FROM top),
      | tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
      |    CAST(SUM(n) AS BIGINT) AS token_mass FROM c)
      |SELECT * FROM fit CROSS JOIN tot""".stripMargin

  // ------------------------------------------------- n-gram novelty
  /** N-gram novelty scoring — per-document fraction of its distinct 3-gram
    * shingles that occur FIRST in this document (corpus-wide min-doc_id
    * ownership, the deterministic "first occurrence wins" convention of
    * [[paragraphDedup]] at n-gram granularity). Duplicated boilerplate
    * scores near 0, fresh content near 1 — the graded curation signal
    * between exact dedup (whole-doc) and near-dup pair detection.
    *
    * Scale: explode → shingle-partitioned window MIN (ownership attributed
    * to every copy in the same pass — no aggregate-and-join-back, the
    * [[paragraphDedup]] shape) → doc-keyed count. Two keyed exchanges
    * total, no pair blow-up anywhere — each stage is linear in the posting
    * count. */
  def ngramNovelty(spark: SparkSession, d: String): DataFrame = {
    val docs = documents(spark, d)
    // md5-low-32 hashed shingles, not strings: the window + groupBy below
    // shuffle every posting, and an 8-byte long key moves ~8x fewer bytes
    // than the ~20-char shingle text (measured 2.3s -> ~1.1s warm at
    // sf0.1). Same oracle-replicable hash as the Jaccard/LSH family, so
    // any collision collapses the same shingles in BOTH engines and the
    // ownership/nov counts stay bit-exact.
    val posts = docs.select(col("doc_id"),
      explode(shinglesUdf(coalesce(col("text"), lit("")))).as("sh"))
    val per = posts
      .withColumn("owner", min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           count(when(col("owner") === col("doc_id"), 1)).as("n_novel"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        when(col("n_shingles") > 0,
          round(col("n_novel").cast("double") / col("n_shingles"), 6)))
  }

  val ngramNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | shg AS (SELECT DISTINCT doc_id,
      |           CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 25, 8))::UBIGINT AS BIGINT) AS sh
      |         FROM t, (SELECT unnest(generate_series(1, (SELECT MAX(len(tk)) FROM t))) AS i)
      |         WHERE i + 2 <= len(tk)),
      | own AS (SELECT sh, MIN(doc_id) AS owner FROM shg GROUP BY 1),
      | per AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |           CAST(COUNT(CASE WHEN o.owner = s.doc_id THEN 1 END) AS BIGINT)
      |             AS n_novel
      |         FROM shg s JOIN own o ON s.sh = o.sh GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(p.n_shingles, 0) AS n_shingles,
      |  COALESCE(p.n_novel, 0) AS n_novel,
      |  CASE WHEN p.n_shingles > 0
      |       THEN ROUND(CAST(p.n_novel AS DOUBLE) / p.n_shingles, 6)
      |  END AS novelty_frac
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin

  // -------------------------------------- prefix-filtered set-similarity
  /** The df-ranked inverted index (doc_id, g, n, df, rnk) of `docs` — the
    * shared data-scale prefix of candidate generation: the explode, the df
    * aggregation and the per-doc rank window do not depend on the
    * threshold p/q or the df cap (those are filters over this table), so
    * one build serves the exact AND the capped joins. */
  private def rankedIndex(docs: DataFrame): DataFrame = {
    // n rides the explode (it's just size(s)) — a count-over-partition
    // window here would add a second WindowExec over the full inverted
    // index for a value the array already knows
    val ex = docs.select(col("doc_id"), size(col("s")).as("n"),
      explode(col("s")).as("g"))
    val dfTab = ex.groupBy("g").agg(count(lit(1)).as("df"))
    ex.join(dfTab, "g")
      .select(col("doc_id"), col("g"), col("n"), col("df"),
        row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("df"), col("g"))).as("rnk"))
  }

  /** AllPairs candidate pairs for `docs(doc_id, s: array)` at Jaccard
    * threshold p/q: rarest-first prefix posting-list join (see
    * [[setsimJoin]] for the completeness argument). Element-type agnostic
    * (works on any array column with distinct elements). */
  private def prefixCandidates(ranked: DataFrame, p: Int, q: Int,
                               dfCap: Long = 0L): DataFrame = {
    // dfCap > 0: corpus-dense tokens stop GENERATING candidates (their
    // posting lists would each contribute O(df²) pairs); they keep their
    // prefix positions and still count in the verify, so the only recall
    // loss is a pair whose EVERY common prefix token is dense — measured
    // by the recall row, not assumed away. 0 = exact AllPairs.
    val pref = ranked
      .filter(col("rnk") <= col("n") - expr(s"($p*n + ${q - 1}) DIV $q") + 1)
      .filter(if (dfCap > 0) col("df") <= dfCap else lit(true))
      .select(col("doc_id"), col("g"), col("n"), col("rnk"))
    // Two PPJoin prunes ride the candidate join (both from the published
    // algorithm — Xiao/Wang/Lin/Yu, "Efficient Similarity Joins for Near
    // Duplicate Detection", WWW'08):
    //  - length filter: J >= p/q forces inter >= (p/q)*max(|a|,|b|) and
    //    inter <= min(|a|,|b|), so any qualifying pair has q*min >= p*max
    //    — size-mismatched pairs never reach the verify;
    //  - positional filter: tokens common to a and b all sit at rank >= the
    //    matched token's rank (ranks follow ONE global (df, g) order), so
    //    inter <= 1 + min(|a|-rnk_a, |b|-rnk_b); a qualifying pair needs
    //    inter >= ceil(p*(|a|+|b|)/(p+q)). Pruning matches that fail the
    //    bound is completeness-safe: the pair's MINIMAL common token is in
    //    both prefixes whenever any common token is (prefixes are prefixes
    //    of the same global order) and at that token the bound >= the true
    //    intersection, so at least one generating match always survives.
    pref.as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * q >= col("b.n") * p && col("b.n") * q >= col("a.n") * p &&
          lit(1) + least(col("a.n") - col("a.rnk"), col("b.n") - col("b.rnk")) >=
            expr(s"(CAST($p AS BIGINT) * (a.n + b.n) + ${p + q - 1}) DIV ${p + q}"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Distinct 3-token shingles in tight JVM code
    * ([[graft.functions.MinHash.ngrams]]): the column formulation
    * (`transform(sequence(...), i -> concat_ws(element_at(tk, ...))`)
    * re-evaluates the regex tokenizer inside the un-codegen'd lambda for
    * every element reference (~150x per doc), and the docs subtree feeds
    * candidate generation plus both verify joins — measured 9.4s -> 1.1s
    * warm at sf0.1 (same fix as [[contamNgramsUdf]]). */
  private val shingles3Udf = udf((text: String) =>
    if (text == null) Array.empty[String]
    else graft.functions.MinHash.ngrams(text, 3))

  /** The shingle-array table, memoized: ONE query references it three
    * times (candidate explode + both verify sides) and the family has
    * three queries plus the recall row — without this, Spark re-runs the
    * tokenizer UDF over the corpus once per reference (measured at the
    * x64 probe: the re-shingling dominated the capped join's remaining
    * cost). It is corpus-derived, not model-sized, so the frame's
    * MEMORY_AND_DISK level matters here: at warehouse scale the same role
    * is played by a staged shingle table, and spilling is the honest local
    * analog. */
  private def setsimDocs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("setsim-docs", d))(
      documents(spark, d)
        .select(col("doc_id"), shingles3Udf(col("text")).as("s"))
        .filter(size(col("s")) >= 1))  // >= 1 shingle ≡ the oracle's len(tk) >= 3

  private def setsimVerified(docs: DataFrame, cands: DataFrame,
                             p: Int, q: Int): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("inter") * q >= col("uni") * p)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))

  /** The hashed ranked index, memoized — ONE candidate-generation build
    * shared by [[setsimJoin]] and [[setsimJoinCapped]] (bench-adjacent
    * family members previously each built their own explode + df count +
    * rank window, and the exact join's copy moved ~20-byte shingle STRINGS
    * through all three exchanges; the hashed index moves 8-byte longs —
    * guide §2.3). Candidate generation only needs COMPLETENESS, and any
    * total order over the hashed elements satisfies the AllPairs prefix
    * theorem. Without a 52-bit collision the hashed sets are the string
    * sets relabeled, so every pair passing the string-set threshold is
    * found, and the exact verify on the STRING sets drops the rest: the
    * output is byte-identical to the string-indexed build. A collision
    * does NOT only raise hashed Jaccard: two shingles of one document
    * merging shrinks that set, and if both were shared with the partner
    * the intersection shrinks too, so a pair can fall below p/q and be
    * missed. The odds of any collision among n distinct shingles are
    * about n²/2^53 (~0.03 at the x64 corpus's 16.7M), and a miss also
    * needs the collision to land in a pair that sits within one element
    * of the threshold. [[setsimJoinCapped]] is not affected: it defines
    * its sets as the hashed ones, and its oracle replays the same hash. */
  private def setsimRankedHashed(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("setsim-ranked", d))(
      rankedIndex(setsimDocsHashed(spark, d)))

  /** Jaccard threshold p/q of the set-similarity joins, which the oracles
    * replay. */
  private val SetsimP = 3
  private val SetsimQ = 5

  /** All-pairs set-similarity join with prefix filtering (AllPairs/PPJoin,
    * Bayardo et al., WWW'07): every document pair whose distinct 3-token
    * shingle sets have Jaccard >= 3/5, found WITHOUT the all-pairs product
    * and with PROVABLY complete recall — unlike [[neardupJaccard]]'s
    * df-capped inverted index (which trades recall on corpus-dense
    * shingles for a bounded candidate count), the prefix filter keeps
    * every qualifying pair by construction.
    *
    * The filter: order each document's shingles by ascending corpus
    * document-frequency (rarest first, ties on the shingle string — any
    * TOTAL order works, the df order just minimizes candidates); a pair
    * with Jaccard >= t = p/q must share a shingle among each side's first
    * n - ceil(t*n) + 1 (suppose not: all common shingles sit in the
    * ceil(t*n) - 1 < t*n suffix, but J >= t forces overlap >= t*union >=
    * t*n — contradiction). Only prefixes join; the exact intersection /
    * union verify runs on candidates alone.
    *
    * Scale shape: the df table and per-doc ranking are keyed
    * aggregations/windows; the candidate join is an inverted index over
    * PREFIX shingles only (rare by construction, so posting lists stay
    * short — the AllPairs candidate bound); the verify is two keyed joins
    * against the shingle-array table. No cartesian anywhere (PlanSpec
    * asserts). ceil(t*n) is computed in integer arithmetic
    * ((p*n + q - 1) DIV q) so both engines agree exactly; the Jaccard
    * test cross-multiplies (q*inter >= p*union) — no floats end to end.
    * Threshold: Jaccard >= [[SetsimP]]/[[SetsimQ]] (3/5). */
  def setsimJoin(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("setsim-pairs", d)) {
      val docs = setsimDocs(spark, d)
      setsimVerified(docs, prefixCandidates(setsimRankedHashed(spark, d),
        SetsimP, SetsimQ), SetsimP, SetsimQ)
    }

  /** The 100-TB scale path of [[setsimJoin]] — two deltas from the exact
    * join, both oracle-replayed:
    *
    *  - HASHED SHINGLES: sets are 52-bit md5 prefixes of the shingle
    *    strings (the same `substr(md5(g), 20, 13)` hex window in DuckDB),
    *    so the inverted index, the ranking window's sort key, and the
    *    verify join all move/compare 8-byte longs instead of ~20-byte
    *    strings — at the x64 probe the verify ships 4.4M candidate pairs
    *    with ~52-element set payloads, where the payload width IS the
    *    cost. Collisions merge shingles identically in both engines
    *    (expected colliding pairs at 2^52 over a 16.7M-shingle corpus:
    *    ~0.02), so parity is exact and the semantic drift is measured by
    *    [[setsimRecall]], not assumed away.
    *  - POSTING CAP on candidate generation (df <= 32): a guardrail,
    *    not an optimization — the AllPairs rarest-first prefix already keeps prefix-token df small on Zipf
    *    corpora (measured max 7 at sf0.01, 14 at x64 — corpus-dense
    *    shingles never enter prefixes by construction), but an
    *    adversarial/boilerplate corpus whose RAREST tokens are still
    *    dense would blow O(df²) per posting; the cap bounds that, and on
    *    the fixtures it never binds (recall row reads 1.0). */
  def setsimJoinCapped(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("setsim-pairs-capped", d)) {
      val docs = setsimDocsHashed(spark, d)
      setsimVerified(docs, prefixCandidates(setsimRankedHashed(spark, d),
        SetsimP, SetsimQ, dfCap = 32L), SetsimP, SetsimQ)
    }

  /** 52-bit md5-prefix hashes ([[graft.functions.MinHash.md5Mid52]]) of
    * the 3-token shingles, distinct — the DuckDB-replayable
    * `('0x' || substr(md5(g), 20, 13))::UBIGINT`. */
  private val shingles3Hash52Udf = udf((text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      graft.functions.MinHash.ngrams(text, 3).foreach(g => seen.add(graft.functions.MinHash.md5Mid52(g)))
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    })

  private def setsimDocsHashed(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("setsim-docs-hashed", d))(
      documents(spark, d)
        .select(col("doc_id"), shingles3Hash52Udf(col("text")).as("s"))
        .filter(size(col("s")) >= 1))

  /** Full replay of the CAPPED algorithm (df table, rarest-first ranking,
    * prefix bound, posting cap, length + positional filters, exact
    * verify) — checks the windowed ranking and integer bound arithmetic
    * engine-against-engine; the completeness story stays with
    * [[setsimJoinSql]]'s brute force and the recall row. */
  private val setsimCappedSqlCtes: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |      FROM documents),
      | sh AS (SELECT doc_id, list_distinct(list_transform(
      |          list_distinct(list_transform(range(1, len(tk)-1),
      |            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])),
      |          g -> CAST(('0x' || substr(md5(g), 20, 13))::UBIGINT AS BIGINT))) AS s
      |        FROM t WHERE len(tk) >= 3),
      | ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      | dft AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY 1),
      | ranked AS (SELECT ex.doc_id, ex.g, ex.n, dft.df,
      |     ROW_NUMBER() OVER (PARTITION BY ex.doc_id ORDER BY dft.df, ex.g)
      |       AS rnk
      |   FROM ex JOIN dft USING (g)),
      | pref AS (SELECT doc_id, g, n, rnk FROM ranked
      |   WHERE rnk <= n - ((3*n + 4) // 5) + 1 AND df <= 32),
      | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |   FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
      |   WHERE a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3
      |     AND 1 + least(a.n - a.rnk, b.n - b.rnk)
      |         >= (3 * (a.n + b.n) + 7) // 8),
      | capped AS (SELECT cand.doc_a, cand.doc_b,
      |     CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
      |     CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))
      |       AS BIGINT) AS uni
      |   FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
      |   JOIN sh sb ON cand.doc_b = sb.doc_id
      |   WHERE 5 * len(list_intersect(sa.s, sb.s))
      |      >= 3 * (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))""".stripMargin

  val setsimCappedSql: String =
    s"""WITH $setsimCappedSqlCtes
       |SELECT doc_a, doc_b, inter, uni FROM capped""".stripMargin

  /** The cap's honesty row: capped pairs vs the exact AllPairs truth.
    * recall = found/truth; the 0.95 floor is the operating guarantee (at
    * the gate sf the cap never binds, so this reads 1.0 — the SCALE cost
    * is probed at x64 where the dense postings exist). */
  def setsimRecall(spark: SparkSession, d: String): DataFrame = {
    val exact = setsimJoin(spark, d).select(col("doc_a"), col("doc_b"))
    val capped = setsimJoinCapped(spark, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    exact.join(capped, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0L)).as("n_found"))
      .select(col("n_truth"), col("n_found"),
        when(col("n_truth") === 0, 1.0)
          .otherwise(round(col("n_found").cast("double") / col("n_truth"), 6))
          .as("recall"))
      .withColumn("ok", col("recall") >= 0.95)
  }

  val setsimRecallSql: String =
    s"""WITH $setsimCappedSqlCtes,
       | shs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
       |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       |         FROM t WHERE len(tk) >= 3),
       | truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM shs a JOIN shs b ON a.doc_id < b.doc_id
       |   WHERE 5 * len(list_intersect(a.s, b.s))
       |      >= 3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
       | m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       |     CAST(COUNT(c.doc_a) AS BIGINT) AS n_found
       |   FROM truth t LEFT JOIN capped c
       |     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
       |SELECT n_truth, n_found,
       |  CASE WHEN n_truth = 0 THEN 1.0
       |       ELSE ROUND(CAST(n_found AS DOUBLE) / n_truth, 6) END AS recall,
       |  (CASE WHEN n_truth = 0 THEN 1.0
       |        ELSE ROUND(CAST(n_found AS DOUBLE) / n_truth, 6) END) >= 0.95
       |    AS ok
       |FROM m""".stripMargin

  /** The oracle is the BRUTE-FORCE all-pairs join — deliberately not a
    * replay of the prefix filter, so the gate independently verifies the
    * filter's completeness claim, not just arithmetic agreement. */
  val setsimJoinSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      | sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
      |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
      |        FROM t WHERE len(tk) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
      |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE 5 * len(list_intersect(a.s, b.s))
      |   >= 3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))""".stripMargin

  // ------------------------------------------- vocabulary spelling linkage
  /** Character-occurrence symbols of a word — 'banana' -> [b1,a1,n1,a2,n2,a3]
    * — the multiset-as-set encoding the prefix filter needs: two words'
    * symbol-set intersection equals their character-multiset intersection
    * (sum over chars of min(count_a, count_b)). */
  private val charSymsUdf = udf((w: String) => {
    val counts = scala.collection.mutable.HashMap.empty[Char, Int]
    val out = new Array[String](w.length)
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      val k = counts.getOrElse(c, 0) + 1
      counts(c) = k
      out(i) = s"$c$k"
      i += 1
    }
    out
  })

  /** Deterministic top-1500 ASCII phrase vocabulary (3-token shingles,
    * doc-frequency order) with per-phrase character-occurrence symbols,
    * symbol df-ranked for prefix filtering — shared by [[vocabLink]] and
    * [[typoPairs]]. Columns: w, len, g (symbol), rnk (1 = globally rarest
    * symbol of the phrase). */
  private def phraseSymbols(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("phrase-symbols", d)) {
      // The vocab build (corpus scan + shingle explode + count + top-1500)
      // is the only corpus-sized work here, and the UNCACHED plan recomputed
      // it up to four times per consumer: `ex` and `dfTab` both read
      // `vocab`, and both consumers self-join the result (Spark reuses
      // identical Exchanges, not TakeOrdered subtrees). Cache the build
      // while ranking, materialize the ~|vocab|*len ranked table ONCE, and
      // hand every consumer (and both sides of their self-joins) the
      // in-memory relation. The transient vocab cache is dropped as soon as
      // the ranked table is resident — lineage stays intact, so a lost
      // cache partition recomputes from parquet.
      val vocab = documents(spark, d)
        .select(explode(shingles3Udf(lower(col("text")))).as("w"))
        .filter(col("w").rlike("^[a-z ]{6,}$"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(1500)
        .select(col("w"), length(col("w")).as("len"), charSymsUdf(col("w")).as("s"))
        .cache()
      val ex = vocab.select(col("w"), col("len"), explode(col("s")).as("g"))
      val dfTab = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val ranked = ex.join(dfTab, "g").select(col("w"), col("g"), col("len"),
        row_number().over(Window.partitionBy("w")
          .orderBy(col("df"), col("g"))).as("rnk"))
        .cache()
      ranked.count()
      vocab.unpersist(blocking = false)
      ranked
    }

  /** Spelling-variant linkage over the corpus vocabulary — the
    * entity-resolution / typo-canonicalization operator: every pair of
    * frequent tokens with Jaro-Winkler similarity >= 0.94, found WITHOUT an
    * all-pairs product and with provably complete recall. Real pipelines run
    * exactly this to collapse OCR noise / spelling variants before
    * vocabulary-sensitive stages (LM training, dictionary tagging).
    *
    * Candidate generation is an AllPairs prefix filter ([[setsimJoin]]'s
    * machinery) over CHARACTER-OCCURRENCE symbols, justified by a chain of
    * integer-exact bounds from the JW definition (m = jaro matches,
    * a = min(|w1|,|w2|), b = max):
    *  - jw >= 0.94 forces jaro j >= 0.9: jw = j + l*0.1*(1-j) with l <= 4,
    *    so jw <= 0.6*j + 0.4;
    *  - j <= (m/a + m/b + 1)/3 and m <= a give 20*m >= 17*a and
    *    10*m >= 7*b (cross-multiplied — no floats);
    *  - the character-multiset intersection is >= m (jaro matches are a 1-1
    *    matching on equal bytes), so qualifying pairs overlap in >=
    *    t(a,b) = max(ceil(17a/20), ceil(7b/10)) symbols, and the standard
    *    prefix-filter lemma applies with per-word prefix length
    *    L - ceil(7L/10) + 1 (>= L - t + 1 for every admissible partner).
    * Length filter (10a >= 7b) and the PPJoin positional bound ride the
    * candidate join exactly as in [[prefixCandidates]].
    *
    * The verify is the custom codegen'd [[graft.functions.JaroWinklerSim]]
    * expression, byte-level to match DuckDB's native
    * `jaro_winkler_similarity` — the ORACLE IS AN INDEPENDENT ENGINE'S
    * IMPLEMENTATION over brute-forced pairs, so the gate checks both the
    * filter's completeness and the JW arithmetic against foreign code, not
    * a replay. The linked unit is the corpus PHRASE vocabulary — the
    * deterministic top-1500 ASCII 3-token shingles by (doc-frequency desc,
    * phrase), a total order, so both engines select identical sets (the
    * fixture's word list is a small fixed vocabulary, so single words have
    * no spelling variants — phrases are where near-identical strings
    * actually live, and phrase-variant linkage is the same operator a real
    * pipeline points at names/titles/queries). The threshold is applied as
    * `jw > 0.94 - 1e-9` in both engines so a last-ulp disagreement on a
    * pair sitting exactly at the boundary cannot flip membership.
    *
    * Scale shape: vocab build is one map-side-combinable count + TakeOrdered;
    * symbol df/rank are vocabulary-keyed aggregations; the candidate join is
    * an inverted index over prefix symbols only. At a 100-TB corpus the
    * vocabulary (~10^7 rows) stays a rounding error next to the token scan,
    * and nothing here touches document text after the vocab build. */
  def vocabLink(spark: SparkSession, d: String): DataFrame = {
    val ranked = phraseSymbols(spark, d)
    val pref = ranked.filter(col("rnk") <= col("len") - expr("(7*len + 9) DIV 10") + 1)
    // Probe side spread to the core count: the memoized symbol table is one
    // AQE-coalesced partition, which would run the whole O(pairs) JW verify
    // serially under the broadcast join. The verify predicate is written
    // INTO the join condition, LAST — left as a post-distinct filter the
    // optimizer pushes it into the join ahead of the cheap conjuncts
    // (measured plan: `jw > θ AND w1 < w2 AND len-band`), paying the O(n*m)
    // metric on pairs the ordering tests would have rejected for free.
    val par = spark.sparkContext.defaultParallelism
    val cand = pref.repartition(par).as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.w") < col("b.w") &&
          least(col("a.len"), col("b.len")) * 10 >=
            greatest(col("a.len"), col("b.len")) * 7 &&
          (lit(1) + least(col("a.len") - col("a.rnk"), col("b.len") - col("b.rnk")) >=
            greatest(expr("(17 * least(a.len, b.len) + 19) DIV 20"),
                     expr("(7 * greatest(a.len, b.len) + 9) DIV 10"))) &&
          graft.functions.GraftFunctions.jaroWinkler(col("a.w"), col("b.w")) >
            0.9399999990)
      .select(col("a.w").as("w1"), col("b.w").as("w2")).distinct()
    cand
      .withColumn("jw", graft.functions.GraftFunctions.jaroWinkler(col("w1"), col("w2")))
      .select(col("w1"), col("w2"), col("jw"))
  }

  /** Brute-force pairs + DuckDB's OWN jaro_winkler_similarity — independent
    * of both the prefix filter and the repo's JW arithmetic. */
  val vocabLinkSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |           FROM documents),
      | g AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS w
      |       FROM t, (SELECT unnest(generate_series(1,
      |                 (SELECT MAX(len(tk)) FROM t))) AS i)
      |       WHERE i + 2 <= len(tk)),
      | v0 AS (SELECT w, COUNT(*) AS n FROM g
      |        WHERE regexp_matches(w, '^[a-z ]{6,}$') GROUP BY 1),
      | v AS (SELECT w FROM v0 ORDER BY n DESC, w LIMIT 1500)
      |SELECT a.w AS w1, b.w AS w2,
      |  jaro_winkler_similarity(a.w, b.w) AS jw
      |FROM v a JOIN v b ON a.w < b.w
      |WHERE jaro_winkler_similarity(a.w, b.w) > 0.9399999990""".stripMargin

  /** Typo-pair mining: phrase-vocabulary pairs within UNRESTRICTED
    * Damerau-Levenshtein distance 2 — the edit model that counts
    * adjacent-character swaps ('teh'/'the') as one operation, i.e. the
    * canonical keyboard-typo metric. Complements [[vocabLink]] (JW rewards
    * shared prefixes; DL catches same-cost edits anywhere).
    *
    * Blocking is complete by two metric facts (independent of any
    * implementation): DL >= |len(a) - len(b)|, and each unit of edit cost
    * changes the character multiset's symmetric difference by <= 2
    * (insert/delete 1, substitution 2, transposition 0 — the
    * Lowrance-Wagner transpose branch charges its intervening
    * inserts/deletes individually), so a DL<=2 pair overlaps in >=
    * ceil((len_a+len_b)/2) - 2 symbols. With partner lengths within +-2
    * that bound is always >= len - 3, so a FOUR-symbol rarest-first prefix
    * satisfies the prefix-filter lemma for every admissible pair.
    *
    * The verify is [[graft.functions.DamerauLev]] (Lowrance-Wagner,
    * byte-level); the oracle is DuckDB's NATIVE damerau_levenshtein over
    * the brute-forced length-banded pairs — again an independent engine's
    * implementation of the metric, not a replay (the length band in the
    * oracle is the metric's own lower bound, not our filter). Integer
    * distances — the compare is exact. */
  def typoPairs(spark: SparkSession, d: String): DataFrame = {
    val ranked = phraseSymbols(spark, d)
    val pref = ranked.filter(col("rnk") <= 4)
    // Same two verify-cost fixes as [[vocabLink]]: probe side spread to the
    // core count (the memoized table is one coalesced partition), and the
    // DL predicate written into the join condition LAST so the cheap
    // `w1 < w2` / length-band conjuncts short-circuit before the O(n*m) DP
    // (the post-distinct filter formulation gets pushed into the join
    // AHEAD of them). Output rows are identical: the verify is the same
    // necessary-and-sufficient predicate either side of the distinct.
    val par = spark.sparkContext.defaultParallelism
    val cand = pref.repartition(par).as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.w") < col("b.w") &&
          abs(col("a.len") - col("b.len")) <= 2 &&
          graft.functions.GraftFunctions.damerauLevenshtein(col("a.w"), col("b.w")) <= 2)
      .select(col("a.w").as("w1"), col("b.w").as("w2")).distinct()
    cand
      .withColumn("dist",
        graft.functions.GraftFunctions.damerauLevenshtein(col("w1"), col("w2")))
      .select(col("w1"), col("w2"), col("dist"))
  }

  val typoPairsSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |           FROM documents),
      | g AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS w
      |       FROM t, (SELECT unnest(generate_series(1,
      |                 (SELECT MAX(len(tk)) FROM t))) AS i)
      |       WHERE i + 2 <= len(tk)),
      | v0 AS (SELECT w, COUNT(*) AS n FROM g
      |        WHERE regexp_matches(w, '^[a-z ]{6,}$') GROUP BY 1),
      | v AS (SELECT w FROM v0 ORDER BY n DESC, w LIMIT 1500)
      |SELECT w1, w2, dist FROM (
      |  SELECT a.w AS w1, b.w AS w2,
      |    CAST(damerau_levenshtein(a.w, b.w) AS INT) AS dist
      |  FROM v a JOIN v b
      |    ON a.w < b.w AND abs(len(a.w) - len(b.w)) <= 2)
      |WHERE dist <= 2""".stripMargin

  // ------------------------------------------- blocked edit-distance dedup
  /** Fuzzy (edit-distance) near-dup pairs with COMPLETE length-band
    * blocking: every pair with levenshtein(text_a, text_b) <= K, no
    * all-pairs product. Completeness: lev >= |len(a) - len(b)|, so a
    * qualifying pair's lengths differ by <= K and their K-wide length
    * bands by <= 1. The left side carries its own band; the right side
    * fans out to {band-1, band, band+1}; the equi-join on the band key
    * then catches every adjacent-band pair EXACTLY ONCE (the left key
    * occurs at most once in the right doc's key set), so no
    * dedup-over-text shuffle is needed. The exact `levenshtein` verify
    * (built-in, codegen'd) runs on in-band candidates only.
    *
    * Length alone is a weak blocking key on a web corpus — production
    * entity resolution composes it with a content key (e.g.
    * [[fingerprint]] prefixes or [[setsimJoin]] candidates) before the
    * verify; this operator keeps the single provably-complete key so its
    * output is EXACT, and documents the composition as the 100-TB path.
    *
    * The verify is the custom [[graft.functions.LevenshteinBounded]]
    * expression (banded Ukkonen DP, O(K*len) worst case, early ABANDON
    * once the band minimum exceeds K — non-duplicate candidates, the
    * overwhelming majority, abandon after ~K rows; the built-in
    * `levenshtein(a, b, K)` bands but always fills the whole band, and
    * swapping it out cut the verify-dominated query ~3x at sf0.1).
    * Contract-identical to the built-in: -1 above the threshold, so
    * `dist >= 0` is exactly `dist <= K`.
    * K = [[FuzzyK]]. */
  private def fuzzyDocs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("fuzzy-docs", d))(
      documents(spark, d).select(col("doc_id"), col("text"), col("n_chars")))

  /** Exact in-band pair table, memoized like [[neardupJaccard]]'s: it is
    * the shared intermediate of the fuzzy family ([[fuzzyRecall]] re-runs
    * it as the recall denominator right after this operator produced it) —
    * a production pipeline materializes the verified pair table once and
    * every consumer reads it. The scale probes evict before every sample,
    * so planted runs still pay the full compute. */
  def fuzzyDedup(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("fuzzy-exact-pairs", d)) {
      val k = FuzzyK
      // One MEMOIZED scan feeds the gate probe and BOTH join sides, shared
      // across the fuzzy family (dedup/blocked/recall all start here): the
      // stats action below populates the cache, so the plan reads parquet
      // exactly once per residency.
      val docs = fuzzyDocs(spark, d)
      // The verify runs inside the candidate join, so its parallelism is the
      // PROBE side's partitioning — which the fixture rebalance sizes by
      // bytes. Verify cost is candidate-pair volume, not bytes: spread the
      // probe side to the full core count when the scan under-splits. At
      // warehouse scale the scan already yields >= parallelism splits and
      // this branch never fires.
      val par = spark.sparkContext.defaultParallelism
      // Per-doc 64-byte histograms ride both join sides so the sound
      // L1 <= 2*lev prune ([[graft.functions.CharHist]]) can reject in-band
      // pairs before the banded DP — computed once per doc row, not per
      // pair, and counted into the broadcast-bytes estimate below.
      val docsH = docs.withColumn("h",
        graft.functions.GraftFunctions.charHist64(col("text")))
      val probe = if (docsH.rdd.getNumPartitions < par) docsH.repartition(par) else docsH
      val left = probe.withColumn("band", expr(s"n_chars DIV $k"))
      val right = docsH
        .withColumn("band", explode(array(expr(s"n_chars DIV $k - 1"),
          expr(s"n_chars DIV $k"), expr(s"n_chars DIV $k + 1"))))
      val cond = col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id")
      // Band keys are FEW and HOT (a 300-char corpus has ~14 bands at K=40),
      // so a plain shuffled equi-join on band would pile the whole pair space
      // onto a handful of reducers. Within the broadcast budget, pin the
      // build side explicitly (the probe-side repartition above hides the
      // scan-size estimate that would otherwise let the planner pick the
      // skewed sort-merge join). Beyond it, salt: the probe side keys by
      // hash(doc_id) % par, the build side replicates across all salts —
      // every qualifying pair still meets exactly once, and the hot bands
      // spread over `par` reducers instead of one.
      // The gate is BYTES-based: the build side is the full corpus TEXT
      // fanned out 3x, so a doc-count gate alone would let a long-document
      // corpus broadcast multi-GB. Estimate = 3 * sum(n_chars); one agg
      // action yields both count and bytes and warms the cache.
      val stats = docs.agg(count(lit(1)), coalesce(sum(col("n_chars")), lit(0L)))
        .head()
      val (nDocs, textBytes) = (stats.getLong(0), stats.getLong(1))
      val joined =
        // the +64/doc term charges the histogram column the build side now carries
        if (nDocs <= GraftConf.DedupMaxBroadcastDocs.get(spark) &&
            3L * (textBytes + 64L * nDocs) <= DedupMaxBroadcastBytes)
          left.as("a").join(broadcast(right.as("b")), cond)
        else {
          val sl = left.withColumn("salt", pmod(hash(col("doc_id")), lit(par)))
          val sr = right.withColumn("salt",
            explode(sequence(lit(0), lit(par - 1))))
          sl.as("a").join(sr.as("b"), cond && col("a.salt") === col("b.salt"))
        }
      val banded = joined.filter(abs(col("a.n_chars") - col("b.n_chars")) <= k)
      // sound prune before the DP: L1 > 2k pairs can never verify
      // (CharHistSpec pins the bound; measured at x16: README's fuzzy section)
      banded.filter(graft.functions.GraftFunctions
          .histL1(col("a.h"), col("b.h")) <= 2 * k)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          graft.functions.GraftFunctions
            .levenshteinBounded(col("a.text"), col("b.text"), k)
            .cast("long").as("dist"))
        .filter(col("dist") >= 0)
    }

  /** Edit-distance threshold K of the fuzzy family (the oracles replay 40). */
  private val FuzzyK = 40

  /** Brute-force oracle (with the |len diff| <= K implication of the
    * metric as a pushdown, not a semantic change) — independently checks
    * the band blocking's completeness. */
  val fuzzyDedupSql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 40
      |WHERE levenshtein(a.text, b.text) <= 40""".stripMargin

  /** MinHash-LSH band-collision candidates with the length bound riding
    * the candidate join as a residual on the hash join (n_chars travels
    * with the band keys): |len(a)-len(b)| > K pairs can never verify
    * (lev >= |len diff|), and dropping them HERE — before the distinct and
    * the two text-fetch joins — cuts the dominant cost in hot LSH buckets,
    * where pair volume is quadratic in bucket size. */
  private def fuzzyCandLsh(spark: SparkSession, d: String, k: Int): DataFrame = {
    val docs = documents(spark, d)
      .select(col("doc_id"), col("n_chars"),
        shinglesUdf(col("text")).as("sh"), minhashSigUdf(col("text")).as("sig"))
      .filter(size(col("sh")) > 0)
    val bands = minhashBands(docs, carry = Seq("n_chars"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= k)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Hot-key ceiling for the gear-chunk blocking pass: chunk keys shared
    * by more documents are dropped from candidate generation — a chunk
    * that frequent is corpus boilerplate, not a near-duplicate signal, and
    * its bucket alone would emit O(df²) pairs. Corpus-scaled with a
    * gate-binding floor (the max(floor, n/div) pattern every approximate
    * knob here follows); the SQL oracle replays the same formula, and the
    * planted probe measures what the cap costs at the scale it binds. */
  private def cdcBlockCap(nDocs: Long): Long = math.max(64L, nDocs / 1024L)

  /** (doc_id, n_chars, chunk key) rows of the two-pass gear BLOCKING walk
    * ([[graft.functions.GearChunker.blockKeys]]) — keys are distinct per
    * document by construction. */
  private def cdcBlockKeys(spark: SparkSession, d: String): DataFrame =
    fuzzyDocs(spark, d)
      .select(col("doc_id"), col("n_chars"),
        explode(graft.functions.GraftFunctions.gearBlockKeys(col("text")))
          .as("ck"))

  /** Gear-chunk (CDC) blocking candidates — the complement of
    * [[fuzzyCandLsh]] for SCATTERED edits. Shingle-LSH is brittle exactly
    * there (each scattered single-character edit destroys its own token's
    * ~3 shingles; measured recall 0.32 at e=4 / 0.07 at e=8 on the r11
    * planted probe), while content-defined chunk boundaries re-synchronize
    * within one 18-byte context window of an edit, so a scattered edit
    * dirties only the chunk it lands in and the remaining chunks are
    * shared byte-identical blocking keys. Two independent gear tables run
    * the same walk (~14 chunks/pass on ~300-char text), so a pair is
    * missed only when every chunk of BOTH walks catches an edit;
    * df-capped ([[cdcBlockCap]]) so corpus-boilerplate chunks never emit
    * quadratic buckets; the |len diff| <= K residual rides the key join
    * exactly as on the LSH side. Indel robustness comes from the same
    * boundary locality: chunks outside an insertion/deletion's context
    * window keep their content and keys. */
  private def fuzzyCandCdc(spark: SparkSession, d: String, k: Int): DataFrame = {
    val cap = cdcBlockCap(docCount(spark, d))
    val keys = cdcBlockKeys(spark, d)
    val kept = keys.groupBy(col("ck"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select(col("ck"))
    // the df aggregate and the self-join share the ck partitioning — one
    // shuffle of the key table feeds both
    val kk = keys.join(kept, "ck")
    kk.as("a").join(kk.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= k)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** The PRODUCTION-scale fuzzy dedup: candidates = MinHash-LSH band
    * collisions ([[minhashBands]], the persisted-signature path) UNIONED
    * with gear-chunk content-key collisions ([[fuzzyCandCdc]]), both cut
    * by the length bound, then the shared threshold-levenshtein verify.
    * Where [[fuzzyDedup]]'s single length key is provably complete but
    * quadratic-ish on corpora with tight length distributions, this
    * composite is O(docs x (bands + chunks)) — the same shape that makes
    * [[minhashLsh]] 100-TB-safe. Precision stays 1 (every emitted pair
    * passed the exact verify); recall is MEASURED, not assumed:
    * [[fuzzyRecall]] scores this operator against the exact one with an
    * oracle that replays both blockers' misses, and at scales where the
    * exact join is uncomputable the planted-truth probe
    * ([[graft.PlantedFuzzy]]) measures recall by (edit budget, edit
    * shape).
    *
    * Why two blockers: they fail on OPPOSITE edit shapes. Shingle-LSH
    * survives clustered/organic edits (a rewritten span touches few
    * tokens) but collapses under scattered single-character edits — each
    * edit destroys its own token's ~3 shingles, and the r11 planted probe
    * measured the consequence at production budgets: e=4 scattered
    * recall 0.32, e=8 recall 0.07, at both x1 and x256
    * (`SCALE_PLANT_r11.json`). Content-defined chunk boundaries
    * re-synchronize within one 18-byte context window of an edit, so a
    * scattered edit dirties only the chunk it lands in and the remaining
    * ~14 chunks per pass stay shared blocking keys; two independent gear
    * tables make a miss require every chunk of both walks to catch an
    * edit. The r12 re-run of the SAME x256 planted fixture measures the
    * union (`SCALE_PLANT_r12.json`; per-bucket numbers there), and the
    * probe logs candidate volume per blocker (lsh/cdc/union pair counts,
    * hot keys dropped) so the growth the union buys recall with is on
    * the record, bounded by the df cap ([[cdcBlockCap]]).
    *
    * Blocked pair table, memoized for the same reason as [[fuzzyDedup]]'s:
    * [[fuzzyRecall]] is a direct consumer (the recall numerator), so the
    * family materializes the verified pair table once per residency. */
  def fuzzyDedupBlocked(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("fuzzy-blocked-pairs", d)) {
      val k = FuzzyK
      val base = fuzzyDocs(spark, d)
      val cand = fuzzyCandLsh(spark, d, k)
        .union(fuzzyCandCdc(spark, d, k))
        .distinct()
      // Sound pre-verify prune (see [[graft.functions.CharHist]]): L1 of the
      // 64-byte code-point histograms is <= 2 * lev, so `l1 > 2k` pairs can
      // never verify and are dropped BEFORE the text fetch — the candidate
      // join ships 64-byte histograms instead of ~300-byte texts, and only
      // survivors pay the second join + banded DP. On the replica-dense
      // scale fixture the CDC blocker's chunk-key collisions are dominated
      // by cross-replica pairs whose token perturbations sit far above k:
      // exactly the shape this bound prunes. Results are provably unchanged
      // (pure necessary-condition filter), so the SQL oracle models the
      // candidate set and the DP only.
      val hists = base.select(col("doc_id"),
        graft.functions.GraftFunctions.charHist64(col("text")).as("h"))
      cand
        .join(hists.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
        .join(hists.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
        .filter(graft.functions.GraftFunctions.histL1(col("ha"), col("hb")) <= 2 * k)
        .select(col("doc_a"), col("doc_b"))
        .join(base.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(base.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          graft.functions.GraftFunctions
            .levenshteinBounded(col("ta"), col("tb"), k)
            .cast("long").as("dist"))
        .filter(col("dist") >= 0)
    }

  /** One-row candidate-volume diagnostic for the planted probe: how many
    * pairs each blocker contributes, the union (what the verify actually
    * pays), and what the hot-key cap dropped — the "growth bounded and
    * logged" half of the scattered-recall fix. Probe-only (not in the
    * gate's query map). */
  private[graft] def fuzzyBlockedDiag(spark: SparkSession, d: String): DataFrame = {
    val k = FuzzyK
    val cap = cdcBlockCap(docCount(spark, d))
    val lsh = fuzzyCandLsh(spark, d, k).distinct()
      .agg(count(lit(1)).cast("long").as("lsh_pairs"))
    val cdc = fuzzyCandCdc(spark, d, k).distinct()
      .agg(count(lit(1)).cast("long").as("cdc_pairs"))
    val uni = fuzzyCandLsh(spark, d, k).union(fuzzyCandCdc(spark, d, k))
      .distinct().agg(count(lit(1)).cast("long").as("union_pairs"))
    val hot = cdcBlockKeys(spark, d).groupBy(col("ck"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).cast("long").as("hot_keys_dropped"))
    // what the histogram prune leaves for the text fetch + DP — the
    // denominator that makes the union volume a blocking statistic rather
    // than a verify cost
    val hists = fuzzyDocs(spark, d).select(col("doc_id"),
      graft.functions.GraftFunctions.charHist64(col("text")).as("h"))
    val survivors = fuzzyCandLsh(spark, d, k).union(fuzzyCandCdc(spark, d, k))
      .distinct()
      .join(hists.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
      .join(hists.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
      .filter(graft.functions.GraftFunctions.histL1(col("ha"), col("hb")) <= 2 * k)
      .agg(count(lit(1)).cast("long").as("l1_survivors"))
    lsh.crossJoin(cdc).crossJoin(uni).crossJoin(hot).crossJoin(survivors)
      .withColumn("cdc_cap", lit(cap))
  }

  /** One pass of the fuzzy-blocking gear walk replayed in DuckDB —
    * [[cdcGearSql]]'s closed-form chunk-by-chunk recursion with the
    * BLOCKING constants (mask bits 8/11/14/17 → 18-byte window, sums mod
    * 2^18; MinLen 8; MaxLen 64) and the pass's own gear table. Produces
    * `${p}keys(doc_id, ck)` where ck = FNV-1a 64 of the chunk bytes,
    * XOR `tag` when nonzero (the pass-2 bucket separator). */
  private def gearBlockKeysCtes(p: String, tableLow18: Array[Long],
                                tag: Long): String = {
    val fnvExpr =
      s"""CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
         |       THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT)""".stripMargin
    val keyExpr = if (tag == 0L) fnvExpr else s"xor($fnvExpr, $tag)"
    s"""${p}gl AS (SELECT ${tableLow18.mkString("[", ",", "]")} AS g),
       | ${p}t AS (SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |       FROM documents WHERE n_chars > 0),
       | ${p}bl AS (SELECT doc_id, n, hx,
       |     list_transform(generate_series(1, CAST(n AS INT)),
       |       j -> CAST(('0x' || substr(hx, 2*j - 1, 2)) AS BIGINT)) AS bs
       |   FROM ${p}t),
       | ${p}arr AS (SELECT doc_id, n, i,
       |     list_transform(generate_series(0, CAST(least(17, i - 1) AS INT)),
       |       k -> (g[bs[CAST(i - k AS INT)] + 1] * (CAST(1 AS BIGINT) << k)) % 262144) AS a
       |   FROM ${p}bl, ${p}gl, (SELECT unnest(generate_series(1, CAST(n AS INT))) AS i)),
       | ${p}cand AS (SELECT doc_id, n, i, w
       |   FROM ${p}arr, (SELECT unnest(generate_series(8, 18)) AS w) ws
       |   WHERE w <= i
       |     AND (CAST(list_sum(a[1:CAST(w AS INT)]) AS BIGINT) % 262144 & ${graft.functions.GearChunker.BlockMask}) = 0),
       | ${p}chunks AS (
       |   SELECT doc_id, n, CAST(0 AS BIGINT) AS s,
       |     LEAST(COALESCE((SELECT MIN(c.i) FROM ${p}cand c
       |         WHERE c.doc_id = t.doc_id AND c.i < t.n AND c.i <= 63
       |           AND ((c.w = 18 AND c.i >= 18) OR (c.w < 18 AND c.w = c.i))),
       |       9223372036854775807), CAST(64 AS BIGINT), n) AS e
       |   FROM ${p}t t
       |   UNION ALL
       |   SELECT doc_id, n, e AS s,
       |     LEAST(COALESCE((SELECT MIN(c.i) FROM ${p}cand c
       |         WHERE c.doc_id = ch.doc_id AND c.i < ch.n AND c.i <= ch.e + 63
       |           AND ((c.w = 18 AND c.i >= ch.e + 18)
       |             OR (c.w < 18 AND c.w = c.i - ch.e))),
       |       9223372036854775807), ch.e + 64, n) AS e
       |   FROM ${p}chunks ch WHERE e < n),
       | ${p}keys AS (SELECT q.doc_id, $keyExpr AS ck
       |   FROM (SELECT ch.doc_id, list_reduce(
       |       list_prepend(14695981039346656037::HUGEINT,
       |         list_transform(generate_series(CAST(ch.s + 1 AS INT), CAST(ch.e AS INT)),
       |           j -> CAST(CAST(('0x' || substr(bl.hx, 2*j - 1, 2)) AS BIGINT) AS HUGEINT))),
       |       (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
       |         % 18446744073709551616::HUGEINT) AS f
       |     FROM ${p}chunks ch JOIN ${p}bl bl ON ch.doc_id = bl.doc_id) q)""".stripMargin
  }

  /** The LSH candidate CTEs plus the gear-blocking pass replays and their
    * union — `allcand(d1, d2)` is exactly [[fuzzyDedupBlocked]]'s
    * candidate set (band collisions ∪ df-capped chunk-key collisions,
    * both under the |len diff| <= K residual). Opens its own
    * `WITH RECURSIVE` (the chunk walks recurse); shared by the
    * blocked-fuzzy oracles. */
  private lazy val fuzzyBlockedCandCtes: String = {
    val (t1, t2) = graft.functions.GearChunker.blockTablesLow18
    s"""WITH RECURSIVE ${lshCandCtes.stripPrefix("WITH ")},
       | ${gearBlockKeysCtes("g1", t1, 0L)},
       | ${gearBlockKeysCtes("g2", t2, graft.functions.GearChunker.BlockSeed2Tag)},
       | ck_all AS (SELECT DISTINCT doc_id, ck FROM
       |   (SELECT * FROM g1keys UNION ALL SELECT * FROM g2keys)),
       | ck_kept AS (SELECT ck FROM ck_all GROUP BY ck
       |   HAVING COUNT(*) <= GREATEST(64, (SELECT COUNT(*) FROM documents) // 1024)),
       | cdc_cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |   FROM ck_all a JOIN ck_kept kk ON a.ck = kk.ck
       |        JOIN ck_all b ON a.ck = b.ck AND a.doc_id < b.doc_id
       |        JOIN documents da ON a.doc_id = da.doc_id
       |        JOIN documents db ON b.doc_id = db.doc_id
       |   WHERE abs(da.n_chars - db.n_chars) <= 40),
       | allcand AS (SELECT DISTINCT d1, d2 FROM
       |   (SELECT d1, d2 FROM cand UNION ALL SELECT d1, d2 FROM cdc_cand))""".stripMargin
  }

  val fuzzyDedupBlockedSql: String =
    s"""$fuzzyBlockedCandCtes
       |SELECT allcand.d1 AS doc_a, allcand.d2 AS doc_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
       |FROM allcand JOIN documents a ON allcand.d1 = a.doc_id
       |             JOIN documents b ON allcand.d2 = b.doc_id
       |WHERE abs(a.n_chars - b.n_chars) <= 40
       |  AND levenshtein(a.text, b.text) <= 40""".stripMargin

  /** Honesty loop for [[fuzzyDedupBlocked]]: recall vs the provably
    * complete [[fuzzyDedup]] (blocked ⊆ exact because both verify the same
    * threshold, so recall = |blocked| / |exact| and precision is 1 by
    * construction). One row: pair counts + recall. */
  def fuzzyRecall(spark: SparkSession, d: String): DataFrame = {
    val e = fuzzyDedup(spark, d)
      .agg(count(lit(1)).cast("long").as("exact_pairs"))
    val b = fuzzyDedupBlocked(spark, d)
      .agg(count(lit(1)).cast("long").as("blocked_pairs"))
    e.crossJoin(broadcast(b))
      .select(col("exact_pairs"), col("blocked_pairs"),
        when(col("exact_pairs") > 0,
          col("blocked_pairs").cast("double") / col("exact_pairs"))
          .as("recall"))
  }

  val fuzzyRecallSql: String =
    s"""$fuzzyBlockedCandCtes,
       | blocked AS (
       |   SELECT allcand.d1, allcand.d2
       |   FROM allcand JOIN documents a ON allcand.d1 = a.doc_id
       |                JOIN documents b ON allcand.d2 = b.doc_id
       |   WHERE abs(a.n_chars - b.n_chars) <= 40
       |     AND levenshtein(a.text, b.text) <= 40),
       | exact AS (
       |   SELECT a.doc_id AS d1, b.doc_id AS d2
       |   FROM documents a JOIN documents b
       |     ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 40
       |   WHERE levenshtein(a.text, b.text) <= 40)
       |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS exact_pairs,
       |  CAST((SELECT count(*) FROM blocked) AS BIGINT) AS blocked_pairs,
       |  CASE WHEN (SELECT count(*) FROM exact) > 0 THEN
       |    CAST((SELECT count(*) FROM blocked) AS DOUBLE)
       |      / (SELECT count(*) FROM exact) END AS recall""".stripMargin

  // ------------------------------------------------------------ dict tag
  /** Demo dictionary for the tagging operators: words and phrases from the
    * fixture vocabulary (frequent singles, sparse phrases) plus one term
    * that never matches, exercising the zero-count path. Shared verbatim
    * by the SQL oracles. */
  private[graft] val DictTerms: Seq[String] = Seq(
    "spark", "hash", "merge batch", "fast table", "customer query",
    "slow scan", "zz_never_matches")

  private def dictTermsValues: String =
    DictTerms.map(t => s"('$t')").mkString(", ")

  /** Dictionary tagging (blocklist / taxonomy scan): per document, total
    * and distinct dictionary-term occurrences, via a broadcast
    * [[graft.functions.AhoCorasick]] automaton — ONE O(|text|) pass per
    * document regardless of dictionary size, vs the O(terms × |text|)
    * LIKE-per-term plan. Counting is greedy non-overlapping per term
    * (left-to-right `replace` semantics), which the DuckDB oracle
    * reproduces exactly as (len(text) − len(replace(text,t,''))) / len(t).
    *
    * Scale: the automaton is built once on the driver from the (bounded)
    * dictionary and broadcast; the query itself is a narrow per-row map —
    * NO shuffle, no join, scales linearly with corpus bytes. */
  def dictTag(spark: SparkSession, d: String): DataFrame = {
    val bc = spark.sparkContext.broadcast(graft.functions.AhoCorasick.build(DictTerms))
    val tag = udf { (text: String) =>
      val c = bc.value.countGreedy(text)
      (c.sum, c.count(_ > 0L).toLong)
    }
    documents(spark, d)
      .select(col("doc_id"), tag(col("text")).as("t"))
      .select(col("doc_id"), col("t._1").as("hits"), col("t._2").as("distinct_terms"))
  }

  def dictTagSql: String =
    s"""WITH terms(term) AS (VALUES $dictTermsValues),
       |per AS (
       |  SELECT d.doc_id,
       |    (length(d.text) - length(replace(d.text, t.term, ''))) // length(t.term) AS c
       |  FROM documents d CROSS JOIN terms t)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS distinct_terms
       |FROM per GROUP BY doc_id""".stripMargin

  /** Per-term rollup of the same scan: document frequency and total
    * occurrences for every dictionary term, zero-hit terms included.
    * Only MATCHED (term, count) pairs are exploded — the shuffle carries
    * at most |dict| × partitions rows after map-side partial aggregation,
    * never docs × dict — and the zero-hit completion is a broadcast left
    * join from the tiny term list. */
  def dictTerms(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(graft.functions.AhoCorasick.build(DictTerms))
    val counts = udf((text: String) => bc.value.countGreedy(text))
    val hit = documents(spark, d)
      .select(posexplode(counts(col("text"))).as(Seq("term_idx", "c")))
      .filter(col("c") > 0)
      .groupBy(col("term_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("occurrences"))
    DictTerms.zipWithIndex.toDF("term", "term_idx")
      .join(broadcast(hit), Seq("term_idx"), "left")
      .select(col("term"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("occurrences"), lit(0L)).as("occurrences"))
  }

  def dictTermsSql: String =
    s"""WITH terms(term) AS (VALUES $dictTermsValues),
       |per AS (
       |  SELECT t.term,
       |    (length(d.text) - length(replace(d.text, t.term, ''))) // length(t.term) AS c
       |  FROM documents d CROSS JOIN terms t)
       |SELECT term, CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       |  CAST(SUM(c) AS BIGINT) AS occurrences
       |FROM per GROUP BY term""".stripMargin

  // --------------------------------------------------- Luhn PII detection
  /** Luhn-validated payment-card detection — the PII pass [[piiScrub]]'s
    * regexes cannot do alone: a 16-digit run is only a card number if its
    * mod-10 check digit verifies, and treating every digit run as PII
    * destroys legitimate identifiers (order numbers, hashes). The fixture
    * text has no card numbers, so (exactly like [[piiScrub]]) each doc
    * gets a deterministic doc_id-derived candidate embedded — roughly one
    * in ten verifies, exercising both branches.
    *
    * The checksum is 16 unrolled column terms (digit, doubled-and-folded
    * on even positions from the right) — pure codegen arithmetic, no UDF,
    * and the SAME unrolled formula is emitted as the oracle's SQL text,
    * so the two engines compute it independently from the shared spec.
    *
    * Scale: stateless per-row projection; nothing shuffles. */
  def luhnScan(spark: SparkSession, d: String): DataFrame = {
    val pan = concat(
      lpad(((col("doc_id") * 48271L) % 100000000L).cast("string"), 8, "0"),
      lpad(((col("doc_id") * 16807L + 7L) % 100000000L).cast("string"), 8, "0"))
    val fmtd = concat_ws("-", substring(pan, 1, 4), substring(pan, 5, 4),
      substring(pan, 9, 4), substring(pan, 13, 4))
    val dirty = concat(col("text"), lit(" card "), fmtd)
    val cand = regexp_extract(dirty,
      "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}", 0)
    documents(spark, d)
      .select(col("doc_id"), regexp_replace(cand, "-", "").as("digits"))
      .select(col("doc_id"),
        (luhnSumCol(col("digits")) % 10 === 0).as("luhn_valid"),
        concat(lit("****-****-****-"), substring(col("digits"), 13, 4))
          .as("masked"))
  }

  /** The unrolled 16-term Luhn sum over a digit string, as a Column. */
  private def luhnSumCol(digits: Column): Column =
    (1 to 16).map { i =>
      val dv = substring(digits, i, 1).cast("int")
      if ((17 - i) % 2 == 0) when(dv * 2 > 9, dv * 2 - 9).otherwise(dv * 2)
      else dv
    }.reduce(_ + _)

  /** The identical unrolled sum as SQL text (DuckDB side). */
  private val luhnSumSql: String =
    (1 to 16).map { i =>
      val dv = s"CAST(substr(digits, $i, 1) AS INT)"
      if ((17 - i) % 2 == 0)
        s"(CASE WHEN $dv * 2 > 9 THEN $dv * 2 - 9 ELSE $dv * 2 END)"
      else dv
    }.mkString(" + ")

  val luhnScanSql: String =
    s"""WITH s AS (SELECT doc_id,
       |    lpad(CAST((doc_id * 48271) % 100000000 AS VARCHAR), 8, '0') ||
       |    lpad(CAST((doc_id * 16807 + 7) % 100000000 AS VARCHAR), 8, '0') AS pan
       |  FROM documents),
       | f AS (SELECT doc_id,
       |    text || ' card ' || substr(pan, 1, 4) || '-' || substr(pan, 5, 4) ||
       |      '-' || substr(pan, 9, 4) || '-' || substr(pan, 13, 4) AS dirty
       |  FROM s JOIN documents USING (doc_id)),
       | d AS (SELECT doc_id,
       |    replace(regexp_extract(dirty,
       |      '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}', 0), '-', '') AS digits
       |  FROM f)
       |SELECT doc_id, ($luhnSumSql) % 10 = 0 AS luhn_valid,
       |  '****-****-****-' || substr(digits, 13, 4) AS masked
       |FROM d""".stripMargin

  // ---------------------------------------------------- inverted index
  /** Search-index build: the capped posting-list table behind [[bm25]] —
    * per term, document frequency, collection frequency, and the top-10
    * postings by term frequency, for the 40 highest-df terms.
    *
    * Scale shape: tf is ONE map-side-combinable aggregation on
    * (term, doc); per-term stats + postings are a SECOND partial
    * aggregation on term where the posting cap rides the aggregator —
    * [[graft.functions.TopK]] keeps <= 10 entries per (split, term)
    * BEFORE the exchange, so a stopword appearing in every document of a
    * 100-TB corpus still ships k rows per split, never its full posting
    * list (the window-rank formulation this replaces sorts the hot
    * term's entire posting list on one reducer — the oracle uses exactly
    * that formulation, making the cap semantics independently checked).
    * The term-cap is TakeOrdered (per-partition top-40 + driver merge). */
  def invertedIndex(spark: SparkSession, d: String): DataFrame = {
    val tf = documents(spark, d)
      .select(col("doc_id"), explode(toks(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = tf.groupBy(col("term")).agg(
      count(lit(1)).cast("long").as("df"),
      sum(col("tf")).as("cf"),
      graft.functions.TopK
        .topKByValue(10, col("tf").cast("double"), col("doc_id"))
        .as("postings"))
    byTerm.orderBy(col("df").desc, col("term")).limit(40)
      .select(col("term"), col("df"), col("cf"), posexplode(col("postings")))
      .select(col("term"), col("df"), col("cf"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("doc_id"), col("col._1").cast("long").as("tf"))
  }

  val invertedIndexSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS term
      |  FROM documents),
      | tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok
      |  WHERE len(term) > 0 GROUP BY 1, 2),
      | agg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
      | top AS (SELECT * FROM agg ORDER BY df DESC, term LIMIT 40),
      | ranked AS (SELECT tf.term, tf.doc_id, tf.tf,
      |    ROW_NUMBER() OVER (PARTITION BY tf.term
      |      ORDER BY tf.tf DESC, tf.doc_id) AS rank
      |  FROM tf JOIN top ON tf.term = top.term)
      |SELECT r.term, t.df, t.cf, CAST(r.rank AS INT) AS rank,
      |  r.doc_id, CAST(r.tf AS BIGINT) AS tf
      |FROM ranked r JOIN top t ON r.term = t.term
      |WHERE r.rank <= 10""".stripMargin

  // ------------------------------------------- content-defined chunking
  private val CdcWin = 16  // boundary-decision window (chars)
  private val CdcMask = 32 // boundary iff windowed hash % 32 == 0 (~32-char chunks)

  /** Content-defined chunking (the FastCDC/rsync idea, text-shaped): a
    * chunk boundary lands wherever the hash of the trailing [[CdcWin]]-char
    * window hits the [[CdcMask]] rule — boundaries depend ONLY on local
    * content, so an insertion near the head re-chunks one chunk and leaves
    * the rest byte-identical (shift invariance — the property fixed-width
    * chunking lacks, and the reason CDC is the storage-dedup layer under
    * every large blob/corpus store). Emits the chunk grain: (doc, idx,
    * start, len, chunk md5).
    *
    * The windowed hash is md5-of-window rather than a rolling Rabin/gear
    * hash — semantically identical boundaries (any content-local hash
    * works), O(W) per position instead of O(1), chosen because BOTH
    * engines can then compute the rule declaratively (no UDF on the Spark
    * side, plain SQL on the oracle side) and the whole operator stays
    * inside codegen as two higher-order expressions.
    *
    * Scale: per-row HOF work bounded by doc length; no explode of
    * positions ever reaches an exchange (boundaries collapse to an array
    * in the same projection); the only wide op downstream is whatever the
    * caller aggregates on chunk_hash.
    *
    * Memoized: the boundary expression evaluates one md5 per character
    * position per document (the oracle-replicable rolling-hash stand-in) —
    * the most expensive per-row expression in the doc family — and
    * [[cdcRatio]] consumes the chunk table twice (total + unique
    * aggregates). The cached table is chunk-grain (hash + offsets, no
    * text). */
  def cdcChunks(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("cdc-chunks", d)) {
      val bounds = expr(
        s"""concat(array(0L),
           |  IF(n_chars < ${CdcWin}L, CAST(array() AS ARRAY<BIGINT>),
           |    filter(sequence(${CdcWin}L, n_chars),
           |      i -> CAST(conv(substring(md5(substring(text, CAST(i - ${CdcWin - 1} AS INT), $CdcWin)), 1, 2), 16, 10) AS INT) % $CdcMask = 0
           |        AND i < n_chars)),
           |  array(n_chars))""".stripMargin)
      documents(spark, d)
        .select(col("doc_id"), col("text"), col("n_chars"), bounds.as("bs"))
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("text"),
          posexplode(expr(
            """transform(sequence(1, size(bs) - 1),
              |  k -> named_struct(
              |    'start', element_at(bs, k) + 1,
              |    'len', element_at(bs, k + 1) - element_at(bs, k)))""".stripMargin)))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
          col("col.start").as("start"), col("col.len").as("len"),
          md5(expr("substring(text, CAST(col.start AS INT), CAST(col.len AS INT))"))
            .as("chunk_hash"))
    }

  private val cdcBoundsSqlCtes: String =
    s"""pos AS (SELECT doc_id, unnest(generate_series($CdcWin, n_chars)) AS i
       |  FROM documents WHERE n_chars > 0),
       | b AS (SELECT pos.doc_id, i
       |   FROM pos JOIN documents d ON pos.doc_id = d.doc_id
       |   WHERE ('0x' || substr(md5(substr(d.text, CAST(i - ${CdcWin - 1} AS INT), $CdcWin)), 1, 2))::UBIGINT % $CdcMask = 0
       |     AND i < d.n_chars),
       | bounds AS (
       |   SELECT doc_id, 0 AS s FROM documents WHERE n_chars > 0
       |   UNION ALL SELECT doc_id, i AS s FROM b),
       | seg AS (SELECT bounds.doc_id, s,
       |     COALESCE(LEAD(s) OVER (PARTITION BY bounds.doc_id ORDER BY s),
       |       (SELECT MAX(n_chars) FROM documents d2
       |        WHERE d2.doc_id = bounds.doc_id)) AS e
       |   FROM bounds)""".stripMargin

  val cdcChunksSql: String =
    s"""WITH $cdcBoundsSqlCtes
       |SELECT seg.doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY seg.doc_id ORDER BY s) AS INT)
       |    AS chunk_idx,
       |  CAST(s + 1 AS BIGINT) AS start, CAST(e - s AS BIGINT) AS len,
       |  md5(substr(d.text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS chunk_hash
       |FROM seg JOIN documents d ON seg.doc_id = d.doc_id""".stripMargin

  /** The PRODUCTION chunker: FastCDC gear hash via the native
    * [[graft.functions.GearChunker]] expression — O(1) per byte where the
    * md5-window variant pays O(W), plus the min/max chunk bounds real
    * chunk stores require (measured here: the md5-window scan costs ~16x
    * the gear walk at x64 scale). Fully SQL-oracled since r10 by
    * [[cdcGearSql]]'s recursive-CTE replay of the suppressed walk (the
    * restart/min/max recurrence is sequential per document, but — like the
    * CUSUM clamp before it — it has a closed per-step form: given a chunk
    * start, the NEXT boundary is a pure function of position-local window
    * hashes, so the recursion steps chunk-by-chunk, not byte-by-byte).
    * `GearChunkerSpec` (tiling, bounds, shift-invariance, reference replay)
    * and [[cdcGearNosupp]]'s window-function oracle stay as independent
    * pins of the same table/recurrence/mask math.
    * Same exchange-free shape: chunks collapse in-row. */
  def cdcGear(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.gearChunks(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        col("col.hash").as("chunk_hash"))

  /** The gear chunker's hash math under a FULL SQL oracle: the same gear
    * table, shift-add recurrence and mask test as [[cdcGear]] with the
    * sequential-only features (restart, min/max suppression) disabled —
    * see [[graft.functions.GearChunker.rawChunks]] for why that makes the
    * boundary set a pure 21-codepoint window function the oracle replays
    * from the embedded table constants. Chunk identity here is
    * md5-of-span (both engines can compute it); the production fnv64 stays
    * pinned by `GearChunkerSpec`'s reference replay. */
  def cdcGearNosupp(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("text"),
        posexplode(graft.functions.GraftFunctions.gearChunksRaw(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
        col("col.start").cast("long").as("start"),
        col("col.len").cast("long").as("len"),
        md5(expr("substring(text, col.start, col.len)")).as("chunk_hash"))

  /** Independent replay of the gear recurrence: with no restart, bit p of
    * h sees only the last p+1 codepoints and the mask tops out at 2^20, so
    * `h_i & Mask` needs exactly `Σ_{k=0..20} G[cp_{i-k}]·2^k mod 2^21` —
    * computed here as a per-position window sum over the gear table
    * embedded (mod 2^21) as a literal. Bound: 21 terms ≤ 2^21·2^20 each,
    * far inside BIGINT. */
  val cdcGearNosuppSql: String = {
    import graft.functions.GearChunker
    s"""WITH gl AS (SELECT ${GearChunker.gearTableLow21.mkString("[", ",", "]")} AS g),
       | t AS (SELECT doc_id, text, length(text) AS n FROM documents
       |       WHERE n_chars > 0),
       | pos AS (SELECT doc_id, text, n, unnest(generate_series(1, n)) AS i
       |         FROM t),
       | hb AS (SELECT doc_id, n, i,
       |     CAST(list_sum(list_transform(generate_series(0, least(20, i - 1)),
       |       k -> (g[ord(substr(text, CAST(i - k AS INT), 1)) % 256 + 1]
       |             * (CAST(1 AS BIGINT) << k)) % 2097152)) AS BIGINT)
       |       % 2097152 AS h
       |   FROM pos, gl),
       | bounds AS (
       |   SELECT doc_id, n, 0 AS s FROM t
       |   UNION ALL
       |   SELECT doc_id, n, i AS s FROM hb
       |   WHERE (h & ${GearChunker.Mask}) = 0 AND i < n),
       | seg AS (SELECT doc_id, s,
       |     COALESCE(LEAD(s) OVER (PARTITION BY doc_id ORDER BY s), n) AS e
       |   FROM bounds)
       |SELECT seg.doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY seg.doc_id ORDER BY s) AS INT)
       |    AS chunk_idx,
       |  CAST(s + 1 AS BIGINT) AS start, CAST(e - s AS BIGINT) AS len,
       |  md5(substr(d.text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS chunk_hash
       |FROM seg JOIN documents d ON seg.doc_id = d.doc_id""".stripMargin
  }

  /** Full replay of the PRODUCTION suppressed gear walk in DuckDB — the
    * oracle for [[cdcGear]], retiring its `no_oracle` status. Why it works:
    * the walk's state (hash restart at every cut, MinLen skip, MaxLen
    * force-cut) is sequential per BYTE, but chunk-to-chunk it collapses to
    * a closed form. With the hash restarted at chunk start s, bit p of h
    * at position i sees only the last p+1 bytes SINCE s, and the mask tops
    * out at 2^20 — so the boundary test at i is `(Σ_{k=0..min(20,i-s-1)}
    * G[b_{i-k}]·2^k mod 2^21) & Mask = 0`, a pure function of (i, i-s).
    * `cand` precomputes every (position, window-width) pair that clears
    * the mask (w = 21 standing for "window full", i.e. len ≥ 21); the
    * recursive CTE then walks chunk-by-chunk: from start s the next cut is
    * the least candidate i with the matching width, clamped by the MaxLen
    * force-cut at s+128 and the no-cut-at-last-byte rule (i < n), ending
    * at n. Recursion depth = max chunks per document (≤ n/MinLen), not
    * bytes. Chunk identity is the production FNV-1a 64 itself, folded in
    * HUGEINT arithmetic mod 2^64 over the hex-decoded bytes and re-signed
    * to match the LongType column. Byte-exact vs the Scala walk at sf0.01
    * AND sf0.1 (4,248 / 42,212 chunks, zero mismatches). */
  val cdcGearSql: String = {
    import graft.functions.GearChunker
    s"""WITH RECURSIVE
       | gl AS (SELECT ${GearChunker.gearTableLow21.mkString("[", ",", "]")} AS g),
       | t AS (SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |       FROM documents WHERE n_chars > 0),
       | bl AS (SELECT doc_id, n, hx,
       |     list_transform(generate_series(1, CAST(n AS INT)),
       |       j -> CAST(('0x' || substr(hx, 2*j - 1, 2)) AS BIGINT)) AS bs
       |   FROM t),
       | arr AS (SELECT doc_id, n, i,
       |     list_transform(generate_series(0, CAST(least(20, i - 1) AS INT)),
       |       k -> (g[bs[CAST(i - k AS INT)] + 1] * (CAST(1 AS BIGINT) << k)) % 2097152) AS a
       |   FROM bl, gl, (SELECT unnest(generate_series(1, CAST(n AS INT))) AS i)),
       | cand AS (SELECT doc_id, n, i, w
       |   FROM arr, (SELECT unnest(generate_series(8, 21)) AS w) ws
       |   WHERE w <= i
       |     AND (CAST(list_sum(a[1:CAST(w AS INT)]) AS BIGINT) % 2097152 & ${GearChunker.Mask}) = 0),
       | chunks AS (
       |   SELECT doc_id, n, 1 AS chunk_idx, CAST(0 AS BIGINT) AS s,
       |     LEAST(COALESCE((SELECT MIN(c.i) FROM cand c
       |         WHERE c.doc_id = t.doc_id AND c.i < t.n AND c.i <= 127
       |           AND ((c.w = 21 AND c.i >= 21) OR (c.w < 21 AND c.w = c.i))),
       |       9223372036854775807), CAST(128 AS BIGINT), n) AS e
       |   FROM t
       |   UNION ALL
       |   SELECT doc_id, n, chunk_idx + 1, e AS s,
       |     LEAST(COALESCE((SELECT MIN(c.i) FROM cand c
       |         WHERE c.doc_id = ch.doc_id AND c.i < ch.n AND c.i <= ch.e + 127
       |           AND ((c.w = 21 AND c.i >= ch.e + 21)
       |             OR (c.w < 21 AND c.w = c.i - ch.e))),
       |       9223372036854775807), ch.e + 128, n) AS e
       |   FROM chunks ch WHERE e < n)
       |SELECT ch.doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |  CAST(s + 1 AS INT) AS start, CAST(e - s AS INT) AS len,
       |  CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
       |       THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT) AS chunk_hash
       |FROM (SELECT ch.*, list_reduce(
       |    list_prepend(14695981039346656037::HUGEINT,
       |      list_transform(generate_series(CAST(s + 1 AS INT), CAST(e AS INT)),
       |        j -> CAST(CAST(('0x' || substr(bl.hx, 2*j - 1, 2)) AS BIGINT) AS HUGEINT))),
       |    (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
       |      % 18446744073709551616::HUGEINT) AS f
       |  FROM chunks ch JOIN bl ON ch.doc_id = bl.doc_id) ch""".stripMargin
  }

  /** The CDC payoff in one row: unique-chunk storage ratio over the
    * corpus — what a chunk store would actually hold vs raw bytes. */
  def cdcRatio(spark: SparkSession, d: String): DataFrame = {
    val chunks = cdcChunks(spark, d)
    val uniq = chunks.groupBy(col("chunk_hash"))
      .agg(min(col("len")).as("len"))
    chunks.agg(count(lit(1)).as("total_chunks"),
        sum(col("len")).as("total_bytes"))
      .crossJoin(broadcast(uniq.agg(
        count(lit(1)).as("unique_chunks"),
        sum(col("len")).as("unique_bytes"))))
      .select(col("total_chunks"), col("unique_chunks"),
        col("total_bytes"), col("unique_bytes"),
        round(col("unique_bytes").cast("double") / col("total_bytes"), 6)
          .as("storage_ratio"))
  }

  val cdcRatioSql: String =
    s"""WITH $cdcBoundsSqlCtes,
       | chunks AS (SELECT seg.doc_id, CAST(e - s AS BIGINT) AS len,
       |    md5(substr(d.text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS chunk_hash
       |  FROM seg JOIN documents d ON seg.doc_id = d.doc_id),
       | u AS (SELECT chunk_hash, MIN(len) AS len FROM chunks GROUP BY 1)
       |SELECT CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS total_chunks,
       |  CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS unique_chunks,
       |  CAST((SELECT SUM(len) FROM chunks) AS BIGINT) AS total_bytes,
       |  CAST((SELECT SUM(len) FROM u) AS BIGINT) AS unique_bytes,
       |  ROUND(CAST((SELECT SUM(len) FROM u) AS DOUBLE)
       |    / (SELECT SUM(len) FROM chunks), 6) AS storage_ratio""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_cdc_chunks"         -> (cdcChunks _),
    "doc_cdc_ratio"          -> (cdcRatio _),
    "doc_cdc_gear"           -> (cdcGear _),
    "doc_cdc_gear_nosupp"    -> (cdcGearNosupp _),
    "doc_luhn_scan"          -> (luhnScan _),
    "doc_inverted_index"     -> (invertedIndex _),
    "doc_dict_tag"           -> (dictTag _),
    "doc_dict_terms"         -> (dictTerms _),
    "doc_setsim_join"        -> (setsimJoin _),
    "doc_setsim_capped"      -> (setsimJoinCapped _),
    "doc_setsim_recall"      -> (setsimRecall _),
    "doc_vocab_link"         -> (vocabLink _),
    "doc_typo_pairs"         -> (typoPairs _),
    "doc_fuzzy_dedup"        -> (fuzzyDedup _),
    "doc_fuzzy_blocked"      -> (fuzzyDedupBlocked _),
    "doc_fuzzy_recall"       -> (fuzzyRecall _),
    "doc_contamination_rate" -> (contaminationRate _),
    "doc_tfidf_knn"          -> (tfidfKnn _),
    "doc_tfidf_capped"       -> (tfidfKnnCapped _),
    "doc_tfidf_recall"       -> (tfidfRecall _),
    "doc_hash_classifier"    -> (hashClassifier _),
    "doc_nb_classify"        -> (nbClassify _),
    "doc_rake_keywords"      -> (rakeKeywords _),
    "doc_textrank"           -> (textrank _),
    "doc_zipf_fit"           -> (zipfFit _),
    "doc_ngram_novelty"      -> (ngramNovelty _),
    "doc_importance"   -> (importance _),
    "doc_dsir_select"  -> (dsirSelect _),
    "doc_paragraph_dedup" -> (paragraphDedup _),
    "doc_substring_dedup" -> (substringDedup _),
    "doc_chunk"        -> (chunk _),
    "doc_shard_pack"   -> (shardPack _),
    "doc_unigram_lm"   -> (unigramLm _),
    "doc_bigram_lm"    -> (bigramLm _),
    "doc_kn_bigram"    -> (knBigram _),
    "doc_source_mix"   -> (sourceMix _),
    "doc_mix_temperature" -> (mixTemperature _),
    "doc_domain_reweight" -> (domainReweight _),
    "doc_mix_apply"       -> (mixApply _),
    "doc_bpe_train"       -> (bpeTrain _),
    "doc_bpe_encode"      -> (bpeEncode _),
    "doc_unigram_tok"     -> (unigramTok _),
    "doc_wordpiece"       -> (wordpieceTok _),
    "doc_curriculum"      -> (curriculum _),
    "doc_filter_chain" -> (filterChain _),
    "doc_token_counts" -> (tokenCounts _),
    "doc_winnow"       -> (winnowFingerprints _),
    "doc_pii_scrub"    -> (piiScrub _),
    "doc_html_strip"   -> (htmlStrip _),
    "doc_unicode_clean" -> (unicodeClean _),
    "doc_classifier_eval" -> (classifierEval _),
    "doc_sample"       -> (sampleDeterministic _),
    "doc_split"        -> (splitAssign _),
    "doc_split_decontam" -> (splitDecontam _),
    "doc_corpus_stats" -> (corpusStats _),
    "doc_line_dedup"   -> (lineDedup _),
    "doc_fertility"    -> (fertility _),
    "doc_stratified_sample" -> (stratifiedSample _),
    "doc_weighted_sample" -> (weightedSample _),
    "doc_quality_buckets"   -> (qualityBuckets _),
    "doc_decontaminate" -> (decontaminate _),
    "doc_vocab_topk"   -> (vocabTopK _),
    "doc_collocations" -> (collocations _),
    "doc_readability"  -> (readability _),
    "doc_dedup_exact"     -> (dedupExact _),
    "doc_fingerprint"     -> (fingerprint _),
    "doc_token_stats"     -> (tokenStats _),
    "doc_quality"         -> (quality _),
    "doc_char_entropy"    -> (charEntropy _),
    "doc_langid"          -> (langId _),
    "doc_neardup_jaccard" -> (neardupJaccard _),
    "doc_containment" -> (containment _),
    "doc_dedup_clusters"  -> (dedupClusters _),
    "doc_minhash_lsh"     -> (minhashLsh _),
    "doc_dedup_sweep"     -> (dedupSweep _),
    "doc_minhash_dedup"   -> (minhashDedup _),
    "doc_cross_dedup"     -> (crossDedup _),
    "doc_url_dedup"       -> (urlDedup _),
    "doc_simhash_pairs"   -> (simhashPairs _),
    "doc_repetition"      -> (repetition _),
    "doc_bm25"            -> (bm25 _))

  val oracles: Map[String, String] = Map(
    "doc_cdc_chunks"         -> cdcChunksSql,
    "doc_cdc_ratio"          -> cdcRatioSql,
    "doc_cdc_gear"           -> cdcGearSql,
    "doc_cdc_gear_nosupp"    -> cdcGearNosuppSql,
    "doc_luhn_scan"          -> luhnScanSql,
    "doc_inverted_index"     -> invertedIndexSql,
    "doc_dict_tag"           -> dictTagSql,
    "doc_dict_terms"         -> dictTermsSql,
    "doc_setsim_join"        -> setsimJoinSql,
    "doc_setsim_capped"      -> setsimCappedSql,
    "doc_setsim_recall"      -> setsimRecallSql,
    "doc_vocab_link"         -> vocabLinkSql,
    "doc_typo_pairs"         -> typoPairsSql,
    "doc_fuzzy_dedup"        -> fuzzyDedupSql,
    "doc_fuzzy_blocked"      -> fuzzyDedupBlockedSql,
    "doc_fuzzy_recall"       -> fuzzyRecallSql,
    "doc_contamination_rate" -> contaminationRateSql,
    "doc_tfidf_knn"          -> tfidfKnnSql,
    "doc_tfidf_capped"       -> tfidfCappedSql,
    "doc_tfidf_recall"       -> tfidfRecallSql,
    "doc_hash_classifier"    -> hashClassifierSql,
    "doc_nb_classify"        -> nbClassifySql,
    "doc_rake_keywords"      -> rakeKeywordsSql,
    "doc_textrank"           -> textrankSql,
    "doc_zipf_fit"           -> zipfFitSql,
    "doc_ngram_novelty"      -> ngramNoveltySql,
    "doc_importance"      -> importanceSql,
    "doc_dsir_select"     -> dsirSelectSql,
    "doc_paragraph_dedup" -> paragraphDedupSql,
    "doc_substring_dedup" -> substringDedupSql,
    "doc_chunk"           -> chunkSql,
    "doc_shard_pack"      -> shardPackSql,
    "doc_unigram_lm"      -> unigramLmSql,
    "doc_bigram_lm"       -> bigramLmSql,
    "doc_kn_bigram"       -> knBigramSql,
    "doc_bpe_train"       -> bpeTrainSql,
    "doc_bpe_encode"      -> bpeEncodeSql,
    "doc_unigram_tok"     -> unigramTokSql,
    "doc_wordpiece"       -> wordpieceTokSql,
    "doc_source_mix"      -> sourceMixSql,
    "doc_mix_temperature" -> mixTemperatureSql,
    "doc_domain_reweight" -> domainReweightSql,
    "doc_mix_apply"       -> mixApplySql,
    "doc_curriculum"      -> curriculumSql,
    "doc_filter_chain"    -> filterChainSql,
    "doc_token_counts"    -> tokenCountsSql,
    "doc_winnow"          -> winnowSql,
    "doc_pii_scrub"       -> piiScrubSql,
    "doc_html_strip"      -> htmlStripSql,
    "doc_unicode_clean"   -> unicodeCleanSql,
    "doc_classifier_eval" -> classifierEvalSql,
    "doc_sample"          -> sampleDeterministicSql,
    "doc_split"           -> splitAssignSql,
    "doc_split_decontam"  -> splitDecontamSql,
    "doc_corpus_stats"    -> corpusStatsSql,
    "doc_line_dedup"      -> lineDedupSql,
    "doc_fertility"       -> fertilitySql,
    "doc_stratified_sample" -> stratifiedSampleSql,
    "doc_weighted_sample" -> weightedSampleSql,
    "doc_quality_buckets"   -> qualityBucketsSql,
    "doc_decontaminate"   -> decontaminateSql,
    "doc_vocab_topk"      -> vocabTopKSql,
    "doc_collocations"    -> collocationsSql,
    "doc_readability"     -> readabilitySql,
    "doc_dedup_exact"     -> dedupExactSql,
    "doc_fingerprint"     -> fingerprintSql,
    "doc_token_stats"     -> tokenStatsSql,
    "doc_quality"         -> qualitySql,
    "doc_char_entropy"    -> charEntropySql,
    "doc_langid"          -> langIdSql,
    "doc_neardup_jaccard" -> neardupJaccardSql,
    "doc_containment" -> containmentSql,
    "doc_dedup_clusters"  -> dedupClustersSql,
    "doc_minhash_lsh"     -> minhashLshSql,
    "doc_dedup_sweep"     -> dedupSweepSql,
    "doc_minhash_dedup"   -> minhashDedupSql,
    "doc_cross_dedup"     -> crossDedupSql,
    "doc_url_dedup"       -> urlDedupSql,
    "doc_simhash_pairs"   -> simhashPairsSql,
    "doc_repetition"      -> repetitionSql,
    "doc_bm25"            -> bm25Sql)
}
