package graft.queries

import graft.GraftConf
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table — the Spark-native
  * re-expression of the reference's stream-level semantics (SURVEY.md §2D):
  * sessionization (30-minute sliding inactivity window, reference
  * `resources/divolte.js:27`, `config/BrowserSourceConfiguration.java:40`),
  * duplicate detection (`ShortTermDuplicateMemory.java:108-178` — here as the
  * exact batch semantics: first-occurrence-wins per event key), event-parameter
  * extraction (`DslRecordMapping.java:575-632`), and the downstream rollups the
  * reference delegates to Spark (`docs/introduction.rst:110-113`).
  *
  * Scale notes: every query here shuffles once on its natural key
  * (user_id or the group-by key) and aggregates partially map-side first.
  * Timestamps are normalized to epoch millis *before* any gap arithmetic so
  * the logic is precision-stable (parquet ns → Spark us truncation).
  */
object EventQueries {

  private val SessionGapMs = 30 * 60 * 1000L // reference: 30-min inactivity

  /** Constants shared across operators AND interpolated into oracle SQL
    * strings. Declared at the TOP of the object: vals initialize in source
    * order, and an oracle SQL val interpolating a not-yet-initialized Long
    * silently freezes a 0 into the query text (bitten TWICE — seq_count
    * shipped `0 PRECEDING`, mix_shift shipped a 0 cutoff). */
  private val FunnelWindowMs = 3600000L // 1 h funnel/sequence window
  private val CdcCutoffMs = 1705363200000L // 2024-01-16T00:00:00Z, mid-series

  /** The ONE deterministic A/B arm assignment (md5("ab"+user_id) low-32
    * mod 2): every experiment-family query buckets with this expression so
    * arms agree across readouts, and each oracle replays it in SQL. */
  private def abArm: Column = conv(substring(
      md5(concat(lit("ab"), col("user_id").cast("string"))), 25, 8), 16, 10)
    .cast("long") % 2

  /** events with ts as epoch-millis (ns parquet -> ms, floor). */
  private def ev(spark: SparkSession, d: String): DataFrame =
    events(spark, d).withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))

  /** Events with a lag/cumsum session id (`sid` per user) — the shared
    * sessionizer behind the session-scoped analytics (top paths, ordered
    * funnel). The `gap > SessionGapMs` rule matches `session_window`
    * INCLUDING the exact-boundary case: Spark merges sessions whose ranges
    * touch (an event at exactly prev+gap stays in the session — pinned by
    * PipelineSpec's boundary test), and `exactly-gap` is not `> gap`.
    *
    * Memoized: the per-user sessionization window is the shared prefix of
    * the session family, and [[sessionFunnel]] alone reads it three times
    * (stage table + two stage joins). */
  private def sessioned(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("sessioned", d)) {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      ev(spark, d)
        .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
        .withColumn("new_s",
          when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > SessionGapMs, 1)
            .when(lag(col("ts_ms"), 1).over(byUser).isNull, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(byUser))
        .drop("new_s")
    }

  /** The matching SQL CTE chain (`flagged` → `s` with user_id/ts_ms/
    * event_id/event_type/sid) for oracles over [[sessioned]]. */
  private val sessionedSqlCtes: String =
    """t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > 1800000 OR
      |                      LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |), s AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)""".stripMargin

  // ------------------------------------------------------------ mapping
  /** The per-event "mapping program" analog of the reference's default
    * mapping (`Mapping.java:70-100`): pure projection + JSON parameter
    * extraction + derived fields, all codegen'd built-ins — one narrow
    * stage, no shuffle at any scale. `get_json_object` ≡ the reference's
    * `eventParameters().value(name)` producer. */
  def mapping(spark: SparkSession, d: String): DataFrame =
    ev(spark, d).select(
      col("event_id"),
      col("ts_ms"),
      col("user_id"),
      col("event_type"),
      col("value"),
      get_json_object(col("props"), "$.k").cast("int").as("param_k"),
      (col("event_type") === "purchase").as("is_purchase"),
      floor(col("value") / 50).cast("long").as("value_bucket"))

  val mappingSql: String =
    """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value,
      |  CAST(json_extract_string(props, 'k') AS INT) AS param_k,
      |  event_type = 'purchase' AS is_purchase,
      |  CAST(FLOOR(value / 50) AS BIGINT) AS value_bucket
      |FROM events""".stripMargin

  // ------------------------------------------------------------ sessionize
  /** Sessionization via Spark's native `session_window` (gap-close semantics
    * identical to the reference's sliding 30-min inactivity timeout). One
    * shuffle on user_id; state merges map-side. In streaming mode the same
    * expression runs under a watermark (see graft.streaming). Output: one
    * row per (user, session) with start/end/count/value. */
  def sessionize(spark: SparkSession, d: String): DataFrame =
    sessionizeFrame(ev(spark, d))
      .withColumn("session_value", col("value_dec").cast("double"))
      .drop("value_dec")

  /** session_window aggregation with the money sum kept in exact DECIMAL —
    * shared by [[sessionize]] (casts at the edge) and the incremental
    * recombination (which must ADD two partial sums exactly before any
    * double cast, or merged sessions could differ in the last ulp from a
    * full recompute). */
  private def sessionizeFrame(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts").cast("timestamp"), "30 minutes"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("value_dec"))
      .drop("session_window")

  /** Incremental sessionization — the warehouse pattern for a daily
    * pipeline: yesterday's result plus today's delta WITHOUT re-scanning
    * history. Sessions whose end is more than the gap before the cutoff
    * are final (closed); the remaining "open" tail joins today's FIRST
    * session per user and merges when the inactivity rule says so (one
    * exact-decimal recombination per user — no chain is possible, since
    * consecutive delta sessions are already gap-separated). PipelineSpec
    * proves bit-exact equivalence with the full recompute across cutoffs.
    * Scale: the open tail is at most one row per active user, so the
    * incremental cost is the DELTA scan + a user-keyed join, independent
    * of history size. */
  def sessionizeIncremental(spark: SparkSession, d: String, cutoffMs: Long): DataFrame = {
    val base = ev(spark, d)
    val s1 = sessionizeFrame(base.filter(col("ts_ms") < cutoffMs))
    val s2 = sessionizeFrame(base.filter(col("ts_ms") >= cutoffMs))
    val closed = s1.filter(col("session_end_ms") <= cutoffMs - SessionGapMs)
    val open = s1.filter(col("session_end_ms") > cutoffMs - SessionGapMs)
      .select(col("user_id"), col("session_start_ms").as("o_start"),
        col("session_end_ms").as("o_end"), col("n_events").as("o_n"),
        col("value_dec").as("o_val"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start_ms"))
    val s2r = s2.withColumn("rn", row_number().over(w))
    val s2first = s2r.filter(col("rn") === 1)
      .select(col("user_id"), col("session_start_ms").as("f_start"),
        col("session_end_ms").as("f_end"), col("n_events").as("f_n"),
        col("value_dec").as("f_val"))
    val s2rest = s2r.filter(col("rn") > 1).drop("rn")
    // uniform struct field types across the CASE arms: the merged arm's
    // decimal sum is wider than a single partial, so every arm casts to
    // the widest money type
    def mk(st: Column, en: Column, n: Column, v: Column): Column =
      struct(st.as("session_start_ms"), en.as("session_end_ms"),
        n.as("n_events"), v.cast("decimal(38,2)").as("value_dec"))
    val recombined = open.join(s2first, Seq("user_id"), "full_outer")
      .select(col("user_id"), explode(
        when(col("o_start").isNull, array(mk(col("f_start"), col("f_end"), col("f_n"), col("f_val"))))
        .when(col("f_start").isNull, array(mk(col("o_start"), col("o_end"), col("o_n"), col("o_val"))))
        .when(col("f_start") - col("o_end") <= SessionGapMs,
          array(mk(col("o_start"), col("f_end"), col("o_n") + col("f_n"),
            col("o_val") + col("f_val"))))
        .otherwise(array(
          mk(col("o_start"), col("o_end"), col("o_n"), col("o_val")),
          mk(col("f_start"), col("f_end"), col("f_n"), col("f_val"))))).as("s"))
      .select(col("user_id"), col("s.*"))
    closed.unionByName(recombined.select(closed.columns.toIndexedSeq.map(col): _*))
      .unionByName(s2rest.select(closed.columns.toIndexedSeq.map(col): _*))
      .withColumn("session_value", col("value_dec").cast("double"))
      .drop("value_dec")
  }

  val sessionizeSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > 1800000 OR
      |                      LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      |), sessioned AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sessioned GROUP BY user_id, sid""".stripMargin

  // ------------------------------------------------------------ dedup (exact)
  /** Exact duplicate detection, batch form of the reference's probabilistic
    * `ShortTermDuplicateMemory` (first occurrence survives, later identical
    * keys are flagged): ranked window over the event key. The reference keys
    * on (partyId, sessionId, eventId); here the analog key is
    * (user_id, event_type, props). Returns the surviving rows. */
  def dedupExact(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("props"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev(spark, d)
      .select(col("user_id"), col("event_type"), col("props"), col("ts_ms"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  val dedupExactSql: String =
    """SELECT user_id, event_type, props, ts_ms, event_id FROM (
      |  SELECT user_id, event_type, props, epoch_ms(ts) AS ts_ms, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, props
      |                       ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------ daily rollup
  /** Daily activity rollup: the canonical downstream aggregate. Day is
    * emitted as a string so the oracle compare is type-stable. */
  def dailyRollup(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .groupBy(
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  val dailyRollupSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ A/B test
  /** A/B experiment readout: users bucket into two arms by a deterministic
    * md5 hash (the stable traffic-order-independent assignment every
    * experimentation platform uses), conversion = the user ever made a
    * HIGH-VALUE purchase (value > 75 — on the fixtures plain
    * ever-purchased converts literally everyone, which degenerates the
    * pooled variance to zero and would leave the z arithmetic
    * oracle-unexercised);
    * reports per-arm visitors/converters/rates, absolute lift, and the
    * pooled two-proportion z-score. One shuffle on user_id for the per-user
    * conversion flag, then a scalar aggregate — at 100 TB the readout costs
    * one keyed exchange; the z arithmetic runs on exact integer counts, so
    * even the test statistic hash-checks against the oracle. */
  def abtest(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val perUser = ev(spark, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 75, 1)
        .otherwise(0)).as("c"))
      .withColumn("arm", arm)
    val s = perUser.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).as("n0"),
      sum(when(col("arm") === 0, col("c")).otherwise(0)).as("c0"),
      sum(when(col("arm") === 1, 1).otherwise(0)).as("n1"),
      sum(when(col("arm") === 1, col("c")).otherwise(0)).as("c1"))
    val p0 = col("c0").cast("double") / col("n0")
    val p1 = col("c1").cast("double") / col("n1")
    val pp = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
    // degenerate readouts go NULL instead of dividing by zero: an empty
    // arm has no rate, and all-converted/none-converted traffic has zero
    // pooled variance (z undefined) — guarded identically in the oracle
    val ok = col("n0") > 0 && col("n1") > 0
    // z defined iff both arms have traffic AND conversion is mixed
    // (all-or-none traffic has zero pooled variance); the guard tests only
    // the integer counts so no division appears outside a taken branch
    val zok = ok && (col("c0") + col("c1")) > 0 &&
      (col("c0") + col("c1")) < (col("n0") + col("n1"))
    val se = sqrt(pp * (lit(1) - pp) *
      (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    s.select(col("n0"), col("c0"),
      round(when(col("n0") > 0, p0), 6).as("cvr0"),
      col("n1"), col("c1"),
      round(when(col("n1") > 0, p1), 6).as("cvr1"),
      round(when(ok, p1 - p0), 6).as("lift"),
      round(when(zok, (p1 - p0) / se), 6).as("z_score"))
  }

  val abtestSql: String =
    """WITH cu AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 75
      |        THEN 1 ELSE 0 END) AS c
      |  FROM events GROUP BY 1),
      | armed AS (SELECT
      |    CAST(('0x' || substr(md5('ab' || user_id::VARCHAR), 25, 8))
      |      ::UBIGINT AS BIGINT) % 2 AS arm, c FROM cu),
      | s AS (SELECT
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
      |    SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS c0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS c1
      |  FROM armed)
      |SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
      |  ROUND(CASE WHEN n0 > 0 THEN CAST(c0 AS DOUBLE) / n0 END, 6) AS cvr0,
      |  CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
      |  ROUND(CASE WHEN n1 > 0 THEN CAST(c1 AS DOUBLE) / n1 END, 6) AS cvr1,
      |  ROUND(CASE WHEN n0 > 0 AND n1 > 0 THEN
      |    CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0 END, 6) AS lift,
      |  ROUND(CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0
      |             AND c0 + c1 < n0 + n1 THEN
      |    (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) /
      |    sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
      |         (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
      |         (1.0 / n0 + 1.0 / n1)) END, 6) AS z_score
      |FROM s""".stripMargin

  // ----------------------------------------------- winsorized A/B metrics
  /** Robust revenue readout per experiment arm: raw, winsorized (p05/p95
    * clamp) and trimmed (p05/p95 drop) means of per-user purchase revenue
    * — the heavy-tail discipline every revenue experiment needs (one whale
    * user otherwise owns the lift). Same deterministic md5 arm assignment
    * as [[abtest]].
    *
    * The p05/p95 thresholds come from the EXACT distributed CDF
    * ([[exactQuantiles]]'s shape: per-(arm, value) counts, cumulative sum,
    * rank = ceil(q*n) in IEEE doubles — the quantile_disc parity rule), so
    * the whole readout is integer-exact until the final rounded division.
    *
    * Scale: one user-grain shuffle for revenue, one (arm, value) CDF
    * aggregation (map-side combinable, the compressed-histogram trick),
    * and a 2-row broadcast of the thresholds back onto the per-user frame.
    * Nothing global-sorts. */
  def winsorized(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    // localCheckpoint the user-grain table (the fdr_bh/mutual_info/cuped
    // pattern): the CDF branch and the final clamp join both read it, and
    // uncheckpointed each re-ran the events scan + per-user aggregate —
    // one fact pass per invocation instead of two. Model-sized (one row
    // per user), per-invocation scratch, deliberately NOT MemoCache.
    val perUser = ev(spark, d)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1000).cast("long"))), lit(0L)).as("rev"))
      .withColumn("arm", arm)
      .localCheckpoint()
    val cum = perUser.groupBy(col("arm"), col("rev"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("arm").orderBy("rev")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("arm")))
    val thresholds = cum.groupBy(col("arm")).agg(
      min(when(col("cum") >= ceil(lit(0.05) * col("n").cast("double")),
        col("rev"))).as("lo"),
      min(when(col("cum") >= ceil(lit(0.95) * col("n").cast("double")),
        col("rev"))).as("hi"))
    perUser.join(broadcast(thresholds), Seq("arm"))
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("rev")).cast("double") / count(lit(1)), 6)
          .as("mean_raw"),
        round(sum(greatest(col("lo"), least(col("hi"), col("rev"))))
          .cast("double") / count(lit(1)), 6).as("mean_winsor"),
        round(sum(when(col("rev").between(col("lo"), col("hi")), col("rev")))
          .cast("double") /
          sum(when(col("rev").between(col("lo"), col("hi")), 1L)), 6)
          .as("mean_trimmed"))
  }

  val winsorizedSql: String =
    """WITH pu AS (SELECT user_id,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(value * 1000) AS BIGINT) END), 0) AS rev
      |  FROM events GROUP BY 1),
      | armed AS (SELECT
      |    CAST(('0x' || substr(md5('ab' || user_id::VARCHAR), 25, 8))
      |      ::UBIGINT AS BIGINT) % 2 AS arm, rev FROM pu),
      | th AS (SELECT arm, quantile_disc(rev, 0.05) AS lo,
      |    quantile_disc(rev, 0.95) AS hi FROM armed GROUP BY 1)
      |SELECT armed.arm, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 6) AS mean_raw,
      |  ROUND(CAST(SUM(GREATEST(lo, LEAST(hi, rev))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_winsor,
      |  ROUND(CAST(SUM(CASE WHEN rev BETWEEN lo AND hi THEN rev END)
      |      AS DOUBLE)
      |    / SUM(CASE WHEN rev BETWEEN lo AND hi THEN 1 END), 6)
      |      AS mean_trimmed
      |FROM armed JOIN th ON armed.arm = th.arm
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------ data-quality profile
  /** Column profiler — the data-quality pass every ingest runs before
    * anything downstream trusts the table: per column, row count, null
    * count, exact distinct count, and min/max (rendered as strings so one
    * frame covers heterogeneous types). One aggregation over the fact
    * table computes every column's stats in a single pass (map-side
    * partial, no per-column scans); the per-column rows are unpivoted
    * from that one result row.
    *
    * Exact distincts are the right default at the profile grain; the
    * approx_count_distinct/HLL swap is one word when a column's
    * cardinality approaches row count (see the sketch rollup family). */
  def profile(spark: SparkSession, d: String): DataFrame = {
    val e = ev(spark, d)
    val cols = Seq("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    // doubles render through DECIMAL(24,6): a double's direct string form
    // is shortest-repr and engine-specific; the fixed-scale decimal is
    // canonical in both
    def asStr(c: String): Column => Column =
      if (c == "value") (_: Column).cast("decimal(24,6)").cast("string")
      else (_: Column).cast("string")
    // One aggregation PER COLUMN, unioned — not one aggregation with six
    // countDistincts: multiple distinct aggregates plan as a 7x Expand of
    // the full fact stream feeding one wide hash aggregate (measured 27
    // CPU-s at sf0.1 for 100k rows), while a single-distinct branch plans
    // as a plain two-phase aggregate keyed on its own column with NO
    // Expand, and a columnar scan reads just that column per branch — same
    // total bytes, 1/7th of the row traffic.
    val branches = cols.map { c =>
      e.agg(count(lit(1)).as("n"), count(col(c)).as("nn"),
        countDistinct(col(c)).as("nd"),
        asStr(c)(min(col(c))).as("mn"), asStr(c)(max(col(c))).as("mx"))
        .select(lit(c).as("column_name"), col("n"),
          (col("n") - col("nn")).as("n_null"), col("nd").as("n_distinct"),
          col("mn").as("min_str"), col("mx").as("max_str"))
    }
    branches.reduce(_.unionByName(_))
  }

  val profileSql: String = {
    val per = Seq("event_id", "epoch_ms(ts)", "user_id", "event_type",
      "value", "props").zip(
      Seq("event_id", "ts_ms", "user_id", "event_type", "value", "props"))
      .map { case (ex, name) =>
        val mn = if (name == "value") s"CAST(CAST(MIN($ex) AS DECIMAL(24,6)) AS VARCHAR)"
                 else s"CAST(MIN($ex) AS VARCHAR)"
        val mx = if (name == "value") s"CAST(CAST(MAX($ex) AS DECIMAL(24,6)) AS VARCHAR)"
                 else s"CAST(MAX($ex) AS VARCHAR)"
        s"""SELECT '$name' AS column_name,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(*) - COUNT($ex) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $ex) AS BIGINT) AS n_distinct,
           |  $mn AS min_str, $mx AS max_str
           |FROM events""".stripMargin
      }
    per.mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------- distribution drift
  /** Segment-mix drift between the first and second half of the series:
    * Jensen-Shannon divergence between the two halves' event-type
    * distributions, with per-type contribution rows — the monitor that
    * catches a traffic-mix shift (bot influx, a client release changing
    * event emission) before per-metric alarms fire. JSD is bounded
    * [0, ln 2], symmetric, and finite even when a type exists in only one
    * half — the reason it beats raw KL for drift.
    *
    * Exact integer counts; the log arithmetic is an identical expression
    * tree in both engines. One map-side (half, type) aggregation; the
    * divergence lives on the |types|-row frame. */
  def mixShift(spark: SparkSession, d: String): DataFrame = {
    val half = when(col("ts_ms") < CdcCutoffMs, 0).otherwise(1)
    val counts = ev(spark, d)
      .groupBy(col("event_type"))
      .agg(sum(when(half === 0, 1L).otherwise(0L)).as("a"),
        sum(when(half === 1, 1L).otherwise(0L)).as("b"))
    val tot = Window.partitionBy(lit(1))
    val p = col("a").cast("double") / sum(col("a")).over(tot)
    val q = col("b").cast("double") / sum(col("b")).over(tot)
    val term = (c: Column) =>
      when(c > 0, c * log(c / ((col("p") + col("q")) / 2.0))).otherwise(0.0)
    counts
      .withColumn("p", p).withColumn("q", q)
      .withColumn("contrib", (term(col("p")) + term(col("q"))) / 2.0)
      .select(col("event_type"),
        col("a").as("n_first"), col("b").as("n_second"),
        round(col("p"), 6).as("p_first"),
        round(col("q"), 6).as("p_second"),
        round(col("contrib"), 6).as("js_contrib"),
        round(sum(col("contrib")).over(tot), 6).as("js_divergence"))
  }

  val mixShiftSql: String =
    s"""WITH c AS (SELECT event_type,
       |    SUM(CASE WHEN epoch_ms(ts) < $CdcCutoffMs THEN 1 ELSE 0 END) AS a,
       |    SUM(CASE WHEN epoch_ms(ts) < $CdcCutoffMs THEN 0 ELSE 1 END) AS b
       |  FROM events GROUP BY 1),
       | pq AS (SELECT event_type, a, b,
       |    CAST(a AS DOUBLE) / SUM(a) OVER () AS p,
       |    CAST(b AS DOUBLE) / SUM(b) OVER () AS q
       |  FROM c),
       | t AS (SELECT *,
       |    ((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) +
       |     (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)) / 2.0
       |      AS contrib
       |  FROM pq)
       |SELECT event_type, CAST(a AS BIGINT) AS n_first,
       |  CAST(b AS BIGINT) AS n_second,
       |  ROUND(p, 6) AS p_first, ROUND(q, 6) AS p_second,
       |  ROUND(contrib, 6) AS js_contrib,
       |  ROUND(SUM(contrib) OVER (), 6) AS js_divergence
       |FROM t""".stripMargin

  // --------------------------------------------------- Benford screen
  /** Benford first-digit screen over the value column — the forensic
    * data-quality check for fabricated or unit-mixed numeric feeds: the
    * observed leading-digit distribution vs Benford's log10(1 + 1/d),
    * with the chi-square statistic (8 dof). The leading digit comes from
    * the repo's standard cents-scaled LONG (first char of its decimal
    * rendering — integer-to-string is canonical in both engines, where a
    * double's shortest-repr string or a log10 at a power-of-ten boundary
    * is not). Exact integer digit counts; everything past the one
    * map-side digit aggregation lives on a 9-row frame. */
  def benford(spark: SparkSession, d: String): DataFrame = {
    val scaled = abs(floor(col("value") * 1000).cast("long"))
    val digit = substring(scaled.cast("string"), 1, 1).cast("int")
    val counts = ev(spark, d)
      .filter(col("value").isNotNull)
      .select(scaled.as("s"), digit.as("digit"))
      .filter(col("s") > 0)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(lit(1))
    // ln-ratio instead of a log10 builtin: both engines then evaluate the
    // IDENTICAL tree (a dedicated log10 can differ from ln(x)/ln(10) by an
    // ulp, which the unrounded chi-square accumulation would carry)
    val expected = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    counts
      .withColumn("total", sum(col("n")).over(tot))
      .withColumn("p_obs", col("n").cast("double") / col("total"))
      .withColumn("p_benford", expected)
      .withColumn("chi_term",
        (col("n") - col("total") * col("p_benford")) *
          (col("n") - col("total") * col("p_benford")) /
          (col("total") * col("p_benford")))
      .select(col("digit"), col("n"),
        round(col("p_obs"), 6).as("p_obs"),
        round(col("p_benford"), 6).as("p_benford"),
        round(sum(col("chi_term")).over(tot), 6).as("chi2"),
        (round(sum(col("chi_term")).over(tot), 6) > 15.507).as("rejected"))
  }

  val benfordSql: String =
    """WITH v AS (SELECT
      |    abs(CAST(FLOOR(value * 1000) AS BIGINT)) AS s,
      |    CAST(substr(CAST(abs(CAST(FLOOR(value * 1000) AS BIGINT))
      |      AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM events WHERE value IS NOT NULL),
      | c AS (SELECT digit, COUNT(*) AS n FROM v
      |   WHERE s > 0 GROUP BY 1),
      | s AS (SELECT digit, n, SUM(n) OVER () AS total,
      |    ln(1.0 + 1.0 / digit) / ln(10.0) AS p_benford FROM c),
      | t AS (SELECT *,
      |    (n - total * p_benford) * (n - total * p_benford)
      |      / (total * p_benford) AS chi_term
      |  FROM s)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(n AS DOUBLE) / total, 6) AS p_obs,
      |  ROUND(p_benford, 6) AS p_benford,
      |  ROUND(SUM(chi_term) OVER (), 6) AS chi2,
      |  ROUND(SUM(chi_term) OVER (), 6) > 15.507 AS rejected
      |FROM t""".stripMargin

  // --------------------------------------------- mSPRT always-valid test
  /** Mixture sequential probability ratio test (the "always-valid p-value"
    * of Johari et al. 2017) over the daily-cumulating two-proportion
    * experiment — the monitor that lets an experiment be PEEKED at daily
    * without alpha inflation (the fixed-horizon z of [[abtest]] is invalid
    * under optional stopping). Per day: cumulative users/conversions per
    * arm, theta = p1 - p0, V = pooled variance of theta, the normal-
    * mixture likelihood ratio Lambda = sqrt(V/(V+tau2)) *
    * exp(theta^2 tau2 / (2 V (V+tau2))), and the always-valid p = running
    * min of 1/Lambda (capped at 1), with tau2 = 0.01 (the mixture prior
    * width, a shared literal). Degenerate days (V = 0) contribute nothing
    * — the p carries forward, exactly like the reference implementation's
    * "no information yet" state.
    *
    * Determinism: cumulative counts are exact integers; theta/V/Lambda
    * are identical expression trees in both engines (IEEE doubles are
    * deterministic given identical ops), and the running min only ever
    * SELECTS one of those values. Scale: one map-side (arm, day)
    * aggregation; all windows run on the day-grain frame. */
  def msprt(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val convUser = ev(spark, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" && col("value") > 75,
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd"))).as("conv_day"),
        min(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd")).as("first_day"))
      .withColumn("arm", arm)
    // per day: users entering (first seen) and conversions landing that day
    val enter = convUser.groupBy(col("first_day").as("day"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("u0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("u1"))
    val convs = convUser.filter(col("conv_day").isNotNull)
      .groupBy(col("conv_day").as("day"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = enter.join(convs, Seq("day"), "full")
      .select(col("day"),
        coalesce(col("u0"), lit(0L)).as("u0"), coalesce(col("u1"), lit(0L)).as("u1"),
        coalesce(col("c0"), lit(0L)).as("c0"), coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("n0", sum(col("u0")).over(run))
      .withColumn("n1", sum(col("u1")).over(run))
      .withColumn("k0", sum(col("c0")).over(run))
      .withColumn("k1", sum(col("c1")).over(run))
    val p0 = col("k0").cast("double") / col("n0")
    val p1 = col("k1").cast("double") / col("n1")
    val pp = (col("k0") + col("k1")).cast("double") / (col("n0") + col("n1"))
    val v = pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0") + lit(1.0) / col("n1"))
    val tau2 = lit(0.01)
    val theta = p1 - p0
    val lambda = sqrt(col("v") / (col("v") + tau2)) *
      exp(col("theta") * col("theta") * tau2 /
        (lit(2.0) * col("v") * (col("v") + tau2)))
    val stats = daily
      .withColumn("v", when(col("n0") > 0 && col("n1") > 0, v))
      .withColumn("theta", when(col("n0") > 0 && col("n1") > 0, theta))
      .withColumn("lam", when(col("v") > 0, lambda))
      .withColumn("p_av", least(lit(1.0),
        min(when(col("lam").isNotNull, lit(1.0) / col("lam"))).over(run)))
    stats.select(col("day"), col("n0"), col("n1"), col("k0"), col("k1"),
      round(col("theta"), 6).as("theta"),
      round(col("p_av"), 6).as("p_always_valid"),
      coalesce(col("p_av") < 0.05, lit(false)).as("significant"))
  }

  val msprtSql: String =
    """WITH cu AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'purchase' AND value > 75
      |        THEN strftime(ts, '%Y-%m-%d') END) AS conv_day,
      |    MIN(strftime(ts, '%Y-%m-%d')) AS first_day
      |  FROM events GROUP BY 1),
      | armed AS (SELECT *,
      |    CAST(('0x' || substr(md5('ab' || user_id::VARCHAR), 25, 8))
      |      ::UBIGINT AS BIGINT) % 2 AS arm FROM cu),
      | enter AS (SELECT first_day AS day,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS u0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS u1
      |  FROM armed GROUP BY 1),
      | convs AS (SELECT conv_day AS day,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1
      |  FROM armed WHERE conv_day IS NOT NULL GROUP BY 1),
      | daily AS (SELECT COALESCE(enter.day, convs.day) AS day,
      |    COALESCE(u0, 0) AS u0, COALESCE(u1, 0) AS u1,
      |    COALESCE(c0, 0) AS c0, COALESCE(c1, 0) AS c1
      |  FROM enter FULL OUTER JOIN convs ON enter.day = convs.day),
      | cum AS (SELECT day,
      |    SUM(u0) OVER w AS n0, SUM(u1) OVER w AS n1,
      |    SUM(c0) OVER w AS k0, SUM(c1) OVER w AS k1
      |  FROM daily WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
      | st AS (SELECT day, n0, n1, k0, k1,
      |    CASE WHEN n0 > 0 AND n1 > 0 THEN
      |      CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0 END AS theta,
      |    CASE WHEN n0 > 0 AND n1 > 0 THEN
      |      (CAST(k0 + k1 AS DOUBLE) / (n0 + n1)) *
      |      (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1)) *
      |      (1.0 / n0 + 1.0 / n1) END AS v
      |  FROM cum),
      | lam AS (SELECT *, CASE WHEN v > 0 THEN
      |      sqrt(v / (v + 0.01)) *
      |      exp(theta * theta * 0.01 / (2.0 * v * (v + 0.01))) END AS l
      |  FROM st),
      | pav AS (SELECT *, LEAST(CAST(1.0 AS DOUBLE),
      |      MIN(CASE WHEN l IS NOT NULL THEN 1.0 / l END)
      |        OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS p_av
      |  FROM lam)
      |SELECT day, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  CAST(k0 AS BIGINT) AS k0, CAST(k1 AS BIGINT) AS k1,
      |  ROUND(theta, 6) AS theta,
      |  ROUND(p_av, 6) AS p_always_valid,
      |  COALESCE(p_av < 0.05, FALSE) AS significant
      |FROM pav""".stripMargin

  // ------------------------------------------------ Poisson bootstrap CI
  private val BootstrapB = 200

  /** Poisson(1) inverse-CDF thresholds as shared DECIMAL LITERALS: the
    * Scala expressions and the SQL oracle interpolate the same strings, so
    * both engines compare the md5-uniform against bit-identical doubles.
    * P(X <= k) for k = 0..5; weights cap at 6 (P ~ 1e-4 tail). */
  private val PoissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.919698602928606",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183")

  /** Percentile-bootstrap confidence interval for the per-user revenue
    * lift between the two md5 arms — via the POISSON bootstrap (the
    * at-scale resampling scheme: classical bootstrap needs n draws with
    * global knowledge of n, Poisson gives each row an iid Poisson(1)
    * multiplicity, independent per row, so the whole thing is one
    * map-side explode). Each (user, replicate) weight derives from a
    * 52-bit md5 uniform — deterministic, replayable, engine-identical.
    *
    * Exactness: replicate sums are integer (weight x scaled revenue);
    * each replicate lift is one double division per arm — identical in
    * both engines — and the CI picks ranked elements (rank = ceil(q*B),
    * the quantile_disc rule) from the sorted lift list, so the bounds are
    * MEMBERS of the replicate set, not interpolations: bit-stable.
    *
    * Scale: the explode is map-side (users x B rows never shuffle raw);
    * the aggregation is per (replicate, arm) with map-side partials, so
    * the exchange carries <= 2B rows per split regardless of user count;
    * the CI reduction happens on a B-row frame. B is a constant — the
    * operator's state is experiment-size-independent. */
  def bootstrapCi(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val perUser = ev(spark, d)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1000).cast("long"))), lit(0L)).as("rev"))
      .withColumn("arm", arm)
    val u = (conv(substring(md5(concat(lit("bs"), col("user_id").cast("string"),
        lit(":"), col("b").cast("string"))), 1, 13), 16, 10).cast("long")
        .cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val w = PoissonCdf.zipWithIndex
      .foldRight(lit(PoissonCdf.length): Column) { case ((c, k), rest) =>
        when(col("u") < expr(s"CAST($c AS DOUBLE)"), k).otherwise(rest)
      }
    val reps = perUser
      .withColumn("b", explode(sequence(lit(1), lit(BootstrapB))))
      .withColumn("u", u)
      .withColumn("w", w.cast("long"))
      .groupBy(col("b"))
      .agg(
        sum(when(col("arm") === 0, col("w")).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("w") * col("rev")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, col("w")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("w") * col("rev")).otherwise(0L)).as("s1"))
      .filter(col("n0") > 0 && col("n1") > 0)
      .select((col("s1").cast("double") / col("n1") -
        col("s0").cast("double") / col("n0")).as("lift"))
    val obs = perUser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("rev")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("rev")).otherwise(0L)).as("s1"))
      .select((col("s1").cast("double") / col("n1") -
        col("s0").cast("double") / col("n0")).as("obs_lift"))
    val ci = reps.agg(
        count(lit(1)).as("b_eff"),
        sort_array(collect_list(col("lift"))).as("lifts"))
      .select(col("b_eff"),
        round(element_at(col("lifts"),
          ceil(lit(0.025) * col("b_eff").cast("double")).cast("int")), 6)
          .as("ci_lo"),
        round(element_at(col("lifts"),
          ceil(lit(0.975) * col("b_eff").cast("double")).cast("int")), 6)
          .as("ci_hi"))
    obs.crossJoin(broadcast(ci))
      .select(round(col("obs_lift"), 6).as("obs_lift"),
        col("b_eff"), col("ci_lo"), col("ci_hi"))
  }

  val bootstrapCiSql: String = {
    val wCase = PoissonCdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < CAST($c AS DOUBLE) THEN $k" }
      .mkString(" ")
    s"""WITH pu AS (SELECT user_id,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(FLOOR(value * 1000) AS BIGINT) END), 0) AS rev
       |  FROM events GROUP BY 1),
       | armed AS (SELECT user_id,
       |    CAST(('0x' || substr(md5('ab' || user_id::VARCHAR), 25, 8))
       |      ::UBIGINT AS BIGINT) % 2 AS arm, rev FROM pu),
       | reps AS (SELECT user_id, arm, rev, unnest(generate_series(1, $BootstrapB)) AS b
       |  FROM armed),
       | wt AS (SELECT arm, rev, b,
       |    CASE $wCase ELSE ${PoissonCdf.length} END AS w
       |  FROM (SELECT *,
       |    (CAST(('0x' || substr(md5('bs' || user_id::VARCHAR || ':' ||
       |       b::VARCHAR), 1, 13))::UBIGINT AS BIGINT)::DOUBLE + 0.5)
       |      / 4503599627370496.0 AS u
       |    FROM reps)),
       | agg AS (SELECT b,
       |    SUM(CASE WHEN arm = 0 THEN w ELSE 0 END) AS n0,
       |    SUM(CASE WHEN arm = 0 THEN w * rev ELSE 0 END) AS s0,
       |    SUM(CASE WHEN arm = 1 THEN w ELSE 0 END) AS n1,
       |    SUM(CASE WHEN arm = 1 THEN w * rev ELSE 0 END) AS s1
       |  FROM wt GROUP BY 1),
       | lifts AS (SELECT CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 AS lift
       |  FROM agg WHERE n0 > 0 AND n1 > 0),
       | ci AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_eff,
       |    ROUND(quantile_disc(lift, 0.025), 6) AS ci_lo,
       |    ROUND(quantile_disc(lift, 0.975), 6) AS ci_hi
       |  FROM lifts),
       | obs AS (SELECT ROUND(
       |    CAST(SUM(CASE WHEN arm = 1 THEN rev ELSE 0 END) AS DOUBLE)
       |      / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) -
       |    CAST(SUM(CASE WHEN arm = 0 THEN rev ELSE 0 END) AS DOUBLE)
       |      / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 6) AS obs_lift
       |  FROM armed)
       |SELECT obs.obs_lift, ci.b_eff, ci.ci_lo, ci.ci_hi
       |FROM obs CROSS JOIN ci""".stripMargin
  }

  // ------------------------------------------- Holt-Winters (seasonal)
  /** Additive Holt-Winters over the daily purchase-count series: level +
    * trend + a 7-slot weekly season, alpha = beta = gamma = 1/2 — the
    * seasonal extension of [[holtForecast]] (which a weekday-cycled metric
    * defeats: the trend chases the weekly wave; the season term absorbs
    * it). One-step-ahead forecast_t = l + b + s_slot from the PRE-update
    * state (NULL on day one). Seed: l = x_1, b = 0, season all-zero (the
    * self-learning init — uniform with the recurrences, so no special
    * casing beyond day one).
    *
    * Cross-engine determinism WITHOUT integer scaling: both engines
    * evaluate the SAME expression tree per step — IEEE doubles are
    * deterministic given identical operands and operation order, so the
    * Spark fold and the DuckDB recursive CTE agree bit-for-bit (the same
    * argument that carries [[holtForecast]] past its 53-bit dyadic
    * window). The season state is a 7-slot array; slot (i mod 7) holds
    * s_i, which IS s_{t-7}'s slot at step t — one array, no history.
    *
    * Scale: identical to [[holtForecast]] — the fact scan collapses to
    * the day grain map-side; the smoothing runs on the model-sized series. */
  def holtWinters(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d).filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val wAll = Window.orderBy(col("day"))
    // the shared step arithmetic, written ONCE and inlined (SQL lambdas
    // have no let-binding; the duplicated text keeps the op order identical)
    val sm1 = "element_at(acc.s, (acc.i % 7) + 1)"
    val newl = s"(CAST(x AS DOUBLE) - $sm1) / 2 + (acc.l + acc.b) / 2"
    val newb = s"(($newl) - acc.l) / 2 + acc.b / 2"
    val news = s"(CAST(x AS DOUBLE) - ($newl)) / 2 + $sm1 / 2"
    val foldExpr =
      s"""aggregate(hist,
         |  named_struct('l', 0.0D, 'b', 0.0D,
         |    's', array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D), 'i', 0),
         |  (acc, x) -> IF(acc.i = 0,
         |    named_struct('l', CAST(x AS DOUBLE), 'b', 0.0D, 's', acc.s, 'i', 1),
         |    named_struct('l', $newl, 'b', $newb,
         |      's', transform(acc.s, (v, k) -> IF(k = acc.i % 7, $news, v)),
         |      'i', acc.i + 1)))""".stripMargin
    daily
      .withColumn("hist", collect_list(col("x")).over(
        wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_hist", collect_list(col("x")).over(
        wAll.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("st", expr(foldExpr))
      .withColumn("prev", expr(foldExpr.replace("hist", "prev_hist")))
      .select(col("day"), col("x"),
        col("st.l").as("level"), col("st.b").as("trend"),
        element_at(col("st.s"), (pmod(col("st.i") - 1, lit(7)) + 1).cast("int"))
          .as("season"),
        when(col("prev.i") > 0,
          col("prev.l") + col("prev.b") +
            element_at(col("prev.s"), (pmod(col("prev.i"), lit(7)) + 1).cast("int")))
          .as("forecast"))
  }

  val holtWintersSql: String = {
    val sm1 = "h.s[((h.i % 7) + 1)]"
    val newl = s"(CAST(idx.x AS DOUBLE) - $sm1) / 2 + (h.l + h.b) / 2"
    val newb = s"(($newl) - h.l) / 2 + h.b / 2"
    val news = s"(CAST(idx.x AS DOUBLE) - ($newl)) / 2 + $sm1 / 2"
    // the 7-slot season update as an explicit list constructor (no
    // index-lambda dependence): slot (h.i % 7) takes the new value
    val sNew = (0 until 7).map { k =>
      s"CASE WHEN $k = h.i % 7 THEN $news ELSE h.s[${k + 1}] END"
    }.mkString("[", ", ", "]")
    s"""WITH RECURSIVE daily AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       | idx AS (SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS i
       |  FROM daily),
       | hw(i, day, x, l, b, s, f) AS (
       |   SELECT i, day, x, CAST(x AS DOUBLE), CAST(0 AS DOUBLE),
       |     [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[],
       |     CAST(NULL AS DOUBLE)
       |   FROM idx WHERE i = 1
       |   UNION ALL
       |   SELECT idx.i, idx.day, idx.x, $newl, $newb, $sNew,
       |     h.l + h.b + $sm1
       |   FROM hw h JOIN idx ON idx.i = h.i + 1)
       |SELECT day, CAST(x AS BIGINT) AS x, l AS level, b AS trend,
       |  s[(((i - 1) % 7) + 1)] AS season, f AS forecast
       |FROM hw""".stripMargin
  }

  // ------------------------------------------------ sequence pair counts
  /** Ordered-pair sequence counting (the ClickHouse `sequenceCount` shape
    * for A -> B): per user, how many (view, purchase) pairs occur in
    * order — total, and with the purchase within 1 h of the view. NO
    * self-join: each purchase reads its preceding-view count from a RANGE
    * window frame (strict `-1 ms` upper bound = strictly-before
    * semantics), so pair counting is one sort per user regardless of how
    * many pairs exist — the join formulation materializes every pair.
    *
    * Scale: one shuffle on user_id; both frames share the (user, ts)
    * sort. The 1-h frame holds a bounded time slice; the unbounded frame
    * is a running count (constant state). */
  def seqCount(spark: SparkSession, d: String): DataFrame = {
    val isView = when(col("event_type") === "view", 1L).otherwise(0L)
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    val recent = byTs.rangeBetween(-FunnelWindowMs, -1L)
    val before = byTs.rangeBetween(Window.unboundedPreceding, -1L)
    ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_type"), isView.as("v"))
      .withColumn("v_1h", sum(col("v")).over(recent))
      .withColumn("v_all", sum(col("v")).over(before))
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(col("v_1h")), lit(0L)).as("pairs_1h"),
        coalesce(sum(col("v_all")), lit(0L)).as("pairs_all"))
  }

  val seqCountSql: String =
    s"""WITH t AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_type,
       |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS v
       |  FROM events),
       | w AS (SELECT user_id, event_type,
       |    SUM(v) OVER (PARTITION BY user_id ORDER BY ts_ms
       |      RANGE BETWEEN $FunnelWindowMs PRECEDING AND 1 PRECEDING) AS v_1h,
       |    SUM(v) OVER (PARTITION BY user_id ORDER BY ts_ms
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_all
       |  FROM t)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |  CAST(COALESCE(SUM(v_1h), 0) AS BIGINT) AS pairs_1h,
       |  CAST(COALESCE(SUM(v_all), 0) AS BIGINT) AS pairs_all
       |FROM w WHERE event_type = 'purchase' GROUP BY 1""".stripMargin

  // --------------------------------------------------- Theil-Sen trend
  /** Theil-Sen robust trend over the daily event-count series: slope =
    * median of all pairwise slopes, intercept = median residual — the
    * outlier-immune companion to least squares (one corrupted day moves
    * OLS arbitrarily; Theil-Sen tolerates ~29% contamination). The pair
    * set is quadratic IN DAYS — the model-sized grain the fact table
    * collapses to first — so the O(T²) stays a few-hundred-row frame while
    * the scan stays linear; the medians pick ranked members (ceil-rank,
    * the quantile_disc rule) of slope lists whose doubles both engines
    * compute from identical integer subtractions and divisions. */
  def theilSen(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d)
      .groupBy((floor(col("ts_ms") / 86400000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val slopes = daily.as("a").join(broadcast(daily.as("b")),
        col("b.day") > col("a.day"))
      .select(((col("b.x") - col("a.x")).cast("double") /
        (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val slope = slopes.agg(
        count(lit(1)).as("np"),
        sort_array(collect_list(col("slope"))).as("ss"))
      .select(element_at(col("ss"),
        ceil(lit(0.5) * col("np").cast("double")).cast("int")).as("slope"))
    daily.crossJoin(broadcast(slope))
      .select(col("slope"),
        (col("x").cast("double") - col("slope") * col("day").cast("double"))
          .as("resid"))
      .groupBy(col("slope"))
      .agg(count(lit(1)).as("nd"), sort_array(collect_list(col("resid"))).as("rs"))
      .select(round(col("slope"), 6).as("slope"),
        round(element_at(col("rs"),
          ceil(lit(0.5) * col("nd").cast("double")).cast("int")), 6)
          .as("intercept"))
  }

  val theilSenSql: String =
    """WITH daily AS (SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
      |    COUNT(*) AS x FROM events GROUP BY 1),
      | slopes AS (SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
      |    AS slope FROM daily a JOIN daily b ON b.day > a.day),
      | m AS (SELECT quantile_disc(slope, 0.5) AS slope FROM slopes),
      | r AS (SELECT m.slope,
      |    CAST(x AS DOUBLE) - m.slope * CAST(day AS DOUBLE) AS resid
      |  FROM daily CROSS JOIN m)
      |SELECT ROUND(slope, 6) AS slope,
      |  ROUND(quantile_disc(resid, 0.5), 6) AS intercept
      |FROM r GROUP BY slope""".stripMargin

  // ----------------------------------------------------------------- SRM
  /** Sample-ratio-mismatch guardrail — the sanity check run BEFORE reading
    * any experiment result: under a 50/50 split the two arms' user counts
    * should differ only by chance, and χ² = Σ(observed − expected)²/expected
    * against 1 dof flags broken bucketing (redirect loss, bot filters,
    * logging gaps). All from two exact integers, so the statistic is
    * bit-stable; one user-grain shuffle, then a two-row aggregate. The
    * 3.841 cutoff is the χ²₁ 95th percentile. */
  def srm(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val s = ev(spark, d).select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .agg(
        sum(when(col("arm") === 0, 1).otherwise(0)).as("n0"),
        sum(when(col("arm") === 1, 1).otherwise(0)).as("n1"))
    val e = (col("n0") + col("n1")).cast("double") / 2
    val chi2 = (col("n0") - e) * (col("n0") - e) / e +
      (col("n1") - e) * (col("n1") - e) / e
    s.select(col("n0"), col("n1"),
      round(when(col("n0") + col("n1") > 0, chi2), 6).as("chi2"),
      coalesce(when(col("n0") + col("n1") > 0, chi2) > 3.841, lit(false))
        .as("srm_alarm"))
  }

  val srmSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      | armed AS (SELECT CAST(('0x' || substr(md5('ab' || user_id::VARCHAR),
      |    25, 8))::UBIGINT AS BIGINT) % 2 AS arm FROM u),
      | s AS (SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
      |              SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
      |       FROM armed)
      |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  ROUND(CASE WHEN n0 + n1 > 0 THEN
      |    (n0 - CAST(n0 + n1 AS DOUBLE) / 2) * (n0 - CAST(n0 + n1 AS DOUBLE) / 2)
      |      / (CAST(n0 + n1 AS DOUBLE) / 2) +
      |    (n1 - CAST(n0 + n1 AS DOUBLE) / 2) * (n1 - CAST(n0 + n1 AS DOUBLE) / 2)
      |      / (CAST(n0 + n1 AS DOUBLE) / 2) END, 6) AS chi2,
      |  COALESCE(CASE WHEN n0 + n1 > 0 THEN
      |    (n0 - CAST(n0 + n1 AS DOUBLE) / 2) * (n0 - CAST(n0 + n1 AS DOUBLE) / 2)
      |      / (CAST(n0 + n1 AS DOUBLE) / 2) +
      |    (n1 - CAST(n0 + n1 AS DOUBLE) / 2) * (n1 - CAST(n0 + n1 AS DOUBLE) / 2)
      |      / (CAST(n0 + n1 AS DOUBLE) / 2) END > 3.841, FALSE) AS srm_alarm
      |FROM s""".stripMargin

  // --------------------------------------------------------------- CUPED
  /** CUPED variance reduction (Deng et al. 2013) — the standard follow-up
    * to [[abtest]] in every mature experimentation stack: per-user
    * pre-period spend is the covariate, θ = cov(pre, post)/var(pre), and
    * each arm's post-period mean is adjusted by θ·(mean_pre_arm −
    * mean_pre). The pre/post split is the exact midpoint of the observed
    * time range (integer microseconds).
    *
    * Determinism: spend sums use cents-scaled longs and every moment
    * (cov, var, ρ²) derives from the exact integer sums n·Σxy − Σx·Σy, so
    * θ and the adjusted means are bit-stable across engines — an
    * order-dependent double Σxy would flake the hash gate. At warehouse
    * scale the same sums run in DECIMAL(38,0); one shuffle on user_id,
    * then scalar aggregates broadcast back over the two arm rows. */
  def cuped(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d)
      .withColumn("t_ms", unix_millis(col("ts").cast("timestamp")))
    val spend = when(col("event_type") === "purchase",
      round(col("value") * 100).cast("long")).otherwise(0L)
    val mid = base.agg(min(col("t_ms")).as("mn"), max(col("t_ms")).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid_ms"))
    val arm = abArm
    val perUser = base.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("t_ms") < col("mid_ms"), spend).otherwise(0L)).as("x"),
        sum(when(col("t_ms") >= col("mid_ms"), spend).otherwise(0L)).as("y"))
      .withColumn("arm", arm)
      // localCheckpoint: the per-user table feeds both the global moment
      // aggregate and the per-arm rollup — one events pass instead of two
      .localCheckpoint()
    val g = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val covXY = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val gStats = g.select(col("n"), col("sx"),
      when(varX > 0, covXY / varX).otherwise(lit(0.0)).as("theta"),
      when(varX > 0 && varY > 0, covXY * covXY / (varX * varY))
        .otherwise(lit(0.0)).as("rho2"))
    perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("asx"), sum(col("y")).as("asy"))
      .crossJoin(broadcast(gStats))
      .select(col("arm"), col("n_users"),
        round(col("asy").cast("double") / col("n_users") / 100.0, 6)
          .as("post_mean"),
        // adjusted arm mean: ȳ_arm − θ·(x̄_arm − x̄); /100 un-scales cents
        round((col("asy").cast("double") / col("n_users") -
          col("theta") * (col("asx").cast("double") / col("n_users") -
            col("sx").cast("double") / col("n"))) / 100.0, 6)
          .as("cuped_mean"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2"), 6).as("var_reduction"))
  }

  val cupedSql: String =
    """WITH mid AS (SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2
      |    AS mid_ms FROM events),
      | pu AS (SELECT user_id,
      |    SUM(CASE WHEN epoch_ms(ts) < mid.mid_ms AND event_type = 'purchase'
      |        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
      |    SUM(CASE WHEN epoch_ms(ts) >= mid.mid_ms AND event_type = 'purchase'
      |        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
      |  FROM events, mid GROUP BY 1),
      | pa AS (SELECT user_id, x, y,
      |    CAST(('0x' || substr(md5('ab' || user_id::VARCHAR), 25, 8))
      |      ::UBIGINT AS BIGINT) % 2 AS arm FROM pu),
      | g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy FROM pa),
      | gs AS (SELECT n, sx,
      |    CASE WHEN n * sxx - sx * sx > 0 THEN
      |      CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |    ELSE 0.0 END AS theta,
      |    CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |      CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |        / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |    ELSE 0.0 END AS rho2
      |  FROM g),
      | a AS (SELECT arm, COUNT(*) AS n_users, SUM(x) AS asx, SUM(y) AS asy
      |       FROM pa GROUP BY 1)
      |SELECT a.arm, CAST(a.n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(asy AS DOUBLE) / n_users / 100.0, 6) AS post_mean,
      |  ROUND((CAST(asy AS DOUBLE) / n_users -
      |    gs.theta * (CAST(asx AS DOUBLE) / n_users -
      |      CAST(gs.sx AS DOUBLE) / gs.n)) / 100.0, 6) AS cuped_mean,
      |  ROUND(gs.theta, 6) AS theta,
      |  ROUND(gs.rho2, 6) AS var_reduction
      |FROM a, gs""".stripMargin

  // -------------------------------------------------------- stickiness
  /** DAU/MAU stickiness — the engagement ratio every analytics deployment
    * reports: distinct daily actives over distinct actives of the calendar
    * month. Two map-side-combinable distinct aggregations (day grain and
    * month grain — the month one is NOT derivable from the day one, since
    * distinct doesn't re-aggregate) and a broadcast join on the tiny month
    * dimension. At sketch scale the exact countDistinct swaps for the
    * mergeable HLL register table ([[rollingDistinct]]'s path) without
    * changing the plan shape. */
  def stickiness(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      date_format(col("ts").cast("timestamp"), "yyyy-MM").as("month"),
      col("user_id"))
    val dau = base.groupBy(col("day"), col("month"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = base.groupBy(col("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), "month")
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
  }

  val stickinessSql: String =
    """WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
      |         strftime(ts, '%Y-%m') AS month, user_id FROM events),
      | dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau
      |         FROM base GROUP BY 1, 2),
      | mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau
      |         FROM base GROUP BY 1)
      |SELECT day, dau.dau, mau.mau,
      |  ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
      |FROM dau JOIN mau USING (month)""".stripMargin

  // -------------------------------------------------------------- cube
  /** Multidimensional OLAP cube over (month, event_type): every grouping
    * combination — grand total, per-month, per-type, per-cell — in ONE
    * aggregation pass. Catalyst compiles `cube` into a single Expand +
    * hash aggregate: one shuffle no matter how many grouping sets, the
    * right 100 TB shape (vs 4 scans + union; Expand multiplies rows
    * before the partial aggregate, which map-side-combines them straight
    * back down to the tiny group space). grouping_id() disambiguates
    * subtotal rows from genuine NULL keys. */
  def cubeRollup(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .cube(
        date_format(col("ts").cast("timestamp"), "yyyy-MM").as("month"),
        col("event_type"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  val cubeRollupSql: String =
    """SELECT month, event_type,
      |  CAST(GROUPING(month, event_type) AS INTEGER) AS gid,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (SELECT strftime(ts, '%Y-%m') AS month, event_type, value
      |      FROM events)
      |GROUP BY CUBE (month, event_type)""".stripMargin

  // ------------------------------------------------------------ funnel
  /** Signup→purchase conversion funnel: per-user min timestamps, one shuffle
    * on user_id, then a scalar conditional aggregate. */
  def funnel(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts_ms"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts_ms"))).as("first_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("first_signup")).as("n_signed_up"),
        // COUNT (not SUM) so both engines emit a non-nullable int64: DuckDB's
        // nullable SUM comes back as float64 through pandas and hash-mismatches.
        count(when(col("first_purchase") > col("first_signup"), lit(1))).as("n_converted"))

  val funnelSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'signup'   THEN epoch_ms(ts) END) AS first_signup,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS first_purchase
      |  FROM events GROUP BY user_id)
      |SELECT COUNT(*) AS n_users,
      |  COUNT(first_signup) AS n_signed_up,
      |  COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
      |FROM u""".stripMargin

  // ------------------------------------------------------------ top users
  /** Top-10 purchasers — global top-N: partial top-N per partition via the
    * sort+limit (Spark plans TakeOrderedAndProject: no full sort at scale). */
  def topUsers(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_spend"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("total_spend").desc, col("user_id"))
      .limit(10)

  val topUsersSql: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_purchases
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY total_spend DESC, user_id LIMIT 10""".stripMargin

  // ------------------------------------------------------------ transitions
  /** Event-type transition (page-flow) counts: per-user next-event via a
    * lead window with a unique tie-break, then a count per (from, to) pair.
    * One shuffle on user_id for the window, one map-side-combinable count —
    * the standard clickstream path analysis at any scale. */
  def transitions(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  val transitionsSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY epoch_ms(ts), event_id) AS next_type
      |  FROM events)
      |SELECT event_type, next_type, COUNT(*) AS n_transitions
      |FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  // -------------------------------------------- absorbing-chain analysis
  /** The collected transition counts are the shared input of the three
    * chain solvers ([[absorbingChain]], [[conversionProb]],
    * [[markovAttribution]]) — a |event types|²-row array. Memoized so the
    * window + aggregation over the fact table runs once per residency, not
    * once per solver (the solvers differ only in their driver-side 4x4
    * fixed points). Driver-memory value, so release is a no-op. */
  private def transitionsCollected(spark: SparkSession,
                                   d: String): Array[(String, String, Long)] =
    MemoCache.getOrElseUpdate(spark, ("transitions-rows", d))(
      transitions(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))))(_ => ())

  /** Expected events until FIRST conversion, per starting state — the
    * absorbing-Markov-chain read of the clickstream ([[transitions]]'
    * counts with `purchase` made absorbing): t = 1 + Q·t where Q is the
    * row-substochastic transition matrix among non-purchase states
    * (transitions INTO purchase absorb, so rows sum below 1 and the
    * fixed point exists). The data-scale work is the transition-count
    * aggregation; the 4x4 solve runs as 100 fixed-point iterations with
    * per-step 1e-9 grid rounding — the [[graft.queries.EmbeddingQueries
    * .pcaTop]] engine-parity device, replayed verbatim by the oracle's
    * recursive CTE (truncation after 100 steps is ~ρ(Q)^100 ≪ the 1e-6
    * emission rounding, and identical in both engines regardless).
    * Emitted per state: outgoing mass, direct-conversion probability,
    * expected steps. */
  def absorbingChain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val absorb = "purchase"
    val tr = transitionsCollected(spark, d)
    val states = tr.map(_._1).filter(_ != absorb).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val nOut = states.map(s => tr.filter(_._1 == s).map(_._3).sum)
    val nDirect = states.map(s =>
      tr.filter(t => t._1 == s && t._2 == absorb).map(_._3).sum)
    val q = Array.tabulate(states.length, states.length)((i, j) =>
      tr.filter(t => t._1 == states(i) && idx.get(t._2).contains(j))
        .map(_._3).sum.toDouble)
    def grid9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var v = Array.fill(states.length)(0.0)
    for (_ <- 1 to 100) {
      v = Array.tabulate(states.length) { i =>
        var a = 0.0
        var j = 0
        while (j < states.length) { a += q(i)(j) * v(j); j += 1 }
        grid9(1.0 + a / nOut(i))
      }
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    states.indices.map(i => (states(i), nOut(i),
        round6(nDirect(i).toDouble / nOut(i)), round6(v(i))))
      .toDF("state", "n_out", "p_direct", "expected_steps")
  }

  val absorbingChainSql: String =
    """WITH RECURSIVE tr AS (
      |  SELECT event_type, next_type, COUNT(*) AS n FROM (
      |    SELECT event_type, LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS next_type
      |    FROM events) WHERE next_type IS NOT NULL GROUP BY 1, 2),
      | ord AS (SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS i
      |   FROM (SELECT DISTINCT event_type AS s FROM tr
      |         WHERE event_type <> 'purchase')),
      | tot AS (SELECT event_type AS s, CAST(SUM(n) AS BIGINT) AS n_out
      |   FROM tr GROUP BY 1),
      | q AS (SELECT o1.i AS i, o2.i AS j, tr.n, tot.n_out
      |   FROM tr JOIN ord o1 ON tr.event_type = o1.s
      |           JOIN ord o2 ON tr.next_type = o2.s
      |           JOIN tot ON tot.s = tr.event_type),
      | nst AS (SELECT COUNT(*) AS ns FROM ord),
      | it(iter, v) AS (
      |   SELECT 0, (SELECT list(CAST(0 AS DOUBLE) ORDER BY i) FROM ord)
      |   UNION ALL
      |   SELECT iter + 1, wl.lst FROM it, LATERAL (
      |     SELECT list(ROUND(1.0 + COALESCE(qs, 0) / n_out, 9) ORDER BY i) AS lst
      |     FROM (SELECT o.i, t2.n_out,
      |             (SELECT SUM(q.n * it.v[q.j]) FROM q WHERE q.i = o.i) AS qs
      |           FROM ord o JOIN tot t2 ON t2.s = o.s)) wl
      |   WHERE it.iter < 100),
      | fin AS (SELECT v FROM it WHERE iter = 100)
      |SELECT o.s AS state, t.n_out,
      |  ROUND(COALESCE((SELECT CAST(tr.n AS DOUBLE) FROM tr
      |                  WHERE tr.event_type = o.s AND tr.next_type = 'purchase'), 0)
      |        / t.n_out, 6) AS p_direct,
      |  ROUND((SELECT f.v[o.i] FROM fin f), 6) AS expected_steps
      |FROM ord o JOIN tot t ON t.s = o.s""".stripMargin

  /** Competing-risks companion to [[absorbingChain]]: with TWO absorbing
    * states (purchase = conversion, error = drop-out), the probability of
    * converting BEFORE erroring from each start state — b = R_p + Q·b,
    * where R_p is the per-state direct-conversion probability and Q the
    * transient transition matrix. Same engine-parity fixed point (100
    * grid-rounded iterations, recursive-CTE replay); the two absorption
    * probabilities must sum to 1 per state, so the oracle-checked
    * `p_error = 1 − p_convert` residual is a built-in consistency gate. */
  def conversionProb(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (convert, fail) = ("purchase", "error")
    val tr = transitionsCollected(spark, d)
    val states = tr.map(_._1).filter(s => s != convert && s != fail).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val nOut = states.map(s => tr.filter(_._1 == s).map(_._3).sum)
    val rp = states.map(s =>
      tr.filter(t => t._1 == s && t._2 == convert).map(_._3).sum.toDouble)
    val q = Array.tabulate(states.length, states.length)((i, j) =>
      tr.filter(t => t._1 == states(i) && idx.get(t._2).contains(j))
        .map(_._3).sum.toDouble)
    def grid9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var b = Array.fill(states.length)(0.0)
    for (_ <- 1 to 100) {
      b = Array.tabulate(states.length) { i =>
        var a = rp(i)
        var j = 0
        while (j < states.length) { a += q(i)(j) * b(j); j += 1 }
        grid9(a / nOut(i))
      }
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    states.indices.map(i => (states(i), nOut(i), round6(b(i)), round6(1.0 - b(i))))
      .toDF("state", "n_out", "p_convert", "p_error")
  }

  val conversionProbSql: String =
    """WITH RECURSIVE tr AS (
      |  SELECT event_type, next_type, COUNT(*) AS n FROM (
      |    SELECT event_type, LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS next_type
      |    FROM events) WHERE next_type IS NOT NULL GROUP BY 1, 2),
      | ord AS (SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS i
      |   FROM (SELECT DISTINCT event_type AS s FROM tr
      |         WHERE event_type NOT IN ('purchase', 'error'))),
      | tot AS (SELECT event_type AS s, CAST(SUM(n) AS BIGINT) AS n_out
      |   FROM tr GROUP BY 1),
      | q AS (SELECT o1.i AS i, o2.i AS j, tr.n
      |   FROM tr JOIN ord o1 ON tr.event_type = o1.s
      |           JOIN ord o2 ON tr.next_type = o2.s),
      | rp AS (SELECT o.i, o.s, t.n_out,
      |     COALESCE((SELECT CAST(tr.n AS DOUBLE) FROM tr
      |               WHERE tr.event_type = o.s AND tr.next_type = 'purchase'), 0)
      |       AS r
      |   FROM ord o JOIN tot t ON t.s = o.s),
      | it(iter, v) AS (
      |   SELECT 0, (SELECT list(CAST(0 AS DOUBLE) ORDER BY i) FROM ord)
      |   UNION ALL
      |   SELECT iter + 1, wl.lst FROM it, LATERAL (
      |     SELECT list(ROUND((r + COALESCE(qs, 0)) / n_out, 9) ORDER BY i) AS lst
      |     FROM (SELECT rp.i, rp.n_out, rp.r,
      |             (SELECT SUM(q.n * it.v[q.j]) FROM q WHERE q.i = rp.i) AS qs
      |           FROM rp)) wl
      |   WHERE it.iter < 100),
      | fin AS (SELECT v FROM it WHERE iter = 100)
      |SELECT rp.s AS state, rp.n_out,
      |  ROUND((SELECT f.v[rp.i] FROM fin f), 6) AS p_convert,
      |  ROUND(1.0 - (SELECT f.v[rp.i] FROM fin f), 6) AS p_error
      |FROM rp""".stripMargin

  /** Markov-chain attribution (removal effects) — the data-driven
    * attribution model that replaced heuristic splits (Anderl et al.,
    * "Mapping the Customer Journey", 2016): a state's credit is how much
    * the conversion probability from the entry state DROPS when the state
    * is removed (paths through it fail). Removal = delete the state's row
    * and column from Q and keep row-normalization by the ORIGINAL outgoing
    * mass, so transitions into the removed state become lost (failing)
    * mass — the standard formulation. Entry is `view`, candidates are the
    * other transient states (the fixture's event vocabulary, a pinned
    * contract like NQueries). Same grid-rounded fixed point as
    * [[conversionProb]]; the oracle replays base + each removal with its
    * own recursive CTE. */
  def markovAttribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (convert, entry) = ("purchase", "view")
    val tr = transitionsCollected(spark, d)
    val transient = tr.map(_._1)
      .filter(s => s != convert && s != "error").distinct.sorted
    def grid9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def solve(states: Seq[String]): Map[String, Double] = {
      val idx = states.zipWithIndex.toMap
      val nOut = states.map(s => tr.filter(_._1 == s).map(_._3).sum)
      val rp = states.map(s =>
        tr.filter(t => t._1 == s && t._2 == convert).map(_._3).sum.toDouble)
      val q = Array.tabulate(states.length, states.length)((i, j) =>
        tr.filter(t => t._1 == states(i) && idx.get(t._2).contains(j))
          .map(_._3).sum.toDouble)
      var b = Array.fill(states.length)(0.0)
      for (_ <- 1 to 100) {
        b = Array.tabulate(states.length) { i =>
          var a = rp(i)
          var j = 0
          while (j < states.length) { a += q(i)(j) * b(j); j += 1 }
          grid9(a / nOut(i))
        }
      }
      states.zip(b).toMap
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pBase = solve(transient.toIndexedSeq)(entry)
    transient.filter(_ != entry).toSeq.map { s =>
      val pRemoved = solve(transient.filterNot(_ == s).toIndexedSeq)(entry)
      (s, round6(pBase), round6(pRemoved),
        round6((pBase - pRemoved) / pBase))
    }.toDF("removed_state", "p_base", "p_removed", "removal_effect")
  }

  /** One recursive fixed-point CTE per state set; the per-removal CTEs
    * interpolate the fixture's transient vocabulary (view/click/signup —
    * a pinned contract, like the langid marker set). */
  val markovAttributionSql: String = {
    def chain(tag: String, states: Seq[String]): String = {
      val inList = states.map("'" + _ + "'").mkString(", ")
      s""" ord_$tag AS (SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS i
         |   FROM (SELECT DISTINCT event_type AS s FROM tr
         |         WHERE event_type IN ($inList))),
         | q_$tag AS (SELECT o1.i AS i, o2.i AS j, tr.n
         |   FROM tr JOIN ord_$tag o1 ON tr.event_type = o1.s
         |           JOIN ord_$tag o2 ON tr.next_type = o2.s),
         | rp_$tag AS (SELECT o.i, o.s, t.n_out,
         |     COALESCE((SELECT CAST(tr.n AS DOUBLE) FROM tr
         |               WHERE tr.event_type = o.s AND tr.next_type = 'purchase'), 0)
         |       AS r
         |   FROM ord_$tag o JOIN tot t ON t.s = o.s),
         | it_$tag(iter, v) AS (
         |   SELECT 0, (SELECT list(CAST(0 AS DOUBLE) ORDER BY i) FROM ord_$tag)
         |   UNION ALL
         |   SELECT iter + 1, wl.lst FROM it_$tag, LATERAL (
         |     SELECT list(ROUND((r + COALESCE(qs, 0)) / n_out, 9) ORDER BY i) AS lst
         |     FROM (SELECT rp.i, rp.n_out, rp.r,
         |             (SELECT SUM(q.n * it_$tag.v[q.j]) FROM q_$tag q
         |              WHERE q.i = rp.i) AS qs
         |           FROM rp_$tag rp)) wl
         |   WHERE it_$tag.iter < 100),
         | p_$tag AS (SELECT (SELECT f.v[o.i] FROM
         |     (SELECT v FROM it_$tag WHERE iter = 100) f) AS p
         |   FROM ord_$tag o WHERE o.s = 'view')""".stripMargin
    }
    val base = chain("base", Seq("view", "click", "signup"))
    val noClick = chain("noclick", Seq("view", "signup"))
    val noSignup = chain("nosignup", Seq("view", "click"))
    s"""WITH RECURSIVE tr AS (
       |  SELECT event_type, next_type, COUNT(*) AS n FROM (
       |    SELECT event_type, LEAD(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS next_type
       |    FROM events) WHERE next_type IS NOT NULL GROUP BY 1, 2),
       | tot AS (SELECT event_type AS s, CAST(SUM(n) AS BIGINT) AS n_out
       |   FROM tr GROUP BY 1),
       |$base,
       |$noClick,
       |$noSignup
       |SELECT 'click' AS removed_state,
       |  ROUND((SELECT p FROM p_base), 6) AS p_base,
       |  ROUND((SELECT p FROM p_noclick), 6) AS p_removed,
       |  ROUND(((SELECT p FROM p_base) - (SELECT p FROM p_noclick))
       |        / (SELECT p FROM p_base), 6) AS removal_effect
       |UNION ALL
       |SELECT 'signup',
       |  ROUND((SELECT p FROM p_base), 6),
       |  ROUND((SELECT p FROM p_nosignup), 6),
       |  ROUND(((SELECT p FROM p_base) - (SELECT p FROM p_nosignup))
       |        / (SELECT p FROM p_base), 6)""".stripMargin
  }

  // ------------------------------------------------------ top paths
  /** Top-k session journeys: the ordered event-type sequence of each
    * 30-minute session, counted across the corpus — the clickstream "most
    * common paths" report. Sessions are assigned by the lag/cumsum gap
    * window (ONE user-key exchange — the same construction the sessionize
    * oracle uses, so the session boundaries provably match
    * `session_window`), events past the first [[PathMaxSteps]] are dropped
    * BEFORE any collection — a runaway bot session contributes at most 8
    * rows to the path aggregate, never an unbounded in-group list — then
    * the per-session path strings count map-side and TakeOrdered keeps the
    * top 15. */
  private val PathMaxSteps = 8
  private val PathTopK = 15

  def topPaths(spark: SparkSession, d: String): DataFrame = {
    val stepped = sessioned(spark, d)
      .withColumn("step", row_number().over(
        Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts_ms"), col("event_id"))))
      .filter(col("step") <= PathMaxSteps)
    val sessions = stepped
      .groupBy(col("user_id"), col("sid"))
      .agg(array_join(expr("transform(sort_array(collect_list(" +
        "struct(step, event_type))), e -> e.event_type)"), ">").as("path"))
    sessions.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(PathTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
  }

  lazy val topPathsSql: String =
    s"""WITH $sessionedSqlCtes, paths AS (
       |  SELECT array_to_string(
       |    (list(event_type ORDER BY ts_ms, event_id))[1:$PathMaxSteps],
       |    '>') AS path
       |  FROM s GROUP BY user_id, sid
       |), counted AS (
       |  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1)
       |SELECT path, n_sessions, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rank
       |  FROM counted)
       |WHERE rank <= $PathTopK""".stripMargin

  // -------------------------------------------- position-based attribution
  /** U-shaped (position-based) attribution — the 40/20/40 rule on the same
    * bucketized range-join candidates as [[multitouch]]: the FIRST and
    * LAST view before a purchase take 40% each, the middles split the
    * remaining 20% evenly; 1 touch takes all, 2 touches split 50/50.
    * Credit is integer ppm (`DIV`) so both engines split bit-exactly;
    * position order is (view_ts, view_id) — fully deterministic under
    * timestamp ties. Same scale shape as multitouch: hash join + residual,
    * one purchase-keyed window. */
  def positionAttribution(spark: SparkSession, d: String): DataFrame = {
    val WinMs = 24L * 3600 * 1000
    val base = ev(spark, d)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("event_type"))
    val views = base.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_ms").as("view_ts"))
      .withColumn("bucket", explode(sequence(
        expr(s"view_ts DIV ${WinMs}L"),
        expr(s"(view_ts + ${WinMs}L) DIV ${WinMs}L"))))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_ms"))
      .withColumn("bucket", expr(s"ts_ms DIV ${WinMs}L"))
    val matched = purchases.join(views, Seq("user_id", "bucket"))
      .filter(col("ts_ms") >= col("view_ts") &&
        col("ts_ms") <= col("view_ts") + WinMs)
    val w = Window.partitionBy(col("purchase_id"))
    val ow = w.orderBy(col("view_ts"), col("view_id"))
    matched
      .withColumn("pos", row_number().over(ow))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("credit_ppm",
        when(col("n") === 1, lit(1000000L))
          .when(col("n") === 2, lit(500000L))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(400000L))
          .otherwise(expr("200000L DIV (n - 2)")))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("pos").cast("long").as("pos"), col("n"), col("credit_ppm"))
  }

  val positionAttributionSql: String =
    """WITH base AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
      |              FROM events),
      | v AS (SELECT event_id AS view_id, user_id, ts_ms AS view_ts
      |       FROM base WHERE event_type = 'view'),
      | p AS (SELECT event_id AS purchase_id, user_id, ts_ms
      |       FROM base WHERE event_type = 'purchase'),
      | m AS (SELECT p.purchase_id, v.view_id, p.user_id, v.view_ts
      |       FROM p JOIN v ON p.user_id = v.user_id
      |         AND p.ts_ms BETWEEN v.view_ts AND v.view_ts + 86400000),
      | r AS (SELECT purchase_id, view_id, user_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY purchase_id
      |      ORDER BY view_ts, view_id) AS BIGINT) AS pos,
      |    COUNT(*) OVER (PARTITION BY purchase_id) AS n
      |  FROM m)
      |SELECT purchase_id, view_id, user_id, pos, n,
      |  CASE WHEN n = 1 THEN 1000000
      |       WHEN n = 2 THEN 500000
      |       WHEN pos = 1 OR pos = n THEN 400000
      |       ELSE 200000 // (n - 2) END AS credit_ppm
      |FROM r""".stripMargin

  // ------------------------------------------------- KMV audience algebra
  /** Audience-overlap analytics over KMV (k-minimum-values / theta-style)
    * sketches — the sketch SET ALGEBRA the HLL/CMS family here doesn't
    * cover: per event type, the audience (distinct (user, day) pairs) is
    * summarized as its k smallest 60-bit hash values, and pairwise
    * union / intersection / Jaccard estimates come from sketch algebra
    * alone (Beyer et al., "On Synopses for Distinct-Value Estimation
    * Under Multiset Operations", SIGMOD'07): union sketch = k smallest of
    * the merged sketches; Jaccard = fraction of the union sketch present
    * in both inputs; intersection = Jaccard × union estimate.
    *
    * Scale shape: KMV is MERGEABLE — per-(type, salt) partial k-smallest
    * first (map-side bounded at k values per group), then one tiny
    * per-type merge; the pair stage joins a #types-row frame against
    * itself (broadcast, trivially small at any corpus size). Nothing
    * user-cardinality-sized ever aggregates on one reducer. The md5-based
    * hash makes every estimate ENGINE-REPLICABLE: the oracle replays the
    * sketch math exactly, so the gate checks the estimator, not an
    * approximation band. */
  private val KmvK = 256
  /** Interpolated into the oracle SQL; the value lives in [[graft.functions.Kmv]]. */
  private val KmvScale = graft.functions.Kmv.Scale

  def kmvOverlap(spark: SparkSession, d: String): DataFrame = {
    val keyed = ev(spark, d).select(col("event_type").as("t"),
      concat(col("user_id").cast("string"), lit("-"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("string")).as("key"))
    val hashed = keyed
      .select(col("t"), graft.functions.Kmv.hash(col("key")).as("h"))
      .distinct()
    val partial = hashed.withColumn("salt", pmod(col("h"), lit(32)))
      .groupBy("t", "salt")
      .agg(slice(array_sort(collect_set(col("h"))), 1, KmvK).as("part"))
    val est = (sk: Column, cnt: Column) =>
      graft.functions.Kmv.estimate(KmvK, sk, cnt)
    val sketches = partial.groupBy("t")
      .agg(slice(array_sort(flatten(collect_list(col("part")))), 1, KmvK).as("sk"))
      .withColumn("cnt", size(col("sk")))
      .withColumn("est", est(col("sk"), col("cnt")))
    val pairs = sketches.as("a")
      .join(broadcast(sketches.as("b")), col("a.t") < col("b.t"))
      .withColumn("usk",
        slice(array_sort(array_union(col("a.sk"), col("b.sk"))), 1, KmvK))
      .withColumn("ucnt", size(col("usk")))
      .withColumn("uest", est(col("usk"), col("ucnt")))
      .withColumn("inter_n", size(array_intersect(col("usk"),
        array_intersect(col("a.sk"), col("b.sk")))))
      .withColumn("jacc", col("inter_n").cast("double") / col("ucnt"))
    pairs.select(
      col("a.t").as("type_a"), col("b.t").as("type_b"),
      col("a.est").as("est_a"), col("b.est").as("est_b"),
      col("uest").as("est_union"),
      col("jacc").as("jaccard"),
      (col("jacc") * col("uest")).as("est_intersection"))
  }

  /** Exact replay of the KMV pipeline: same 60-bit md5 hash, same
    * k-smallest, same estimators — bit-identical doubles. */
  val kmvOverlapSql: String =
    s"""WITH k AS (SELECT DISTINCT event_type AS t,
       |    CAST(user_id AS VARCHAR) || '-' ||
       |      CAST(ts::DATE - DATE '1970-01-01' AS VARCHAR) AS key
       |  FROM events),
       | h AS (SELECT DISTINCT t,
       |    CAST(('0x' || substr(md5(key), 1, 15))::UBIGINT AS BIGINT) AS h
       |  FROM k),
       | r AS (SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) rn
       |  FROM h),
       | s AS (SELECT t, list_sort(list(h)) AS sk FROM r
       |  WHERE rn <= $KmvK GROUP BY t),
       | e AS (SELECT t, sk, len(sk) AS cnt,
       |    CASE WHEN len(sk) < $KmvK THEN len(sk)::DOUBLE
       |         ELSE ${KmvK - 1}.0 * $KmvScale.0 / sk[$KmvK] END AS est
       |  FROM s),
       | p AS (SELECT a.t ta, b.t tb, a.est ea, b.est eb,
       |    list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:$KmvK] AS usk,
       |    a.sk ask, b.sk bsk
       |  FROM e a JOIN e b ON a.t < b.t),
       | q AS (SELECT ta, tb, ea, eb, usk, len(usk) AS ucnt,
       |    CASE WHEN len(usk) < $KmvK THEN len(usk)::DOUBLE
       |         ELSE ${KmvK - 1}.0 * $KmvScale.0 / usk[$KmvK] END AS uest,
       |    len(list_intersect(usk, list_intersect(ask, bsk))) AS inter_n
       |  FROM p)
       |SELECT ta AS type_a, tb AS type_b, ea AS est_a, eb AS est_b,
       |  uest AS est_union,
       |  inter_n::DOUBLE / ucnt AS jaccard,
       |  (inter_n::DOUBLE / ucnt) * uest AS est_intersection
       |FROM q""".stripMargin

  // ------------------------------------------------------ heavy hitters
  /** Top-k heavy hitters (most active users) from COUNT-MIN point
    * estimates — the constant-memory frequency path where the exact
    * per-user count table ([[topUsers]]) would be user-cardinality-sized:
    * one pass folds every event into a 4×4096 sketch (map-side partial
    * aggregation, ~128KB regardless of user count), the collected sketch
    * broadcasts, and the distinct-user probe is a narrow scan +
    * TakeOrdered. The md5 bucketing is engine-replicable, so the whole
    * approximate ranking — estimates never undercount, overcount bounded
    * by the CMS contract — hash-checks against DuckDB. */
  private val HhTopK = 20

  def heavyHitters(spark: SparkSession, d: String): DataFrame = {
    val users = ev(spark, d).select(col("user_id").cast("string").as("u"))
    val bc = MemoCache.getOrElseUpdate(spark, ("cms-hh", d))({
      val row = users
        .agg(graft.functions.CountMin.sketch(col("u")).as("cms")).head()
      spark.sparkContext.broadcast(row.getSeq[Long](0).toArray)
    })(_.unpersist(blocking = false))
    val estUdf = udf((u: String) => graft.functions.CountMin.query(bc.value, u))
    users.distinct()
      .withColumn("est_count", estUdf(col("u")))
      .orderBy(col("est_count").desc, col("u"))
      .limit(HhTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("est_count").desc, col("u"))))
      .withColumnRenamed("u", "user_id")
  }

  val heavyHittersSql: String = {
    val w = graft.functions.CountMin.Width
    val dm = graft.functions.CountMin.Depth - 1
    s"""WITH v AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events),
       | r AS (SELECT unnest(generate_series(0, $dm)) AS r),
       | counters AS (SELECT r,
       |     (('0x' || substr(md5('cm' || r || ':' || u), 1, 16))::UBIGINT >> 1)
       |       % $w AS b,
       |     COUNT(*) AS c
       |   FROM v, r GROUP BY 1, 2),
       | dv AS (SELECT DISTINCT u FROM v),
       | probes AS (SELECT u, r.r,
       |     (('0x' || substr(md5('cm' || r.r || ':' || u), 1, 16))::UBIGINT >> 1)
       |       % $w AS b
       |   FROM dv, r),
       | est AS (SELECT u, MIN(c) AS est_count
       |         FROM probes JOIN counters ON probes.r = counters.r
       |                                  AND probes.b = counters.b
       |         GROUP BY 1)
       |SELECT u AS user_id, est_count, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY est_count DESC, u) AS rank
       |  FROM est)
       |WHERE rank <= $HhTopK""".stripMargin
  }

  // ------------------------------------------------------------ pagerank
  /** Weighted PageRank over the click-transition graph (damping 0.85,
    * [[PrIters]] fixed iterations) — the classic "which page/state matters"
    * ranking over exactly the flow graph [[transitions]] counts.
    *
    * Determinism: ranks live as longs in 1e-12 units and every step is
    * integer arithmetic — per-edge contribution `(rank DIV out_weight) * w`
    * and the damped update `base + (85 * Σ) DIV 100` — so iteration order
    * and float summation never matter and the whole 10-round fixpoint
    * hash-checks against a DuckDB recursive-CTE replay. (Truncating DIV
    * before the multiply keeps every intermediate within long range no
    * matter how large the edge weights grow; dangling-node mass leaks, the
    * standard simplification.)
    *
    * Scale: nodes and edges are DataFrames keyed on the node id — each
    * iteration is one src-key join (rank table vs edges) + one
    * map-side-combinable sum per dst, the textbook distributed PageRank;
    * nothing assumes the node set fits anywhere. `localCheckpoint` cuts
    * the 10-iteration lineage like the BPE trainer. The node COUNT is the
    * only driver-side scalar. */
  private val PrScale = 1000000000000L // 1e12: rank units
  private val PrIters = 10

  def pagerank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // The edge list IS the memoized collected transitions table the chain
    // solvers share — type-pair grain, model-sized by construction (the
    // same argument that lets those solvers collect it unconditionally).
    // Reading the memo replaces the per-invocation cache+count+distinct+
    // two-collect chain (five jobs) with pure driver arithmetic.
    val es = transitionsCollected(spark, d)
    val ns = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = ns.length.toLong
    // floor; all positive. No transitions (n = 0): the driver loop below
    // runs over no nodes and yields the empty result with its usual schema
    val base = 15L * PrScale / (100L * math.max(n, 1L))
    // Gate like the dedup cluster resolver: an edge list that fits the
    // driver iterates there (10 Spark jobs of per-round overhead dwarf the
    // arithmetic on graphs of type/page cardinality — measured 2.6s → 0.3s
    // at sf0.1); past `spark.graft.pagerank.maxDriverEdges` the identical
    // integer updates run distributed. Bit-parity is spec-pinned.
    val maxDriverEdges = GraftConf.PagerankMaxDriverEdges.get(spark)
    val ranks: DataFrame = if (es.length <= maxDriverEdges) {
      val ow = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      var rank = ns.map(_ -> PrScale / n).toMap
      for (_ <- 1 to PrIters) {
        val sc = collection.mutable.Map.empty[String, Long]
        es.foreach { case (s, t, w) =>
          sc(t) = sc.getOrElse(t, 0L) + rank(s) / ow(s) * w
        }
        rank = ns.map(v => v -> (base + 85L * sc.getOrElse(v, 0L) / 100L)).toMap
      }
      ns.map(v => (v, rank(v))).toSeq.toDF("node", "rank")
    } else {
      val edges = transitions(spark, d)
        .select(col("event_type").as("src"), col("next_type").as("dst"),
          col("n_transitions").as("w"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      var r = nodes.withColumn("rank", lit(PrScale / n))
      for (_ <- 1 to PrIters) {
        val contribs = edges.join(outw, "src")
          .join(r.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"),
            (expr("rank DIV ow") * col("w")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("sc"))
        r = nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) DIV 100"))
              .as("rank"))
          .localCheckpoint()
      }
      r
    }
    ranks.select(col("node").as("event_type"), col("rank").as("rank_scaled"),
      (col("rank").cast("double") / PrScale).as("rank"))
  }

  /** Recursive-CTE replay: the rank vector rides as a list over the sorted
    * node list ([[linearProbeSql]]'s state-as-list idiom), edges as one
    * packed struct list; each round recomputes every node with the same
    * integer formula. */
  val pagerankSql: String =
    s"""WITH RECURSIVE
       | t AS (
       |  SELECT event_type,
       |    LEAD(event_type, 1) OVER (PARTITION BY user_id
       |                              ORDER BY epoch_ms(ts), event_id) AS next_type
       |  FROM events),
       | edges AS (SELECT event_type AS src, next_type AS dst, COUNT(*) AS w
       |           FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
       | nodes AS (SELECT DISTINCT node FROM
       |             (SELECT src AS node FROM edges
       |              UNION SELECT dst FROM edges)),
       | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       | outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
       | packed AS (SELECT list({'src': src, 'dst': dst, 'w': w, 'ow': ow}) AS es
       |            FROM edges JOIN outw USING (src)),
       | nl AS (SELECT list(node ORDER BY node) AS ns FROM nodes),
       | pr(it, rl) AS (
       |   SELECT 0, list_transform(ns, x -> $PrScale // n) FROM nl, nn
       |   UNION ALL
       |   SELECT it + 1, list_transform(ns, v ->
       |       (15 * $PrScale) // (100 * n) +
       |       (85 * COALESCE(CAST(list_sum(list_transform(es, e ->
       |          CASE WHEN e.dst = v
       |               THEN (rl[list_position(ns, e.src)] // e.ow) * e.w
       |               ELSE 0 END)) AS BIGINT), 0)) // 100)
       |   FROM pr, packed, nl, nn WHERE it < $PrIters),
       | f AS (SELECT rl FROM pr ORDER BY it DESC LIMIT 1)
       |SELECT ns[i] AS event_type, rl[i] AS rank_scaled,
       |  CAST(rl[i] AS DOUBLE) / $PrScale AS rank
       |FROM f, nl,
       |  (SELECT unnest(generate_series(1, (SELECT CAST(n AS INT) FROM nn))) AS i)""".stripMargin

  // ------------------------------------------------------------ retention
  /** Day-over-day retention: users active on day D who return on D+1.
    * Distinct (day, user) pairs self-join on (user, day+1) — both sides
    * shuffle on user_id once; counts partial-aggregate map-side. */
  def retention(spark: SparkSession, d: String): DataFrame = {
    val days = ev(spark, d)
      .select(to_date(col("ts").cast("timestamp")).as("day"), col("user_id"))
      .distinct()
    val returned = days.as("a")
      .join(days.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.day") === date_add(col("a.day"), 1))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n_retained"))
    days.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
      .join(returned, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_active"), coalesce(col("n_retained"), lit(0L)).as("n_retained"))
  }

  val retentionSql: String =
    """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
      | ret AS (SELECT a.day, COUNT(*) AS n_retained
      |         FROM du a JOIN du b
      |           ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
      |         GROUP BY 1)
      |SELECT strftime(du.day, '%Y-%m-%d') AS day, COUNT(*) AS n_active,
      |  COALESCE(ANY_VALUE(ret.n_retained), 0) AS n_retained
      |FROM du LEFT JOIN ret ON du.day = ret.day
      |GROUP BY du.day""".stripMargin

  // ------------------------------------------------------------ as-of join
  /** As-of join — the "latest snapshot at event time" enrichment Spark has
    * no native operator for (each event joins the most recent dimension row
    * with snap_ts <= event_ts per user). Implemented as the scalable
    * union-window composition: tag snapshots and events, one shuffle on the
    * key, and `last(value, ignoreNulls)` over the time-ordered union carries
    * each snapshot forward — cost O(n log n) per key vs the naive
    * range-join's O(events x snapshots). Snapshots sort before events at
    * equal timestamps, so a same-instant snapshot applies (the `<=`
    * convention of DuckDB's native ASOF JOIN, which the oracle uses).
    *
    * The snapshot table is derived deterministically (every 7th event sets
    * the user's tier), deduped per (user, ts) by greatest event_id in both
    * engines. */
  def asofTier(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      col("user_id"), col("ts_ms"), col("event_id"), col("value"))
    val snaps = base.filter(col("event_id") % 7 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(struct(col("event_id"),
        floor(col("value")).cast("long").as("tier"))).as("m"))
      .select(col("user_id"), col("ts_ms"), col("m.tier").as("tier"))
    val tagged = base
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        lit(null).cast("long").as("tier"), lit(1).as("is_event"))
      .unionByName(snaps.select(col("user_id"), col("ts_ms"),
        lit(null).cast("long").as("event_id"), col("tier"),
        lit(0).as("is_event")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn("asof_tier", last(col("tier"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("asof_tier"))
  }

  /** Oracle: DuckDB's native ASOF LEFT JOIN with the same snapshot dedupe. */
  val asofTierSql: String =
    """WITH base AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
      |              FROM events),
      | s AS (SELECT user_id, ts_ms, tier FROM (
      |    SELECT user_id, ts_ms, CAST(FLOOR(value) AS BIGINT) AS tier,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, ts_ms
      |                         ORDER BY event_id DESC) AS rn
      |    FROM base WHERE event_id % 7 = 0) WHERE rn = 1)
      |SELECT b.event_id, b.user_id, b.ts_ms, s.tier AS asof_tier
      |FROM base b ASOF LEFT JOIN s
      |  ON b.user_id = s.user_id AND b.ts_ms >= s.ts_ms""".stripMargin

  // --------------------------------------------------------- interval join
  /** Interval (overlap) join — the second range-join shape Spark has no
    * native operator for: each event joins every WINDOW `[start, end]` of
    * the same user that covers its timestamp (as-of = latest-single-match;
    * interval = all-overlapping-matches). The naive formulation is a
    * nested-loop/cartesian per user; this one is the standard BUCKETIZED
    * range join: quantize time into buckets of the maximum window length,
    * explode each window over the (≤ 2) buckets it spans, key the probe
    * side on its single bucket, and equi-join on (user, bucket) with the
    * range check left as a residual filter — Catalyst plans a HASH join,
    * each event meets each window at most once (the event's bucket is
    * unique, so no post-join distinct), and the shape survives any scale
    * because the join key is (user, time-bucket), not user alone.
    *
    * Windows: every 50th event opens a 24 h window for its user (the
    * incident/promotion-window shape); bucket width = window length, the
    * bucketization invariant. */
  def intervalJoin(spark: SparkSession, d: String): DataFrame = {
    val WinMs = 24L * 3600 * 1000
    val base = ev(spark, d).select(col("event_id"), col("user_id"), col("ts_ms"))
    val windows = base.filter(col("event_id") % 50 === 0)
      .select(col("event_id").as("win_id"), col("user_id"),
        col("ts_ms").as("win_start"), (col("ts_ms") + WinMs).as("win_end"))
      .withColumn("bucket", explode(sequence(
        expr(s"win_start DIV ${WinMs}L"), expr(s"win_end DIV ${WinMs}L"))))
    val probes = base.withColumn("bucket", expr(s"ts_ms DIV ${WinMs}L"))
    probes.join(windows, Seq("user_id", "bucket"))
      .filter(col("ts_ms") >= col("win_start") && col("ts_ms") <= col("win_end"))
      .select(col("event_id"), col("win_id"), col("user_id"),
        (col("ts_ms") - col("win_start")).as("offset_ms"))
  }

  val intervalJoinSql: String =
    """WITH base AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      | w AS (SELECT event_id AS win_id, user_id, ts_ms AS win_start,
      |         ts_ms + 86400000 AS win_end
      |       FROM base WHERE event_id % 50 = 0)
      |SELECT b.event_id, w.win_id, b.user_id,
      |  b.ts_ms - w.win_start AS offset_ms
      |FROM base b JOIN w
      |  ON b.user_id = w.user_id
      | AND b.ts_ms BETWEEN w.win_start AND w.win_end""".stripMargin

  // ------------------------------------------------ multi-touch attribution
  /** Linear multi-touch attribution — the all-touches generalization of
    * `evt_attribution`'s last-touch rule: every view within 24 h BEFORE a
    * purchase (same user) shares the credit equally. Uses the same
    * bucketized range-join shape as [[intervalJoin]] (each view opens a
    * window, purchases probe by time bucket, hash join + residual), then
    * one purchase-keyed window to count touches. Credit is integer ppm
    * (`1000000 DIV n`) so both engines split bit-exactly. */
  def multitouch(spark: SparkSession, d: String): DataFrame = {
    val WinMs = 24L * 3600 * 1000
    val base = ev(spark, d)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("event_type"))
    val views = base.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_ms").as("view_ts"))
      .withColumn("bucket", explode(sequence(
        expr(s"view_ts DIV ${WinMs}L"),
        expr(s"(view_ts + ${WinMs}L) DIV ${WinMs}L"))))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_ms"))
      .withColumn("bucket", expr(s"ts_ms DIV ${WinMs}L"))
    val matched = purchases.join(views, Seq("user_id", "bucket"))
      .filter(col("ts_ms") >= col("view_ts") &&
        col("ts_ms") <= col("view_ts") + WinMs)
    val w = Window.partitionBy(col("purchase_id"))
    matched
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("n_touches"),
        expr("1000000L DIV n_touches").as("credit_ppm"))
  }

  val multitouchSql: String =
    """WITH base AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
      |              FROM events),
      | v AS (SELECT event_id AS view_id, user_id, ts_ms AS view_ts
      |       FROM base WHERE event_type = 'view'),
      | p AS (SELECT event_id AS purchase_id, user_id, ts_ms
      |       FROM base WHERE event_type = 'purchase'),
      | m AS (SELECT p.purchase_id, v.view_id, p.user_id
      |       FROM p JOIN v ON p.user_id = v.user_id
      |         AND p.ts_ms BETWEEN v.view_ts AND v.view_ts + 86400000)
      |SELECT purchase_id, view_id, user_id,
      |  COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches,
      |  1000000 // COUNT(*) OVER (PARTITION BY purchase_id) AS credit_ppm
      |FROM m""".stripMargin

  // ------------------------------------------------- cohort analysis
  /** Signup-cohort revenue triangle: users grouped by first-seen day,
    * revenue tracked by days-since-cohort — the classic retention/LTV
    * matrix. Two keyed passes: first-seen day per user (map-side
    * combinable min), broadcast-joined back onto the fact stream (the
    * cohort table is user-cardinality-sized: a keyed join at warehouse
    * scale, AQE picks), then the (cohort, age) rollup. Ages cap at 30
    * days so the output stays a bounded triangle. */
  def cohortRevenue(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      col("user_id"),
      to_date(col("ts").cast("timestamp")).as("day"),
      col("value"))
    val cohorts = base.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    base.join(cohorts, "user_id")
      .withColumn("age_days", datediff(col("day"), col("cohort_day")))
      .filter(col("age_days") <= 30)
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("age_days"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  val cohortRevenueSql: String =
    """WITH base AS (
      |  SELECT user_id, ts::DATE AS day, value FROM events),
      | c AS (SELECT user_id, MIN(day) AS cohort_day FROM base GROUP BY 1)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      |  datediff('day', cohort_day, day) AS age_days,
      |  COUNT(DISTINCT base.user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM base JOIN c ON base.user_id = c.user_id
      |WHERE datediff('day', cohort_day, day) <= 30
      |GROUP BY c.cohort_day, 2""".stripMargin

  // -------------------------------------------------- ordered funnel
  /** STRICTLY-ORDERED session funnel view → click → purchase: a step
    * counts only when it happens AFTER the previous step inside the same
    * 30-minute session (the reference's session scope; [[funnel]] is the
    * looser lifetime variant). The dependency chain (first view, first
    * click ≥ that view, first purchase ≥ that click) decorrelates into
    * three keyed aggregates joined on the session id — every pass is
    * map-side combinable, state per session is three timestamps, never an
    * event list. Output: one corpus row with per-step reach counts. */
  def sessionFunnel(spark: SparkSession, d: String): DataFrame = {
    val sess = sessioned(spark, d).select("user_id", "sid", "ts_ms", "event_type")
    val s1 = sess.groupBy(col("user_id"), col("sid"))
      .agg(min(when(col("event_type") === "view", col("ts_ms"))).as("v_ts"))
    val s2 = sess.join(s1, Seq("user_id", "sid"))
      .filter(col("event_type") === "click" && col("ts_ms") >= col("v_ts"))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_ms")).as("c_ts"))
    val s3 = sess.join(s2, Seq("user_id", "sid"))
      .filter(col("event_type") === "purchase" && col("ts_ms") >= col("c_ts"))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_ms")).as("p_ts"))
    s1.join(s2, Seq("user_id", "sid"), "left")
      .join(s3, Seq("user_id", "sid"), "left")
      .agg(
        count(lit(1)).as("n_sessions"),
        count(col("v_ts")).as("n_viewed"),
        count(col("c_ts")).as("n_clicked_after_view"),
        count(col("p_ts")).as("n_purchased_after_click"))
  }

  lazy val sessionFunnelSql: String =
    s"""WITH $sessionedSqlCtes, s1 AS (
      |  SELECT user_id, sid,
      |    MIN(CASE WHEN event_type = 'view' THEN ts_ms END) AS v_ts
      |  FROM s GROUP BY 1, 2
      |), s2 AS (
      |  SELECT s.user_id, s.sid, MIN(ts_ms) AS c_ts
      |  FROM s JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
      |  WHERE event_type = 'click' AND ts_ms >= v_ts GROUP BY 1, 2
      |), s3 AS (
      |  SELECT s.user_id, s.sid, MIN(ts_ms) AS p_ts
      |  FROM s JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
      |  WHERE event_type = 'purchase' AND ts_ms >= c_ts GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_sessions,
      |  COUNT(v_ts) AS n_viewed,
      |  COUNT(c_ts) AS n_clicked_after_view,
      |  COUNT(p_ts) AS n_purchased_after_click
      |FROM s1
      |LEFT JOIN s2 USING (user_id, sid)
      |LEFT JOIN s3 USING (user_id, sid)""".stripMargin

  // ------------------------------------------------------ bot detection
  /** Heuristic bot flagging per user — the traffic-quality sibling of the
    * reference's corruption/duplicate flags: machine traffic shows high
    * sustained event rates and metronomic inter-event gaps. Per user, one
    * key exchange computes event count, active span, events/min, and the
    * share of REPEATED inter-event gaps (a human's gap sequence is nearly
    * all-distinct; a bot's collapses to a few values). Flags, not drops.
    * All ratios derive from integer counts, rounded at the edge. */
  def botDetect(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val withGap = ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("gap", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
    val perUser = withGap.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("span_ms"),
        count(col("gap")).as("n_gaps"),
        countDistinct(col("gap")).as("n_distinct_gaps"))
    perUser.select(
        col("user_id"), col("n_events"), col("span_ms"),
        round(col("n_events") * 60000.0 / greatest(col("span_ms"), lit(1L)), 6)
          .as("events_per_min"),
        round(when(col("n_gaps") > 0,
          (col("n_gaps") - col("n_distinct_gaps")).cast("double") / col("n_gaps"))
          .otherwise(0.0), 6).as("repeated_gap_ratio"))
      .withColumn("bot_suspect",
        // rate only counts over a real active span: a single-event (or
        // zero-span) user must not flag as a bot on the rate branch —
        // zero-span MULTI-event bursts still flag via the repeated-gap arm
        (col("span_ms") > 0 && col("events_per_min") > 30.0) ||
          col("repeated_gap_ratio") > 0.5)
      .drop("span_ms")
  }

  val botDetectSql: String =
    """WITH g AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms,
      |    epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS gap
      |  FROM events),
      | u AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    MAX(ts_ms) - MIN(ts_ms) AS span_ms,
      |    COUNT(gap) AS n_gaps,
      |    COUNT(DISTINCT gap) AS n_distinct_gaps
      |  FROM g GROUP BY 1)
      |SELECT user_id, n_events,
      |  ROUND(n_events * 60000.0 / GREATEST(span_ms, 1), 6) AS events_per_min,
      |  ROUND(CASE WHEN n_gaps > 0
      |    THEN CAST(n_gaps - n_distinct_gaps AS DOUBLE) / n_gaps
      |    ELSE 0.0 END, 6) AS repeated_gap_ratio,
      |  (span_ms > 0 AND
      |   ROUND(n_events * 60000.0 / GREATEST(span_ms, 1), 6) > 30.0) OR
      |  ROUND(CASE WHEN n_gaps > 0
      |    THEN CAST(n_gaps - n_distinct_gaps AS DOUBLE) / n_gaps
      |    ELSE 0.0 END, 6) > 0.5 AS bot_suspect
      |FROM u""".stripMargin

  // ------------------------------------------------ session features
  /** Per-session ML feature extraction: the fixed-width numeric row a
    * churn/conversion model trains on — counts per event type, duration,
    * value stats, events-per-minute — computed inside the ONE sessionize
    * exchange (conditional aggregates ride the same groupBy; no
    * post-session re-join). Decimal value sums keep the row hash-stable. */
  def sessionFeatures(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .groupBy(col("user_id"),
        session_window(col("ts").cast("timestamp"), "30 minutes"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        count(lit(1)).as("n_events"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"),
        count(when(col("event_type") === "view", 1)).as("n_views"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        round(max(col("value")), 6).as("max_value"))
      .drop("session_window")
      .withColumn("events_per_min",
        round(col("n_events") * 60000.0 /
          greatest(col("duration_ms"), lit(1L)), 6))

  val sessionFeaturesSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type, value FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > 1800000 OR
      |                      LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      |), sessioned AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, session_start_ms, n_events, duration_ms, n_views,
      |  n_clicks, n_purchases, n_errors, total_value, max_value,
      |  ROUND(n_events * 60000.0 / GREATEST(duration_ms, 1), 6) AS events_per_min
      |FROM (
      |  SELECT user_id, MIN(ts_ms) AS session_start_ms, COUNT(*) AS n_events,
      |    MAX(ts_ms) - MIN(ts_ms) AS duration_ms,
      |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
      |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
      |    COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |    ROUND(MAX(value), 6) AS max_value
      |  FROM sessioned GROUP BY user_id, sid)""".stripMargin

  // ------------------------------------------------------ attribution
  /** Purchase attribution: each purchase credits the user's LATEST view
    * within the preceding hour — the bounded as-of join marketing
    * attribution runs. Same scalable union-window composition as
    * [[asofTier]] (one user-key shuffle, carry the last view forward),
    * with the 1-hour bound applied after the carry: a view older than the
    * window de-attributes rather than crediting stale traffic. The
    * streaming form is the stream-stream interval join in
    * [[graft.streaming.Streams.attributionJoin]]. */
  private val AttribWindowMs = 3600 * 1000L

  def attribution(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_ms"),
        col("event_id").as("view_id"), lit(0).as("is_purchase"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"),
        col("event_id"), lit(1).as("is_purchase"))
    val tagged = purchases
      .withColumn("view_id", lit(null).cast(views.schema("view_id").dataType))
      .unionByName(views.withColumn("event_id",
        lit(null).cast(purchases.schema("event_id").dataType)))
    // views sort before purchases at equal ts (is_purchase 0 < 1): a
    // same-instant view is attributable, matching the oracle's >= bound
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("is_purchase"), col("view_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("last_view_ts", last(
        when(col("is_purchase") === 0, col("ts_ms")), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        when(col("ts_ms") - col("last_view_ts") <= AttribWindowMs,
          col("last_view_id")).as("attributed_view_id"),
        when(col("ts_ms") - col("last_view_ts") <= AttribWindowMs,
          col("ts_ms") - col("last_view_ts")).as("attribution_lag_ms"))
  }

  /** Oracle: native ASOF join to the latest same-or-earlier view, then the
    * window bound. The Spark side breaks same-timestamp view ties by the
    * LAST view_id carried in (the max view_id at that ts reaches the
    * window last); the oracle dedupes views per (user, ts) to max view_id
    * to match. */
  val attributionSql: String =
    s"""WITH base AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type
       |              FROM events),
       | v AS (SELECT user_id, ts_ms, MAX(event_id) AS view_id
       |       FROM base WHERE event_type = 'view' GROUP BY 1, 2),
       | p AS (SELECT user_id, ts_ms, event_id FROM base
       |       WHERE event_type = 'purchase')
       |SELECT p.event_id, p.user_id, p.ts_ms,
       |  CASE WHEN p.ts_ms - v.ts_ms <= $AttribWindowMs THEN v.view_id END
       |    AS attributed_view_id,
       |  CASE WHEN p.ts_ms - v.ts_ms <= $AttribWindowMs THEN p.ts_ms - v.ts_ms END
       |    AS attribution_lag_ms
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.ts_ms >= v.ts_ms""".stripMargin

  // ------------------------------------------------------------ sketches
  private val HllM = 1024 // 2^10 registers
  /** alpha_m · m² · 2^52 — embedded as the SAME double literal in the
    * oracle SQL, so both engines divide identical numbers. */
  private val HllScale = (0.7213 / (1 + 1.079 / HllM)) * HllM * HllM * math.pow(2, 52)

  /** The deterministic HLL register table keyed (day, event_type, bucket):
    * the shared base of [[dailyRollupApprox]] and [[rollingDistinct]] —
    * build registers from the data ONCE, then every aggregate (daily, any
    * sliding horizon) re-merges the sketch-sized table, never the data. */
  private def hllRegs(base: DataFrame,
                      extraKeys: Seq[String] = Nil): DataFrame = {
    val uidMd5 = md5(col("user_id").cast("string"))
    val lo = conv(substring(uidMd5, 25, 8), 16, 10).cast("long")
    val hi = conv(substring(uidMd5, 17, 8), 16, 10).cast("long")
    val w = hi * lit(1L << 22) + shiftrightunsigned(lo, 10)
    val r = when(w === 0, lit(1L << 54)).otherwise(w.bitwiseAND(-w))
    base
      .withColumn("bucket", lo.bitwiseAND(lit((HllM - 1).toLong)))
      .withColumn("r", r)
      .groupBy((Seq("day", "event_type") ++ extraKeys :+ "bucket").map(col): _*)
      .agg(max(col("r")).as("rmax"))
  }

  /** Exact-integer harmonic estimate over a register table, per `keys`:
    * the estimate column is `approx_users` (round 3), the arithmetic is
    * identical to the oracle replica's. */
  private def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(
        sum(floor(lit((1L << 51).toDouble) / col("rmax")).cast("long")).as("s_present"),
        count(lit(1)).as("nregs"))
      .select(keys.map(col) :+
        (col("s_present") + (lit(HllM.toLong) - col("nregs")) * lit(1L << 52))
          .cast("double").as("s") :+
        (lit(HllM.toLong) - col("nregs")).as("zeros"): _*)
      .select(keys.map(col) :+
        round(when(lit(HllScale) / col("s") <= lit(2.5 * HllM) && col("zeros") > 0,
            lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("zeros").cast("double")))
          .otherwise(lit(HllScale) / col("s")), 3).as("approx_users"): _*)

  /** Approximate rollup — the 100 TB form of evt_daily_rollup: HLL distinct
    * users (mergeable registers, constant memory per group vs exact COUNT
    * DISTINCT's second shuffle) and sampled value percentiles.
    *
    * Unlike `approx_count_distinct`/`approx_percentile` (engine-internal
    * sketches, unverifiable), these sketches are DETERMINISTIC and
    * engine-portable, so the whole query hash-checks against a DuckDB
    * replica:
    *  - HLL on the md5-low-64 of user_id: register = low 10 bits, and the
    *    register value is stored as 2^(rho-1) = lowest-set-bit of the
    *    remaining 54 bits (max of powers of two ≡ max rho). The harmonic
    *    sum Σ2^-rho is computed in EXACT integer math scaled by 2^52
    *    (registers beyond rho 52 truncate to 0 identically in both
    *    engines), leaving one double division — bit-stable everywhere.
    *    Standard linear-counting small-range correction.
    *  - percentiles: exact interpolated percentile over a deterministic
    *    20% Bernoulli sample keyed on md5(event_id) — sampling replaces
    *    the sketch, determinism replaces the RNG.
    * Accuracy vs the exact rollup is asserted in SketchSpec. */
  def dailyRollupApprox(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("user_id"), col("value"), col("event_id"))
    val keys = Seq("day", "event_type")
    val users = hllEstimate(hllRegs(base), keys)
    val sampleKey = conv(substring(md5(concat(lit("v"), col("event_id").cast("string"))), 25, 8), 16, 10)
      .cast("long")
    // counts and sampled percentiles fuse into ONE aggregation pass:
    // percentile ignores nulls, so gating the value on the sample key is
    // exactly the filtered-subset percentile (incl. null for unsampled
    // groups) without a second scan + join over the base
    val sampled = when(sampleKey % 5 === 0, col("value"))
    val cp = base.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        round(percentile(sampled, lit(0.5)), 6).as("p50_value"),
        round(percentile(sampled, lit(0.95)), 6).as("p95_value"))
    cp.join(users, keys)
      .select(col("day"), col("event_type"), col("n_events"),
        col("approx_users"), col("p50_value"), col("p95_value"))
  }

  val dailyRollupApproxSql: String = {
    val c = HllScale.toString
    s"""WITH base AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, user_id, value,
       |         event_id
       |  FROM events),
       | h AS (SELECT day, event_type,
       |         ('0x' || substr(md5(user_id::VARCHAR), 25, 8))::UBIGINT AS lo,
       |         ('0x' || substr(md5(user_id::VARCHAR), 17, 8))::UBIGINT AS hi
       |       FROM base),
       | hw AS (SELECT day, event_type,
       |          CAST(lo & 1023 AS BIGINT) AS bucket,
       |          CAST(hi AS BIGINT) * 4194304 + CAST(lo >> 10 AS BIGINT) AS w
       |        FROM h),
       | regs AS (SELECT day, event_type, bucket,
       |            MAX(CASE WHEN w = 0 THEN 18014398509481984
       |                     ELSE w & (-w) END) AS rmax
       |          FROM hw GROUP BY 1, 2, 3),
       | hll AS (SELECT day, event_type,
       |           SUM(CAST(FLOOR(2251799813685248.0 / rmax) AS BIGINT)) AS s_present,
       |           COUNT(*) AS nregs
       |         FROM regs GROUP BY 1, 2),
       | users AS (SELECT day, event_type,
       |             ROUND(CASE WHEN $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE) <= 2560.0
       |                         AND 1024 - nregs > 0
       |                   THEN 1024.0 * ln(1024.0 / CAST(1024 - nregs AS DOUBLE))
       |                   ELSE $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE)
       |                   END, 3) AS approx_users
       |           FROM hll),
       | samp AS (SELECT day, event_type,
       |            ROUND(quantile_cont(value, 0.5), 6) AS p50_value,
       |            ROUND(quantile_cont(value, 0.95), 6) AS p95_value
       |          FROM base
       |          WHERE ('0x' || substr(md5('v' || event_id::VARCHAR), 25, 8))::UBIGINT % 5 = 0
       |          GROUP BY 1, 2),
       | cnt AS (SELECT day, event_type, COUNT(*) AS n_events FROM base GROUP BY 1, 2)
       |SELECT cnt.day, cnt.event_type, n_events, approx_users, p50_value, p95_value
       |FROM cnt JOIN users USING (day, event_type)
       |LEFT JOIN samp USING (day, event_type)""".stripMargin
  }

  // ----------------------------------------------------- power analysis
  /** Experiment power analysis — the design-time companion of the A/B
    * readout family: per metric (event type's value), the minimum
    * detectable effect for a 50/50 split at α=0.05 (two-sided) and 80%
    * power, MDE = (z_{0.975} + z_{0.80})·√(2σ²/n). Variance comes from
    * EXACT integer moments of the scaled values ((n·Σv² − (Σv)²)/(n(n−1)),
    * the CUPED discipline), the z constants are shared literals, and the
    * one final sqrt/divide chain is identical double arithmetic in both
    * engines. One map-side-combinable aggregation. */
  def powerAnalysis(spark: SparkSession, d: String): DataFrame = {
    // z_{0.975} + z_{0.80}, pre-summed as ONE literal: both engines must
    // parse the identical decimal (a runtime double addition could sit one
    // ulp from the SQL literal)
    val zSum = 2.801585
    ev(spark, d).filter(col("value").isNotNull)
      .select(col("event_type"), floor(col("value") * 1000).cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
      .select(col("event_type"), col("n"),
        round(col("s").cast("double") / col("n") / 1000.0, 6).as("mean"),
        round(sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double")
          / (col("n").cast("double") * (col("n") - 1))) / 1000.0, 6).as("sd"),
        round(lit(zSum) * sqrt(
            lit(2.0) * (col("n") * col("ss") - col("s") * col("s")).cast("double")
              / (col("n").cast("double") * (col("n") - 1)) / col("n")) / 1000.0, 6)
          .as("mde_abs"))
      .withColumn("mde_rel",
        round(col("mde_abs") / col("mean"), 6))
  }

  val powerAnalysisSql: String =
    """WITH e AS (SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS v
      |           FROM events WHERE value IS NOT NULL),
      | m AS (SELECT event_type, COUNT(*) AS n,
      |         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
      |       FROM e GROUP BY 1)
      |, sel AS (SELECT event_type, n,
      |  ROUND(CAST(s AS DOUBLE) / n / 1000.0, 6) AS mean,
      |  ROUND(SQRT(CAST(n * ss - s * s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (n - 1))) / 1000.0, 6) AS sd,
      |  ROUND(2.801585 * SQRT(2.0 * CAST(n * ss - s * s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (n - 1)) / n) / 1000.0, 6) AS mde_abs
      |FROM m)
      |SELECT *, ROUND(mde_abs / mean, 6) AS mde_rel FROM sel""".stripMargin

  // --------------------------------------------------- k-anonymity audit
  /** Privacy audit before a dataset leaves the pipeline: k-anonymity
    * violations under quasi-identifier combinations, with the
    * generalization ladder that shows the repair step (day → month: the
    * same QI set, coarsened, sheds violations). A record violates k=5
    * when its full QI combination matches fewer than 5 records; unique
    * combinations are the re-identification worst case. One
    * map-side-combinable groupBy per audit row — the shuffle carries QI
    * combination counts, never records. Exact integers + one rounded
    * rate, so the oracle hash-matches. */
  def kanonAudit(spark: SparkSession, d: String): DataFrame = {
    val k = 5
    val e = ev(spark, d).select(col("event_type"),
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      date_format(col("ts").cast("timestamp"), "yyyy-MM").as("month"),
      floor(coalesce(col("value"), lit(0.0)) / 100.0).cast("long").as("vband"),
      col("user_id"))
    def audit(qi: String, cols: Seq[Column]): DataFrame =
      e.groupBy(cols: _*).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_records"), count(lit(1)).as("n_combos"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_unique_combos"),
          sum(when(col("c") < k, col("c")).otherwise(0L)).as("n_violating"))
        .select(lit(qi).as("qi"), lit(k).as("k"),
          col("n_records"), col("n_combos"), col("n_unique_combos"),
          col("n_violating"),
          round(col("n_violating").cast("double") / col("n_records"), 6)
            .as("violation_rate"))
    audit("type+day+vband", Seq(col("event_type"), col("day"), col("vband")))
      .unionByName(audit("type+month+vband",
        Seq(col("event_type"), col("month"), col("vband"))))
      .unionByName(audit("type+month", Seq(col("event_type"), col("month"))))
  }

  val kanonAuditSql: String =
    """WITH e AS (SELECT event_type,
      |    strftime(ts, '%Y-%m-%d') AS day, strftime(ts, '%Y-%m') AS month,
      |    CAST(FLOOR(COALESCE(value, 0) / 100.0) AS BIGINT) AS vband
      |  FROM events),
      | a1 AS (SELECT event_type, day, vband, COUNT(*) AS c FROM e GROUP BY 1,2,3),
      | a2 AS (SELECT event_type, month, vband, COUNT(*) AS c FROM e GROUP BY 1,2,3),
      | a3 AS (SELECT event_type, month, COUNT(*) AS c FROM e GROUP BY 1,2)
      |SELECT 'type+day+vband' AS qi, 5 AS k,
      |  CAST(SUM(c) AS BIGINT) AS n_records, CAST(COUNT(*) AS BIGINT) AS n_combos,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_combos,
      |  CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_violating,
      |  ROUND(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE), 6)
      |    AS violation_rate
      |FROM a1
      |UNION ALL
      |SELECT 'type+month+vband', 5, CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT),
      |  ROUND(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE), 6)
      |FROM a2
      |UNION ALL
      |SELECT 'type+month', 5, CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT),
      |  ROUND(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE), 6)
      |FROM a3""".stripMargin

  // --------------------------------------------- seasonal decomposition
  /** Classical additive seasonal decomposition of the per-type daily count
    * series: trend = centered 7-day moving average, seasonal = per-weekday
    * mean of the detrended series, residual = remainder — the STL-shaped
    * readout behind "is Monday always like this, or is something wrong".
    * All levels carry in MILLI-events: the MA sum is an exact long,
    * `trend_milli = ⌊1000·Σ₇/7⌋`, detrended/seasonal/residual are exact
    * long arithmetic on top (the one ⌊·⌋ per level is a double division of
    * exact-long operands — identical in both engines). Weekday =
    * `pmod(day_num, 7)` on both sides (pure arithmetic — the two engines
    * disagree on calendar dow numbering, so no calendar function crosses
    * the oracle; the oracle spells pmod as `((d%7)+7)%7` so pre-epoch
    * timestamps (negative day_num) index the same 0..6 bucket). Edge days
    * without a full 7-day window are excluded (cnt = 7 filter), as in the
    * classical method.
    *
    * Scale: one map-side-combinable day-grain aggregation; the windows run
    * per type over the day-grain series (model-sized); the weekday index
    * is a (type × 7)-row broadcastable join. */
  def decompose(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .agg(count(lit(1)).as("x"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("sum7", sum(col("x")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .filter(col("cnt7") === 7)
      .withColumn("trend_milli",
        floor(lit(1000.0) * col("sum7").cast("double") / 7).cast("long"))
      .withColumn("det_milli", lit(1000) * col("x") - col("trend_milli"))
      .withColumn("dow", pmod(col("day_num"), lit(7L)))
    val seasonal = trended.groupBy(col("event_type"), col("dow"))
      .agg(floor(sum(col("det_milli")).cast("double") / count(lit(1)))
        .cast("long").as("seas_milli"))
    trended.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("day_num"), col("x"),
        col("trend_milli"), col("seas_milli"),
        (col("det_milli") - col("seas_milli")).as("resid_milli"))
  }

  val decomposeSql: String =
    """WITH daily AS (SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      | t AS (SELECT event_type, day_num, x,
      |    SUM(x) OVER w AS sum7, COUNT(*) OVER w AS cnt7
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_num
      |                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      | tr AS (SELECT event_type, day_num, x,
      |    CAST(FLOOR(1000.0 * sum7 / 7) AS BIGINT) AS trend_milli,
      |    1000 * x - CAST(FLOOR(1000.0 * sum7 / 7) AS BIGINT) AS det_milli,
      |    ((day_num % 7) + 7) % 7 AS dow
      |  FROM t WHERE cnt7 = 7),
      | s AS (SELECT event_type, dow,
      |    CAST(FLOOR(CAST(SUM(det_milli) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |      AS seas_milli
      |  FROM tr GROUP BY 1, 2)
      |SELECT tr.event_type, tr.day_num, tr.x, tr.trend_milli, s.seas_milli,
      |  tr.det_milli - s.seas_milli AS resid_milli
      |FROM tr JOIN s ON tr.event_type = s.event_type AND tr.dow = s.dow""".stripMargin

  // ----------------------------------------------- transition entropy
  /** Next-event predictability: Shannon entropy of each event type's
    * outgoing-transition distribution ([[transitions]]' rows) — 0 bits =
    * fully deterministic flow, log2(k) = uniform over k successors. The
    * navigational-predictability readout of clickstream analysis, and the
    * same quantize-before-sum determinism as the char-entropy signal:
    * per-successor terms floor to 1e6-scaled longs so the per-type sum is
    * order-free integer addition. */
  def pathEntropy(spark: SparkSession, d: String): DataFrame =
    transitions(spark, d)
      .groupBy(col("event_type"))
      .agg(sum(col("n_transitions")).as("n_out"),
        count(lit(1)).as("n_successors"),
        sum(floor(lit(1000000.0) * col("n_transitions").cast("double") *
          log2(col("n_transitions").cast("double"))).cast("long")).as("t"))
      .select(col("event_type"), col("n_out"), col("n_successors"),
        round(log2(col("n_out").cast("double")) -
          col("t").cast("double") / lit(1000000.0) / col("n_out"), 6)
          .as("entropy_bits"))

  val pathEntropySql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY epoch_ms(ts), event_id) AS next_type
      |  FROM events),
      | tr AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
      | g AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_out,
      |    CAST(COUNT(*) AS BIGINT) AS n_successors,
      |    CAST(SUM(CAST(FLOOR(1000000.0 * n * log2(CAST(n AS DOUBLE))) AS BIGINT))
      |      AS BIGINT) AS t
      |  FROM tr GROUP BY 1)
      |SELECT event_type, n_out, n_successors,
      |  ROUND(log2(CAST(n_out AS DOUBLE)) - CAST(t AS DOUBLE) / 1000000.0 / n_out, 6)
      |    AS entropy_bits
      |FROM g""".stripMargin

  // ------------------------------------------------------ Gini concentration
  /** Revenue concentration per event type — the Gini coefficient over
    * per-user value mass, the "how whale-dominated is this surface" readout
    * (0 = uniform, →1 = one user carries everything). Exact rank form:
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over values sorted ascending with
    * user-id tie-break — every term an exact long on milli-scaled values
    * ([[winsorized]]'s cents convention), one final division rounded to 6.
    *
    * Scale: one (type, user) aggregation map-side, then a per-type window
    * rank (the one sort — keyed by type, never global) and a type-grain
    * rollup. Σi·x fits long through ~10^18 milli-value-user-rank mass;
    * shard per stratum past that, like the rollup family. */
  def gini(spark: SparkSession, d: String): DataFrame = {
    val perUser = ev(spark, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("x"), col("user_id"))
    perUser
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("total_milli"),
        sum(col("i") * col("x")).as("six"))
      .filter(col("total_milli") > 0)
      .select(col("event_type"), col("n_users"), col("total_milli"),
        round((lit(2) * col("six") - (col("n_users") + 1) * col("total_milli"))
          .cast("double") / (col("n_users") * col("total_milli")), 6).as("gini"))
  }

  val giniSql: String =
    """WITH pu AS (SELECT event_type, user_id,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      | r AS (SELECT event_type, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |                            ORDER BY x, user_id) AS BIGINT) AS i
      |  FROM pu),
      | g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(x) AS BIGINT) AS total_milli,
      |    CAST(SUM(i * x) AS BIGINT) AS six
      |  FROM r GROUP BY 1)
      |SELECT event_type, n_users, total_milli,
      |  ROUND(CAST(2 * six - (n_users + 1) * total_milli AS DOUBLE) /
      |        (n_users * total_milli), 6) AS gini
      |FROM g WHERE total_milli > 0""".stripMargin

  // ------------------------------------------------------- uplift by segment
  /** Segment-level uplift readout (the heterogeneous-treatment-effect
    * complement of [[abtest]]'s single ATE): per activity band, the
    * treatment−control conversion-rate difference, plus the Qini-style
    * cumulative incremental-conversion curve over bands ranked by observed
    * uplift — "where does the treatment actually work, and how much of the
    * total lift do the top segments carry". Bands are fixed integer
    * activity buckets (events-per-user DIV 10, capped at 8): scale-stable
    * under the fixture's users∝events growth and exchange-free to compute,
    * where a quantile segmentation would need a global rank over all users.
    *
    * Arithmetic: counts exact longs; each rate/uplift is one division
    * rounded to 6; the cumulative gain Σ(c1 − c0·n1/n0) accumulates in rank
    * order (uplift desc, band asc — total, so both engines sum the same
    * floats in the same order). Incremental gain uses the control-scaled
    * counterfactual, the standard Qini numerator.
    *
    * Scale: one user-grain aggregation (map-side combinable), then
    * band-grain rollup; the ranking window runs over ≤9 band rows
    * (band = least(n_ev DIV 10, 8) admits 0..8; the fixture populates 4). */
  def uplift(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val perUser = ev(spark, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase" && col("value") > 75, 1)
          .otherwise(0)).as("c"))
      .withColumn("arm", arm)
      .withColumn("band", least(expr("n_ev DIV 10"), lit(8L)))
    val bands = perUser.groupBy(col("band"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("c1"))
      .filter(col("n0") > 0 && col("n1") > 0)
      .withColumn("p0", round(col("c0").cast("double") / col("n0"), 6))
      .withColumn("p1", round(col("c1").cast("double") / col("n1"), 6))
      .withColumn("uplift", round(col("c1").cast("double") / col("n1") -
        col("c0").cast("double") / col("n0"), 6))
      .withColumn("gain",
        col("c1").cast("double") -
          col("c0").cast("double") * col("n1") / col("n0"))
    val byUplift = Window.orderBy(col("uplift").desc, col("band"))
    bands
      .withColumn("rank", row_number().over(byUplift).cast("int"))
      .withColumn("cum_gain",
        round(sum(col("gain")).over(
          byUplift.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6))
      .select(col("band"), col("n0"), col("c0"), col("n1"), col("c1"),
        col("p0"), col("p1"), col("uplift"), col("rank"), col("cum_gain"))
  }

  val upliftSql: String =
    """WITH pu AS (SELECT user_id, COUNT(*) AS n_ev,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 75
      |             THEN 1 ELSE 0 END) AS c,
      |    CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 25, 8))
      |         ::UBIGINT AS BIGINT) % 2 AS arm
      |  FROM events GROUP BY user_id),
      | b AS (SELECT LEAST(n_ev // 10, 8) AS band,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
      |  FROM pu GROUP BY 1
      |  HAVING SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
      |     AND SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0),
      | s AS (SELECT band, n0, c0, n1, c1,
      |    ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS p0,
      |    ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
      |    ROUND(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6) AS uplift,
      |    CAST(c1 AS DOUBLE) - CAST(c0 AS DOUBLE) * n1 / n0 AS gain
      |  FROM b)
      |SELECT band, n0, c0, n1, c1, p0, p1, uplift,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS rank,
      |  ROUND(SUM(gain) OVER (w ROWS UNBOUNDED PRECEDING), 6) AS cum_gain
      |FROM s WINDOW w AS (ORDER BY uplift DESC, band)""".stripMargin

  // ------------------------------------------------ Bloom semi-join reduction
  /** Runtime-filter semi-join: daily revenue over CONVERTING users (anyone
    * with a purchase) — the classic "reduce the fact scan by a filter
    * derived from another query" shape. The converting-user set feeds a
    * Bloom filter (built by Spark's mergeable sketch aggregation — partial
    * filters per partition, driver ORs bitsets) that prunes the fact rows
    * AT THE SCAN, before any exchange; the exact semi-join afterwards
    * removes the bounded false positives, so results are exactly the plain
    * semi-join's (which is what the oracle runs — the Bloom is invisible to
    * correctness, by construction).
    *
    * Scale: on the fixture the dim side broadcasts and the Bloom is just a
    * cheap insurance; the design point is the 100 TB shape where the
    * converting-user set outgrows the broadcast budget — the semi-join then
    * shuffles BOTH sides, and the scan-side Bloom cuts the fact side's
    * exchange by the non-converting fraction for the cost of one broadcast
    * bitset. Spark's own `runtimeFilter.bloomFilter` does this only for
    * joins it can see through; an explicit filter also survives operators
    * (UDF enrichment, sinks) the optimizer will not push past. */
  def bloomSemijoin(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d)
    val conv = MemoCache.frame(spark, ("bloom-conv", d))(
      base.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct())
    // The built-and-broadcast filter is memoized with the set it summarizes:
    // building it is two jobs (count + sketch aggregation) that otherwise
    // re-run on every invocation, and it is deterministic given conv.
    val bc = MemoCache.getOrElseUpdate(spark, ("bloom-filter", d))({
      val bloom = conv.stat.bloomFilter("user_id", math.max(conv.count(), 1L), 0.01)
      spark.sparkContext.broadcast(bloom)
    })(_.unpersist(blocking = false))
    val mightConvert = udf((u: Long) => bc.value.mightContainLong(u))
    base
      .filter(mightConvert(col("user_id"))) // scan-side, no false negatives
      .join(conv, Seq("user_id"), "left_semi") // exact: FPs drop here
      .groupBy(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  val bloomSemijoinSql: String =
    """WITH conv AS (SELECT DISTINCT user_id FROM events
      |              WHERE event_type = 'purchase')
      |SELECT strftime(e.ts, '%Y-%m-%d') AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM events e JOIN conv USING (user_id)
      |GROUP BY 1""".stripMargin

  // ------------------------------------------- differentially-private release
  /** ε-differentially-private daily rollup (ε = 1): the release-side
    * complement of [[kanonAudit]] — instead of auditing re-identification
    * risk, perturb the counts so any single event's presence is provably
    * masked. Noise is discrete Laplace (two-sided geometric, the standard
    * integer-count mechanism, Ghosh–Roughgarden–Sundararajan): the
    * difference of two Geometric(1−e^{-1}) draws, each `floor(-ln(u))` by
    * inverse CDF. The uniforms derive from md5 of the group key exactly as
    * [[graft.queries.DocQueries.weightedSample]]'s seeded uniforms — no RNG
    * state, reproducible under repartitioning, and both engines replay the
    * same draw. (A production release would swap the md5 seed for a secret
    * key; the MECHANISM — sensitivity-1 counts + discrete Laplace — is what
    * scale-tests here.) Negative releases are kept, not clamped: clamping
    * biases the release and breaks the pure-DP accounting.
    *
    * `ln` is the one libm call; a cross-engine ulp flip would need
    * `-ln(u)` within one ulp of an integer (the floor boundary) — the
    * per-group values sit ~1e-1 away on the fixture.
    *
    * Scale: one map-side-combinable aggregation to the (type, day) grain;
    * the noise is a narrow per-group expression — nothing else moves. */
  def dpRollup(spark: SparkSession, d: String): DataFrame = {
    def u(tag: String): Column = {
      val v = conv(substring(md5(concat(lit(tag), col("event_type"),
        lit(":"), col("day"))), 1, 13), 16, 10).cast("double")
      (v + lit(0.5)) / lit(4503599627370496.0) // 2^52, exact scaling
    }
    ev(spark, d)
      .groupBy(col("event_type"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("noise",
        floor(-log(u("dpa:"))).cast("long") - floor(-log(u("dpb:"))).cast("long"))
      .select(col("event_type"), col("day"),
        (col("n") + col("noise")).as("n_dp"))
  }

  val dpRollupSql: String =
    """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
      |SELECT event_type, day,
      |  n + CAST(FLOOR(-ln((('0x' || substr(md5('dpa:' || event_type || ':' || day), 1, 13))::UBIGINT
      |        + 0.5) / 4503599627370496.0)) AS BIGINT)
      |    - CAST(FLOOR(-ln((('0x' || substr(md5('dpb:' || event_type || ':' || day), 1, 13))::UBIGINT
      |        + 0.5) / 4503599627370496.0)) AS BIGINT) AS n_dp
      |FROM daily""".stripMargin

  // ---------------------------------------------- time-series similarity
  /** Distributed time-series similarity search (the UCR-suite shape the
    * retrieved EDBT'19/ICDE'21 papers distribute): which users' daily
    * activity series most resemble the probe user's? Per-user series are
    * dense day-grids of scaled-integer daily sums; candidate generation is
    * the PAA lower bound (piecewise aggregate approximation, Keogh et al.:
    * by Cauchy–Schwarz, Σ_seg(sumA−sumB)² ≤ seglen·Σ(a−b)², so ranking by
    * segment-sum distance can under- but never over-estimate), a
    * TakeOrdered shortlist, then the EXACT integer squared distance on
    * shortlist survivors only. Every emitted row carries `lb_ok` — the
    * bound actually holding on that pair (S·lb ≤ L·sqdist, all integers) —
    * so a broken bound implementation flips the flag and the hash.
    *
    * Scale: the series grid and PAA are map-side-combinable aggregations;
    * the probe series/PAA broadcast; the exact verify touches only the
    * shortlist (k-bounded). Integer arithmetic end to end — the oracle
    * replays the full two-stage pipeline, and the spec pins shortlist
    * completeness vs brute force at fixture scale. */
  private val TsSegments = 6
  private val TsShortlist = 30
  private val TsTopK = 10

  def tsSearch(spark: SparkSession, d: String): DataFrame = {
    // The dense (user, day-index) grid is read THREE times downstream (PAA
    // segments, the query series, the exact re-scoring of the shortlist),
    // and each uncached read re-ran the daily aggregation + distinct +
    // window + two joins that build it — the measured plan carried 70
    // exchanges. Memoize the grid (users x days rows, the series matrix a
    // production system materializes once per index build).
    val grid = MemoCache.frame(spark, ("ts-grid", d)) {
      val daily = ev(spark, d)
        .groupBy(col("user_id"),
          date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
        .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
      val days = daily.select(col("day")).distinct()
        .withColumn("idx", row_number().over(Window.orderBy(col("day"))))
      val nDays = days.agg(count(lit(1)).as("L"))
      val users = daily.select(col("user_id")).distinct()
      users.crossJoin(broadcast(days))
        .join(daily, Seq("user_id", "day"), "left")
        .withColumn("v0", coalesce(col("v"), lit(0L)))
        .crossJoin(broadcast(nDays))
        .withColumn("seg", expr(s"(idx - 1) * $TsSegments DIV L"))
    }
    // The PAA sketch (users x TsSegments rows) is the index a production
    // deployment materializes once next to the grid; per invocation it was
    // aggregated from the grid TWICE (query-side and corpus-side of the
    // lower-bound join). Memoized like the grid. The probe user is a
    // one-row min over the cached grid — resolved once (CountMemo) and
    // inlined as a literal, which replaces two crossJoin(broadcast(qUser))
    // subtree builds per invocation with pushed-down filters.
    val paa = MemoCache.frame(spark, ("ts-paa", d))(
      grid.groupBy(col("user_id"), col("seg"))
        .agg(sum(col("v0")).as("sv"), first(col("L")).as("L")))
    // Empty events: min() over an empty grid is NULL (getLong would NPE).
    // Long.MinValue marks "no user" (ids are parquet longs; the fixture
    // generator never emits it) so the CountMemo slot stays a plain long;
    // it matches no grid row, so the pipeline below yields no rows.
    val qu = CountMemo.getOrCompute(spark, ("ts-qu", d))(
      grid.agg(min(col("user_id"))).head() match {
        case r if r.isNullAt(0) => Long.MinValue
        case r => r.getLong(0)
      })
    val qPaa = paa.filter(col("user_id") === qu)
      .select(col("seg"), col("sv").as("qsv"))
    val lb = paa.filter(col("user_id") =!= qu)
      .join(broadcast(qPaa), "seg")
      .groupBy(col("user_id"))
      .agg(sum((col("sv") - col("qsv")) * (col("sv") - col("qsv"))).as("lb_scaled"),
        first(col("L")).as("L"))
    val shortlist = lb.orderBy(col("lb_scaled"), col("user_id")).limit(TsShortlist)
    val qSeries = grid.filter(col("user_id") === qu)
      .select(col("idx"), col("v0").as("qv"))
    val exact = grid.join(broadcast(shortlist.select(col("user_id"), col("lb_scaled"))), "user_id")
      .join(broadcast(qSeries), "idx")
      .groupBy(col("user_id"))
      .agg(sum((col("v0") - col("qv")) * (col("v0") - col("qv"))).as("sqdist"),
        first(col("lb_scaled")).as("lb_scaled"), first(col("L")).as("L"))
    exact
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sqdist"), col("user_id"))))
      .filter(col("rank") <= TsTopK)
      .select(col("rank"), col("user_id"), col("sqdist"), col("lb_scaled"),
        (col("lb_scaled") * lit(TsSegments.toLong) <= col("sqdist") * col("L"))
          .as("lb_ok"))
  }

  val tsSearchSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       | days AS (SELECT day, CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS idx
       |          FROM (SELECT DISTINCT day FROM daily)),
       | nd AS (SELECT COUNT(*) AS L FROM days),
       | grid AS (SELECT u.user_id, dy.idx,
       |            COALESCE(d.v, 0) AS v0,
       |            CAST((dy.idx - 1) * $TsSegments // (SELECT L FROM nd) AS BIGINT) AS seg
       |          FROM (SELECT DISTINCT user_id FROM daily) u
       |          CROSS JOIN days dy
       |          LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = dy.day),
       | paa AS (SELECT user_id, seg, CAST(SUM(v0) AS BIGINT) AS sv
       |         FROM grid GROUP BY 1, 2),
       | qu AS (SELECT MIN(user_id) AS qu FROM daily),
       | qpaa AS (SELECT seg, sv AS qsv FROM paa WHERE user_id = (SELECT qu FROM qu)),
       | lb AS (SELECT p.user_id,
       |          CAST(SUM((p.sv - q.qsv) * (p.sv - q.qsv)) AS BIGINT) AS lb_scaled
       |        FROM paa p JOIN qpaa q USING (seg)
       |        WHERE p.user_id <> (SELECT qu FROM qu)
       |        GROUP BY 1),
       | short AS (SELECT * FROM lb ORDER BY lb_scaled, user_id LIMIT $TsShortlist),
       | qs AS (SELECT idx, v0 AS qv FROM grid WHERE user_id = (SELECT qu FROM qu)),
       | ex AS (SELECT g.user_id,
       |          CAST(SUM((g.v0 - q.qv) * (g.v0 - q.qv)) AS BIGINT) AS sqdist,
       |          MIN(s.lb_scaled) AS lb_scaled
       |        FROM grid g JOIN short s ON g.user_id = s.user_id
       |        JOIN qs q USING (idx)
       |        GROUP BY 1)
       |SELECT CAST(rk AS INT) AS rank, user_id, sqdist, lb_scaled,
       |  lb_scaled * $TsSegments <= sqdist * (SELECT L FROM nd) AS lb_ok
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY sqdist, user_id) AS rk FROM ex)
       |WHERE rk <= $TsTopK""".stripMargin

  // --------------------------------------------------- join-key skew report
  /** Join-key skew advisory — the "should this join be salted" report the
    * 100-TB plans in this repo act on (fuzzyDedup's salted bands, the AQE
    * skew-join threshold): per (table, key), row count, key cardinality,
    * the hottest key's row count, and the skew factor
    * `max_cnt · n_keys / n_rows` (1.0 = perfectly balanced; the factor is
    * how much slower the hottest reducer runs than the average under a
    * plain hash partition). One map-side-combinable groupBy per key — the
    * shuffle carries (key, count) pairs; the hottest key resolves inside
    * the same aggregation via min(struct(-count, key)), no second pass,
    * no window. */
  def skewReport(spark: SparkSession, d: String): DataFrame = {
    // Group on the NATIVE key and cast to string only at the per-GROUP
    // grain (guide: shuffle narrower types): the old per-ROW cast
    // stringified every fact row before the partial aggregate — ~1.5M
    // long→string renders and a string-keyed hash aggregate where a long
    // one does. The top-key tie-break stays the STRING min (the cast sits
    // inside the min(struct) argument), so rows are bit-identical to the
    // oracle's CAST(key AS VARCHAR) formulation.
    def one(df: DataFrame, tbl: String, key: String): DataFrame =
      df.select(col(key).as("k")).filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_cnt"),
          min(struct((-col("c")).as("nc"), col("k").cast("string").as("kk")))
            .getField("kk").as("top_key"))
        .select(lit(tbl).as("tbl"), lit(key).as("key"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          round(col("max_cnt").cast("double") * col("n_keys") / col("n_rows"), 6)
            .as("skew"),
          col("top_key"))
    // RAW scans (no fixture rebalance): each branch is one reductive
    // aggregation whose partial-agg collapses the stream before any
    // exchange, so the keyed rebalance was a pure extra full-table shuffle
    // per branch — five of them. Single-query A/B at sf0.1: 2.6 -> 1.3 s warm,
    // self-CPU 10.4 -> 4.8 s.
    one(eventsRaw(spark, d), "events", "user_id")
      .unionByName(one(eventsRaw(spark, d), "events", "event_type"))
      .unionByName(one(lineitemRaw(spark, d), "lineitem", "l_orderkey"))
      .unionByName(one(lineitemRaw(spark, d), "lineitem", "l_suppkey"))
      .unionByName(one(ordersRaw(spark, d), "orders", "o_custkey"))
  }

  val skewReportSql: String = {
    def one(tbl: String, key: String): String =
      s"""SELECT '$tbl' AS tbl, '$key' AS key,
         |  CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS max_cnt,
         |  ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6) AS skew,
         |  MIN(CASE WHEN c = (SELECT MAX(c) FROM g_${tbl}_$key) THEN k END) AS top_key
         |FROM g_${tbl}_$key""".stripMargin
    def gcte(tbl: String, key: String): String =
      s"""g_${tbl}_$key AS (SELECT CAST($key AS VARCHAR) AS k, COUNT(*) AS c
         |  FROM $tbl WHERE $key IS NOT NULL GROUP BY 1)""".stripMargin
    s"""WITH ${gcte("events", "user_id")},
       | ${gcte("events", "event_type")},
       | ${gcte("lineitem", "l_orderkey")},
       | ${gcte("lineitem", "l_suppkey")},
       | ${gcte("orders", "o_custkey")}
       |${one("events", "user_id")}
       |UNION ALL ${one("events", "event_type")}
       |UNION ALL ${one("lineitem", "l_orderkey")}
       |UNION ALL ${one("lineitem", "l_suppkey")}
       |UNION ALL ${one("orders", "o_custkey")}""".stripMargin
  }

  // ---------------------------------------------- incremental rollup (IVM)
  /** Incremental view maintenance for the daily rollup — the between-full-
    * rebuilds pass every warehouse runs: yesterday's AGGREGATE STATE plus
    * today's delta must equal a full recompute, without touching the base
    * data again. The state here is genuinely mergeable end to end: counts
    * and scaled-long sums add, min/max re-min/max, and the distinct-user
    * sketch merges at the REGISTER level ([[hllRegs]] per-bucket max —
    * associative, so merged registers are bit-identical to
    * registers-of-the-union, and the estimate is EXACTLY equal, not
    * approximately).
    *
    * The fixture split is deterministic (event_id % 5: 80% "snapshot",
    * 20% "delta"); the oracle computes the rollup DIRECTLY over the
    * unsplit data — the hash gate therefore proves the incremental
    * algebra itself (a wrong merge cannot agree with the full recompute).
    * Scale: both legs partial-aggregate; the merge unions STATE tables
    * (days x types x buckets rows), never events. */
  def incrementalRollup(spark: SparkSession, d: String): DataFrame = {
    // The per-leg STATES are grouped out of ONE scan (leg = the snapshot/
    // delta split key) instead of two filtered scans per state kind — the
    // previous base/delta formulation scanned events four times (counts x2,
    // registers x2). The merge algebra is unchanged and still exercised on
    // real per-leg state rows: grouping by leg then merging is row-for-row
    // the union-of-two-legs merge (count/sum/min/max add or re-extremize,
    // register max is associative), which the direct-recompute oracle
    // continues to prove.
    val all = ev(spark, d).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("user_id"),
      floor(col("value") * 1000).cast("long").as("v"),
      (col("event_id") % 5 === 0).as("leg"))
    val legCounts = all.groupBy("day", "event_type", "leg")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val mergedCounts = legCounts
      .groupBy("day", "event_type")
      .agg(sum(col("n")).as("n_events"), sum(col("s")).as("sum_scaled"),
        min(col("mn")).as("min_scaled"), max(col("mx")).as("max_scaled"))
    val mergedRegs = hllRegs(all, Seq("leg"))
      .groupBy("day", "event_type", "bucket").agg(max(col("rmax")).as("rmax"))
    mergedCounts
      .join(hllEstimate(mergedRegs, Seq("day", "event_type")),
        Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("n_events"),
        col("sum_scaled"), col("min_scaled"), col("max_scaled"),
        col("approx_users"))
  }

  val incrementalRollupSql: String = {
    val c = HllScale.toString
    s"""WITH base AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, user_id,
       |         CAST(FLOOR(value * 1000) AS BIGINT) AS v
       |  FROM events),
       | cnt AS (SELECT day, event_type, COUNT(*) AS n_events,
       |           CAST(SUM(v) AS BIGINT) AS sum_scaled,
       |           MIN(v) AS min_scaled, MAX(v) AS max_scaled
       |         FROM base GROUP BY 1, 2),
       | h AS (SELECT day, event_type,
       |         ('0x' || substr(md5(user_id::VARCHAR), 25, 8))::UBIGINT AS lo,
       |         ('0x' || substr(md5(user_id::VARCHAR), 17, 8))::UBIGINT AS hi
       |       FROM base),
       | hw AS (SELECT day, event_type,
       |          CAST(lo & 1023 AS BIGINT) AS bucket,
       |          CAST(hi AS BIGINT) * 4194304 + CAST(lo >> 10 AS BIGINT) AS w
       |        FROM h),
       | regs AS (SELECT day, event_type, bucket,
       |            MAX(CASE WHEN w = 0 THEN 18014398509481984
       |                     ELSE w & (-w) END) AS rmax
       |          FROM hw GROUP BY 1, 2, 3),
       | hll AS (SELECT day, event_type,
       |           SUM(CAST(FLOOR(2251799813685248.0 / rmax) AS BIGINT)) AS s_present,
       |           COUNT(*) AS nregs
       |         FROM regs GROUP BY 1, 2),
       | users AS (SELECT day, event_type,
       |             ROUND(CASE WHEN $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE) <= 2560.0
       |                         AND 1024 - nregs > 0
       |                   THEN 1024.0 * ln(1024.0 / CAST(1024 - nregs AS DOUBLE))
       |                   ELSE $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE)
       |                   END, 3) AS approx_users
       |           FROM hll)
       |SELECT cnt.day, cnt.event_type, n_events, sum_scaled, min_scaled,
       |       max_scaled, approx_users
       |FROM cnt JOIN users USING (day, event_type)""".stripMargin
  }

  // ------------------------------------------------------------ rolling HLL
  /** 7-day sliding re-merge of a daily sketch table: checkpoint the
    * (sketch-sized) table once — the day list and the window merge would
    * otherwise each re-run the corpus-scale build — then broadcast-join
    * the distinct-day list with a day-range condition and re-aggregate.
    * A window function over the sparse sketch rows would NOT work: a key
    * silent on day d must still contribute its day d-3 row to d's window.
    * Shared by [[rollingDistinct]] (register max) and [[rollingP95]]
    * (bin-count sum).
    *
    * The checkpointed table is memoized per (dataset, sketch kind): the
    * build is the only corpus-scale work in the rolling queries, and
    * repeated invocations (bench cold+warm, both queries over one session)
    * must not re-scan. */
  private def slidingMerge7(spark: SparkSession, d: String, tag: String,
                            sketch: => DataFrame, keys: Seq[String],
                            mergeAgg: Column): DataFrame = {
    val s = MemoCache.getOrElseUpdate(spark, ("sketch", d, tag))(
      sketch.localCheckpoint())(MemoCache.unpersistLocalCheckpoint)
    val days = s.select(col("day").as("win_day")).distinct()
    s.join(broadcast(days),
        datediff(col("win_day"), col("day")).between(0, 6))
      .groupBy(("win_day" +: keys).map(col): _*)
      .agg(mergeAgg)
  }

  /** 7-day rolling distinct users per event type — the re-aggregation
    * payoff of a MERGEABLE sketch: the data is scanned ONCE to build the
    * daily register table ([[hllRegs]]); every sliding window then merges
    * register rows (register union = per-bucket max), so the window pass
    * costs O(days x types x 1024) — sketch-sized, independent of event
    * volume. An exact COUNT DISTINCT would re-shuffle the raw events once
    * per window.
    *
    * The day-range merge is a broadcast join against the (tiny) distinct-
    * day list rather than a window function: a bucket silent on day d must
    * still contribute its day d-3 register to d's window, which a window
    * over the sparse register rows would miss. */
  def rollingDistinct(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("user_id"))
    val merged = slidingMerge7(spark, d, "hll", hllRegs(base),
      Seq("event_type", "bucket"), max(col("rmax")).as("rmax"))
    hllEstimate(merged, Seq("win_day", "event_type"))
      .select(col("win_day"), col("event_type"),
        col("approx_users").as("approx_users_7d"))
  }

  val rollingDistinctSql: String = {
    val c = HllScale.toString
    s"""WITH base AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, user_id
       |  FROM events),
       | h AS (SELECT day, event_type,
       |         ('0x' || substr(md5(user_id::VARCHAR), 25, 8))::UBIGINT AS lo,
       |         ('0x' || substr(md5(user_id::VARCHAR), 17, 8))::UBIGINT AS hi
       |       FROM base),
       | hw AS (SELECT day, event_type,
       |          CAST(lo & 1023 AS BIGINT) AS bucket,
       |          CAST(hi AS BIGINT) * 4194304 + CAST(lo >> 10 AS BIGINT) AS w
       |        FROM h),
       | regs AS (SELECT day, event_type, bucket,
       |            MAX(CASE WHEN w = 0 THEN 18014398509481984
       |                     ELSE w & (-w) END) AS rmax
       |          FROM hw GROUP BY 1, 2, 3),
       | days AS (SELECT DISTINCT day AS win_day FROM regs),
       | merged AS (SELECT d.win_day, r.event_type, r.bucket, MAX(r.rmax) AS rmax
       |            FROM regs r JOIN days d
       |              ON date_diff('day', strptime(r.day, '%Y-%m-%d'),
       |                           strptime(d.win_day, '%Y-%m-%d')) BETWEEN 0 AND 6
       |            GROUP BY 1, 2, 3),
       | hll AS (SELECT win_day, event_type,
       |           SUM(CAST(FLOOR(2251799813685248.0 / rmax) AS BIGINT)) AS s_present,
       |           COUNT(*) AS nregs
       |         FROM merged GROUP BY 1, 2)
       |SELECT win_day, event_type,
       |  ROUND(CASE WHEN $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE) <= 2560.0
       |              AND 1024 - nregs > 0
       |        THEN 1024.0 * ln(1024.0 / CAST(1024 - nregs AS DOUBLE))
       |        ELSE $c / CAST(s_present + (1024 - nregs) * 4503599627370496 AS DOUBLE)
       |        END, 3) AS approx_users_7d
       |FROM hll""".stripMargin
  }

  // ------------------------------------------------------------ rolling p95
  /** 7-day rolling p95 of the event value — the MERGEABLE-percentile
    * companion of [[rollingDistinct]]: the data is scanned once into
    * per-day fixed-bin histograms (bin = scaled value >> 12, ~140 live
    * bins here; histogram merge = bin-wise count sum, exactly like HLL
    * register max), and every sliding window re-merges the sketch-sized
    * histogram table. The p95 answer is the lower edge of the first bin
    * whose cumulative count reaches 95% — all integer math
    * (cum x 20 >= n x 19, no float thresholds), so the oracle replays it
    * exactly; resolution is the bin width (4.096 value units).
    *
    * The sampled exact percentile of [[dailyRollupApprox]] is NOT
    * re-aggregable (samples don't merge with bounded error); the histogram
    * is, which is what a 100 TB store needs to answer any sliding horizon
    * from one daily pass. */
  def rollingP95(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"),
      // ARITHMETIC shift: a negative value must land in a negative bin
      // (floor division by the bin width), matching DuckDB's `>>` — an
      // unsigned shift would throw negatives into a ~2^52 top bin
      shiftright(floor(col("value") * 1000).cast("long"), 12).as("bin"))
    val hist = base.groupBy(col("day"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val merged = slidingMerge7(spark, d, "hist", hist,
      Seq("event_type", "bin"), sum(col("cnt")).as("cnt"))
    val byBin = Window.partitionBy(col("win_day"), col("event_type"))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("win_day"), col("event_type"))
    merged
      .withColumn("cum", sum(col("cnt")).over(byBin))
      .withColumn("n", sum(col("cnt")).over(whole))
      .filter(col("cum") * 20 >= col("n") * 19)
      .groupBy(col("win_day"), col("event_type"))
      .agg(min(col("bin")).as("p95_bin"), max(col("n")).as("n_events"))
      .select(col("win_day"), col("event_type"), col("n_events"),
        (col("p95_bin") * 4096).as("p95_floor_milli"))
  }

  val rollingP95Sql: String =
    """WITH base AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |    CAST(FLOOR(value * 1000) AS BIGINT) >> 12 AS bin
      |  FROM events),
      | hist AS (SELECT day, event_type, bin, COUNT(*) AS cnt
      |          FROM base GROUP BY 1, 2, 3),
      | days AS (SELECT DISTINCT day AS win_day FROM hist),
      | merged AS (SELECT d.win_day, h.event_type, h.bin,
      |              CAST(SUM(h.cnt) AS BIGINT) AS cnt
      |            FROM hist h JOIN days d
      |              ON date_diff('day', strptime(h.day, '%Y-%m-%d'),
      |                           strptime(d.win_day, '%Y-%m-%d')) BETWEEN 0 AND 6
      |            GROUP BY 1, 2, 3),
      | c AS (SELECT win_day, event_type, bin, cnt,
      |         CAST(SUM(cnt) OVER (PARTITION BY win_day, event_type
      |           ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(SUM(cnt) OVER (PARTITION BY win_day, event_type)
      |           AS BIGINT) AS n
      |       FROM merged)
      |SELECT win_day, event_type, MAX(n) AS n_events,
      |  MIN(bin) * 4096 AS p95_floor_milli
      |FROM c WHERE cum * 20 >= n * 19
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ pattern match
  /** Z-normalized time-series pattern search (the UCR-suite/Matrix-Profile
    * query shape, distributed): score every 8-event window of every user's
    * value series against a literal spike template and return the top-20
    * closest windows. Distance is the z-normalized Euclidean
    * d = Σ(norm_i - p_i)^2 = 8 + Σp^2 - 2·(Σ v_i·p_i)/σ (the Σp_i = 0
    * template makes the mean term vanish).
    *
    * Determinism: the template is DYADIC (quarters), so v_i·p_i and all
    * window moments are exact doubles from exact longs; σ comes from
    * variance assembled out of exact sums (the anomaly argument); the one
    * rounded value is the final distance. Everything is unrolled
    * element_at arithmetic — no UDF, stays in codegen.
    *
    * Scale: one shuffle on user_id (the sessionize shape), 8-row bounded
    * window state, then TakeOrdered top-k — never a global sort. */
  private val Pattern = Seq(-0.25, -0.25, -0.25, -0.25, -0.25, 0.25, 1.0, 0.0)

  def patternTopK(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, Window.currentRow)
    val el = (i: Int) => element_at(col("hist"), i + 1)
    val s = (0 until 8).map(el).reduce(_ + _)
    val sq = (0 until 8).map(i => el(i) * el(i)).reduce(_ + _)
    val dotp = (0 until 8).map(i => el(i) * lit(Pattern(i))).reduce(_ + _)
    val variance =
      (sq.cast("double") - s.cast("double") * s.cast("double") / 8.0) / 8.0
    val patSq = Pattern.map(x => x * x).sum // exact dyadic constant
    ev(spark, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 1000).cast("long").as("v"))
      .withColumn("hist", collect_list(col("v")).over(w))
      .filter(size(col("hist")) === 8)
      .withColumn("variance", variance)
      .filter(col("variance") > 0)
      .select(col("event_id"), col("user_id"),
        round(lit(8.0 + patSq) - lit(2.0) * dotp / sqrt(col("variance")), 6)
          .as("pattern_dist"))
      .orderBy(col("pattern_dist"), col("user_id"), col("event_id"))
      .limit(20)
  }

  val patternTopKSql: String = {
    val s = (1 to 8).map(i => s"hist[$i]").mkString(" + ")
    val sq = (1 to 8).map(i => s"hist[$i] * hist[$i]").mkString(" + ")
    val dotp = (1 to 8)
      .map(i => s"hist[$i] * (${Pattern(i - 1)})").mkString(" + ")
    val patSq = 8.0 + Pattern.map(x => x * x).sum
    s"""WITH t AS (SELECT event_id, user_id, ts,
       |    CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events),
       | w AS (SELECT event_id, user_id,
       |    list(v) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id
       |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS hist
       |  FROM t),
       | f AS (SELECT event_id, user_id,
       |    $s AS s, $sq AS sq, $dotp AS dotp
       |  FROM w WHERE len(hist) = 8),
       | v2 AS (SELECT event_id, user_id, dotp,
       |    (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 8.0)
       |      / 8.0 AS variance
       |  FROM f)
       |SELECT event_id, user_id,
       |  ROUND($patSq - 2.0 * dotp / sqrt(variance), 6) AS pattern_dist
       |FROM v2 WHERE variance > 0
       |ORDER BY pattern_dist, user_id, event_id LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------ Z-order
  /** The 16-round bit interleave shared by [[zorder]] and [[layoutSkip]] —
    * ONE definition, or the skip report silently measures a different key
    * than the layout query it claims to compare. */
  private def zvalueOf(xCol: Column, yCol: Column): Column = {
    val x = xCol.bitwiseAND(lit(65535L))
    val y = yCol.bitwiseAND(lit(65535L))
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The matching SQL interleave terms (assumes `user_id`/`day_num`). */
  private val zTermsSql: String = (0 until 16).map { i =>
    s"(((user_id & 65535) >> $i) & 1) * ${1L << (2 * i)} + " +
      s"(((day_num & 65535) >> $i) & 1) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** Z-order (Morton) layout key over (user_id, day) — the data-layout
    * primitive behind multi-dimensional data skipping: sorting/packing by
    * the interleaved key co-locates rows that are close in BOTH dimensions,
    * so a file (here `zfile`, the key's top tiles) is prunable by min/max
    * stats on either column. The standard OPTIMIZE ZORDER shape.
    *
    * Pure per-row bit math, fully unrolled into 16 shift/mask terms —
    * stays inside whole-stage codegen, no UDF, exchange-free; the oracle
    * evaluates the IDENTICAL integer expression. At 100 TB the actual
    * re-layout is `repartitionByRange(zvalue).sortWithinPartitions` on
    * write; the key itself is this narrow pass. */
  def zorder(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .select(col("event_id"), col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .withColumn("zvalue", zvalueOf(col("user_id"), col("day_num")))
      .withColumn("zfile", shiftrightunsigned(col("zvalue"), 22))

  val zorderSql: String = {
    val terms = zTermsSql
    s"""WITH t AS (SELECT event_id, user_id,
       |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
       |  FROM events)
       |SELECT event_id, user_id, day_num,
       |  CAST($terms AS BIGINT) AS zvalue,
       |  CAST(($terms) // 4194304 AS BIGINT) AS zfile
       |FROM t""".stripMargin
  }

  // --------------------------------------------------- Hilbert layout keys
  /** Hilbert-curve layout keys over the same (user, day) plane as
    * [[zorder]] — the stronger locality guarantee: consecutive curve
    * positions are ALWAYS Manhattan-1 neighbors, so every key range maps to
    * one compact tile and min/max file skipping never faces Z-order's
    * quadrant-corner jumps. The transform is the native codegen'd
    * [[graft.functions.HilbertIndex]] expression (16 rotate/reflect rounds
    * as column formulas would explode the Catalyst tree); the query is one
    * narrow exchange-free projection, like zorder.
    *
    * The oracle replays the same public algorithm as a 16-round recursive
    * CTE — an independent implementation (per-row iterated state vs the JVM
    * loop), not a shared code path. */
  def hilbert(spark: SparkSession, d: String): DataFrame =
    ev(spark, d)
      .select(col("event_id"), col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .withColumn("hvalue", graft.functions.GraftFunctions.hilbertIndex(
        col("user_id"), col("day_num")))
      .withColumn("hfile", shiftrightunsigned(col("hvalue"), 22))

  /** Shared `t` (event day-nums) + the 16-round Hilbert recursion `h` —
    * one definition for [[hilbertSql]] and [[layoutSkipSql]], same
    * single-source rule as [[zTermsSql]]. */
  private val hilbertCtes: String =
    """t AS (SELECT event_id, user_id,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      |  FROM events),
      | h(event_id, x, y, d, s) AS (
      |   SELECT event_id, CAST(user_id & 65535 AS BIGINT),
      |          CAST(day_num & 65535 AS BIGINT),
      |          CAST(0 AS BIGINT), CAST(32768 AS BIGINT)
      |   FROM t
      |   UNION ALL
      |   SELECT event_id,
      |     CASE WHEN (y & s) = 0
      |          THEN CASE WHEN (x & s) > 0 THEN 65535 - y ELSE y END
      |          ELSE x END,
      |     CASE WHEN (y & s) = 0
      |          THEN CASE WHEN (x & s) > 0 THEN 65535 - x ELSE x END
      |          ELSE y END,
      |     d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
      |                     CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
      |     s // 2
      |   FROM h WHERE s > 0)""".stripMargin

  val hilbertSql: String =
    s"""WITH RECURSIVE $hilbertCtes
       |SELECT t.event_id, t.user_id, t.day_num,
       |  h.d AS hvalue, CAST(h.d // 4194304 AS BIGINT) AS hfile
       |FROM h JOIN t USING (event_id) WHERE h.s = 0""".stripMargin

  // ------------------------------------------- layout skip-effectiveness
  /** File-skipping effectiveness report: the measured payoff of the three
    * layout keys ([[zorder]], [[hilbert]], natural arrival order) for the
    * same 2-D box predicate under min/max pruning — the number a table
    * maintainer actually needs before paying for a re-layout. Every layout
    * gets the SAME row count per file (equal-occupancy chunks of the
    * key-sorted order), so the comparison isolates ORDER, not file sizing.
    * A file is `read` when its per-file [min,max] envelopes of BOTH
    * predicate columns overlap the box (exactly parquet row-group pruning);
    * `needed` when it truly contains a match; `false_read` is the pruning
    * waste. The box spans 1/8 of each dimension, anchored at the lower
    * quartile — derived from the data so the report is scale-stable.
    *
    * Scale: ranking rows by a layout key IS the cost of writing that
    * layout (one global sort — what a real re-layout job pays anyway);
    * everything after is per-file min/max aggregation. A production
    * pipeline runs this ONCE on a sample to pick a layout; it is a
    * diagnostic operator, not a per-query path. */
  private val LayoutRowsPerFile = 64

  def layoutSkip(spark: SparkSession, d: String): DataFrame = {
    // cached (MemoCache-bounded): three layout sorts + the bounds
    // aggregation all read the same keyed projection — uncached, each
    // would re-scan and re-derive both curve keys
    val keyed = MemoCache.frame(spark, ("layout-keyed", d))(
      ev(spark, d)
        .select(col("event_id"), col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day_num"))
        .withColumn("zvalue", zvalueOf(col("user_id"), col("day_num")))
        .withColumn("hvalue", graft.functions.GraftFunctions.hilbertIndex(
          col("user_id"), col("day_num"))))
    // per-term INTEGER floor division, exactly like the oracle's `//`:
    // summing real divisions and truncating once diverges by 1 whenever
    // (max-min) mod 8 ∈ {3, 6, 7} — caught at sf0.1 (range 1499: 562 vs
    // 561) where the sf0.01 gate passed only because both ranges ≡ 5 (mod 8)
    val bounds = keyed.agg(
      min(col("user_id")).as("minu"), max(col("user_id")).as("maxu"),
      min(col("day_num")).as("mind"), max(col("day_num")).as("maxd"))
      .select(
        (col("minu") + expr("(maxu - minu) DIV 4")).as("ulo"),
        (col("minu") + expr("(maxu - minu) DIV 4") +
          expr("(maxu - minu) DIV 8")).as("uhi"),
        (col("mind") + expr("(maxd - mind) DIV 4")).as("dlo"),
        (col("mind") + expr("(maxd - mind) DIV 4") +
          expr("(maxd - mind) DIV 8")).as("dhi"))
    def files(layout: String, key: Column): DataFrame =
      keyed.withColumn("file",
          ((row_number().over(Window.orderBy(key, col("event_id"))) - 1)
            / LayoutRowsPerFile).cast("long"))
        .crossJoin(broadcast(bounds))
        .groupBy(lit(layout).as("layout"), col("file"))
        .agg(
          min(col("user_id")).as("fminu"), max(col("user_id")).as("fmaxu"),
          min(col("day_num")).as("fmind"), max(col("day_num")).as("fmaxd"),
          sum(when(col("user_id").between(col("ulo"), col("uhi")) &&
            col("day_num").between(col("dlo"), col("dhi")), 1L)
            .otherwise(0L)).as("n_match"),
          first(col("ulo")).as("ulo"), first(col("uhi")).as("uhi"),
          first(col("dlo")).as("dlo"), first(col("dhi")).as("dhi"))
    val perFile = files("natural", col("event_id"))
      .union(files("zorder", col("zvalue")))
      .union(files("hilbert", col("hvalue")))
    perFile
      .groupBy(col("layout"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("fmaxu") >= col("ulo") && col("fminu") <= col("uhi") &&
          col("fmaxd") >= col("dlo") && col("fmind") <= col("dhi"), 1L)
          .otherwise(0L)).as("files_read"),
        sum(when(col("n_match") > 0, 1L).otherwise(0L)).as("files_needed"))
      .select(col("layout"), col("n_files"), col("files_read"),
        col("files_needed"),
        round(col("files_read").cast("double") / col("n_files"), 6)
          .as("read_ratio"),
        (col("files_read") - col("files_needed")).as("false_read"))
  }

  val layoutSkipSql: String = {
    val terms = zTermsSql
    s"""WITH RECURSIVE $hilbertCtes,
       | keyed AS (SELECT t.event_id, t.user_id, t.day_num,
       |             CAST($terms AS BIGINT) AS zvalue, h.d AS hvalue
       |           FROM t JOIN h USING (event_id) WHERE h.s = 0),
       | p AS (SELECT CAST(MIN(user_id) + (MAX(user_id) - MIN(user_id)) // 4 AS BIGINT) AS ulo,
       |         CAST(MIN(user_id) + (MAX(user_id) - MIN(user_id)) // 4
       |              + (MAX(user_id) - MIN(user_id)) // 8 AS BIGINT) AS uhi,
       |         CAST(MIN(day_num) + (MAX(day_num) - MIN(day_num)) // 4 AS BIGINT) AS dlo,
       |         CAST(MIN(day_num) + (MAX(day_num) - MIN(day_num)) // 4
       |              + (MAX(day_num) - MIN(day_num)) // 8 AS BIGINT) AS dhi
       |       FROM keyed),
       | lay AS (
       |   SELECT 'natural' AS layout, user_id, day_num,
       |     (ROW_NUMBER() OVER (ORDER BY event_id) - 1) // $LayoutRowsPerFile AS file
       |   FROM keyed
       |   UNION ALL
       |   SELECT 'zorder', user_id, day_num,
       |     (ROW_NUMBER() OVER (ORDER BY zvalue, event_id) - 1) // $LayoutRowsPerFile
       |   FROM keyed
       |   UNION ALL
       |   SELECT 'hilbert', user_id, day_num,
       |     (ROW_NUMBER() OVER (ORDER BY hvalue, event_id) - 1) // $LayoutRowsPerFile
       |   FROM keyed),
       | fs AS (SELECT layout, file,
       |          MIN(user_id) AS fminu, MAX(user_id) AS fmaxu,
       |          MIN(day_num) AS fmind, MAX(day_num) AS fmaxd,
       |          SUM(CASE WHEN user_id BETWEEN p.ulo AND p.uhi
       |                    AND day_num BETWEEN p.dlo AND p.dhi
       |                   THEN 1 ELSE 0 END) AS n_match,
       |          ANY_VALUE(p.ulo) AS ulo, ANY_VALUE(p.uhi) AS uhi,
       |          ANY_VALUE(p.dlo) AS dlo, ANY_VALUE(p.dhi) AS dhi
       |        FROM lay, p GROUP BY 1, 2)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(CASE WHEN fmaxu >= ulo AND fminu <= uhi
       |                 AND fmaxd >= dlo AND fmind <= dhi
       |                THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
       |  CAST(SUM(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS files_needed,
       |  ROUND(SUM(CASE WHEN fmaxu >= ulo AND fminu <= uhi
       |                  AND fmaxd >= dlo AND fmind <= dhi
       |                 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS read_ratio,
       |  CAST(SUM(CASE WHEN fmaxu >= ulo AND fminu <= uhi
       |                 AND fmaxd >= dlo AND fmind <= dhi
       |                THEN 1 ELSE 0 END)
       |     - SUM(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS false_read
       |FROM fs GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------ session stats
  /** Daily session-level rollup on top of [[sessionize]]: session counts,
    * bounce rate (single-event sessions), and average duration/size per
    * day. The session table is already one shuffle on user_id; this adds
    * one map-side-combinable aggregation on the day — the standard
    * two-level sessionize→rollup cascade of clickstream warehouses.
    * Durations sum as exact longs; each ratio is a single double division
    * rounded to 6, so the oracle hash-matches. */
  def sessionStats(spark: SparkSession, d: String): DataFrame =
    sessionize(spark, d)
      .groupBy(date_format(timestamp_millis(col("session_start_ms")), "yyyy-MM-dd")
        .as("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, lit(1))).as("n_bounces"),
        sum(col("n_events")).as("total_events"),
        sum(col("session_end_ms") - col("session_start_ms")).as("total_duration_ms"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") / col("n_sessions"), 6)
          .as("bounce_rate"),
        round(col("total_events").cast("double") / col("n_sessions"), 6)
          .as("avg_session_events"),
        round(col("total_duration_ms").cast("double") / col("n_sessions"), 6)
          .as("avg_duration_ms"))

  val sessionStatsSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > 1800000 OR
      |                      LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      |), sessioned AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, MIN(ts_ms) AS session_start_ms,
      |    MAX(ts_ms) AS session_end_ms, COUNT(*) AS n_events
      |  FROM sessioned GROUP BY user_id, sid
      |)
      |SELECT strftime(epoch_ms(session_start_ms), '%Y-%m-%d') AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
      |  ROUND(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 6) AS bounce_rate,
      |  ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_session_events,
      |  ROUND(CAST(SUM(session_end_ms - session_start_ms) AS DOUBLE)
      |        / COUNT(*), 6) AS avg_duration_ms
      |FROM sess GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ jsonpath
  /** The full JSONPath dialect of `eventParameters().path(expr)` over the
    * event props (`DslRecordMapping.java:587-594` — jayway json-path 2.4):
    * a simple definite path (routes to codegen'd get_json_object), a
    * recursive descent, and a filter predicate, each mirrored exactly by
    * DuckDB json functions / reconstruction in the oracle. */
  def paramPath(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.jsonPath
    events(spark, d).select(
      col("event_id"),
      jsonPath(col("props"), "$.k").cast("long").as("k_simple"),
      jsonPath(col("props"), "$..k").as("k_descend"),
      jsonPath(concat(lit("["), col("props"), lit("]")), "$[?(@.k > 50)]")
        .as("k_filtered"),
      jsonPath(col("props"), "$.missing").as("k_missing"))
  }

  val paramPathSql: String =
    """SELECT event_id,
      |  json_extract(props, '$.k')::BIGINT AS k_simple,
      |  '[' || json_extract(props, '$.k') || ']' AS k_descend,
      |  CASE WHEN json_extract(props, '$.k')::BIGINT > 50
      |       THEN '[{"k":' || json_extract(props, '$.k') || '}]'
      |       ELSE '[]' END AS k_filtered,
      |  NULL::VARCHAR AS k_missing
      |FROM events""".stripMargin

  // ------------------------------------------------------------ anomaly
  /** Per-user value anomaly scoring — the alerting/fraud shape over the
    * event stream: each event's z-score against ITS USER's value
    * distribution, flagged at |z| > 3.
    *
    * Scale: one shuffle on user_id; the three whole-partition window
    * aggregates (count/sum/sum-of-squares) compute in a single unordered
    * WindowExec pass, so cost is the sessionize shape. Determinism: values
    * scale to exact longs (floor(value*1000) — float sums would be
    * order-sensitive), the moment sums are exact integers, and both
    * engines then evaluate the IDENTICAL double formula from those longs
    * (exactness holds while per-user sum-of-squares < 2^53; beyond that,
    * shard the window by day like [[dailyRollup]]). */
  def anomaly(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val mean = col("sum_d") / col("n")
    val variance =
      (col("sumsq_d") - col("sum_d") * col("sum_d") / col("n")) / (col("n") - 1)
    ev(spark, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 1000).cast("long").as("value_scaled"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sum_d", sum(col("value_scaled")).over(w).cast("double"))
      .withColumn("sumsq_d",
        sum(col("value_scaled") * col("value_scaled")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("value_scaled"), col("n"),
        when(col("n") >= 2 && variance > 0,
          round((col("value_scaled").cast("double") - mean) / sqrt(variance), 6))
          .as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 3)
  }

  val anomalySql: String =
    """WITH t AS (SELECT event_id, user_id,
      |    CAST(FLOOR(value * 1000) AS BIGINT) AS value_scaled FROM events),
      | s AS (SELECT event_id, user_id, value_scaled,
      |    COUNT(*) OVER w AS n,
      |    CAST(SUM(value_scaled) OVER w AS DOUBLE) AS sum_d,
      |    CAST(SUM(value_scaled * value_scaled) OVER w AS DOUBLE) AS sumsq_d
      |  FROM t WINDOW w AS (PARTITION BY user_id)),
      | z AS (SELECT event_id, user_id, value_scaled, n,
      |    CASE WHEN n >= 2
      |          AND (sumsq_d - sum_d * sum_d / n) / (n - 1) > 0
      |         THEN ROUND((CAST(value_scaled AS DOUBLE) - sum_d / n)
      |              / sqrt((sumsq_d - sum_d * sum_d / n) / (n - 1)), 6)
      |    END AS z
      |  FROM s)
      |SELECT event_id, user_id, value_scaled, n, z, abs(z) > 3 AS is_anomaly
      |FROM z""".stripMargin

  // ------------------------------------------------------------ EWMA
  /** Per-user exponentially-weighted moving average of the event value —
    * the trend/smoothing primitive behind rate limiting and drift
    * monitoring: each event's EWMA over its user's last 20 observations
    * (event-time order), alpha = 1/2.
    *
    * Determinism: alpha is DYADIC and the history is truncated, so every
    * term v_j x 2^-k is an exact double (values scale to longs < 2^20,
    * weights are 1/(1L << k), k <= 20 — products need ~44 bits < 2^53) and
    * every PARTIAL SUM is exact: summation order cannot matter, which is
    * what lets a DuckDB unnest+SUM replay a JVM fold bit-for-bit. The only
    * rounded double is the final num/den quotient (round 6). A float
    * alpha like 0.3 would make every partial sum order-sensitive — don't.
    *
    * Scale: one shuffle on user_id; the 20-row frame bounds window state;
    * the fold is O(20) per row. The sessionize/anomaly shape. */
  def ewma(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1L - graft.functions.Ewma.WindowSize, Window.currentRow)
    ev(spark, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 1000).cast("long").as("value_scaled"))
      .withColumn("hist", collect_list(col("value_scaled")).over(w))
      .select(col("event_id"), col("user_id"), col("value_scaled"),
        round(graft.functions.GraftFunctions.ewmaFold(col("hist")), 6).as("ewma"))
  }

  val ewmaSql: String =
    """WITH t AS (SELECT event_id, user_id, ts,
      |    CAST(FLOOR(value * 1000) AS BIGINT) AS value_scaled FROM events),
      | w AS (SELECT event_id, user_id, value_scaled,
      |    list(value_scaled) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS hist
      |  FROM t),
      | u AS (SELECT event_id, user_id, value_scaled,
      |    unnest(hist) AS v, generate_subscripts(hist, 1) AS j, len(hist) AS l
      |  FROM w)
      |SELECT event_id, user_id, value_scaled,
      |  ROUND(SUM(v / CAST(1::BIGINT << (l - j + 1) AS DOUBLE))
      |        / SUM(1.0 / CAST(1::BIGINT << (l - j + 1) AS DOUBLE)), 6) AS ewma
      |FROM u GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------ t-digest quantiles
  /** Mergeable t-digest percentile rollup ([[graft.functions.TDigest]]) —
    * the 100-TB quantile path [[exactQuantiles]] cannot take: per-day
    * digests aggregate with map-side partials (each split contributes a
    * ~2δ-centroid summary, the exchange carries digests not values), then
    * a SECOND-level `tdigestMerge` rolls days into the corpus digest —
    * the keep-daily-summaries / re-aggregate-any-window algebra
    * `percentile_approx` (not re-mergeable across stored groups) lacks.
    *
    * Honesty-flag oracle (the digest itself is not SQL-expressible): the
    * emitted per-(group, q) row carries MEASURED guarantees —
    * `rank_ok` re-ranks the digest's quantile estimate against the raw
    * events (|P(value <= est) - q| <= 0.02, rank granularity at sf0.001
    * is 1/188 so the bound is ~4x granularity, not slack), `size_ok`
    * bounds the digest at 3δ centroids (buffer is 2048, so a broken
    * compress cannot hide). DuckDB replays n exactly and pins both flags
    * TRUE — an estimator or compressor regression flips a flag and the
    * row hash. */
  def tdigestQuantiles(spark: SparkSession, d: String): DataFrame = {
    val qs = Seq(0.5, 0.9, 0.99)
    val e = ev(spark, d).filter(col("value").isNotNull)
    val daily = e
      .groupBy(col("event_type"), to_date(col("ts").cast("timestamp")).as("day"))
      .agg(graft.functions.TDigest.tdigest(col("value")).as("dig"))
    val global = daily.groupBy("event_type")
      .agg(graft.functions.TDigest.tdigestMerge(col("dig")).as("dig"))
    val est = global.select(col("event_type"), size(col("dig")).as("dig_len"),
      explode(array(qs.map(q => struct(lit(q).as("q"),
        graft.functions.GraftFunctions.tdigestQuantile(col("dig"), q).as("est"))): _*))
        .as("eq"))
      .select(col("event_type"), col("dig_len"),
        col("eq.q").as("q"), col("eq.est").as("est"))
    e.join(broadcast(est), "event_type")
      .groupBy(col("event_type"), col("q"))
      .agg(count(lit(1)).as("n"),
        (sum(when(col("value") <= col("est"), 1L).otherwise(0L))
          / count(lit(1)).cast("double")).as("rank_hat"),
        first(col("dig_len")).as("dig_len"))
      .select(col("event_type"), col("q"), col("n"),
        (abs(col("rank_hat") - col("q")) <= 0.02).as("rank_ok"),
        (col("dig_len") <= lit((3 * 200 * 2).toInt)).as("size_ok"))
  }

  val tdigestQuantilesSql: String =
    """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      | n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1)
      |SELECT event_type, q, n, true AS rank_ok, true AS size_ok
      |FROM n, (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q) qs""".stripMargin

  // ------------------------------------------------ exact quantiles (CDF)
  /** EXACT per-group quantiles via the compressed CDF — the distributed
    * formulation that never globally sorts the fact table: aggregate
    * (group, value) counts (map-side combinable — the shuffle carries the
    * compressed value histogram, not rows), cumulative-sum per group over
    * the distinct values, then pick rank ceil(q*n) per quantile in one
    * conditional aggregation. `percentile_approx`/[[rollingP95]] is the
    * 100-TB default for full-precision continuous metrics; the exact path
    * is for the bounded-cardinality case (ms-granular latencies, prices),
    * where the CDF frame is |groups| x |distinct values| — executor-sized
    * long after the fact table isn't.
    *
    * Rank rule pinned to DuckDB's `quantile_disc`: rank = ceil(q*n)
    * computed in IEEE doubles (probed this session: n=100,q=0.99 -> 99
    * because 0.99*100 rounds BELOW 99; q=0.25,n=100 -> 25, ruling out
    * floor+1) — both engines do the identical double multiply, so the
    * boundary cases agree bit-for-bit. */
  def exactQuantiles(spark: SparkSession, d: String): DataFrame = {
    val qs = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75, 90 -> 0.9, 99 -> 0.99)
    val counts = ev(spark, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("event_type").orderBy("value")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
    val aggs = qs.map { case (pct, q) =>
      min(when(col("cum") >= ceil(lit(q) * col("n").cast("double")), col("value")))
        .as(s"p$pct")
    }
    cum.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
  }

  val exactQuantilesSql: String =
    """SELECT event_type,
      |  quantile_disc(value, 0.25) AS p25,
      |  quantile_disc(value, 0.50) AS p50,
      |  quantile_disc(value, 0.75) AS p75,
      |  quantile_disc(value, 0.90) AS p90,
      |  quantile_disc(value, 0.99) AS p99
      |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin

  // ------------------------------------------------ top-k via aggregation
  /** Top-5 events by value per type through [[graft.functions.TopK]] — the
    * partial-aggregating top-k: map-side partials carry <= 5 rows per
    * (split, group), the exchange moves |groups| x 5 rows, and no sort
    * ever sees more than 5 elements. The window-rank oracle it is checked
    * against is the formulation this REPLACES at scale (it sorts every
    * group member on one reducer). */
  def topkAgg(spark: SparkSession, d: String): DataFrame = {
    val top = ev(spark, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopK.topKByValue(5, col("value"), col("event_id")).as("top"))
    top.select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("event_id"),
        col("col._1").as("value"))
  }

  val topkAggSql: String =
    """SELECT event_type, rank, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS INT) AS rank
      |  FROM events WHERE value IS NOT NULL)
      |WHERE rank <= 5""".stripMargin

  // ------------------------------------------------------------ SCD2
  /** Slowly-changing-dimension (type 2) build from the event stream — the
    * standard warehouse pattern for turning an append-only fact into a
    * versioned dimension: per user, collapse consecutive runs of an
    * attribute (here the `props.k` value bucketed into tiers of 25) into
    * `[valid_from, valid_to)` intervals; the open interval is the current
    * row. Gaps-and-islands via lag + change-filter + re-rank, never a
    * self-join.
    *
    * Scale: one shuffle on user_id; both window passes reuse the same
    * (user_id, ts) ordering so Spark plans ONE sort. The dimension output
    * is |changes|, not |events| — the compaction is what makes the
    * downstream SCD2 point-in-time join (see [[asofTier]]) broadcastable
    * at fact scale. */
  def scd2(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val tiered = ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        floor(get_json_object(col("props"), "$.k").cast("long") / lit(25.0))
          .cast("long").as("tier"))
      .filter(col("tier").isNotNull)
    tiered
      .withColumn("prev", lag(col("tier"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("tier"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id"), col("version"), col("tier"),
        col("ts_ms").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val scd2Sql: String =
    """WITH t AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |    CAST(FLOOR(CAST(props->>'$.k' AS BIGINT) / 25.0) AS BIGINT) AS tier
      |  FROM events WHERE props->>'$.k' IS NOT NULL),
      | c AS (SELECT user_id, ts_ms, event_id, tier, LAG(tier) OVER w AS prev
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      | ch AS (SELECT user_id, ts_ms, event_id, tier FROM c
      |  WHERE prev IS NULL OR prev <> tier)
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS version, tier,
      |  ts_ms AS valid_from, LEAD(ts_ms) OVER w AS valid_to,
      |  LEAD(ts_ms) OVER w IS NULL AS is_current
      |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)""".stripMargin

  // ------------------------------------------------ Kaplan-Meier survival
  /** Kaplan-Meier survival estimate of "days from first activity to first
    * error", right-censoring users who never error at their last-seen day —
    * the churn/time-to-event curve of product analytics. S(t) is the
    * product over event times t_i <= t of (n_i - d_i)/n_i with censored
    * subjects kept in the risk set through their censoring time.
    *
    * Determinism: the factors are IEEE doubles, so S(t) is only
    * reproducible if both engines multiply them in the SAME order — the
    * prefix list is built by an ORDER BY t window and folded left-to-right
    * (Spark `aggregate`, DuckDB `list_aggregate('product')`), the
    * [[graft.queries.EmbeddingQueries.rankEval]] ordered-fold discipline.
    *
    * Scale: the per-user reduction is one shuffle on user_id; everything
    * after operates on the day-grain life table (|distinct durations| rows
    * — bounded by the observation window, not the corpus), so the
    * single-partition windows run on a model-sized frame. */
  def survival(spark: SparkSession, d: String): DataFrame = {
    val per = ev(spark, d).groupBy(col("user_id")).agg(
      min(col("ts_ms")).as("start_ms"),
      min(when(col("event_type") === "error", col("ts_ms"))).as("err_ms"),
      max(col("ts_ms")).as("last_ms"))
    val dur = per.select(
      floor((coalesce(col("err_ms"), col("last_ms")) - col("start_ms"))
        / lit(86400000.0)).cast("long").as("t"),
      col("err_ms").isNotNull.cast("int").as("observed"))
    val times = dur.groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), sum(col("observed")).as("d"))
    times
      .withColumn("n", sum(col("cnt")).over(
        Window.orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("d") > 0)
      .withColumn("factor",
        (col("n") - col("d")).cast("double") / col("n").cast("double"))
      .withColumn("hist", collect_list(col("factor")).over(
        Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t").as("t_days"), col("n").as("n_risk"),
        col("d").as("n_events"),
        aggregate(col("hist"), lit(1.0), (acc, x) => acc * x).as("survival"))
  }

  val survivalSql: String =
    """WITH per AS (SELECT user_id, min(epoch_ms(ts)) AS start_ms,
      |    min(CASE WHEN event_type = 'error' THEN epoch_ms(ts) END) AS err_ms,
      |    max(epoch_ms(ts)) AS last_ms
      |  FROM events GROUP BY 1),
      | dur AS (SELECT CAST(FLOOR((COALESCE(err_ms, last_ms) - start_ms)
      |      / 86400000.0) AS BIGINT) AS t,
      |    CASE WHEN err_ms IS NOT NULL THEN 1 ELSE 0 END AS observed FROM per),
      | times AS (SELECT t, COUNT(*) AS cnt, CAST(SUM(observed) AS BIGINT) AS d
      |  FROM dur GROUP BY 1),
      | risk AS (SELECT t, cnt, d, CAST(SUM(cnt) OVER (ORDER BY t DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
      |  FROM times),
      | evs AS (SELECT t, n, d,
      |    CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS factor
      |  FROM risk WHERE d > 0),
      | fold AS (SELECT t, n, d, list(factor) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist FROM evs)
      |SELECT t AS t_days, n AS n_risk, d AS n_events,
      |  list_aggregate(hist, 'product') AS survival FROM fold""".stripMargin

  // --------------------------------------------- Holt linear forecasting
  /** Holt double-exponential smoothing (level + trend) over the daily
    * purchase-revenue series, one-step-ahead forecast per day — the
    * capacity-planning/anomaly-baseline primitive. alpha = beta = 1/2 and
    * cents-scaled integer inputs make every level/trend value an exactly-
    * representable dyadic rational (<= t halvings of < 2^22 magnitudes:
    * well under 53 mantissa bits), so the result is bit-identical across
    * engines REGARDLESS of evaluation structure — Spark folds a prefix
    * list, the oracle iterates a recursive CTE, and they agree exactly.
    * Init: l_1 = x_1, b_1 = 0; forecast_t = l_{t-1} + b_{t-1} (NULL on day
    * one).
    *
    * Scale: the distributed work is the daily aggregation (one shuffle);
    * the smoothing runs on the day-grain series — model-sized by
    * construction — via an O(T) prefix list + O(T) fold per row (T^2 total
    * on T = |days|, negligible against the scan). */
  def holtForecast(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d).filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
    val wAll = Window.orderBy(col("day"))
    val st = expr(
      """aggregate(hist, named_struct('l', 0.0D, 'b', 0.0D, 'i', 0),
        |  (acc, x) -> IF(acc.i = 0,
        |    named_struct('l', CAST(x AS DOUBLE), 'b', 0.0D, 'i', 1),
        |    named_struct(
        |      'l', (CAST(x AS DOUBLE) + acc.l + acc.b) / 2,
        |      'b', (((CAST(x AS DOUBLE) + acc.l + acc.b) / 2 - acc.l) + acc.b) / 2,
        |      'i', acc.i + 1)))""".stripMargin)
    daily
      .withColumn("hist", collect_list(col("x")).over(
        wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_hist", collect_list(col("x")).over(
        wAll.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("st", st)
      .withColumn("prev", expr(
        """aggregate(prev_hist, named_struct('l', 0.0D, 'b', 0.0D, 'i', 0),
          |  (acc, x) -> IF(acc.i = 0,
          |    named_struct('l', CAST(x AS DOUBLE), 'b', 0.0D, 'i', 1),
          |    named_struct(
          |      'l', (CAST(x AS DOUBLE) + acc.l + acc.b) / 2,
          |      'b', (((CAST(x AS DOUBLE) + acc.l + acc.b) / 2 - acc.l) + acc.b) / 2,
          |      'i', acc.i + 1)))""".stripMargin))
      .select(col("day"), col("x"),
        col("st.l").as("level"), col("st.b").as("trend"),
        when(col("prev.i") > 0, col("prev.l") + col("prev.b")).as("forecast"))
  }

  val holtForecastSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      | idx AS (SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS i
      |  FROM daily),
      | holt(i, day, x, l, b, f) AS (
      |   SELECT i, day, x, CAST(x AS DOUBLE), CAST(0 AS DOUBLE),
      |     CAST(NULL AS DOUBLE) FROM idx WHERE i = 1
      |   UNION ALL
      |   SELECT idx.i, idx.day, idx.x,
      |     (CAST(idx.x AS DOUBLE) + h.l + h.b) / 2,
      |     (((CAST(idx.x AS DOUBLE) + h.l + h.b) / 2 - h.l) + h.b) / 2,
      |     h.l + h.b
      |   FROM holt h JOIN idx ON idx.i = h.i + 1)
      |SELECT day, x, l AS level, b AS trend, f AS forecast FROM holt""".stripMargin

  // -------------------------------------------------- forecast backtesting
  /** Rolling-origin backtest of the Holt forecast — the "should you trust
    * this forecast" loop ([[graft.queries.DocQueries.classifierEval]]'s
    * analog for the forecasting family): [[holtForecast]]'s frame is
    * already one-step-ahead by construction (day i's forecast sees only
    * days < i), so the backtest is an aggregation over it — sMAPE of the
    * Holt forecast vs the naive last-value baseline, and the skill
    * (naive − holt; positive means the trend model earns its keep).
    *
    * Hash-exact float discipline: per-day sMAPE terms are ROUNDED to 12
    * decimals and summed as DECIMAL — exact and order-independent where a
    * double fold would depend on aggregation order (the money-sum rule
    * from the TPC-H analogs, applied to error terms). One day-grain frame
    * throughout — bounded at any fact scale. */
  def forecastEval(spark: SparkSession, d: String): DataFrame = {
    val wAll = Window.orderBy(col("day"))
    def term(fc: Column, x: Column): Column = {
      val denom = (abs(fc) + abs(x.cast("double"))) / 2.0
      round(when(denom === 0.0, 0.0)
        .otherwise(abs(fc - x.cast("double")) / denom), 12)
        .cast("decimal(24,12)")
    }
    holtForecast(spark, d)
      .withColumn("naive", lag(col("x"), 1).over(wAll))
      .filter(col("forecast").isNotNull && col("naive").isNotNull)
      .select(term(col("forecast"), col("x")).as("th"),
        term(col("naive").cast("double"), col("x")).as("tn"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("th")).as("sh"), sum(col("tn")).as("sn"))
      .select(col("n_days"),
        round(col("sh").cast("double") / col("n_days"), 9).as("smape_holt"),
        round(col("sn").cast("double") / col("n_days"), 9).as("smape_naive"),
        round((col("sn") - col("sh")).cast("double") / col("n_days"), 9)
          .as("skill_vs_naive"))
  }

  val forecastEvalSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      | idx AS (SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS i
      |  FROM daily),
      | holt(i, day, x, l, b, f) AS (
      |   SELECT i, day, x, CAST(x AS DOUBLE), CAST(0 AS DOUBLE),
      |     CAST(NULL AS DOUBLE) FROM idx WHERE i = 1
      |   UNION ALL
      |   SELECT idx.i, idx.day, idx.x,
      |     (CAST(idx.x AS DOUBLE) + h.l + h.b) / 2,
      |     (((CAST(idx.x AS DOUBLE) + h.l + h.b) / 2 - h.l) + h.b) / 2,
      |     h.l + h.b
      |   FROM holt h JOIN idx ON idx.i = h.i + 1),
      | s AS (SELECT day, x, f,
      |         LAG(x) OVER (ORDER BY day) AS naive
      |       FROM holt),
      | t AS (SELECT
      |    CAST(ROUND(CASE WHEN (ABS(f) + ABS(CAST(x AS DOUBLE))) / 2 = 0 THEN 0
      |      ELSE ABS(f - CAST(x AS DOUBLE))
      |           / ((ABS(f) + ABS(CAST(x AS DOUBLE))) / 2) END, 12)
      |      AS DECIMAL(24,12)) AS th,
      |    CAST(ROUND(CASE WHEN (ABS(CAST(naive AS DOUBLE)) + ABS(CAST(x AS DOUBLE))) / 2 = 0 THEN 0
      |      ELSE ABS(CAST(naive AS DOUBLE) - CAST(x AS DOUBLE))
      |           / ((ABS(CAST(naive AS DOUBLE)) + ABS(CAST(x AS DOUBLE))) / 2) END, 12)
      |      AS DECIMAL(24,12)) AS tn
      |  FROM s WHERE f IS NOT NULL AND naive IS NOT NULL)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(CAST(SUM(th) AS DOUBLE) / COUNT(*), 9) AS smape_holt,
      |  ROUND(CAST(SUM(tn) AS DOUBLE) / COUNT(*), 9) AS smape_naive,
      |  ROUND(CAST(SUM(tn) - SUM(th) AS DOUBLE) / COUNT(*), 9) AS skill_vs_naive
      |FROM t""".stripMargin

  // ------------------------------------------------------------ CDC merge
  /** Change-data-capture (type-1) merge: apply an upsert/delete changelog
    * onto a compacted snapshot, latest-wins — MERGE INTO semantics
    * re-expressed as a union + keyed last-writer-wins compaction, the
    * incremental-materialization pass every warehouse ingestion pipeline
    * runs between full rebuilds.
    *
    * Fixture framing: the entity is the user. The snapshot is each user's
    * latest pre-cutoff event (one row per key, as a real snapshot is by
    * contract); the changelog is the post-cutoff stream where `error`
    * events are delete tombstones and everything else upserts the
    * (event_type, value) state. A key whose LAST change is a tombstone
    * leaves the table entirely — MERGE delete, not a soft flag.
    *
    * Scale: ONE shuffle on the merge key; both union legs are
    * column-aligned so Spark plans a single exchange + window over the
    * union. Per-key sort state is 1 snapshot row + that key's change
    * volume for THIS batch (bounded per merge cycle — the unbounded
    * history lives compacted in the snapshot, never re-sorted). The
    * same last-writer-wins rule keyed on (ts, event_id) is what makes
    * the merge idempotent under replayed changelogs. */
  def cdcMerge(spark: SparkSession, d: String): DataFrame = {
    val base = ev(spark, d).select(col("user_id"), col("ts_ms"), col("event_id"),
      col("event_type"), floor(col("value") * 1000).cast("long").as("value_scaled"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val snap = base.filter(col("ts_ms") < CdcCutoffMs)
      .withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("state_type"),
        col("value_scaled"), col("ts_ms").as("updated_ms"), col("event_id"),
        lit(false).as("from_changelog"), lit("U").as("op"))
    val chg = base.filter(col("ts_ms") >= CdcCutoffMs)
      .select(col("user_id"), col("event_type").as("state_type"),
        col("value_scaled"), col("ts_ms").as("updated_ms"), col("event_id"),
        lit(true).as("from_changelog"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
    val wMerge = Window.partitionBy(col("user_id"))
      .orderBy(col("updated_ms").desc, col("event_id").desc)
    snap.unionByName(chg)
      .withColumn("rn", row_number().over(wMerge)).filter(col("rn") === 1)
      .filter(col("op") =!= "D")
      .select(col("user_id"), col("state_type"), col("value_scaled"),
        col("updated_ms"), col("from_changelog"))
  }

  val cdcMergeSql: String =
    s"""WITH t AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
       |    CAST(FLOOR(value * 1000) AS BIGINT) AS value_scaled FROM events),
       | snap AS (SELECT user_id, event_type AS state_type, value_scaled,
       |    ts_ms AS updated_ms, event_id, FALSE AS from_changelog, 'U' AS op
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |          ORDER BY ts_ms DESC, event_id DESC) AS rn
       |        FROM t WHERE ts_ms < $CdcCutoffMs) WHERE rn = 1),
       | chg AS (SELECT user_id, event_type AS state_type, value_scaled,
       |    ts_ms AS updated_ms, event_id, TRUE AS from_changelog,
       |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
       |  FROM t WHERE ts_ms >= $CdcCutoffMs),
       | u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
       | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |         ORDER BY updated_ms DESC, event_id DESC) AS rn FROM u)
       |SELECT user_id, state_type, value_scaled, updated_ms, from_changelog
       |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  // ------------------------------------------------------- windowed funnel
  /** Time-window funnel (the ClickHouse `windowFunnel` shape): per user,
    * the deepest view -> click -> purchase chain whose whole span fits in
    * [[FunnelWindowMs]] of the ANCHOR view — strictly ordered in
    * millisecond time, unlike [[sessionFunnel]] (session-scoped) and
    * [[funnel]] (lifetime-ordered).
    *
    * One pass, no joins: per user the events fold in (ts, step DESC,
    * event_id) order through O(1) state — a1 = the latest view seen, a2 =
    * the latest view proven reachable to a click. Keeping the MAXIMUM
    * anchor is exact, not greedy-approximate: any later view only gains
    * window slack, so if ANY chain completes, the max-anchor chain does
    * too (the step-DESC tiebreak makes equal-ms events unchainable, so
    * the fold's "strictly earlier" reads match the oracle's strict `<`).
    * The oracle checks the same semantics by brute-force EXISTS joins —
    * an independent algorithm, so the fold's exactness claim is gated,
    * not assumed.
    *
    * Scale: one shuffle on user_id; per-user state is the event list of
    * ONE user (the sessionize/survival shape) and the fold is O(events).
    * The EXISTS-join formulation it replaces is quadratic per user and
    * unshippable at fact scale. */
  def windowFunnel(spark: SparkSession, d: String): DataFrame = {
    val step = when(col("event_type") === "view", 1)
      .when(col("event_type") === "click", 2)
      .when(col("event_type") === "purchase", 3)
    val evs = ev(spark, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"), step.as("step"))
      .filter(col("step").isNotNull)
    val item = struct(col("ts_ms"), (lit(3) - col("step")).as("sd"),
      col("event_id"), col("step"))
    evs.groupBy(col("user_id"))
      .agg(sort_array(collect_list(item)).as("seq"))
      .withColumn("st", expr(
        s"""aggregate(seq,
           |  named_struct('a1', CAST(-1 AS BIGINT), 'a2', CAST(-1 AS BIGINT), 'lvl', 0),
           |  (acc, e) -> IF(e.step = 1,
           |      named_struct('a1', greatest(acc.a1, e.ts_ms), 'a2', acc.a2,
           |                   'lvl', greatest(acc.lvl, 1)),
           |    IF(e.step = 2 AND acc.a1 >= 0 AND e.ts_ms - acc.a1 <= $FunnelWindowMs,
           |      named_struct('a1', acc.a1, 'a2', greatest(acc.a2, acc.a1),
           |                   'lvl', greatest(acc.lvl, 2)),
           |    IF(e.step = 3 AND acc.a2 >= 0 AND e.ts_ms - acc.a2 <= $FunnelWindowMs,
           |      named_struct('a1', acc.a1, 'a2', acc.a2, 'lvl', 3),
           |    acc))))""".stripMargin))
      .select(col("user_id"), col("st.lvl").cast("int").as("funnel_level"))
  }

  val windowFunnelSql: String =
    s"""WITH t AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
       |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
       |                    WHEN 'purchase' THEN 3 END AS step
       |  FROM events),
       | f AS (SELECT user_id, ts_ms, step FROM t WHERE step IS NOT NULL),
       | v AS (SELECT user_id, ts_ms FROM f WHERE step = 1),
       | c AS (SELECT user_id, ts_ms FROM f WHERE step = 2),
       | p AS (SELECT user_id, ts_ms FROM f WHERE step = 3),
       | l3 AS (SELECT DISTINCT v.user_id FROM v
       |   JOIN c ON c.user_id = v.user_id AND c.ts_ms > v.ts_ms
       |   JOIN p ON p.user_id = c.user_id AND p.ts_ms > c.ts_ms
       |         AND p.ts_ms - v.ts_ms <= $FunnelWindowMs),
       | l2 AS (SELECT DISTINCT v.user_id FROM v
       |   JOIN c ON c.user_id = v.user_id AND c.ts_ms > v.ts_ms
       |         AND c.ts_ms - v.ts_ms <= $FunnelWindowMs),
       | l1 AS (SELECT DISTINCT user_id FROM v)
       |SELECT u.user_id,
       |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
       |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
       |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
       |            ELSE 0 END AS INT) AS funnel_level
       |FROM (SELECT DISTINCT user_id FROM f) u""".stripMargin

  // -------------------------------------------------- CUSUM changepoints
  /** CUSUM changepoint detection over the per-type daily count series —
    * the classic upward-shift monitor s_i = max(0, s_{i-1} + (x_i - mu)),
    * which flags sustained drift that per-day z-scores ([[anomaly]]) miss.
    *
    * The recurrence LOOKS inherently sequential, but the clamp has a
    * closed window form: with p_i = cumsum(x_j - mu), s_i = p_i -
    * min(0, min_{j<=i} p_j) — a running sum plus a running min, both
    * plain window functions, no recursion and no driver loop. Everything
    * is exact integer arithmetic: deviations are scaled by n (days per
    * type), so mu = S/n never becomes a float — dev_i = n*x_i - S.
    * Alarm when the scaled statistic exceeds S (equivalently, when the
    * unscaled CUSUM exceeds the series mean) — a deterministic threshold
    * both engines compare in longs.
    *
    * Scale: the fact scan collapses to the (type, day) grain in one
    * map-side-combinable aggregation; the windows run over the day-grain
    * series per type — model-sized state, a single sort per type. */
  def cusum(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d)
      .groupBy(col("event_type"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val wt = Window.partitionBy(col("event_type"))
    val wo = wt.orderBy(col("day"))
    val run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s_total", sum(col("x")).over(wt))
      .withColumn("p", sum(col("n") * col("x") - col("s_total")).over(run))
      .withColumn("cusum_scaled",
        col("p") - least(lit(0L), min(col("p")).over(run)))
      .select(col("event_type"), col("day"), col("x"), col("cusum_scaled"),
        (col("cusum_scaled") > col("s_total")).as("is_alarm"))
  }

  val cusumSql: String =
    """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    COUNT(*) AS x FROM events GROUP BY 1, 2),
      | st AS (SELECT event_type, day, x,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(x) OVER (PARTITION BY event_type) AS s_total
      |  FROM daily),
      | ps AS (SELECT event_type, day, x, s_total,
      |    SUM(n * x - s_total) OVER w AS p
      |  FROM st WINDOW w AS (PARTITION BY event_type ORDER BY day
      |                       ROWS UNBOUNDED PRECEDING)),
      | cs AS (SELECT event_type, day, x, s_total, p,
      |    MIN(p) OVER (PARTITION BY event_type ORDER BY day
      |                 ROWS UNBOUNDED PRECEDING) AS minp
      |  FROM ps)
      |SELECT event_type, day, CAST(x AS BIGINT) AS x,
      |  CAST(p - LEAST(CAST(0 AS BIGINT), minp) AS BIGINT) AS cusum_scaled,
      |  p - LEAST(CAST(0 AS BIGINT), minp) > s_total AS is_alarm
      |FROM cs""".stripMargin

  // ------------------------------------------- item-item co-occurrence
  /** Item-item cosine similarity over the user→item interaction matrix —
    * the "users who visited X also visited Y" primitive behind co-view
    * recommendation and related-content surfacing. Items are the event's
    * `props.k` parameter; the interaction set is distinct (user, item).
    *
    * cosine(i,j) = |U_i ∩ U_j| / sqrt(|U_i|·|U_j|) over BINARY interaction
    * vectors, so co-occurrence counting is exact integer work and the one
    * float op per pair is the final division.
    *
    * Scale: the quadratic danger is pair emission per user (a power user
    * with 10k items would emit 5·10⁷ pairs) — the standard mitigation
    * (DIMSUM's row-cap analog, Twitter WTF) caps each user at their
    * [[ItemSimUserCap]] strongest interactions (by event count, item-id
    * tie-break), bounding emission at C²/2 per user. The pair join
    * shuffles once on user_id, the cooc aggregation once on (i,j) with
    * map-side partials, and the item-marginal table is catalog-sized —
    * broadcast. The cap binds on the fixture (users average ~49 distinct
    * items; C=32) so the oracle genuinely replays it. */
  private val ItemSimUserCap = 32
  private val ItemSimTopK = 10

  /** The capped (user, item) interaction set shared by [[itemSim]] and
    * [[triangles]] — the cap semantics (ItemSimUserCap, cnt-desc/item
    * tie-break) are load-bearing for BOTH queries' oracles, so this is the
    * single definition. Cached: each consumer reads it several times
    * (gate count / marginals / both pair-join sides) and the per-user
    * window sort would otherwise rerun per read. */
  private def cappedInteractions(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("capped-ui", d)) {
      val ui0 = ev(spark, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .filter(col("item").isNotNull)
        .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("cnt"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("item"))
      ui0.withColumn("rk", row_number().over(byUser))
        .filter(col("rk") <= ItemSimUserCap)
        .select(col("user_id"), col("item"))
    }

  /** Per-(session, dataset) distinct-item count of the capped interaction
    * set ([[CountMemo]]) — sizes the broadcast gate below without
    * re-running the count on every invocation (it reads the memo-cached
    * frame, so a recount is one cheap job, but the value is a static
    * dataset property). */
  private def cappedItemCount(spark: SparkSession, d: String): Long =
    CountMemo.getOrCompute(spark, ("capped-items", d))(
      cappedInteractions(spark, d).select(col("item")).distinct().count())

  /** Same memo for the distinct-user count [[triangles]] sizes its edge
    * threshold from — one count job per (session, dataset), not per
    * invocation. */
  private def cappedUserCount(spark: SparkSession, d: String): Long =
    CountMemo.getOrCompute(spark, ("capped-users", d))(
      cappedInteractions(spark, d).select(col("user_id")).distinct().count())

  /** Bytes-gated broadcast for the catalog-keyed dim frames ([[itemSim]]'s
    * marginals, [[triangles]]' degree table): both are ≤ one fixed-width
    * row per distinct item, so the gate is a row bound — default 2^22
    * items ≈ 128 MB at ~32 B/row, the same budget the dedup family's
    * bytes gate uses. Under the bound the dim broadcasts (BHJ,
    * PlanSpec-asserted at fixture scale); above it the hint is dropped and
    * the join falls back to a shuffle on the item key — an item catalog
    * approaching driver memory at 100x must degrade to an exchange, not
    * OOM the driver (the un-gated `broadcast(...)` forced exactly that). */
  private def maybeBroadcastItemDim(spark: SparkSession, d: String,
                                    dim: DataFrame): DataFrame = {
    if (cappedItemCount(spark, d) <= GraftConf.EvtMaxBroadcastItems.get(spark)) broadcast(dim)
    else dim
  }

  /** Matching SQL: `ui0`/`ui` CTEs, shared by both oracles. */
  private val cappedUiCtes: String =
    s"""ui0 AS (SELECT user_id, CAST(json_extract_string(props, 'k') AS INT) AS item,
       |         COUNT(*) AS cnt
       |       FROM events WHERE json_extract_string(props, 'k') IS NOT NULL
       |       GROUP BY 1, 2),
       | ui AS (SELECT user_id, item FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |                      ORDER BY cnt DESC, item) AS rk FROM ui0)
       |        WHERE rk <= $ItemSimUserCap)""".stripMargin

  /** The co-occurrence pair aggregation (capped-ui self-join + (i,j)
    * count) is the data-scale stage of BOTH [[itemSim]] and [[triangles]]
    * — memoized once; itemSim reads it whole, triangles filters it to its
    * edge threshold. Catalog-pair-sized (≤ items²/2 rows). */
  private def coocPairs(spark: SparkSession, d: String): DataFrame =
    MemoCache.frame(spark, ("ui-cooc", d)) {
      val ui = cappedInteractions(spark, d)
      ui.as("a")
        .join(ui.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i"), col("b.item").as("j"))
        .agg(count(lit(1)).cast("long").as("cooc"))
    }

  def itemSim(spark: SparkSession, d: String): DataFrame = {
    val ui = cappedInteractions(spark, d)
    val marginals = ui.groupBy(col("item"))
      .agg(count(lit(1)).cast("long").as("n_users"))
    val pairs = coocPairs(spark, d)
    val both = pairs.select(col("i"), col("j"), col("cooc"))
      .union(pairs.select(col("j").as("i"), col("i").as("j"), col("cooc")))
    val scored = both
      .join(maybeBroadcastItemDim(spark, d,
        marginals.select(col("item").as("i"), col("n_users").as("ni"))), "i")
      .join(maybeBroadcastItemDim(spark, d,
        marginals.select(col("item").as("j"), col("n_users").as("nj"))), "j")
      .select(col("i").as("item"), col("j").as("sim_item"), col("cooc"),
        round(col("cooc").cast("double") /
          (sqrt(col("ni").cast("double")) * sqrt(col("nj").cast("double"))), 6)
          .as("cosine"))
    val wTop = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("sim_item"))
    scored.withColumn("rank", row_number().over(wTop).cast("int"))
      .filter(col("rank") <= ItemSimTopK)
  }

  val itemSimSql: String =
    s"""WITH $cappedUiCtes,
       | n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_users FROM ui GROUP BY 1),
       | p AS (SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS cooc
       |       FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |       GROUP BY 1, 2),
       | bd AS (SELECT i, j, cooc FROM p UNION ALL SELECT j, i, cooc FROM p),
       | sc AS (SELECT b.i AS item, b.j AS sim_item, b.cooc,
       |          ROUND(CAST(b.cooc AS DOUBLE) /
       |            (sqrt(CAST(ni.n_users AS DOUBLE)) * sqrt(CAST(nj.n_users AS DOUBLE))),
       |            6) AS cosine
       |        FROM bd b JOIN n ni ON b.i = ni.item JOIN n nj ON b.j = nj.item)
       |SELECT item, sim_item, cooc, cosine, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
       |              ORDER BY cosine DESC, sim_item) AS INT) AS rank FROM sc)
       |WHERE rank <= $ItemSimTopK""".stripMargin

  // ------------------------------------------------- triangle counting
  /** Per-item triangle participation over the co-visitation graph — the
    * local-clustering signal behind community/cohesion analysis (a page
    * whose neighbors also co-occur with each other sits inside a topic
    * cluster; a hub with a star neighborhood does not). Graph: undirected
    * edge (i,j) when ≥ [[TriangleMinCooc]]·distinct-users co-visit both
    * (the SAME capped interaction set as [[itemSim]], threshold relative
    * to corpus size so density is scale-stable).
    *
    * Scale: counting walks ORIENTED edges — each edge points from the
    * lower-(degree, id) endpoint to the higher, so every triangle is
    * counted exactly once at its minimum-degree apex and the join fan-out
    * per vertex is bounded by its ORIENTED out-degree (O(m^1.5) total work
    * — the node-iterator bound; a raw three-way join would square the hub
    * degree instead). Wedges from the apex join the oriented edge set once
    * to close. The oracle counts i<j<k triples brute-force — independent
    * of the orientation trick. */
  private val TriangleMinCoocPct = 25 // edge iff cooc*100 >= pct*n_users

  def triangles(spark: SparkSession, d: String): DataFrame = {
    val nUsers = cappedUserCount(spark, d)
    // undirected edge list (i < j), threshold relative to corpus size;
    // MemoCache-bounded like every reused intermediate (raw .cache()
    // accumulation across a 233-query session measured as GC storms).
    //
    // Built from its OWN endpoint-pruned pair aggregation rather than by
    // filtering [[coocPairs]]: cooc(i,j) = |U_i ∩ U_j| <= min(|U_i|, |U_j|),
    // so an edge (cooc·100 >= pct·nUsers) needs BOTH endpoints to satisfy
    // n_v·100 >= pct·nUsers — filtering the interaction set to those few
    // corpus-hot items BEFORE the per-user self-join kills the item-pair
    // fan-out below the pair exchange (guide §2.3 aggregate/filter before
    // you shuffle). itemSim's unfiltered [[coocPairs]] memo is untouched;
    // a triangles-only cold no longer pays the full catalog-pair build.
    val edges = MemoCache.frame(spark, ("tri-edges", d)) {
      val ui = cappedInteractions(spark, d)
      val hot = ui.groupBy(col("item")).agg(count(lit(1)).as("nv"))
        .filter(col("nv") * 100 >= lit(TriangleMinCoocPct) * lit(nUsers))
        .select(col("item"))
      val uiHot = ui.join(maybeBroadcastItemDim(spark, d, hot), "item")
      uiHot.as("a")
        .join(uiHot.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i"), col("b.item").as("j"))
        .agg(count(lit(1)).cast("long").as("cooc"))
        .filter(col("cooc") * 100 >= lit(TriangleMinCoocPct) * lit(nUsers))
        .select(col("i"), col("j"))
    }
    // degree-orientation: rank vertices by (degree, id); orient low → high
    val deg = edges.select(col("i").as("v")).union(edges.select(col("j").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = edges
      .join(maybeBroadcastItemDim(spark, d,
        deg.select(col("v").as("i"), col("deg").as("di"))), "i")
      .join(maybeBroadcastItemDim(spark, d,
        deg.select(col("v").as("j"), col("deg").as("dj"))), "j")
      .select(
        when(col("di") < col("dj") || (col("di") === col("dj") && col("i") < col("j")),
          col("i")).otherwise(col("j")).as("src"),
        when(col("di") < col("dj") || (col("di") === col("dj") && col("i") < col("j")),
          col("j")).otherwise(col("i")).as("dst"))
    // wedges at the apex close against the canonical (i<j) edge set — the
    // e1.dst < e2.dst ordering makes every wedge's (b, c) canonical too, so
    // closing is a plain two-key equi-join (hash join, never a nested loop)
    // The wedge enumeration + close join + corner credit is the whole
    // per-invocation cost once the edge table is memo-resident — memoize
    // the (item, n_triangles) credit table too (catalog-sized), same
    // policy as the pair tables.
    val credit = MemoCache.frame(spark, ("tri-credit", d)) {
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.src").as("apex"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      val tris = wedges.join(edges.as("e3"),
          col("b") === col("e3.i") && col("c") === col("e3.j"))
        .select(col("apex"), col("b"), col("c"))
      // per-item participation: each triangle credits all three corners
      tris.select(explode(array(col("apex"), col("b"), col("c"))).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).cast("long").as("n_triangles"))
    }
    deg.select(col("v").as("item"), col("deg").cast("long").as("degree"))
      .join(credit, Seq("item"), "left")
      .select(col("item"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        // local clustering coefficient, exact rational → 6dp double
        when(col("degree") >= 2,
          round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2 /
            (col("degree").cast("double") * (col("degree").cast("double") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  val trianglesSql: String =
    s"""WITH $cappedUiCtes,
       | nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM ui),
       | e AS (SELECT a.item AS i, b.item AS j
       |       FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item, nu
       |       GROUP BY 1, 2, nu.n
       |       HAVING COUNT(*) * 100 >= $TriangleMinCoocPct * nu.n),
       | deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |           SELECT i AS v FROM e UNION ALL SELECT j FROM e) GROUP BY 1),
       | tri AS (SELECT t.v AS item, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
       |     SELECT unnest([e1.i, e1.j, e2.j]) AS v
       |     FROM e e1 JOIN e e2 ON e1.j = e2.i AND e1.i < e2.i
       |          JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j) t
       |   GROUP BY 1)
       |SELECT deg.v AS item, deg.degree,
       |  COALESCE(tri.n_triangles, 0) AS n_triangles,
       |  CASE WHEN deg.degree >= 2
       |       THEN ROUND(CAST(COALESCE(tri.n_triangles, 0) AS DOUBLE) * 2 /
       |              (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1)), 6)
       |       ELSE 0.0 END AS clustering
       |FROM deg LEFT JOIN tri ON deg.v = tri.item""".stripMargin

  // ----------------------------------------------- mutual information
  /** Mutual information between event type and weekday — the
    * dependence-detection readout ("does traffic COMPOSITION shift by day
    * of week, or only volume?"); 0 bits = independent. Per-cell pointwise
    * MI is emitted alongside (which (type, day) cells carry the
    * dependence), with the corpus MI as a constant column over the
    * per-cell output (one row per OBSERVED (type, weekday) cell — absent
    * cells contribute 0 to MI, so no grid fill is needed).
    *
    * Determinism: the same quantize-before-sum recipe as [[pathEntropy]] —
    * each cell's log2 term floors to a 1e6-scaled long (the one float op,
    * an identically-ordered expression in both engines), the MI sum is
    * integer addition, and the final division rounds to 6dp. Weekday is
    * pmod arithmetic, not a calendar function (engines disagree on dow
    * numbering).
    *
    * Scale: one map-side-combinable (type, dow) aggregation over the
    * stream; everything after runs on the model-sized cell table. */
  def mutualInfo(spark: SparkSession, d: String): DataFrame = {
    val cells = ev(spark, d)
      .select(col("event_type"),
        pmod(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long"), lit(7L)).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).cast("long").as("n_xy"))
      // localCheckpoint: read four times (marginals x2, total, the join)
      .localCheckpoint()
    val nx = cells.groupBy(col("event_type")).agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy(col("dow")).agg(sum(col("n_xy")).as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).as("n"))
    cells.join(nx, Seq("event_type")).join(ny, Seq("dow"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_micro",
        floor(lit(1000000.0) * log2(col("n_xy").cast("double") * col("n") /
          (col("n_x").cast("double") * col("n_y")))).cast("long"))
      .withColumn("mi_bits",
        round(sum(col("n_xy") * col("pmi_micro")).over(Window.partitionBy())
          .cast("double") / 1000000.0 / col("n"), 6))
      .select(col("event_type"), col("dow"), col("n_xy"), col("n_x"),
        col("n_y"), col("pmi_micro"), col("mi_bits"))
  }

  val mutualInfoSql: String =
    """WITH c AS (SELECT event_type,
      |    ((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7) + 7) % 7
      |      AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_xy
      |  FROM events GROUP BY 1, 2),
      | x AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
      | y AS (SELECT dow, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
      | n AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM c),
      | t AS (SELECT c.event_type, c.dow, c.n_xy, x.n_x, y.n_y, n.n,
      |    CAST(FLOOR(1000000.0 * log2(CAST(c.n_xy AS DOUBLE) * n.n /
      |      (CAST(x.n_x AS DOUBLE) * y.n_y))) AS BIGINT) AS pmi_micro
      |  FROM c JOIN x USING (event_type) JOIN y USING (dow) CROSS JOIN n)
      |SELECT event_type, dow, n_xy, n_x, n_y, pmi_micro,
      |  ROUND(CAST(SUM(n_xy * pmi_micro) OVER () AS DOUBLE) / 1000000.0 / n, 6)
      |    AS mi_bits
      |FROM t""".stripMargin

  // ----------------------------------------------- Benjamini-Hochberg FDR
  /** BH false-discovery-rate control at q = [[FdrQNum]]/[[FdrQDen]] over
    * the (event_type × day) count grid — the multiple-testing guard the
    * A/B family ([[srm]], [[msprt]], [[cuped]]) needs once a dashboard
    * tests many cells at once. Each cell's null is "this type's daily
    * counts are uniform across the observed span"; the per-cell p-value is
    * the CHEBYSHEV bound p = min(1, 1/z²) with z² = (o·D − T)²/(D·T) in
    * exact integer arithmetic (o observed, T the type's total, D the day
    * span) — deliberately conservative, and exactly rational, so every BH
    * decision is a cross-multiplied integer comparison with NO float
    * anywhere in the decision path (operand bounds ~1e16 at the gate
    * scales, documented vs the 9.2e18 signed-64 ceiling).
    *
    * The step-up rule: rank cells by p ascending (the sort key is the
    * integer-quantized 1e9·p, identical in both engines; ties break by
    * cell id), find the largest k with p_(k) ≤ k·q/m, reject ranks 1..k.
    * On the Poisson-like fixture nothing rejects — honest (no cell
    * deviates beyond Chebyshev at q=0.25) — and the planted-spike
    * rejection path is pinned in PipelineSpec.
    *
    * Scale: one day-grain map-side-combinable aggregation; the grid,
    * ranking and step-up all run on the (types × days) model-sized
    * table. */
  private[graft] val FdrQNum = 1L
  private[graft] val FdrQDen = 4L
  // Documented operand bounds of the BH decision arithmetic (PropertySpec
  // generates over exactly these): o <= FdrOMax events/cell, D <= FdrDMax
  // days, m <= FdrMMax cells, t_total <= o*D. The rejection compare's right
  // operand num*rank*FdrQNum maxes at (o*D)^2 * m * FdrQNum ≈ 8e18 at
  // FdrQNum = 1 — already near the 9.2e18 signed-64 ceiling, so raising the
  // q numerator (e.g. q = 3/10) would silently overflow INSIDE the
  // documented range. These asserts fail at class-init instead.
  private[graft] val FdrOMax = 100000L
  private[graft] val FdrDMax = 400L
  private[graft] val FdrMMax = 5000L
  require(
    BigInt(FdrOMax * FdrDMax).pow(2) * FdrMMax * FdrQNum <= Long.MaxValue,
    s"BH rejection compare num*rank*FdrQNum overflows signed-64 at the " +
      s"documented bounds (o<=$FdrOMax, D<=$FdrDMax, m<=$FdrMMax)")
  require(
    BigInt(FdrDMax) * (FdrOMax * FdrDMax) * FdrQDen * FdrMMax <= Long.MaxValue,
    "BH rejection compare den*FdrQDen*m overflows signed-64 at the documented bounds")
  require(
    BigInt(FdrDMax) * (FdrOMax * FdrDMax) * 1000000L <= Long.MaxValue,
    "BH staged-division rank key den*1e6 overflows signed-64 at the documented bounds")

  def fdrBh(spark: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the model-sized (type, day) count grid is read four
    // times below (types, days, day count, the grid join) — one events
    // pass instead of four, without spending a memo slot on a per-query
    // scratch table
    val daily = ev(spark, d)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .agg(count(lit(1)).cast("long").as("o"))
      .localCheckpoint()
    val types = daily.select(col("event_type")).distinct()
    val days = daily.select(col("day_num")).distinct()
    val nDays = days.agg(count(lit(1)).as("n_days"))
    // full grid: absent (type, day) cells are o=0 deviations too (both
    // sides model-sized; the explicit broadcast keeps the grid a BNLJ
    // over a 1-exchange day list, never a cartesian)
    val cells = types.crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day_num"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val totals = cells.groupBy(col("event_type")).agg(sum(col("o")).as("t_total"))
    val scored = cells.join(totals, Seq("event_type"))
      .crossJoin(broadcast(nDays))
      .withColumn("dev", col("o") * col("n_days") - col("t_total"))
      .withColumn("num", col("dev") * col("dev"))
      .withColumn("den", col("n_days") * col("t_total"))
      // integer-quantized sort key for the rank (1e9 ≡ p=1); monotone in p
      // and identical in both engines, so the BH permutation is pinned
      // floor(den*1e9/num) via staged division (den < num in this branch:
      // den*1e6 quotient, then the remainder refined by *1e3) — exact while
      // den <= 9.2e12 and num <= 9.2e15, where the single multiply den*1e9
      // overflows signed-64 at den > 9.2e9 (PropertySpec pins the BigInt
      // agreement over the documented range)
      .withColumn("p_key", when(col("num") <= col("den"), lit(1000000000L))
        .otherwise(expr(
          "((den * 1000000) DIV num) * 1000 + ((den * 1000000) % num) * 1000 DIV num")))
    val byP = Window.orderBy(col("p_key"), col("event_type"), col("day_num"))
    val all = Window.partitionBy()
    scored
      .withColumn("rank", row_number().over(byP).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("satisfies",
        when(col("num") <= col("den"),
          lit(FdrQDen) * col("m") <= col("rank") * lit(FdrQNum))
          .otherwise(col("den") * lit(FdrQDen) * col("m") <=
            col("num") * col("rank") * lit(FdrQNum)))
      .withColumn("k_star",
        max(when(col("satisfies"), col("rank"))).over(all))
      .select(col("event_type"), col("day_num"), col("o"),
        expr("t_total * 1000 DIV n_days").as("expected_milli"),
        when(col("num") <= col("den"), lit(1.0))
          .otherwise(round(col("den").cast("double") / col("num"), 6))
          .as("p_cheb"),
        col("rank"),
        (col("rank") <= coalesce(col("k_star"), lit(0L))).as("rejected"))
  }

  val fdrBhSql: String =
    s"""WITH daily AS (SELECT event_type,
       |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM events GROUP BY 1, 2),
       | ty AS (SELECT DISTINCT event_type FROM daily),
       | dy AS (SELECT DISTINCT day_num FROM daily),
       | nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM dy),
       | cells AS (SELECT ty.event_type, dy.day_num, COALESCE(daily.o, 0) AS o
       |   FROM ty CROSS JOIN dy
       |   LEFT JOIN daily ON daily.event_type = ty.event_type
       |                  AND daily.day_num = dy.day_num),
       | tt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS t_total
       |        FROM cells GROUP BY 1),
       | sc AS (SELECT c.event_type, c.day_num, c.o, tt.t_total, nd.n_days,
       |    (c.o * nd.n_days - tt.t_total) * (c.o * nd.n_days - tt.t_total) AS num,
       |    nd.n_days * tt.t_total AS den
       |  FROM cells c JOIN tt USING (event_type) CROSS JOIN nd),
       | keyed AS (SELECT *, CASE WHEN num <= den THEN 1000000000
       |             ELSE ((den * 1000000) // num) * 1000
       |                  + ((den * 1000000) % num) * 1000 // num END AS p_key
       |           FROM sc),
       | ranked AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY p_key, event_type, day_num)
       |      AS BIGINT) AS rank,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m
       |  FROM keyed),
       | dec AS (SELECT *, CASE WHEN num <= den
       |      THEN $FdrQDen * m <= rank * $FdrQNum
       |      ELSE den * $FdrQDen * m <= num * rank * $FdrQNum END AS satisfies
       |   FROM ranked),
       | ks AS (SELECT *, MAX(CASE WHEN satisfies THEN rank END) OVER () AS k_star
       |        FROM dec)
       |SELECT event_type, day_num, o, t_total * 1000 // n_days AS expected_milli,
       |  CASE WHEN num <= den THEN 1.0
       |       ELSE ROUND(CAST(den AS DOUBLE) / num, 6) END AS p_cheb,
       |  rank, rank <= COALESCE(k_star, 0) AS rejected
       |FROM ks""".stripMargin

  // ----------------------------------------------- mean-shift changepoint
  /** Single most-likely mean-shift changepoint per event type over the
    * daily count series — the offline localization readout next to the
    * online detectors ([[cusum]] flags drift as it accumulates; this
    * answers "WHEN did the level change", the first binary-segmentation
    * step of CBS/PELT-style pipelines). For a split after position t of n
    * days the score is the squared scaled-CUSUM statistic
    *
    *   D²(t) = (S_t·n − t·S_n)² / (t·(n−t))
    *
    * (the likelihood-ratio argmax for a Gaussian mean shift, up to the
    * constant σ²·n) — an EXACT RATIONAL in the integer prefix sums, so
    * candidate splits compare by an integer-quantized key (1e3-scaled
    * integer division, identical in both engines; ties → earliest day) and
    * no float enters the argmax. The quantization runs as a TWO-STEP
    * division (quotient·1e3 + remainder·1e3 DIV den — exactly
    * ⌊dev²·1e3/den⌋ without the single-multiply overflow): exact while
    * dev² AND the scaled score fit signed-64, which holds for ANY series
    * shape up to ~4.5M events/type over a year-grain span and far beyond
    * that at non-pathological splits (PropertySpec pins the BigInt
    * agreement over the documented domain; milli resolution on a score
    * whose interesting values are ≫1 does not move the argmax).
    *
    * Scale: one map-side-combinable day-grain aggregation; the prefix-sum
    * windows and the argmax run per type over the model-sized day series. */
  def changepoint(spark: SparkSession, d: String): DataFrame = {
    val daily = ev(spark, d)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .agg(count(lit(1)).cast("long").as("o"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
    val whole = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("s_t", sum(col("o")).over(byDay))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("s_n", sum(col("o")).over(whole))
      .filter(col("t") < col("n"))
      .withColumn("dev", col("s_t") * col("n") - col("t") * col("s_n"))
      .withColumn("den", expr("t * (n - t)"))
      .withColumn("key",
        expr("((dev * dev) DIV den) * 1000 + ((dev * dev) % den) * 1000 DIV den"))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(col("key").desc, col("day_num"))
    scored
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day_num").as("cp_day_num"),
        expr("s_t * 1000 DIV t").as("pre_mean_milli"),
        expr("(s_n - s_t) * 1000 DIV (n - t)").as("post_mean_milli"),
        col("key").as("score_key"))
  }

  val changepointSql: String =
    """WITH daily AS (SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      | pre AS (SELECT event_type, day_num, o,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
      |    CAST(SUM(o) OVER w AS BIGINT) AS s_t,
      |    CAST(COUNT(*) OVER tw AS BIGINT) AS n,
      |    CAST(SUM(o) OVER tw AS BIGINT) AS s_n
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day_num),
      |         tw AS (PARTITION BY event_type)),
      | sc AS (SELECT *, (s_t * n - t * s_n) AS dev, t * (n - t) AS den
      |         FROM pre WHERE t < n),
      | keyed AS (SELECT *, ((dev * dev) // den) * 1000
      |             + ((dev * dev) % den) * 1000 // den AS skey
      |           FROM sc),
      | rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY skey DESC, day_num) AS rk FROM keyed)
      |SELECT event_type, n AS n_days, day_num AS cp_day_num,
      |  s_t * 1000 // t AS pre_mean_milli,
      |  (s_n - s_t) * 1000 // (n - t) AS post_mean_milli,
      |  skey AS score_key
      |FROM rk WHERE rk = 1""".stripMargin

  // ----------------------------------------------- difference-in-differences
  /** Difference-in-differences over the [[abtest]] arm assignment and the
    * [[CdcCutoffMs]] mid-series cutoff — the quasi-experimental companion
    * to the A/B readout: when the "treatment" switches on at a known time,
    * DiD subtracts the control arm's before→after drift from the treated
    * arm's, isolating the effect from any shared time trend.
    *
    *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    *
    * over per-event purchase value. Determinism: values enter as the
    * repo's standard milli-scaled longs, each cell mean is one double
    * division of exact longs, and the three subtractions run in the same
    * written order in both engines. Empty cells yield NULL means and a
    * NULL DiD (guarded on the integer counts, as [[abtest]] does).
    *
    * Scale: ONE map-side-combinable pass — a conditional-sum aggregation
    * over (arm × period) flags; no join, no shuffle beyond the single
    * 4-group rollup. */
  def did(spark: SparkSession, d: String): DataFrame = {
    val arm = abArm
    val cells = ev(spark, d)
      .filter(col("event_type") === "purchase")
      .withColumn("arm", arm)
      .withColumn("post", (col("ts_ms") >= CdcCutoffMs).cast("int"))
      .withColumn("v_milli", floor(col("value") * 1000).cast("long"))
      .groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("v_milli")).as("s"))
    val one = cells.agg(
      sum(when(col("arm") === 1 && col("post") === 0, col("n"))).as("n_t_pre"),
      sum(when(col("arm") === 1 && col("post") === 0, col("s"))).as("s_t_pre"),
      sum(when(col("arm") === 1 && col("post") === 1, col("n"))).as("n_t_post"),
      sum(when(col("arm") === 1 && col("post") === 1, col("s"))).as("s_t_post"),
      sum(when(col("arm") === 0 && col("post") === 0, col("n"))).as("n_c_pre"),
      sum(when(col("arm") === 0 && col("post") === 0, col("s"))).as("s_c_pre"),
      sum(when(col("arm") === 0 && col("post") === 1, col("n"))).as("n_c_post"),
      sum(when(col("arm") === 0 && col("post") === 1, col("s"))).as("s_c_post"))
    def mean(s: String, n: String): Column =
      when(col(n) > 0, col(s).cast("double") / col(n)).otherwise(lit(null))
    one.select(
      coalesce(col("n_t_pre"), lit(0L)).as("n_t_pre"),
      coalesce(col("n_t_post"), lit(0L)).as("n_t_post"),
      coalesce(col("n_c_pre"), lit(0L)).as("n_c_pre"),
      coalesce(col("n_c_post"), lit(0L)).as("n_c_post"),
      round(mean("s_t_pre", "n_t_pre"), 6).as("mean_t_pre_milli"),
      round(mean("s_t_post", "n_t_post"), 6).as("mean_t_post_milli"),
      round(mean("s_c_pre", "n_c_pre"), 6).as("mean_c_pre_milli"),
      round(mean("s_c_post", "n_c_post"), 6).as("mean_c_post_milli"),
      round((mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
        (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")), 6)
        .as("did_milli"))
  }

  val didSql: String =
    s"""WITH e AS (SELECT
       |    CAST(('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 25, 8))
       |      ::UBIGINT AS BIGINT) % 2 AS arm,
       |    CASE WHEN epoch_ms(ts) >= $CdcCutoffMs THEN 1 ELSE 0 END AS post,
       |    CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli
       |  FROM events WHERE event_type = 'purchase'),
       | c AS (SELECT arm, post, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(v_milli) AS BIGINT) AS s
       |       FROM e GROUP BY 1, 2),
       | one AS (SELECT
       |    SUM(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n_t_pre,
       |    SUM(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s_t_pre,
       |    SUM(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n_t_post,
       |    SUM(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s_t_post,
       |    SUM(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n_c_pre,
       |    SUM(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s_c_pre,
       |    SUM(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n_c_post,
       |    SUM(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s_c_post
       |  FROM c)
       |SELECT CAST(COALESCE(n_t_pre, 0) AS BIGINT) AS n_t_pre,
       |  CAST(COALESCE(n_t_post, 0) AS BIGINT) AS n_t_post,
       |  CAST(COALESCE(n_c_pre, 0) AS BIGINT) AS n_c_pre,
       |  CAST(COALESCE(n_c_post, 0) AS BIGINT) AS n_c_post,
       |  ROUND(CASE WHEN n_t_pre > 0
       |    THEN CAST(s_t_pre AS DOUBLE) / n_t_pre END, 6) AS mean_t_pre_milli,
       |  ROUND(CASE WHEN n_t_post > 0
       |    THEN CAST(s_t_post AS DOUBLE) / n_t_post END, 6) AS mean_t_post_milli,
       |  ROUND(CASE WHEN n_c_pre > 0
       |    THEN CAST(s_c_pre AS DOUBLE) / n_c_pre END, 6) AS mean_c_pre_milli,
       |  ROUND(CASE WHEN n_c_post > 0
       |    THEN CAST(s_c_post AS DOUBLE) / n_c_post END, 6) AS mean_c_post_milli,
       |  ROUND((CASE WHEN n_t_post > 0
       |      THEN CAST(s_t_post AS DOUBLE) / n_t_post END
       |    - CASE WHEN n_t_pre > 0
       |      THEN CAST(s_t_pre AS DOUBLE) / n_t_pre END)
       |    - (CASE WHEN n_c_post > 0
       |      THEN CAST(s_c_post AS DOUBLE) / n_c_post END
       |    - CASE WHEN n_c_pre > 0
       |      THEN CAST(s_c_pre AS DOUBLE) / n_c_pre END), 6) AS did_milli
       |FROM one""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_changepoint"         -> (changepoint _),
    "evt_did"                 -> (did _),
    "evt_mutual_info"         -> (mutualInfo _),
    "evt_fdr_bh"              -> (fdrBh _),
    "evt_cdc_merge"           -> (cdcMerge _),
    "evt_window_funnel"       -> (windowFunnel _),
    "evt_cusum"               -> (cusum _),
    "evt_item_sim"            -> (itemSim _),
    "evt_hilbert"             -> (hilbert _),
    "evt_layout_skip"         -> (layoutSkip _),
    "evt_triangles"           -> (triangles _),
    "evt_winsorized"          -> (winsorized _),
    "evt_bootstrap_ci"        -> (bootstrapCi _),
    "evt_theil_sen"           -> (theilSen _),
    "evt_seq_count"           -> (seqCount _),
    "evt_holt_winters"        -> (holtWinters _),
    "evt_msprt"               -> (msprt _),
    "evt_profile"             -> (profile _),
    "evt_mix_shift"           -> (mixShift _),
    "evt_benford"             -> (benford _),
    "evt_scd2"                -> (scd2 _),
    "evt_survival"            -> (survival _),
    "evt_holt_forecast"       -> (holtForecast _),
    "evt_exact_quantiles"     -> (exactQuantiles _),
    "evt_tdigest"             -> (tdigestQuantiles _),
    "evt_forecast_eval"       -> (forecastEval _),
    "evt_incremental_rollup"  -> (incrementalRollup _),
    "evt_skew_report"         -> (skewReport _),
    "evt_ts_search"           -> (tsSearch _),
    "evt_kanon_audit"         -> (kanonAudit _),
    "evt_dp_rollup"           -> (dpRollup _),
    "evt_bloom_semijoin"      -> (bloomSemijoin _),
    "evt_uplift"              -> (uplift _),
    "evt_gini"                -> (gini _),
    "evt_decompose"           -> (decompose _),
    "evt_path_entropy"        -> (pathEntropy _),
    "evt_absorbing_chain"     -> (absorbingChain _),
    "evt_conversion_prob"     -> (conversionProb _),
    "evt_markov_attribution"  -> (markovAttribution _),
    "evt_power"               -> (powerAnalysis _),
    "evt_topk_agg"            -> (topkAgg _),
    "evt_anomaly"             -> (anomaly _),
    "evt_ewma"                -> (ewma _),
    "evt_rolling_distinct"    -> (rollingDistinct _),
    "evt_zorder"              -> (zorder _),
    "evt_rolling_p95"         -> (rollingP95 _),
    "evt_pattern_topk"        -> (patternTopK _),
    "evt_param_path"          -> (paramPath _),
    "evt_daily_rollup_approx" -> (dailyRollupApprox _),
    "evt_mapping"      -> (mapping _),
    "evt_sessionize"   -> (sessionize _),
    "evt_dedup_exact"  -> (dedupExact _),
    "evt_daily_rollup" -> (dailyRollup _),
    "evt_cube"         -> (cubeRollup _),
    "evt_stickiness"   -> (stickiness _),
    "evt_abtest"       -> (abtest _),
    "evt_cuped"        -> (cuped _),
    "evt_srm"          -> (srm _),
    "evt_funnel"       -> (funnel _),
    "evt_top_users"    -> (topUsers _),
    "evt_heavy_hitters" -> (heavyHitters _),
    "evt_kmv_overlap" -> (kmvOverlap _),
    "evt_position_attribution" -> (positionAttribution _),
    "evt_top_paths"    -> (topPaths _),
    "evt_transitions"  -> (transitions _),
    "evt_pagerank"     -> (pagerank _),
    "evt_retention"    -> (retention _),
    "evt_session_stats" -> (sessionStats _),
    "evt_asof_join"    -> (asofTier _),
    "evt_attribution"  -> (attribution _),
    "evt_session_features" -> (sessionFeatures _),
    "evt_bot_detect"   -> (botDetect _),
    "evt_session_funnel" -> (sessionFunnel _),
    "evt_cohort_revenue" -> (cohortRevenue _),
    "evt_interval_join" -> (intervalJoin _),
    "evt_multitouch" -> (multitouch _))

  val oracles: Map[String, String] = Map(
    "evt_changepoint"         -> changepointSql,
    "evt_did"                 -> didSql,
    "evt_mutual_info"         -> mutualInfoSql,
    "evt_fdr_bh"              -> fdrBhSql,
    "evt_cdc_merge"           -> cdcMergeSql,
    "evt_window_funnel"       -> windowFunnelSql,
    "evt_cusum"               -> cusumSql,
    "evt_item_sim"            -> itemSimSql,
    "evt_hilbert"             -> hilbertSql,
    "evt_layout_skip"         -> layoutSkipSql,
    "evt_triangles"           -> trianglesSql,
    "evt_winsorized"          -> winsorizedSql,
    "evt_bootstrap_ci"        -> bootstrapCiSql,
    "evt_theil_sen"           -> theilSenSql,
    "evt_seq_count"           -> seqCountSql,
    "evt_holt_winters"        -> holtWintersSql,
    "evt_msprt"               -> msprtSql,
    "evt_profile"             -> profileSql,
    "evt_mix_shift"           -> mixShiftSql,
    "evt_benford"             -> benfordSql,
    "evt_scd2"                -> scd2Sql,
    "evt_survival"            -> survivalSql,
    "evt_holt_forecast"       -> holtForecastSql,
    "evt_exact_quantiles"     -> exactQuantilesSql,
    "evt_tdigest"             -> tdigestQuantilesSql,
    "evt_forecast_eval"       -> forecastEvalSql,
    "evt_incremental_rollup"  -> incrementalRollupSql,
    "evt_skew_report"         -> skewReportSql,
    "evt_ts_search"           -> tsSearchSql,
    "evt_kanon_audit"         -> kanonAuditSql,
    "evt_dp_rollup"           -> dpRollupSql,
    "evt_bloom_semijoin"      -> bloomSemijoinSql,
    "evt_uplift"              -> upliftSql,
    "evt_gini"                -> giniSql,
    "evt_decompose"           -> decomposeSql,
    "evt_path_entropy"        -> pathEntropySql,
    "evt_absorbing_chain"     -> absorbingChainSql,
    "evt_conversion_prob"     -> conversionProbSql,
    "evt_markov_attribution"  -> markovAttributionSql,
    "evt_power"               -> powerAnalysisSql,
    "evt_topk_agg"            -> topkAggSql,
    "evt_anomaly"             -> anomalySql,
    "evt_ewma"                -> ewmaSql,
    "evt_rolling_distinct"    -> rollingDistinctSql,
    "evt_zorder"              -> zorderSql,
    "evt_rolling_p95"         -> rollingP95Sql,
    "evt_pattern_topk"        -> patternTopKSql,
    "evt_daily_rollup_approx" -> dailyRollupApproxSql,
    "evt_param_path"   -> paramPathSql,
    "evt_mapping"      -> mappingSql,
    "evt_sessionize"   -> sessionizeSql,
    "evt_dedup_exact"  -> dedupExactSql,
    "evt_daily_rollup" -> dailyRollupSql,
    "evt_cube"         -> cubeRollupSql,
    "evt_stickiness"   -> stickinessSql,
    "evt_abtest"       -> abtestSql,
    "evt_cuped"        -> cupedSql,
    "evt_srm"          -> srmSql,
    "evt_funnel"       -> funnelSql,
    "evt_top_users"    -> topUsersSql,
    "evt_heavy_hitters" -> heavyHittersSql,
    "evt_kmv_overlap" -> kmvOverlapSql,
    "evt_position_attribution" -> positionAttributionSql,
    "evt_top_paths"    -> topPathsSql,
    "evt_transitions"  -> transitionsSql,
    "evt_pagerank"     -> pagerankSql,
    "evt_retention"    -> retentionSql,
    "evt_session_stats" -> sessionStatsSql,
    "evt_asof_join"    -> asofTierSql,
    "evt_attribution"  -> attributionSql,
    "evt_session_features" -> sessionFeaturesSql,
    "evt_bot_detect"   -> botDetectSql,
    "evt_session_funnel" -> sessionFunnelSql,
    "evt_cohort_revenue" -> cohortRevenueSql,
    "evt_interval_join" -> intervalJoinSql,
    "evt_multitouch" -> multitouchSql)
}
