package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, unchanged, against a 100 TB warehouse path on a real cluster:
  * nothing here hard-codes partition counts or collects to the driver.
  */
object Tables {

  /** Target one task per ~64KB of compressed parquet when rebalancing a
    * too-coarse scan: decode-heavy operators cost microseconds per ROW, so
    * a 64KB split (~3k rows) is ~0.1s of work — small enough to spread
    * across cores, large enough that task overhead stays negligible. */
  private val SplitHintBytes = 64L << 10
  /** Never rebalance inputs past this size: a table this big either ships
    * as many files or many row groups (a real warehouse layout) and the
    * scan parallelizes natively — adding an exchange there would shuffle
    * the whole table for nothing. */
  private val RebalanceMaxBytes = 256L << 20
  /** Don't bother below this many target splits: tiny fixtures keep their
    * raw single-partition scan. */
  private val RebalanceMinParts = 4

  /** Only FACT tables rebalance — the row streams whose per-row decode/
    * tokenize/score work is what parallelism buys. Dimension tables are
    * broadcast-destined (`broadcast(customer)` etc.): an exchange beneath a
    * BroadcastExchange adds a shuffle stage for zero gain, so they always
    * keep the raw scan.
    *
    * Each fact table rebalances by HASH on its natural key, not round-robin:
    * a keyless `repartition(n)` first sorts its input locally
    * (`spark.sql.execution.sortBeforeRepartition`, on since SPARK-23207 so
    * retried tasks reproduce their row-to-partition assignment) — and the
    * single-row-group fixture scan is ONE task, so that sort of the whole
    * table ran serially at the head of every fact query. Hash partitioning
    * is deterministic per row (retry-safe with no sort), and the output
    * partitioning is REUSABLE: joins and aggregations keyed on the same
    * column skip their own exchange (lineitem⋈orders on orderkey, per-user
    * windows over events), which round-robin output never satisfies. */
  private val FactTables = Map(
    "lineitem"   -> "l_orderkey",
    "orders"     -> "o_orderkey",
    "events"     -> "user_id",
    "documents"  -> "doc_id",
    "embeddings" -> "vec_id")

  /** Small single-file (single-row-group) parquet can't split at scan time
    * — the whole table becomes ONE task and a 32-core local run executes
    * narrow decode pipelines on one core. A real deployment never sees
    * this shape (TB-scale tables arrive as thousands of row groups), so
    * the fix is a fixture-shape rebalance, strictly gated: local files
    * only, total size ≤ 256MB, fewer files than the would-be split count,
    * and ≥ 4 target splits. Outside the gate the DataFrame is returned
    * untouched, so warehouse-scale plans never carry the extra exchange. */
  private def rebalanced(spark: SparkSession, df: DataFrame,
                         key: String): DataFrame = {
    val files = df.inputFiles
    val sizes = files.flatMap { f =>
      try {
        val u = new java.net.URI(f)
        if (u.getScheme != "file") None
        else Some(new java.io.File(u.getPath).length())
      } catch { case _: Exception => None }
    }
    if (sizes.length != files.length) return df // non-local: leave the scan alone
    val bytes = sizes.sum
    val target = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + SplitHintBytes - 1) / SplitHintBytes).toInt
    if (bytes <= RebalanceMaxBytes && target >= RebalanceMinParts &&
        files.length < target) df.repartition(target, col(key))
    else df
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    FactTables.get(name).map(rebalanced(spark, df, _)).getOrElse(df)
  }

  /** Fact scan WITHOUT the fixture rebalance — for queries whose first
    * shuffle is NOT keyed on the table's natural key (a different-key
    * aggregate, a broadcast-join + scalar-agg pipeline, a window on
    * another column): there the keyed rebalance can never be reused as
    * the query's own exchange, so it is a pure extra full-table shuffle
    * at the head of the plan. Queries whose first exchange IS on the
    * natural key (lineitem⋈orders on orderkey, per-user event windows)
    * keep [[table]] — for them the rebalance is that exchange, moved
    * before the scan where it also parallelizes decode. A/B per query at
    * sf0.1 backs each call site (OPTIMIZATION_r12.md). */
  def tableRaw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def lineitemRaw(s: SparkSession, d: String): DataFrame = tableRaw(s, d, "lineitem")
  def ordersRaw(s: SparkSession, d: String): DataFrame  = tableRaw(s, d, "orders")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 reads only as a
    * raw nanos long (`spark.sql.legacy.parquet.nanosAsLong` — set by
    * [[graft.GraftSession]]). Normalize here: `ts` becomes a us-precision
    * TIMESTAMP_NTZ, and the raw nanos stay available as `ts_ns`. */
  def events(s: SparkSession, d: String): DataFrame =
    eventsFrom(table(s, d, "events"))

  /** [[tableRaw]] variant of [[events]] — same ts normalization. */
  def eventsRaw(s: SparkSession, d: String): DataFrame =
    eventsFrom(tableRaw(s, d, "events"))

  private def eventsFrom(raw: DataFrame): DataFrame = {
    raw.schema("ts").dataType match {
      case LongType =>
        // integer DIV: ns -> us must not round-trip through double
        // (2024 epoch-nanos ≈ 1.7e18 > 2^53)
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000"))
            .cast("timestamp_ntz"))
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
