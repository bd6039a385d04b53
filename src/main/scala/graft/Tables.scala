package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, unchanged, against a 100 TB warehouse path on a real cluster:
  * nothing here hard-codes partition counts or collects to the driver.
  *
  * Every parquet read in the engine goes through [[open]], which costs one
  * footer read on the driver and starts no Spark job. Schemas are not
  * merged across files, as with Spark's default (`mergeSchema` is off and
  * nothing here sets it): one file's footer speaks for the table.
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

  /** `spark.read.parquet(path)` without its schema-inference job. Spark's
    * non-merging inference reads ONE footer, but through a one-task job per
    * open; here the same footer is read on the driver and converted with
    * Spark's own converter under the session's `SQLConf` (so `nanosAsLong`
    * and the other parquet flags apply unchanged), and the scan is opened
    * with that schema. The footer comes from the file Spark would pick:
    * `_common_metadata`, else `_metadata`, else the first data file by path,
    * skipping names that start with `_` or `.` (partition directories are
    * walked). A path with no data file fails naming the path. */
  private[graft] def open(spark: SparkSession, path: String): DataFrame = {
    val conf = SessionBridge.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val file = if (!st.isDirectory) root else {
      val leaves = leafFiles(fs, root).sortBy(_.toString)
      def named(n: String) = leaves.find(_.getName == n)
      named(PARQUET_COMMON_METADATA_FILE).orElse(named(PARQUET_METADATA_FILE))
        .orElse(leaves.find(p => !SummaryFiles(p.getName)))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet data file under $path"))
    }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(SessionBridge.sqlConf(spark)))
    spark.read.schema(schema).parquet(path)
  }

  private val SummaryFiles = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)

  /** Leaf files under `dir`, hidden names dropped as Spark's file index
    * drops them (a `_` name holding `=` is a partition directory). */
  private def leafFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if ((n.startsWith("_") && !n.contains("=") || n.startsWith(".")) &&
          !SummaryFiles(n)) Nil
      else if (s.isDirectory) leafFiles(fs, s.getPath)
      else Seq(s.getPath)
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = open(spark, s"$sfDir/$name.parquet")
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
    open(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def lineitemRaw(s: SparkSession, d: String): DataFrame = tableRaw(s, d, "lineitem")
  def ordersRaw(s: SparkSession, d: String): DataFrame  = tableRaw(s, d, "orders")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(MICROS) in the shipped fixtures, but a
    * TIMESTAMP(NANOS) file is read by Spark 4 only as a raw nanos long
    * (`spark.sql.legacy.parquet.nanosAsLong` — set by [[graft.GraftSession]]).
    * Normalize either here: `ts` becomes a us-precision TIMESTAMP_NTZ, and
    * the nanos are available as `ts_ns`. */
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
