package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-layout helpers: the storage-side answer to repeated large-scale
  * joins/aggregations on the same key. Writing both sides of a recurring
  * join bucketed (and sorted) by the join key makes the join a zero-shuffle
  * sort-merge over co-located buckets — at 100 TB this converts the
  * dominant exchange of every run into a one-time layout cost.
  *
  * (The reference's analog is Kafka partition-by-partyId affinity,
  * `processing/Item.java:33-46` — key co-location decided at write time.)
  */
object Bucketing {

  /** Persist a frame as a bucketed, sorted table in the session catalog. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key: no exchange. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(left)
    val r = spark.table(right)
    // name-based condition: Dataset-apply column refs lose their plan-id
    // binding through saveAsTable-backed relations in Spark 4
    l.join(r, org.apache.spark.sql.functions.expr(s"$leftKey = $rightKey"))
  }

  /** Persist a frame hive-partitioned by a (low-cardinality) column — the
    * time/tenant layout of a 100 TB event store: a reader filtering on the
    * partition column prunes whole directories at PLANNING time
    * (`PartitionFilters` in the scan, zero data files touched for excluded
    * partitions), which predicate pushdown alone cannot do — row-group
    * stats still require opening every file's footer. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write
      .partitionBy(partitionCol)
      .format("parquet")
      .mode("overwrite")
      .save(path)

  /** Compact a small-files parquet directory into ~`targetBytes` outputs —
    * the maintenance job every streaming/incremental writer eventually
    * needs (each micro-batch or task leaves a file; a 100 TB store dies by
    * a thousand 1 MB footers). The rewrite is one coalesced scan: the
    * partition count comes from the observed on-disk bytes, data is
    * written to a sibling dir then atomically swapped in (readers never
    * see a half-compacted directory; the swap is two renames). Returns
    * (files before, files after). */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val df = graft.Tables.open(spark, path)
    val files = df.inputFiles
    val bytes = files.map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val parts = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val tmp = path.stripSuffix("/") + ".compact-tmp"
    df.coalesce(parts).write.mode("overwrite").parquet(tmp)
    val old = path.stripSuffix("/") + ".compact-old"
    Files.move(Paths.get(path), Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(old))
    val after = graft.Tables.open(spark, path).inputFiles.length
    (files.length, after)
  }
}
