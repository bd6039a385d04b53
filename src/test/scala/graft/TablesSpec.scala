package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType

/** The input-rebalance gate (Tables.rebalanced) must fire ONLY for the
  * fixture shape it exists for — small local single-file fact tables — and
  * never change dimension or warehouse-scale plans. Opening a table
  * (Tables.open) reads one footer on the driver: the schema must equal
  * Spark's own inference, and no open may start a job. */
class TablesSpec extends SparkSpec {

  private val Names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val Scales = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")

  private def assertInferredSchema(path: String): Unit =
    assert(Tables.open(spark, path).schema === spark.read.parquet(path).schema, path)

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("fact tables at bench scale spread across cores") {
    val p = parts(Tables.events(spark, "/root/testdata/sf0.1"))
    assert(p > 1, s"events sf0.1 should rebalance, got $p partition(s)")
  }

  test("dimension tables never rebalance (broadcast-destined)") {
    Seq("nation", "region", "customer", "supplier", "part").foreach { t =>
      val p = parts(Tables.table(spark, "/root/testdata/sf0.1", t))
      assert(p === 1, s"dim $t must keep its raw scan, got $p partitions")
    }
  }

  test("tiny fixtures stay under the gate (plan-shape tests see raw scans)") {
    val p = parts(Tables.events(spark, "/root/testdata/sf0.001"))
    assert(p === 1)
  }

  test("an opened table's schema equals Spark's inferred schema") {
    for (d <- Scales; t <- Names) assertInferredSchema(s"$d/$t.parquet")
  }

  test("a TIMESTAMP(NANOS) column opens as long under the session's nanosAsLong") {
    // Spark cannot write nanos, so the file is written with parquet's own writer
    val dir = Files.createTempDirectory("tables-spec-nanos").toFile
    try {
      val file = new Path(s"$dir/events.parquet")
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 event_id; }")
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration)).withType(schema).build()
      try w.write(new SimpleGroup(schema).append("ts", 1700000000123456789L).append("event_id", 1L))
      finally w.close()
      assertInferredSchema(file.toString)
      assert(Tables.open(spark, file.toString).schema("ts").dataType === LongType)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("multi-file, partitioned and empty Spark-written tables open with the inferred schema") {
    val dir = Files.createTempDirectory("tables-spec").toFile
    try {
      val src = Tables.tableRaw(spark, Scales.head, "orders")
      src.repartition(3).write.parquet(s"$dir/multi")
      assert(new java.io.File(s"$dir/multi").list().count(_.endsWith(".parquet")) > 1)
      src.write.partitionBy("o_orderstatus").parquet(s"$dir/partitioned")
      src.limit(0).write.parquet(s"$dir/empty")
      Seq("multi", "partitioned", "empty").foreach(t => assertInferredSchema(s"$dir/$t"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("opening every table starts no Spark job") {
    val sc = spark.sparkContext
    val Tag = "tables.spec.phase"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty(Tag)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "open")
      for (d <- Scales; t <- Names) {
        Tables.table(spark, d, t).schema
        Tables.tableRaw(spark, d, t).schema
      }
      Scales.foreach(d => Tables.events(spark, d).schema)
      // the listener bus is asynchronous: a marker job, seen last, means
      // every job started before it has been seen too
      sc.setLocalProperty(Tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"))
      assert(seen.toArray.count(_ == "open") === 0)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a directory with no data file fails naming the path") {
    val dir = Files.createTempDirectory("tables-spec-nodata")
    try {
      Files.createFile(dir.resolve("_SUCCESS"))
      Files.createFile(dir.resolve(".part-0.parquet.crc"))
      val e = intercept[java.io.FileNotFoundException](Tables.open(spark, dir.toString))
      assert(e.getMessage.contains(dir.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
