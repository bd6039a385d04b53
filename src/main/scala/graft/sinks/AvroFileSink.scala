package graft.sinks

import graft.schema.AvroSchemas
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import java.io.File
import java.nio.file.{Files, Paths}

/** Avro container-file sink with the reference's file conventions
  * (`filesinks/FileFlusher.java:45-296`, `hdfs/HdfsFileManager.java:44-137`):
  *
  *  - one container file per (partition, roll window) named
  *    `<stamp>-divolte-tracking-<tag>-<n>.avro` (reference filename
  *    pattern, `HdfsFileManager.java:62-68`). A stamped write (a batch id)
  *    numbers its files by partition, so a replay overwrites them. An
  *    unstamped write stamps the wall-clock second and takes `<n>` from a
  *    driver-wide file counter (the reference's per-process counter), so
  *    two writes of one tag in one second never share a name; writers in
  *    different processes need different tags (the reference's hostname);
  *  - files are written to a working name and atomically renamed into place
  *    on close — on real HDFS/object stores Spark's commit protocol plays
  *    this role; here the semantic is preserved per-file;
  *  - EMPTY partitions produce no file (reference discards empty files,
  *    `FileFlusher.java:183-208`);
  *  - on a stream, [[graft.topology.Topology.start]] calls [[write]] once
  *    per micro-batch with the batch's stamp, giving the roll-per-interval
  *    behavior (trigger interval ≡ roll window); a replayed batch
  *    overwrites its own files.
  *
  * Distribution: each executor partition writes its own file — no driver
  * collect. The file API here is java.io, i.e. a shared POSIX filesystem
  * (local mode, NFS); for HDFS/object stores the production path is
  * Spark's own `format("avro")` writer, whose commit protocol supersedes
  * the `.partial`+rename contract (SURVEY §2E) — this sink exists to keep
  * the reference's container-file conventions testable.
  *
  * Retry safety: the working file carries the task ATTEMPT id (two
  * speculative attempts never write the same partial), and the final name
  * is attempt-independent, so a retry's rename overwrites with identical
  * content instead of duplicating. A partition that fails mid-write
  * deletes its working file.
  */
object AvroFileSink {

  /** Files numbered by unstamped writes so far in this driver. */
  private val fileCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Write a DataFrame as Avro container files; returns the target dir.
    * `stamp` defaults to wall-clock; pass a deterministic one (e.g. a
    * batch id) when replays must overwrite rather than duplicate. */
  def write(df: DataFrame, dir: String, tag: String = "spark",
            syncInterval: Int = 1000, stamp: Option[String] = None): String = {
    val schemaJson = AvroSchemas.toAvroSchema(df.schema).toString
    val rdd = df.rdd
    val (stampStr, firstFile) = stamp match {
      case Some(s) => (s, 0L)
      case None =>
        (new java.text.SimpleDateFormat("yyyyMMddHHmmss").format(new java.util.Date()),
          fileCounter.getAndAdd(rdd.getNumPartitions))
    }
    Files.createDirectories(Paths.get(dir))
    rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty // no empty files
      else {
        val schema = AvroSchemas.cachedSchema(schemaJson)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val file = new File(dir, f"$stampStr-divolte-tracking-$tag-${firstFile + pid}%05d.avro")
        file.getParentFile.mkdirs() // executor-side: dir may not exist here
        val working = new File(dir, file.getName + s".partial-$attempt")
        val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        writer.setSyncInterval(syncInterval * 64) // bytes-ish analog of record sync policy
        writer.create(schema, working)
        var n = 0L
        try {
          try rows.foreach { row => writer.append(AvroSchemas.toRecord(row, schema)); n += 1 }
          finally writer.close()
          if (!working.renameTo(file) && !file.exists())
            throw new java.io.IOException(s"atomic publish failed for $file")
        } finally working.delete() // a no-op once published; a failed write leaves no partial
        Iterator.single(file.getPath -> n)
      }
    }.collect()
    dir
  }

  /** Read back every container file in a dir (AvroFileLocator pattern,
    * reference `ServerSinkSourceConfigurationTest.java:126-158`): count and
    * schema come from the container headers. */
  def readBack(spark: SparkSession, dir: String): Seq[(String, Long, String)] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    files.toSeq.map { f =>
      val reader = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      try {
        var n = 0L
        while (reader.hasNext) { reader.next(); n += 1 }
        (f.getName, n, reader.getSchema.getFullName)
      } finally reader.close()
    }
  }

  /** Distributed read-back of a container-file dir into a typed DataFrame
    * (the consume side of [[write]]; no spark-avro module on the unmanaged
    * classpath, so the container decode is explicit). One input file per
    * task — files stream record-by-record; nothing collects to the driver.
    *
    * Each file is read with its header's schema as the writer schema and
    * `AvroSchemas.toAvroSchema(schema)` as the reader schema, so Avro's
    * schema resolution hands back records in `schema`'s shape: a nullable
    * field an older file lacks reads as null, an int written where
    * `schema` has long (or float/double) is promoted. A file the
    * resolution cannot reconcile with `schema` (a non-null field it lacks,
    * an incompatible type) fails the read. */
  def readBackDf(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".avro")).map(_.getPath).sorted.toSeq
    val schemaJson = AvroSchemas.toAvroSchema(schema).toString
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.size))
      .flatMap { path =>
        val reader = new DataFileReader[GenericRecord](new File(path),
          new GenericDatumReader[GenericRecord](AvroSchemas.cachedSchema(schemaJson)))
        // close on TASK COMPLETION, not just clean exhaustion: a limit()/
        // take() that stops early, or a failure mid-read, would otherwise
        // leak the file handle for the executor's lifetime
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try reader.close() catch { case _: Exception => () }))
        new Iterator[Row] {
          def hasNext: Boolean = { val h = reader.hasNext; if (!h) reader.close(); h }
          def next(): Row = AvroSchemas.fromRecord(reader.next(), schema)
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
