package graft.sinks

import graft.SparkSpec
import graft.Tables
import graft.schema.AvroSchemas
import graft.sources.TopicSources
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.functions._

/** Sink round-trip tests following the reference's read-back pattern
  * (`FileFlusherLocalHdfsTest` / `AvroFileLocator`,
  * `ServerSinkSourceConfigurationTest.java:126-158`). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def mapped = {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    df.select(
      concat(lit("0:1:p"), col("user_id")).as("partyId"),
      concat(lit("ev"), col("event_id")).as("eventId"),
      unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
      col("event_type"),
      col("value"))
  }

  test("avro file sink: write, atomic publish, read back, empty-partition discard") {
    val dir = java.nio.file.Files.createTempDirectory("avrosink").toString
    // repartition so at least one partition is empty (1000 rows, 8 parts + filter)
    AvroFileSink.write(mapped.filter(col("value") > 190).repartition(8), dir)
    val files = AvroFileSink.readBack(spark, dir)
    assert(files.nonEmpty)
    // reference filename convention
    assert(files.forall(_._1.matches("""\d{14}-divolte-tracking-spark-\d{5}\.avro""")))
    // no partials left behind; no empty container files
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".partial-")))
    assert(files.forall(_._2 > 0))
    // total record count survives the round trip
    val expected = mapped.filter(col("value") > 190).count()
    assert(files.map(_._2).sum === expected)
  }

  test("avro file sink: back-to-back unstamped writes of one tag keep every row") {
    val dir = java.nio.file.Files.createTempDirectory("avroburst").toString
    val sizes = Seq(3, 5, 7, 11)
    // well inside one second once the session is warm: the wall-clock
    // stamp alone would give the writes the same file names
    sizes.foreach(n => AvroFileSink.write(spark.range(n).toDF("id").coalesce(1), dir))
    val files = AvroFileSink.readBack(spark, dir)
    assert(files.size === sizes.size)
    assert(files.map(_._2).sum === sizes.sum)
  }

  test("avro file sink: writing one stamp twice leaves one set of files") {
    val dir = java.nio.file.Files.createTempDirectory("avroreplay").toString
    val df = spark.range(10).toDF("id").repartition(3)
    AvroFileSink.write(df, dir, stamp = Some("b000000000007"))
    val first = AvroFileSink.readBack(spark, dir)
    AvroFileSink.write(df, dir, stamp = Some("b000000000007"))
    val again = AvroFileSink.readBack(spark, dir)
    assert(again === first)
    assert(again.map(_._2).sum === 10)
    assert(again.forall(_._1.matches("""b000000000007-divolte-tracking-spark-\d{5}\.avro""")))
  }

  test("avro file sink: field values survive the round trip") {
    val dir = java.nio.file.Files.createTempDirectory("avrosink2").toString
    val one = mapped.orderBy("eventId").limit(3).coalesce(1)
    AvroFileSink.write(one, dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).head
    val reader = new org.apache.avro.file.DataFileReader[GenericRecord](
      f, new GenericDatumReader[GenericRecord]())
    val recs = Iterator.continually(reader).takeWhile(_.hasNext).map(_.next()).toList
    reader.close()
    val rows = one.collect()
    assert(recs.size === rows.length)
    rows.zip(recs).foreach { case (row, rec) =>
      assert(rec.get("partyId").toString === row.getAs[String]("partyId"))
      assert(rec.get("ts_ms") === row.getAs[Long]("ts_ms"))
      assert(rec.get("value") === row.getAs[Double]("value"))
    }
  }

  test("avro sink: schema evolution — v2 readers resolve v1 files via the null-union default") {
    // the reference's [null,T]+default convention IS its evolution story:
    // a reader with an added optional field must consume old container
    // files, the missing field resolving to null
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("avroevolve").toString
    val v1 = mapped.select("eventId", "partyId", "ts_ms").limit(5).coalesce(1)
    AvroFileSink.write(v1, dir, "v1")
    val v2 = mapped.select("eventId", "partyId", "ts_ms")
      .withColumn("newField", concat(lit("x-"), col("eventId")))
      .limit(5).coalesce(1)
    AvroFileSink.write(v2, dir, "v2")
    val v2Schema = StructType(Seq(
      StructField("eventId", StringType), StructField("partyId", StringType),
      StructField("ts_ms", LongType), StructField("newField", StringType)))
    val back = AvroFileSink.readBackDf(spark, dir, v2Schema)
    assert(back.count() === 10)
    // v1 rows surface with the evolved field absent->null; v2 rows keep it
    assert(back.filter(col("newField").isNull).count() === 5)
    assert(back.filter(col("newField").startsWith("x-")).count() === 5)
  }

  test("avro file sink: a partition failing mid-write fails the job, leaves no working file") {
    val dir = java.nio.file.Files.createTempDirectory("avrofail").toString
    // the third row throws while the partition streams into its working
    // file, after two records were appended
    val s = udf((i: Long) => if (i == 2) throw new IllegalStateException("row 2") else s"v$i")
    val df = spark.range(5).coalesce(1).select(col("id"), s(col("id")).as("s"))
    intercept[Exception](AvroFileSink.write(df, dir))
    val left = new java.io.File(dir).listFiles().map(_.getName)
    assert(left.isEmpty, left.mkString(", "))
  }

  test("codec: every sink type round-trips through container files and kafka frames") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // the wire keeps epoch millis: timestamps here are ms-aligned
    val ts = java.sql.Timestamp.valueOf("2026-08-12 10:00:00.123")
    val ntz = java.time.LocalDateTime.of(2026, 8, 12, 10, 0, 0, 456000000)
    val item = StructType(Seq(StructField("z", LongType)))
    val nested = StructType(Seq(StructField("x", IntegerType, nullable = false),
      StructField("y", StringType), StructField("items", ArrayType(item))))
    // one field per row of the table, its values in rows 0..2; nullable
    // fields are null in row 2
    val table: Seq[(StructField, Seq[Any])] = Seq(
      StructField("id", IntegerType, nullable = false) -> Seq(0, 1, 2),
      StructField("bool", BooleanType) -> Seq(true, false, null),
      StructField("bool_nn", BooleanType, nullable = false) -> Seq(true, false, true),
      StructField("byte", ByteType) -> Seq(1.toByte, Byte.MinValue, null),
      StructField("short", ShortType) -> Seq(1.toShort, Short.MinValue, null),
      StructField("int", IntegerType) -> Seq(Int.MaxValue, Int.MinValue, null),
      StructField("long", LongType, nullable = false) -> Seq(Long.MaxValue, Long.MinValue, 0L),
      StructField("float", FloatType) -> Seq(1.5f, -2.25f, null),
      StructField("double", DoubleType) -> Seq(math.Pi, -1e300, null),
      StructField("string", StringType) -> Seq("ascii", "ünïcødé ✓", null),
      StructField("binary", BinaryType) -> Seq(Array[Byte](0, -1, 127), Array.emptyByteArray, null),
      StructField("ts", TimestampType) -> Seq(ts, new java.sql.Timestamp(-86400000L), null),
      StructField("ts_ntz", TimestampNTZType, nullable = false) -> Seq(ntz, ntz.minusYears(60), ntz),
      StructField("ints", ArrayType(IntegerType, containsNull = false)) ->
        Seq(Seq(1, 2, 3), Seq.empty, null),
      StructField("strs", ArrayType(StringType, containsNull = true)) ->
        Seq(Seq("a", null, "c"), Seq(null), null),
      StructField("map", MapType(StringType, LongType, valueContainsNull = true)) ->
        Seq(Map("a" -> 1L, "b" -> null), Map.empty, null),
      StructField("map_nn", MapType(StringType, DoubleType, valueContainsNull = false),
        nullable = false) -> Seq(Map("k" -> 0.5), Map.empty, Map("k" -> -1.0)),
      StructField("nested", nested) ->
        Seq(Row(1, "a", Seq(Row(2L), Row(null))), Row(2, null, null), null))
    val schema = StructType(table.map(_._1))
    val rows = (0 until 3).map(r => Row.fromSeq(table.map(_._2(r))))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val dir = java.nio.file.Files.createTempDirectory("avrotypes").toString
    AvroFileSink.write(df, dir)
    val fromFile = AvroFileSink.readBackDf(spark, dir, schema).orderBy("id").collect()
    val fromKafka = TopicSources.decodeKafkaFrame(TopicSinks.kafkaFrame(df, "string"), schema)
      .select("record.*").orderBy("id").collect()
    for ((back, path) <- Seq(fromFile -> "container file", fromKafka -> "kafka frame");
         ((f, _), i) <- table.zipWithIndex)
      withClue(s"$path, ${f.name}: ") {
        // one-field rows: Row equality compares binary by content
        assert(back.map(r => Row(r.get(i))).toSeq === rows.map(r => Row(r.get(i))))
      }
    // evolution: a file written with an int field reads into long (Avro
    // promotes it; getLong on a raw Integer would throw)
    val evDir = java.nio.file.Files.createTempDirectory("avropromote").toString
    AvroFileSink.write(df.select("id", "int"), evDir)
    val widened = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("int", LongType)))
    val ev = AvroFileSink.readBackDf(spark, evDir, widened).orderBy("id").collect()
    assert(ev.take(2).map(_.getLong(1)).toSeq === Seq(Int.MaxValue.toLong, Int.MinValue.toLong))
    assert(ev(2).isNullAt(1))
  }

  test("wire schema: the DefaultMapping sink schema keeps its fingerprint") {
    // a changed schema JSON changes the fingerprint Pub/Sub consumers key on
    assert(TopicSinks.schemaFingerprint(AvroSchemas.toAvroSchema(graft.dsl.DefaultMapping.schema)) ===
      "t_8IMJtB5dOBqKqFaUZCbUXJ8OQYnqDWfHI7JPXr76U")
  }

  test("kafka frame: key is partyId bytes, value decodes as the record") {
    val df = mapped.limit(5)
    val schema = AvroSchemas.toAvroSchema(df.schema)
    val frames = TopicSinks.kafkaFrame(df, "partyId").collect()
    val rows = df.collect()
    frames.zip(rows).foreach { case (frame, row) =>
      assert(new String(frame.getAs[Array[Byte]]("key"), "UTF-8") ===
        row.getAs[String]("partyId"))
      val rec = decodeAvro(frame.getAs[Array[Byte]]("value"), schema)
      assert(rec.get("eventId").toString === row.getAs[String]("eventId"))
      assert(rec.get("event_type").toString === row.getAs[String]("event_type"))
    }
  }

  test("confluent frame: 0x00 + int32-BE schema id + naked body") {
    val df = mapped.limit(2)
    val schema = AvroSchemas.toAvroSchema(df.schema)
    val schemaId = 0x01020304
    val frames = TopicSinks.kafkaFrameConfluent(df, "partyId", schemaId).collect()
    frames.foreach { frame =>
      val v = frame.getAs[Array[Byte]]("value")
      assert(v(0) === 0.toByte)
      assert(v.slice(1, 5).toSeq === Seq(1, 2, 3, 4).map(_.toByte))
      val rec = decodeAvro(v.drop(5), schema)
      assert(rec.get("partyId") != null)
    }
  }

  test("pubsub frame: attributes carry ids, ISO timestamp, schema fingerprint") {
    val df = mapped.limit(3)
    val fp = TopicSinks.schemaFingerprint(AvroSchemas.toAvroSchema(df.schema))
    val out = TopicSinks.pubsubFrame(df, "partyId", "eventId", "ts_ms").collect()
    out.foreach { m =>
      assert(m.getAs[String]("schemaFingerprint") === fp)
      assert(!m.getAs[String]("schemaFingerprint").contains("=")) // no padding
      assert(m.getAs[String]("timestamp").matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"""))
      assert(m.getAs[String]("partyIdentifier").startsWith("0:1:p"))
      assert(m.getAs[Array[Byte]]("data").nonEmpty)
    }
  }

  private def decodeAvro(bytes: Array[Byte], schema: Schema): GenericRecord = {
    val decoder = DecoderFactory.get().binaryDecoder(bytes, null)
    new GenericDatumReader[GenericRecord](schema).read(null, decoder)
  }
}
