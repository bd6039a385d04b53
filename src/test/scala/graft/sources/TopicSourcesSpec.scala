package graft.sources

import graft.{SparkSpec, Tables}
import graft.sinks.TopicSinks
import org.apache.spark.sql.functions._

/** Kafka produce→consume round trip without a broker: TopicSinks frames →
  * TopicSources decode; plus the access-log file source. */
class TopicSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def mapped = Tables.events(spark, "/root/testdata/sf0.001")
    .select(
      concat(lit("0:1:p"), col("user_id")).as("partyId"),
      concat(lit("ev"), col("event_id")).as("eventId"),
      unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
      col("event_type"), col("value"))
    .limit(50)

  test("kafka naked frame round-trips through the source decoder") {
    val schema = mapped.schema
    val frames = TopicSinks.kafkaFrame(mapped, "partyId")
    val decoded = TopicSources.decodeKafkaFrame(frames, schema)
    val back = decoded.select("record.*").orderBy("eventId")
    val orig = mapped.orderBy("eventId")
    assert(back.collect().toSeq === orig.collect().toSeq)
    // key column carries the party id
    assert(decoded.select("partyId").as[String].collect().forall(_.startsWith("0:1:p")))
  }

  test("confluent frame round-trips and exposes the schema id") {
    val schema = mapped.schema
    val frames = TopicSinks.kafkaFrameConfluent(mapped, "partyId", schemaId = 77)
    val decoded = TopicSources.decodeKafkaFrame(frames, schema, confluent = true)
    assert(decoded.select("schemaId").distinct().as[Int].collect() === Array(77))
    assert(decoded.select("record.eventId").count() === 50)
    assert(decoded.filter(col("record.eventId").isNull).count() === 0)
  }

  test("access log lines decode into events") {
    val qs = "p=0%3Ai0rjfnxd%3Aparty&e=ev1&t=pageView&c=i0rjfnxd&f=t&n=f&w=m8"
    val good = s"""10.2.3.4 - - [12/Aug/2026:10:00:00 +0000] "GET /csc-event?$qs HTTP/1.1" 200 43 "http://ref.example/" "TestAgent/1.0""""
    val garbage = "not a log line at all"
    val df = AccessLogSource.decode(Seq(good, garbage).toDF("value"))
    val rows = df.orderBy(col("remoteHost").desc_nulls_last).collect()
    val g = rows(0)
    assert(g.getAs[String]("remoteHost") === "10.2.3.4")
    assert(g.getAs[String]("eventId") === "ev1")
    assert(g.getAs[String]("eventType") === "pageView")
    assert(g.getAs[String]("userAgentString") === "TestAgent/1.0")
    assert(g.getAs[Int]("httpStatus") === 200)
    // the bracketed log timestamp surfaces as server time (epoch millis)
    assert(g.getAs[Long]("requestTimestamp") === 1786528800000L) // 2026-08-12T10:00:00Z
    assert(g.getAs[org.apache.spark.sql.Row]("browser")
      .getAs[Int]("viewportPixelWidth") === 800)
    // garbage line survives as a corrupt row, not an exception
    val bad = rows(1)
    assert(bad.getAs[Boolean]("corrupt"))
    assert(bad.getAs[String]("remoteHost") == null)
  }

  test("timestamped schema round-trips; corrupt frames decode to null records") {
    // TimestampType maps to Avro long (epoch millis) on write — the source
    // must invert it or Catalyst rejects the raw Long on decode
    // the wire format is epoch-MILLIS by documented design, so sub-ms
    // precision truncates on the wire: feed ms-truncated timestamps in
    val withTs = Tables.events(spark, "/root/testdata/sf0.001")
      .select(concat(lit("p"), col("user_id")).as("partyId"),
        col("event_id"),
        timestamp_millis(unix_millis(col("ts").cast("timestamp"))).as("ts"))
      .limit(20)
    val frames = TopicSinks.kafkaFrame(withTs, "partyId")
    val back = TopicSources.decodeKafkaFrame(frames, withTs.schema)
      .select("record.*").orderBy("event_id")
    assert(back.collect().toSeq === withTs.orderBy("event_id").collect().toSeq)
    // a poison-pill value (garbage bytes) yields a null record, not a
    // dead query wedged on its own checkpointed offset
    val poison = Seq(("k".getBytes("UTF-8"), "not avro at all".getBytes("UTF-8")))
      .toDF("key", "value")
    val dec = TopicSources.decodeKafkaFrame(poison, withTs.schema)
    assert(dec.count() === 1 && dec.filter(col("record").isNull).count() === 1)
    // the same pill behind a Confluent header whose schema id has the high
    // bit set: the id reads as a signed int32 (0xFFFFFFFF = -1), the row
    // survives with a null record
    val framed = Seq(("k".getBytes("UTF-8"),
        Array[Byte](0, -1, -1, -1, -1) ++ "not avro at all".getBytes("UTF-8")))
      .toDF("key", "value")
    val cdec = TopicSources.decodeKafkaFrame(framed, withTs.schema, confluent = true)
      .select("schemaId", "record").collect()
    assert(cdec.length === 1 && cdec.head.isNullAt(1))
    assert(cdec.head.getInt(0) === -1)
  }

  test("a 304 (etag-suppressed) log line is flagged httpSuppressed") {
    val qs = "p=0%3Ai0rjfnxd%3Aparty&e=ev2&t=pageView&c=i0rjfnxd&f=t&n=f&w=m8"
    val line304 = s"""10.2.3.4 - - [12/Aug/2026:10:00:01 +0000] "GET /csc-event?$qs HTTP/1.1" 304 0 "-" "TestAgent/1.0""""
    val line200 = s"""10.2.3.5 - - [12/Aug/2026:10:00:02 +0000] "GET /csc-event?$qs HTTP/1.1" 200 43 "-" "TestAgent/1.0""""
    val df = AccessLogSource.decode(Seq(line304, line200).toDF("value"))
    val byHost = df.select("remoteHost", "httpSuppressed")
      .as[(String, Boolean)].collect().toMap
    // the reference produced NO event for the 304 (duplicate re-issue) —
    // consumers filter on the flag to avoid double-counting
    assert(byHost("10.2.3.4") === true)
    assert(byHost("10.2.3.5") === false)
  }
}
