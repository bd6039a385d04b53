package graft.perfbench

import graft.dsl.DefaultMapping
import graft.functions.GeoIp
import graft.sinks.{AvroFileSink, KafkaSink, PubSubSink, TopicSinks}
import graft.sources.{BrowserSource, JsonSource, MaxMindDb, MaxMindDbWriter, TopicSources}
import graft.state.DuplicateMemory
import graft.topology.TopologyConfig
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Materialized spine input: the generated wire rows of both sources and
  * the geo dimension loaded from an `.mmdb` written for the run. */
final case class SpineInput(browserRaw: DataFrame, jsonRaw: DataFrame, dim: DataFrame,
                            truth: Truth, events: Long)

/** Pub/Sub transport registered by the benchmark: counts delivered
  * messages and bytes, and answers a seeded ~1% of messages as retriable
  * on their first send (each succeeds when the publisher re-sends it). */
object CountingTransport {
  val Name = "perfbench-counting"
  val delivered, bytes, retried = new AtomicLong
  @volatile var seed = 0L
  private val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def reset(s: Long): Unit = {
    seed = s; delivered.set(0); bytes.set(0); retried.set(0); failedOnce.clear()
  }
  private def failsFirst(h: Int): Boolean = {
    val x = (h.toLong * 0x9E3779B97F4A7C15L) ^ seed
    java.lang.Long.remainderUnsigned(x ^ (x >>> 29), 100) == 0
  }
  PubSubSink.register(Name, () => new PubSubSink.Transport {
    def send(topic: String, batch: Seq[PubSubSink.Message]): Seq[KafkaSink.SendOutcome] =
      batch.map { m =>
        val h = java.util.Arrays.hashCode(m.data)
        if (failsFirst(h) && failedOnce.add(h)) {
          retried.incrementAndGet(); KafkaSink.Retriable("seeded transient failure")
        } else {
          delivered.incrementAndGet(); bytes.addAndGet(m.data.length.toLong); KafkaSink.Completed
        }
      }
  })
}

object Spine {
  val GeoCols = Seq("country_code", "city_name", "latitude", "longitude")
  val KeyCols = Seq("partyId", "sessionId", "eventId")
  val SchemaId = 42

  val TopologyText: String =
    """divolte {
      |  sources.browser.type = browser
      |  sources.json.type = json
      |  mappings {
      |    all = { sources = [browser, json], sinks = [avro] }
      |    clean = {
      |      sources = [browser, json]
      |      sinks = [kafka, pubsub]
      |      discard_corrupted = true
      |      discard_duplicates = true
      |    }
      |  }
      |  sinks {
      |    avro.type = hdfs
      |    kafka.type = kafka
      |    pubsub.type = google_pubsub
      |  }
      |}""".stripMargin

  /** Generate `n` events, write the geo `.mmdb`, and cache both inputs. */
  def prepare(spark: SparkSession, seed: Long, n: Int, dir: String,
              partitions: Int): SpineInput = {
    import spark.implicits._
    val gen = new LoadGen(seed)
    val (browserEvs, jsonEvs) = Trace.span("loadgen.generate")(gen.take(n)).partition(_.kind == 0)
    def cached(df: DataFrame) = df.persist(StorageLevel.MEMORY_ONLY)
    val browserRaw = cached(spark.createDataset(browserEvs).repartition(partitions)
      .select("seq", "qs", "userAgentString", "remoteHost", "xForwardedFor",
        "requestTimestamp", "expectPeer"))
    val jsonRaw = cached(spark.createDataset(jsonEvs).repartition(partitions)
      .select("seq", "body", "partyIdParam", "userAgentString", "remoteHost",
        "xForwardedFor", "requestTimestamp", "expectPeer"))
    val mmdb = s"$dir/geo.mmdb"
    Trace.span("sources.MaxMindDbWriter.write") {
      new java.io.File(dir).mkdirs(); MaxMindDbWriter.write(LoadGen.geoRows, mmdb)
    }
    val dim = cached(Trace.span("sources.MaxMindDb.cityDim")(MaxMindDb.cityDim(spark, mmdb)))
    Trace.span("session.materialize") {
      browserRaw.queryExecution.toRdd.count(); jsonRaw.queryExecution.toRdd.count()
      dim.queryExecution.toRdd.count()
    }
    SpineInput(browserRaw, jsonRaw, dim, gen.groundTruth, n.toLong)
  }

  def release(in: SpineInput): Unit =
    Seq(in.browserRaw, in.jsonRaw, in.dim).foreach(_.unpersist(blocking = true))

  // ---- the layers, each a fresh DataFrame per call
  def decodeBrowser(raw: DataFrame): DataFrame =
    Trace.span("sources.BrowserSource.decode")(BrowserSource.decode(raw, "qs"))
  def decodeJson(raw: DataFrame): DataFrame =
    Trace.span("sources.JsonSource.decode")(JsonSource.decode(raw, "body", "partyIdParam"))
  def dedup(df: DataFrame): DataFrame =
    Trace.span("state.DuplicateMemory.flagDuplicates")(
      DuplicateMemory.flagDuplicates(df, KeyCols, "partyId", "requestTimestamp"))
  def mapDefault(df: DataFrame, withUa: Boolean): DataFrame =
    Trace.span("dsl.DefaultMapping") {
      DefaultMapping(if (withUa) df else df.withColumn("userAgentString", lit(null).cast("string")))
    }
  def geo(mapped: DataFrame, dim: DataFrame): DataFrame =
    Trace.span("functions.GeoIp.enrichPrefix") {
      GeoIp.enrichPrefix(mapped, "remoteHost", dim)
        .select((DefaultMapping.schema.fieldNames.toSeq ++ GeoCols).map(col): _*)
    }

  /** Decoded (and optionally dedup-flagged) source frames. */
  def sources(in: SpineInput, withDedup: Boolean): Map[String, DataFrame] = {
    val b = decodeBrowser(in.browserRaw)
    val j = decodeJson(in.jsonRaw)
    if (withDedup) Map("browser" -> dedup(b), "json" -> dedup(j))
    else Map("browser" -> b, "json" -> j)
  }

  /** Route through the two-mapping topology; returns the frame per sink.
    * The topology caches each shared source frame: call [[unroute]] after. */
  def route(in: SpineInput, srcs: Map[String, DataFrame]): Map[String, DataFrame] =
    Trace.span("topology.Topology.apply") {
      val topo = TopologyConfig.load(TopologyText).toTopology(_ => df => geo(mapDefault(df, withUa = true), in.dim))
      topo(srcs)
    }
  def unroute(srcs: Map[String, DataFrame]): Unit = srcs.values.foreach(_.unpersist(blocking = true))

  final case class SinkCounts(avroRows: Long, avroBytes: Long, kafkaRows: Long, kafkaBytes: Long,
                              pubsubRows: Long, pubsubBytes: Long, pubsubRetried: Long)

  def avro(df: DataFrame, dir: String, tag: String): Unit =
    Trace.span("sinks.AvroFileSink.write")(AvroFileSink.write(df, dir, tag, stamp = Some(tag)))
  def kafka(df: DataFrame): (Long, Long) = Trace.span("sinks.TopicSinks.kafkaFrameConfluent") {
    val r = TopicSinks.kafkaFrameConfluent(df, "partyId", SchemaId)
      .agg(count(lit(1)), coalesce(sum(length(col("value"))), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
  def pubsub(df: DataFrame): Unit = Trace.span("sinks.PubSubSink.publishBatch") {
    PubSubSink.publishBatch(
      TopicSinks.pubsubFrame(df, "partyId", "sessionId", "timestamp"), "spine", CountingTransport.Name)
  }
  def countRows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Avro rows and bytes in a sink directory (container headers). */
  def avroDirCounts(spark: SparkSession, dir: String): (Long, Long) = {
    val rows = AvroFileSink.readBack(spark, dir).map(_._2).sum
    val bytes = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".avro")).map(_.length).sum
    (rows, bytes)
  }
  def clearDir(dir: String): Unit =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).foreach(_.delete())

  /** One full spine pass through all three sinks; returns the sink counts
    * and the pass wall time (the avro read-back count is not timed). */
  def fullPass(spark: SparkSession, in: SpineInput, avroDir: String, tag: String): (SinkCounts, Double) = {
    clearDir(avroDir)
    val d0 = CountingTransport.delivered.get; val b0 = CountingTransport.bytes.get
    val r0 = CountingTransport.retried.get
    val t0 = System.nanoTime()
    val srcs = sources(in, withDedup = true)
    val routed = route(in, srcs)
    val (kr, kb) = try {
      avro(routed("avro"), avroDir, tag)
      val k = kafka(routed("kafka"))
      pubsub(routed("pubsub"))
      k
    } finally unroute(srcs)
    val wall = (System.nanoTime() - t0) / 1e9
    val (ar, ab) = avroDirCounts(spark, avroDir)
    (SinkCounts(ar, ab, kr, kb, CountingTransport.delivered.get - d0,
      CountingTransport.bytes.get - b0, CountingTransport.retried.get - r0), wall)
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * 32-bit row hashes, so read-back and routed frames compare exactly. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Output checks on one pass's routed frames (untimed): decode counters,
    * flagged duplicates, XFF resolution, and sink read-back equality. */
  def check(spark: SparkSession, in: SpineInput, avroDir: String, led: Ledger): Map[String, Long] = {
    val t = in.truth
    // persisted once: the topology's own cache() of these frames is a no-op
    val decoded = sources(in, withDedup = true).map { case (k, v) => k -> v.persist(StorageLevel.MEMORY_ONLY) }
    val both = decoded("browser").unionByName(decoded("json"), allowMissingColumns = true)
    try {
      val r = both.agg(
        sum(when(col("corrupt"), 1L).otherwise(0L)),
        sum(when(coalesce(col("bodyOversized"), lit(false)), 1L).otherwise(0L)),
        sum(when(col("duplicate"), 1L).otherwise(0L)),
        sum(when(col("remoteHost") =!= col("expectPeer"), 1L).otherwise(0L)),
        sum(when(col("xForwardedFor").isNotNull, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
      val Seq(corrupt, oversize, flagged, badPeer, xff, rows) = (0 until 6).map(i => r.getLong(i))
      led.expectEq("sources.rows", t.total, rows)
      led.expectEq("sources.corrupt_rows", t.corrupt, corrupt)
      led.expectEq("sources.oversize_rows", t.oversize, oversize)
      led.expectEq("sources.xff_rows", t.xff, xff)
      led.expectEq("sources.xff_misresolved", 0L, badPeer)
      led.expectEq("state.flagged_rows", t.flagged, flagged)
      led.expect("state.flagged_covers_resends", flagged >= t.resends, s"$flagged >= ${t.resends}")
      val routed = route(in, decoded)
      routed("kafka").persist(StorageLevel.MEMORY_ONLY)
      val files = contentHash(routed("avro"))
      val frames = contentHash(routed("kafka"))
      led.expectEq("topology.avro_rows", t.total, files._1)
      led.expectEq("topology.clean_rows", t.clean, frames._1)
      val back = contentHash(AvroFileSink.readBackDf(spark, avroDir, routed("avro").schema))
      led.expectEq("sinks.avro_readback_rows", files._1, back._1)
      led.expect("sinks.avro_readback_content", back == files, s"$back vs $files")
      val decodedFrames = TopicSources.decodeKafkaFrame(
          TopicSinks.kafkaFrameConfluent(routed("kafka"), "partyId", SchemaId),
          routed("kafka").schema, confluent = true)
        .select("record.*")
      val kback = contentHash(decodedFrames)
      led.expect("sinks.kafka_decode_content", kback == frames, s"$kback vs $frames")
      routed("kafka").unpersist(blocking = true)
      Map("corrupt" -> corrupt, "oversize" -> oversize, "flagged" -> flagged,
        "discarded" -> (t.total - frames._1))
    } finally unroute(decoded)
  }

  /** Check one full pass's sink counts against ground truth. */
  def checkCounts(c: SinkCounts, t: Truth, led: Ledger): Unit = {
    led.expectEq("sinks.avro_rows", t.total, c.avroRows)
    led.expectEq("sinks.kafka_rows", t.clean, c.kafkaRows)
    led.expectEq("sinks.pubsub_rows", t.clean, c.pubsubRows)
  }
}
