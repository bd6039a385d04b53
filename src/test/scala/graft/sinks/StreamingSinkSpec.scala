package graft.sinks

import graft.{GraftConf, SparkSpec}
import graft.schema.AvroSchemas
import graft.topology.{MappingSpec, SinkSpec, Topology}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** Scripted Pub/Sub transport for the contract tests: `flaky` events fail
  * transiently twice, `fatal` events fail permanently, everything else
  * completes. JVM-global so executor-side sends observe it in local mode. */
object PubSubScripted extends PubSubSink.Transport {
  import KafkaSink._
  val attempts = scala.collection.concurrent.TrieMap.empty[String, Int]
  val deliveredIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var alwaysRetriable = false
  def reset(): Unit = { attempts.clear(); deliveredIds.clear(); alwaysRetriable = false }
  def send(topic: String, batch: Seq[PubSubSink.Message]): Seq[SendOutcome] =
    batch.map { m =>
      val id = m.attributes.getOrElse("eventIdentifier", "?")
      val n = attempts.updateWith(id) { c => Some(c.getOrElse(0) + 1) }.get
      if (alwaysRetriable) Retriable("still down")
      else if (id == "fatal") Fatal("bad record")
      else if (id == "flaky" && n <= 2) Retriable("timeout")
      else { deliveredIds.add(id); Completed }
    }
}

/** Streaming source → Avro file sink: the reference's end-to-end spine in
  * micro-batch form (roll-per-trigger ≡ roll window). */
class StreamingSinkSpec extends SparkSpec {
  import spark.implicits._

  /** `source` streamed through a one-mapping, one-sink topology whose sink
    * is `writer`. */
  private def oneSink(source: DataFrame, writer: (DataFrame, String) => Any,
                      cpPrefix: String): StreamingQuery =
    new Topology(Seq(MappingSpec("m", Seq("in"), identity, "s")), Seq(SinkSpec("out", Seq("m"))))
      .start(Map("in" -> source), Map("out" -> writer),
        java.nio.file.Files.createTempDirectory(cpPrefix).toString)

  test("streaming events roll into avro container files per batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("avrostream").toString
    val q = oneSink(input.toDF.toDF("partyId", "ts"),
      (df, stamp) => AvroFileSink.write(df, dir, "stream", stamp = Some(stamp)), "avrostream-cp")
    input.addData(("p1", 1L), ("p2", 2L))
    q.processAllAvailable()
    input.addData(("p3", 3L))
    q.processAllAvailable()
    q.stop()
    val files = AvroFileSink.readBack(spark, dir)
    // one roll per non-empty batch; all records present exactly once
    assert(files.map(_._2).sum === 3)
    // the stamp is the batch id (deterministic replay names), tag follows
    assert(files.forall(_._1.matches("""b\d{12}-divolte-tracking-stream-\d{5}\.avro""")))
    // two distinct batches rolled distinct file sets
    assert(files.map(_._1.take(13)).distinct.size === 2)
  }

  // ---------------------------------------------------- Kafka topic sink

  test("kafka sink gate: no bootstrap conf -> nothing starts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    spark.conf.unset(GraftConf.KafkaBootstrap.key)
    val wrote = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val q = oneSink(input.toDF.toDF("key", "value"),
      (df, _) => wrote.add(KafkaSink.write(df, "events")), "kcp")
    try {
      input.addData(("k".getBytes, "v".getBytes))
      q.processAllAvailable()
      assert(wrote.asScala.toSeq === Seq(false))
    } finally q.stop()
    // the batch read the event; the writer delivered nothing
    assert(q.recentProgress.map(_.numInputRows).sum === 1)
  }

  test("kafka sink gate: bootstrap conf routes the frames into the kafka source") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    spark.conf.set(GraftConf.KafkaBootstrap.key, "broker:9092")
    // this sandbox ships no spark-sql-kafka connector jar (and no broker),
    // so the wiring must get exactly as far as Spark's data-source
    // resolution of "kafka" — proving the stream START path is real, not
    // short-circuited by the gate
    val err = intercept[Exception] {
      val q = oneSink(input.toDF.toDF("key", "value"),
        (df, _) => KafkaSink.write(df, "events"), "kcp")
      try {
        input.addData(("k".getBytes, "v".getBytes))
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(err).exists(_.toLowerCase.contains("kafka")),
        s"expected the kafka source resolution in: ${msgs(err)}")
    } finally spark.conf.unset(GraftConf.KafkaBootstrap.key)
  }

  // ---------------------------------------------- Pub/Sub topic sink

  test("pubsub sink gate: no transport conf -> nothing starts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], String)]
    spark.conf.unset(GraftConf.PubsubTransport.key)
    PubSubSink.InMemory.clear()
    val published = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val q = oneSink(input.toDF.toDF("data", "partyIdentifier"),
      (df, _) => published.add(PubSubSink.publish(df, "t")), "pscp")
    try {
      input.addData(("m".getBytes, "p1"))
      q.processAllAvailable()
      assert(published.asScala.toSeq === Seq(false))
    } finally q.stop()
    // the batch read the event; the writer delivered nothing
    assert(q.recentProgress.map(_.numInputRows).sum === 1)
    assert(PubSubSink.InMemory.messages("t").isEmpty)
  }

  test("pubsub stream publishes pubsubFrame messages end-to-end (memory transport)") {
    implicit val sqlCtx = spark.sqlContext
    PubSubSink.InMemory.clear()
    val input = MemoryStream[(String, String, Long, String)]
    val frames = TopicSinks.pubsubFrame(
      input.toDF.toDF("partyId", "eventId", "ts", "payload"),
      "partyId", "eventId", "ts")
    spark.conf.set(GraftConf.PubsubTransport.key, "memory")
    try {
      val q = oneSink(frames, (df, _) => PubSubSink.publish(df, "clicks"), "pscp2")
      input.addData(("p1", "e1", 1500000000000L, "hello"),
        ("p2", "e2", 1500000000001L, "world"))
      q.processAllAvailable()
      input.addData(("p3", "e3", 1500000000002L, "again"))
      q.processAllAvailable()
      q.stop()
    } finally spark.conf.unset(GraftConf.PubsubTransport.key)
    val msgs = PubSubSink.InMemory.messages("clicks")
      .sortBy(_.attributes("eventIdentifier"))
    assert(msgs.size === 3)
    // attributes carry the reference's PubsubMessage surface
    assert(msgs.map(_.attributes("partyIdentifier")) === Seq("p1", "p2", "p3"))
    assert(msgs.head.attributes("timestamp").startsWith("2017-07-14T02:40:00.000"))
    assert(msgs.head.attributes.contains("schemaFingerprint"))
    // data is the naked Avro datum: decode it back
    val schema = AvroSchemas.toAvroSchema(
      input.toDF.toDF("partyId", "eventId", "ts", "payload").schema)
    val rec = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord](schema)
      .read(null, org.apache.avro.io.DecoderFactory.get()
        .binaryDecoder(msgs.head.data, null))
    assert(rec.get("payload").toString === "hello")
  }

  test("pubsub publishBatch: transient failures retry via heartbeat, fatals abandon") {
    import KafkaSink._
    import spark.implicits._
    // scripted transport shared through JVM-global state (local-mode tests
    // run executors in-process)
    PubSubScripted.reset()
    PubSubSink.register("scripted", () => PubSubScripted)
    val frames = TopicSinks.pubsubFrame(
      Seq(("p1", "ok", 1L, "a"), ("p2", "flaky", 2L, "b"),
        ("p3", "fatal", 3L, "c"))
        .toDF("partyId", "eventId", "ts", "payload").coalesce(1),
      "partyId", "eventId", "ts")
    PubSubSink.publishBatch(frames, "t2", "scripted", backoffMs = 1)
    val delivered =
      scala.jdk.CollectionConverters.CollectionHasAsScala(
        PubSubScripted.deliveredIds).asScala.toSet
    assert(delivered === Set("ok", "flaky"), "flaky must deliver on retry")
    assert(PubSubScripted.attempts("flaky") === 3, "two retriable failures then success")
    assert(PubSubScripted.attempts("fatal") === 1, "fatal records never retry")
  }

  test("pubsub publishBatch: exhausted retries fail the task (at-least-once)") {
    import spark.implicits._
    PubSubScripted.reset()
    PubSubScripted.alwaysRetriable = true
    PubSubSink.register("scripted", () => PubSubScripted)
    val frames = TopicSinks.pubsubFrame(
      Seq(("p1", "e1", 1L, "a")).toDF("partyId", "eventId", "ts", "payload")
        .coalesce(1),
      "partyId", "eventId", "ts")
    val err = intercept[Exception] {
      PubSubSink.publishBatch(frames, "t3", "scripted",
        maxAttempts = 3, backoffMs = 1)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("retriable failures persisted")))
  }

  test("retrying publisher partitions outcomes like the reference flusher") {
    import KafkaSink._
    // scripted transport: r2 is transiently failing twice, r4 is fatal,
    // the rest complete first try
    var attempts = Map.empty[String, Int].withDefaultValue(0)
    val sent = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val pub = new RetryingPublisher[String](batch => {
      sent += batch
      batch.map { r =>
        attempts += r -> (attempts(r) + 1)
        r match {
          case "r4"                       => Fatal("bad record")
          case "r2" if attempts("r2") <= 2 => Retriable("timeout")
          case _                          => Completed
        }
      }
    })
    val continue = pub.publish(Seq("r1", "r2", "r3", "r4", "r5"))
    assert(!continue, "retriable failures must report backpressure (PAUSE)")
    assert(pub.hasPending)
    assert(pub.abandoned === Seq("r4"), "fatal records are abandoned, not retried")
    assert(pub.delivered === 3)
    // heartbeat re-sends ONLY the failed record, not the whole batch
    assert(!pub.heartbeat())
    assert(sent.last === Seq("r2"))
    assert(pub.heartbeat(), "second retry succeeds -> CONTINUE")
    assert(!pub.hasPending)
    assert(pub.delivered === 4)
    assert(attempts("r1") === 1 && attempts("r2") === 3 && attempts("r4") === 1,
      "completed records are sent exactly once; fatal records never retry")
    // an idle heartbeat with nothing pending is a no-op CONTINUE
    val flushes = sent.size
    assert(pub.heartbeat() && sent.size === flushes)
  }
}
