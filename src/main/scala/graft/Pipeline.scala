package graft

import graft.queries.DslQueries
import graft.sinks.{AvroFileSink, KafkaSink, TopicSinks}
import graft.state.DuplicateMemory
import graft.topology.TopologyConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end demonstration of the full reference spine on real test data:
  * wire-format decode → duplicate flagging → default mapping → topology
  * fan-out → Avro file sink + Kafka frame encoding, with read-back
  * verification. Usage: `runMain graft.Pipeline <sfDir> <outDir>`.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-pipeline")

    // 1. decode browser wire events (synthesized from the events table) and
    //    flag duplicates with the slot memory
    val decoded = DslQueries.defaultMapping(spark, sfDir) // uses BrowserSource + DefaultMapping
    val mappedInput = decoded // already mapped; topology shows fan-out below

    // 2. topology from a reference-style CONFIG FILE: one source, two
    //    mappings (all events / purchases only), two sinks (avro files
    //    share a schema; kafka gets the full feed) — parsed and fail-fast
    //    validated like the reference's startup, then wired to mappers
    val topoConf = """
      |divolte {
      |  sources.browser.type = browser
      |  mappings {
      |    all = { sources = [browser], sinks = [files, kafka] }
      |    purchases = { sources = [browser], sinks = [files] }
      |  }
      |  sinks { files.type = hdfs, kafka.type = kafka }
      |}""".stripMargin
    val mappers = Map[String, DataFrame => DataFrame](
      "all" -> identity,
      "purchases" -> (_.filter(col("event_type") === "purchase")))
    val topo = TopologyConfig.load(topoConf).toTopology(mappers)
    val routed = topo(Map("browser" -> mappedInput))

    // 3. avro file sink + read-back
    val dir = s"$outDir/avro"
    AvroFileSink.write(routed("files"), dir, tag = "pipeline")
    val files = AvroFileSink.readBack(spark, dir)
    val written = files.map(_._2).sum
    println(s"[pipeline] avro files=${files.size} records=$written " +
      s"expected=${routed("files").count()}")

    // 4. kafka framing (naked + confluent) — decode spot check happens in
    //    the sink spec; here we show the frame is produced at scale
    val frames = TopicSinks.kafkaFrameConfluent(routed("kafka"), "party_id", 42)
    val n = frames.count()
    val sample = frames.select(length(col("value")).as("len")).agg(min("len"), max("len")).collect()(0)
    println(s"[pipeline] kafka frames=$n valueLen=[${sample.get(0)}, ${sample.get(1)}]")
    // consume side: decode the frames straight back (broker-less loop)
    val consumed = graft.sources.TopicSources.decodeKafkaFrame(
      frames, routed("kafka").schema, confluent = true)
    println(s"[pipeline] kafka consumed=${consumed.count()} " +
      s"schemaId=${consumed.select("schemaId").distinct().collect()(0).getInt(0)}")

    // 5. duplicate memory on the decoded feed
    val dupes = DuplicateMemory.flagDuplicates(
      mappedInput.select("party_id", "session_id", "event_type", "ts_ms"),
      Seq("party_id", "session_id", "ts_ms"), "party_id", "ts_ms")
      .filter(col("duplicate")).count()
    println(s"[pipeline] duplicate-flagged=$dupes")

    // 6. streaming leg: the same config topology as ONE streaming query
    //    (Topology.start) over a file stream of the batch run's source
    //    frame, staged as parquet. AvailableNow drains the backlog then
    //    stops — the batch-parity mode: the Avro sink gets the batch run's
    //    rows; the Kafka writer writes nothing unless a bootstrap is set.
    val staged = s"$outDir/stream-src"
    mappedInput.write.mode("overwrite").parquet(staged)
    val stagedStream = spark.readStream.schema(mappedInput.schema).parquet(staged)
    val sq = topo.start(Map("browser" -> stagedStream),
      Map("files" -> ((b: DataFrame, stamp: String) =>
          AvroFileSink.write(b, s"$outDir/stream-avro", "pipeline", stamp = Some(stamp))),
        "kafka" -> ((b: DataFrame, _: String) =>
          KafkaSink.write(TopicSinks.kafkaFrameConfluent(b, "party_id", 42), "pipeline"))),
      s"$outDir/stream-cp", Trigger.AvailableNow())
    sq.awaitTermination()
    val rolled = AvroFileSink.readBack(spark, s"$outDir/stream-avro")
    println(s"[pipeline] stream-avro files=${rolled.size} rows=${rolled.map(_._2).sum} " +
      s"batch=$written")

    // 7. streaming slot-memory duplicate flagging over the same staged
    //    feed (every event is distinct here, so flagged must be 0 — parity
    //    with the batch slot memory)
    import spark.implicits._
    val keyed = stagedStream.select("party_id", "session_id", "page_view_id", "ts_ms")
      .as[(String, String, String, Long)]
    val dupq = graft.streaming.Streams.flagDuplicatesStream(keyed)
      .toDF("partyId", "sessionId", "eventId", "ts", "duplicate")
      .writeStream.format("memory").queryName("pipe_dups")
      .option("checkpointLocation", s"$outDir/dup-cp")
      .trigger(Trigger.AvailableNow()).start()
    dupq.awaitTermination()
    val streamed = spark.table("pipe_dups")
    println(s"[pipeline] stream-dedup rows=${streamed.count()} " +
      s"flagged=${streamed.filter(col("duplicate")).count()}")
    spark.stop()
  }
}
