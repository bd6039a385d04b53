package graft

import graft.queries.DslQueries
import graft.sinks.{AvroFileSink, KafkaSink, TopicSinks}
import graft.state.DuplicateMemory
import graft.topology.TopologyConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end demonstration of the full reference spine on real test data:
  * wire-format decode → default mapping → duplicate flagging → topology
  * fan-out → Avro file sink + Kafka frame encoding, with read-back
  * verification, as a batch run and as one streaming query.
  * Usage: `runMain graft.Pipeline <sfDir> <outDir>`.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-pipeline")

    // 1. decode browser wire events (synthesized from the events table) and
    //    flag duplicates with the slot memory, one key set for both legs
    val decoded = DslQueries.defaultMapping(spark, sfDir) // uses BrowserSource + DefaultMapping
    def flag(df: DataFrame): DataFrame = DuplicateMemory.flagDuplicates(
      df, Seq("party_id", "session_id", "page_view_id"), "party_id", "ts_ms")
    val flagged = flag(decoded)

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
    val routed = topo(Map("browser" -> flagged))

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

    // 5. streaming leg: the same config topology as ONE streaming query
    //    (Topology.start) over a file stream of the decoded feed, staged as
    //    parquet and flagged inside the query. AvailableNow drains the
    //    backlog then stops — the batch-parity mode: the Avro sink gets the
    //    batch run's rows and the slot memory flags the batch run's rows;
    //    the Kafka writer writes nothing unless a bootstrap is set.
    val staged = s"$outDir/stream-src"
    decoded.write.mode("overwrite").parquet(staged)
    val streamFlagged = new java.util.concurrent.atomic.AtomicLong
    val sq = topo.start(Map("browser" -> flag(spark.readStream.schema(decoded.schema).parquet(staged))),
      Map("files" -> ((b: DataFrame, stamp: String) =>
          AvroFileSink.write(b, s"$outDir/stream-avro", "pipeline", stamp = Some(stamp))),
        "kafka" -> { (b: DataFrame, _: String) =>
          streamFlagged.addAndGet(b.filter(col("duplicate")).count())
          KafkaSink.write(TopicSinks.kafkaFrameConfluent(b, "party_id", 42), "pipeline")
        }),
      s"$outDir/stream-cp", Trigger.AvailableNow())
    sq.awaitTermination()
    val rolled = AvroFileSink.readBack(spark, s"$outDir/stream-avro")
    println(s"[pipeline] stream-avro files=${rolled.size} rows=${rolled.map(_._2).sum} " +
      s"batch=$written")
    println(s"[pipeline] duplicate-flagged batch=${flagged.filter(col("duplicate")).count()} " +
      s"stream=${streamFlagged.get}")
    spark.stop()
  }
}
