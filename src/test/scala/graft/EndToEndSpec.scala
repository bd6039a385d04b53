package graft

import graft.dsl.DefaultMapping
import graft.queries.DslQueries
import graft.sinks.AvroFileSink
import graft.sources.BrowserSource
import graft.topology.{MappingSpec, SinkSpec, Topology}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's full spine, closed loop and asserted (not demoed):
  *
  *  - batch: wire decode → default mapping → Avro container sink →
  *    DISTRIBUTED read-back → sessionize + rollup analytics, with the
  *    analytics on the read-back bit-equal to the same analytics on the
  *    pre-sink frame (the `ServerSinkSourceConfigurationTest.java:126-158`
  *    golden read-back, plus the downstream query the reference delegates);
  *  - streaming: file-stream source → decode → default mapping →
  *    checkpointed Avro sink, killed and restarted mid-stream — the
  *    restarted query resumes from the commit log and the read-back holds
  *    every event exactly once (the `FileFlusherTest` crash/recover
  *    sequencing re-expressed over Spark's checkpoint protocol). */
class EndToEndSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("batch spine: decode → map → avro sink → read back → sessionize/rollup") {
    val mapped = DslQueries.defaultMapping(spark, sf).cache()
    val dir = tmp("e2e-avro")
    AvroFileSink.write(mapped, dir, tag = "e2e")
    val back = AvroFileSink.readBackDf(spark, dir, mapped.schema).cache()

    assert(back.count() === mapped.count())

    // identical analytics on both sides of the sink: 30-min sessionization
    // (the engine's own operator) and an event-type rollup
    def sessions(df: DataFrame) = graft.streaming.Streams.sessionize(
        df.withColumn("ts", timestamp_millis(col("ts_ms"))), "party_id", "ts")
      .select(col("party_id"), col("n_events"),
        unix_millis(col("session_start")).as("s"),
        unix_millis(col("session_end")).as("e"))
      .collect().map(_.toSeq).toSet
    def rollup(df: DataFrame) =
      df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet

    val fromSink = sessions(back)
    assert(fromSink === sessions(mapped))
    assert(fromSink.nonEmpty)
    assert(rollup(back) === rollup(mapped))
    mapped.unpersist(); back.unpersist()
  }

  test("tokenizer spine: train at batch → publish vocab parquet → stream " +
       "ingest → streamed md5s equal md5s stitched from the oracled batch " +
       "segmentation") {
    import spark.implicits._
    // TRAIN + PUBLISH: the corpus-trained WordPiece vocabulary, written as
    // the parquet publication frame the streaming form hot-loads — the
    // train→publish→serve loop of a production tokenize-at-ingest pipeline.
    val vocabDir = tmp("e2e-wp") + "/vocab"
    graft.queries.DocQueries.wordpieceVocab(spark, sf).repartition(1)
      .write.mode("overwrite").parquet(vocabDir)
    // Batch truth: word → segmentation from the ORACLED doc_wordpiece
    // operator, stitched per document exactly as the stream encoder does
    // (empty tokens skipped, segs space-joined, md5 over the full stream) —
    // so the assertion chains the DuckDB-checked batch output to the
    // streamed bytes with no shared encoder in the middle.
    val seg = graft.queries.DocQueries.wordpieceTok(spark, sf)
      .select("word", "seg").as[(String, String)].collect().toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val expect = docs.map { case (id, text) =>
      val stream = graft.functions.MinHash.sqlToks(text)
        .filter(_.nonEmpty).map(seg).mkString(" ")
      id -> org.apache.commons.codec.digest.DigestUtils.md5Hex(stream)
    }.toMap
    // SERVE: the corpus arrives as a stream in two micro-batches (model
    // reuse across batch boundaries, the production ingest shape).
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Map.empty[Long, (Int, String)]
    val q = input.toDF.toDF("doc_id", "text").writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        seen ++= graft.streaming.Streams.wordpieceBatch(batch, vocabDir)
          .select("doc_id", "n_words", "wp_md5")
          .as[(Long, Int, String)].collect()
          .map(t => t._1 -> ((t._2, t._3)))
        ()
    }.start()
    try {
      val (b1, b2) = docs.splitAt(docs.size / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      assert(seen.size === docs.size)
      docs.foreach { case (id, text) =>
        assert(seen(id)._2 === expect(id), s"doc $id md5 diverged")
        assert(seen(id)._1 ===
          graft.functions.MinHash.sqlToks(text).count(_.nonEmpty),
          s"doc $id n_words")
      }
    } finally {
      q.stop()
      graft.functions.RefreshableDim.invalidate(spark, vocabDir)
    }
  }

  test("streaming spine: checkpointed sink resumes exactly-once after kill/restart") {
    import spark.implicits._
    val in = tmp("spine-in"); val out = tmp("spine-out"); val cp = tmp("spine-cp")
    val wireSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("qs", StringType)))

    def addInput(ids: Seq[Long]): Unit =
      ids.toDF("event_id").select(col("event_id"), concat(
          lit("p=0%3A1h2j3k4l%3Auser"), col("event_id"),
          lit("&s=0%3A1h2j3k4l%3Asess"), col("event_id"),
          lit("&e=ev"), col("event_id"),
          lit("&c=1h2j3k4l&n=f&t=pageview"),
          lit("&l=http%3A%2F%2Fshop.example%2F")).as("qs"))
        .coalesce(1).write.mode("append").parquet(in)

    def spine(raw: DataFrame): DataFrame =
      DefaultMapping(BrowserSource.decode(raw, "qs"))
        .select(col("partyId"), col("sessionId"), col("eventType"),
          col("clientTimestamp"))

    val topo = new Topology(Seq(MappingSpec("spine", Seq("wire"), spine, "spine")),
      Seq(SinkSpec("avro", Seq("spine"))))
    def start() = topo.start(
      Map("wire" -> spark.readStream.schema(wireSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)),
      Map("avro" -> ((df: DataFrame, stamp: String) =>
        AvroFileSink.write(df, out, tag = "spine", stamp = Some(stamp)))),
      cp)

    // phase 1: two input files, one batch each; then the query dies
    addInput(0L until 10L); addInput(10L until 20L)
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val phase1Files = AvroFileSink.readBack(spark, out).map(_._1)
    assert(phase1Files.nonEmpty)

    // phase 2: more input lands while the query is down; restart from the
    // SAME checkpoint
    addInput(20L until 30L)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val files = AvroFileSink.readBack(spark, out)
    // phase-1 output survived untouched (no re-stamp/overwrite of old
    // batches: batch numbering resumed from the commit log)
    assert(phase1Files.toSet.subsetOf(files.map(_._1).toSet))
    assert(files.map(_._1).toSet.size > phase1Files.size)
    // exactly-once across the kill: every event exactly one record
    val backSchema = spine(Seq((0L, "p=0")).toDF("event_id", "qs")).schema
    val back = AvroFileSink.readBackDf(spark, out, backSchema)
    assert(back.count() === 30)
    assert(back.groupBy("partyId").count().filter(col("count") =!= 1).isEmpty)
    // the offsets log continued across the restart instead of starting over
    val offsetBatches = Option(new java.io.File(s"$cp/offsets").listFiles())
      .getOrElse(Array.empty).map(_.getName).filterNot(_.contains(".")).map(_.toLong)
    assert(offsetBatches.length >= 3)
  }

  test("stateful anomaly stream: keyed moments survive kill/restart") {
    import spark.implicits._
    val in = tmp("anom-in"); val out = tmp("anom-out"); val cp = tmp("anom-cp")

    def addInput(rows: Seq[(Long, Long, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "ts", "value_scaled")
        .coalesce(1).write.mode("append").parquet(in)

    def start() = graft.streaming.Streams.anomalyStream(
        spark.readStream
          .schema(StructType(Seq(
            StructField("user_id", LongType), StructField("event_id", LongType),
            StructField("ts", LongType), StructField("value_scaled", LongType))))
          .option("maxFilesPerTrigger", "1").parquet(in)
          .as[(Long, Long, Long, Long)])
      .toDF("user_id", "event_id", "ts", "value_scaled", "z", "is_anomaly")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()

    // phase 1: user 1 builds a tight 14-event history; then the query dies
    addInput((1L to 14L).map(i => (1L, i, i, 1000L + (i % 3) * 5)))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()

    // phase 2: the spike arrives while the query is down; the restarted
    // query can only flag it if the user's moments were RECOVERED from the
    // state store, not rebuilt from the (single-row) new batch
    addInput(Seq((1L, 15L, 15L, 900000L)))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val res = spark.read.parquet(out)
      .select("event_id", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(res.size === 15, "every event exactly once across the restart")
    assert(res(15L), "post-restart spike must flag against recovered state")
    (1L to 14L).foreach(e => assert(!res(e)))
  }
}
