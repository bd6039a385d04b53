package graft.perfbench

import graft.dsl.DefaultMapping
import graft.sinks.AvroFileSink
import graft.sources.{BrowserSource, JsonSource}
import graft.streaming.Streams
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class StreamResult(latMs: Seq[Double], firstBatchS: Double, drainEps: Double,
                              lateMaxMs: Double, backlogMax: Long, offered: Long,
                              overflowed: Boolean, progress: Seq[StreamingQueryProgress])

/** The spine as a Structured Streaming query over a MemoryStream: decode →
  * `Streams.dropDuplicates` (state store) → `DefaultMapping` →
  * `foreachBatch` (one Avro roll per batch + Kafka frames).
  *
  * The query triggers at a fixed interval. Phase 1 is an open loop at a
  * fixed offered rate; each event is timed
  * from when it was due to be sent to the return of the `foreachBatch`
  * that committed it. Phase 2 enqueues a fixed backlog and times the batches
  * that drain it.
  * The run stops and fails the events still queued if the backlog passes
  * `backlogCap`, instead of growing without bound. */
final class StreamRun(spark: SparkSession, seed: Long, dir: String, triggerMs: Long) {
  import spark.implicits._

  // event time advances 20 ms per event — far faster than the wall clock —
  // so the one-minute watermark evicts dedup state inside the run
  private val gen = new LoadGen(seed, Mix(oversizeShare = 0.0), eventTimeStepMs = 20L)
  // one input partition per core per batch, however many chunks it covers
  private val input = MemoryStream[Ev](spark, spark.sparkContext.defaultParallelism)
  private val avroDir = s"$dir/stream-avro"
  private val committed, kafkaBytes, processed = new AtomicLong
  private val returnedNs = new ConcurrentHashMap[Long, Long]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  // MemoryStream offset -> (first seq, count, events offered up to it).
  // Progress is read by offset: both source branches scan the one
  // MemoryStream, so its numInputRows counts every event twice.
  private val chunks = new ConcurrentHashMap[Long, (Long, Int, Long)]()
  @volatile private var offered = 0L

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress)
      Option(e.progress.sources.head.endOffset).map(_.toLong).flatMap(o => Option(chunks.get(o)))
        .foreach(c => processed.accumulateAndGet(c._3, math.max(_, _)))
    }
  }

  private def pipeline(src: DataFrame): DataFrame = {
    val transport = Seq("userAgentString", "remoteHost", "xForwardedFor", "requestTimestamp",
      "eventTimeMs")
    val browser = BrowserSource.decode(
      src.filter($"kind" === 0).select((Seq("seq", "qs") ++ transport).map(col): _*), "qs")
    val json = JsonSource.decode(
      src.filter($"kind" === 1).select((Seq("seq", "body", "partyIdParam") ++ transport).map(col): _*),
      "body", "partyIdParam")
    val both = browser.unionByName(json, allowMissingColumns = true)
      .withColumn("eventTime", timestamp_millis(col("eventTimeMs")))
    DefaultMapping(Streams.dropDuplicates(both, "eventTime", Spine.KeyCols, "1 minute"))
  }

  private val query = {
    spark.streams.addListener(listener)
    pipeline(input.toDF()).writeStream
      .option("checkpointLocation", s"$dir/stream-checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        Trace.withTrace(s"batch-$id") {
          Trace.span("streaming.foreachBatch") {
            b.persist()
            try {
              AvroFileSink.write(b, avroDir, "stream", stamp = Some(f"b$id%012d"))
              val (rows, bytes) = Spine.kafka(b)
              committed.addAndGet(rows); kafkaBytes.addAndGet(bytes)
            } finally b.unpersist()
          }
        }
        returnedNs.put(id, System.nanoTime()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .start()
  }

  private def add(evs: Seq[Ev]): Unit = {
    val off = input.addData(evs).json.toLong
    chunks.put(off, (evs.head.seq, evs.size, offered + evs.size))
    offered += evs.size
  }

  /** After a closed-loop warm-up of `warmupEvents`, phase 1 offers `rate`
    * events/s for `warmupS + measureS` seconds (latency from the first
    * `warmupS` excluded), then phase 2 drains `backlog`. */
  def run(rate: Int, warmupEvents: Int, warmupS: Double, measureS: Double, backlog: Int,
          backlogCap: Long): StreamResult = {
    // closed-loop warm-up: fixed work, one batch at a time, until codegen
    // and JIT have settled; none of it is timed
    val w0 = System.nanoTime()
    (0 until warmupEvents by rate / 2).foreach { _ => add(gen.take(rate / 2)); waitFor(offered, 60) }
    val firstBatchS = Option(returnedNs.get(0L)).map(r => (r - w0) / 1e9).getOrElse(Double.NaN)
    val nsPerEvent = 1e9 / rate
    val t0 = System.nanoTime()
    val seq0 = offered
    var sent = 0L
    var lateMax = 0.0
    var backlogMax = 0L
    var overflowed = false
    val endNs = t0 + ((warmupS + measureS) * 1e9).toLong
    while (System.nanoTime() < endNs && !overflowed) {
      val now = System.nanoTime()
      val due = math.min(((now - t0) / nsPerEvent).toLong, sent + rate) // at most 1 s per chunk
      if (due > sent) {
        lateMax = math.max(lateMax, (now - (t0 + sent * nsPerEvent)) / 1e6)
        add(gen.take((due - sent).toInt)); sent = due
      }
      val queued = offered - processed.get
      backlogMax = math.max(backlogMax, queued)
      if (queued > backlogCap) overflowed = true
      else Thread.sleep(10)
    }
    val caughtUp = !overflowed && waitFor(offered, 60)
    // latency of every phase-1 event past warm-up, from its due time
    val warmSeq = seq0 + (warmupS * rate).toLong
    val lat = ArrayBuffer.empty[Double]
    if (caughtUp) batchesWithData.foreach { p =>
      val end = p.sources.head.endOffset.toLong
      val start = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
      val ret = returnedNs.get(p.batchId)
      (start + 1 to end).foreach { o =>
        val (first, n, _) = chunks.get(o)
        (first until first + n).foreach { s =>
          if (s >= warmSeq) lat += (ret - (t0 + (s - seq0) * nsPerEvent)) / 1e6
        }
      }
    }
    // phase 2: a fixed backlog, enqueued at once
    var drainEps = Double.NaN
    if (caughtUp) {
      val lastBatch = returnedNs.keySet.asScala.max
      gen.take(backlog).grouped(10000).foreach(add)
      // timed by the batches that processed it, not the wait for the trigger
      if (waitFor(offered, 120)) drainEps = backlog / (progress.asScala.toSeq
        .filter(p => p.batchId > lastBatch && p.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toLong).sum / 1e3)
    }
    StreamResult(lat.toSeq, firstBatchS, drainEps, lateMax, backlogMax, offered,
      overflowed || !caughtUp, progress.asScala.toSeq.sortBy(_.batchId))
  }

  private def batchesWithData: Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  /** Events per batch with data, from the offsets each batch covered. */
  def rowsPerBatch(ps: Seq[StreamingQueryProgress]): Seq[Double] = ps.filter(_.numInputRows > 0).map { p =>
    val end = p.sources.head.endOffset.toLong
    val start = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
    (start + 1 to end).map(o => chunks.get(o)._2.toDouble).sum
  }

  private def waitFor(n: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (processed.get < n && System.nanoTime() < deadline) Thread.sleep(5)
    processed.get >= n
  }

  def stop(): Unit = { query.stop(); spark.streams.removeListener(listener) }

  /** Stop the query, then check exactly-once delivery after dedup. */
  def finish(led: Ledger, r: StreamResult): Map[String, Long] = {
    stop()
    val t = gen.groundTruth
    val expected = t.total - t.resends
    if (r.overflowed) led.ops(0, math.max(1L, r.offered - processed.get))
    led.expectEq("streaming.offered_rows", t.total, r.offered)
    led.expectEq("streaming.committed_rows", expected, committed.get)
    val (avroRows, _) = Spine.avroDirCounts(spark, avroDir)
    led.expectEq("streaming.avro_rows", expected, avroRows)
    Map("committed" -> committed.get, "kafka_bytes" -> kafkaBytes.get, "expected" -> expected)
  }
}
