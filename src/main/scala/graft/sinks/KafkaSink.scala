package graft.sinks

import graft.GraftConf
import org.apache.spark.sql.DataFrame

/** Live topic-sink transport for the [[TopicSinks]] frames.
  *
  * Two layers, mirroring the reference's split between the Kafka client
  * call and the flush/retry policy around it
  * (`topicsinks/TopicFlusher.java:38-105`,
  * `topicsinks/kafka/KafkaFlusher.java:58-101`):
  *
  *  - [[write]]: the batch writer — frames (key, value binary columns
  *   from [[TopicSinks.kafkaFrame]]/`kafkaFrameConfluent`) →
  *   `write.format("kafka")`; on a stream, [[graft.topology.Topology.start]]
  *   calls it once per micro-batch. Gated on `spark.graft.kafka.bootstrap`:
  *   unset (the default; the Spark distribution this is built against
  *   also omits the `spark-sql-kafka-0-10` connector jar) writes nothing
  *   and returns false. In production, set the conf to the bootstrap
  *   servers and put the connector jar on the classpath; partitioning by
  *   the frame's partyId key then reproduces the reference's per-party
  *   ordering, and a replayed micro-batch re-sends its records — the
  *   at-least-once guarantee the reference's ack-then-retry loop provides.
  *
  *  - [[RetryingPublisher]]: the reference's outcome partitioning —
  *   completed / transient-retriable (kept pending, re-sent on the next
  *   heartbeat) / fatal (abandoned, counted) — as a transport-agnostic
  *   policy class, contract-tested without a broker (StreamingSinkSpec).
  *   The Kafka connector internalizes retries for its own transient
  *   errors; this class exists for custom `foreachBatch` transports
  *   (e.g. a Pub/Sub publisher for [[TopicSinks.pubsubFrame]]) that need
  *   the reference's policy around a raw client.
  */
object KafkaSink {

  /** Write `frames` (binary `key`/`value` columns) to `topic`. Returns
    * false, having written nothing, when no bootstrap servers are
    * configured. */
  def write(frames: DataFrame, topic: String): Boolean =
    GraftConf.KafkaBootstrap.get(frames.sparkSession).exists { servers =>
      frames
        .selectExpr("key", "value")
        .write
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .save()
      true
    }

  /** One record's send result, the three-way split of
    * `KafkaFlusher.sendBatch` (completed / `RetriableException` /
    * anything else = fatal). */
  sealed trait SendOutcome
  case object Completed extends SendOutcome
  final case class Retriable(cause: String) extends SendOutcome
  final case class Fatal(cause: String) extends SendOutcome

  /** The reference's flush policy (`TopicFlusher.java:66-105`): a batch is
    * handed to `send` (which answers one [[SendOutcome]] per record, like
    * the producer's futures); completed records drop, retriable records
    * become the pending set (the whole batch is NOT re-sent — only the
    * failed records), fatal records are abandoned and counted. While
    * records are pending, [[publish]] reports pause-like backpressure
    * (the reference returns PAUSE so the upstream queue stops draining)
    * and [[heartbeat]] re-sends the pending set. Not thread-safe, like
    * the reference's per-sink-thread flusher. */
  final class RetryingPublisher[T](send: Seq[T] => Seq[SendOutcome]) {
    private var pending: Vector[T] = Vector.empty
    private var abandonedBuf = Vector.empty[T]
    private var deliveredCount = 0L

    /** Records dropped on fatal errors (the reference logs-and-abandons). */
    def abandoned: Seq[T] = abandonedBuf
    def delivered: Long = deliveredCount
    def hasPending: Boolean = pending.nonEmpty

    /** Send a fresh batch (plus nothing else — pending records wait for
      * the heartbeat, as in the reference). Returns true to CONTINUE,
      * false to PAUSE (retriable failures remain pending). A caller that
      * publishes while records are already pending (ignoring the PAUSE)
      * must not lose them: new retriables APPEND to the pending set. */
    def publish(batch: Seq[T]): Boolean = {
      pending = pending ++ flush(batch)
      pending.isEmpty
    }

    /** Re-send only the pending records, if any (`TopicFlusher.heartbeat`). */
    def heartbeat(): Boolean =
      if (pending.isEmpty) true
      else {
        pending = flush(pending)
        pending.isEmpty
      }

    /** Send one batch; returns ITS retriable remainder (delivered/fatal
      * records are counted into the totals here). */
    private def flush(batch: Seq[T]): Vector[T] = {
      val outcomes = send(batch)
      require(outcomes.length == batch.length,
        s"send answered ${outcomes.length} outcomes for ${batch.length} records")
      val remaining = Vector.newBuilder[T]
      batch.iterator.zip(outcomes.iterator).foreach {
        case (_, Completed)    => deliveredCount += 1
        case (r, Retriable(_)) => remaining += r
        case (r, Fatal(_))     => abandonedBuf :+= r
      }
      remaining.result()
    }
  }
}
