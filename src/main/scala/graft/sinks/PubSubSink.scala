package graft.sinks

import graft.GraftConf
import org.apache.spark.sql.{DataFrame, Row}

import KafkaSink.{Completed, RetryingPublisher, SendOutcome}

/** Live Google Pub/Sub-style publisher transport for
  * [[TopicSinks.pubsubFrame]] frames — the half the reference implements in
  * `topicsinks/pubsub/GoogleCloudPubSubFlusher.java:76-120` (publish
  * futures → completed / transient-retry / fatal-abandon) and
  * `GoogleCloudPubSubSinkFactory` (publisher construction).
  *
  * Spark-native shape: a flag-gated batch writer, [[publish]], that
  * [[graft.topology.Topology.start]] calls once per micro-batch. Each batch
  * publishes PER PARTITION — the executor-side loop builds messages from
  * the frame columns, sends them in chunks through a [[RetryingPublisher]]
  * (the reference's outcome-partitioning policy, shared with the Kafka
  * path), retries transient failures with backoff, abandons fatals, and
  * THROWS when retries exhaust — so Spark's task/batch retry supplies the
  * at-least-once guarantee the reference gets from ack-then-retry.
  *
  * The wire client is a pluggable [[PubSubSink.Transport]] resolved by name
  * from `spark.graft.pubsub.transport` (this zero-egress sandbox ships no
  * Pub/Sub SDK; production registers a transport backed by the real
  * `Publisher` in a static initializer so executors can resolve it). The
  * built-in `memory` transport is a JVM-local topic buffer used by the
  * broker-less contract tests — and by local pipeline dry-runs. */
object PubSubSink {

  /** One Pub/Sub message: payload + string attributes (the reference's
    * `PubsubMessage` with partyIdentifier / eventIdentifier / timestamp /
    * schemaFingerprint [/ schemaConfluentId] attributes). */
  final case class Message(data: Array[Byte], attributes: Map[String, String])

  /** The transport seam: answer one [[SendOutcome]] per message, like the
    * reference's list of publish futures. Implementations must be safe to
    * construct per partition. */
  trait Transport extends Serializable {
    def send(topic: String, batch: Seq[Message]): Seq[SendOutcome]
  }

  private val transports =
    scala.collection.concurrent.TrieMap.empty[String, () => Transport]

  /** Register a transport factory under a name (resolved executor-side). */
  def register(name: String, factory: () => Transport): Unit =
    transports.put(name, factory)

  def transport(name: String): Transport =
    transports.getOrElse(name,
      throw new IllegalArgumentException(
        s"no Pub/Sub transport registered under '$name'"))()

  // ------------------------------------------------- in-memory transport
  /** JVM-local delivery buffer: always-succeeding transport for contract
    * tests and dry-runs. */
  object InMemory {
    private[sinks] val topics =
      scala.collection.concurrent.TrieMap.empty[String, Vector[Message]]
    def messages(topic: String): Vector[Message] =
      topics.getOrElse(topic, Vector.empty)
    def clear(): Unit = topics.clear()
  }
  register("memory", () => new Transport {
    def send(topic: String, batch: Seq[Message]): Seq[SendOutcome] = {
      InMemory.topics.updateWith(topic) {
        case Some(v) => Some(v ++ batch)
        case None => Some(batch.toVector)
      }
      batch.map(_ => Completed)
    }
  })

  private def rowToMessage(r: Row): Message = {
    val di = r.fieldIndex("data")
    val attrs = r.schema.fields.iterator.zipWithIndex
      .filter { case (_, i) => i != di }
      .flatMap { case (f, i) =>
        if (r.isNullAt(i)) None else Some(f.name -> r.get(i).toString)
      }.toMap
    Message(r.getAs[Array[Byte]](di), attrs)
  }

  /** Publish one (micro-)batch of pubsub frames, distributed per partition.
    * Throws if any partition still has pending (retriable) messages after
    * `maxAttempts` — failing the task is what converts "retry indefinitely"
    * (`GoogleCloudPubSubFlusher.java:127-137`) into Spark's retry model
    * without blocking an executor forever. Fatal messages are abandoned
    * with a warning, exactly like the reference. */
  def publishBatch(frames: DataFrame, topic: String, transportName: String,
      chunkSize: Int = 1000, maxAttempts: Int = 8, backoffMs: Long = 50): Unit =
    frames.foreachPartition { (it: Iterator[Row]) =>
      val client = transport(transportName)
      val pub = new RetryingPublisher[Message](b => client.send(topic, b))
      it.grouped(chunkSize).foreach { rows =>
        var ok = pub.publish(rows.map(rowToMessage))
        var attempt = 1
        while (!ok && attempt < maxAttempts) {
          Thread.sleep(backoffMs * attempt) // linear backoff between retries
          ok = pub.heartbeat()
          attempt += 1
        }
        if (pub.hasPending)
          throw new RuntimeException(
            s"pubsub publish: retriable failures persisted after $maxAttempts attempts")
      }
      pub.abandoned.foreach { m =>
        System.err.println(s"[pubsub] abandoning message after permanent error: " +
          s"eventIdentifier=${m.attributes.getOrElse("eventIdentifier", "N/A")}")
      }
    }

  /** Publish `frames` (a [[TopicSinks.pubsubFrame]]) to `topic` through
    * the transport `spark.graft.pubsub.transport` names. Returns false,
    * having published nothing, when that conf is unset — the gate of
    * [[KafkaSink.write]]. */
  def publish(frames: DataFrame, topic: String): Boolean =
    GraftConf.PubsubTransport.get(frames.sparkSession).exists { t =>
      publishBatch(frames, topic, t)
      true
    }
}
