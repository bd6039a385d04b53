package graft.sinks

import graft.schema.AvroSchemas
import org.apache.avro.Schema
import org.apache.avro.SchemaNormalization
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.util.Base64

/** Topic sink encodings (reference §2E):
  *
  *  - Kafka: `key` = partyId bytes, `value` = schema-less Avro binary datum
  *    (`topicsinks/kafka/KafkaFlusher.java:41-102`,
  *    `DivolteIdentifierSerializer.java`);
  *  - Confluent mode: value prefixed with `0x00 + int32-BE schemaId`
  *    (`ConfluentAvroRecordBufferSerializer.java:27-64`);
  *  - Google Pub/Sub: data = naked Avro; attributes partyIdentifier,
  *    eventIdentifier, timestamp (ISO), schemaFingerprint (SHA-256 parsing
  *    fingerprint, base64url no-padding)
  *    (`GoogleCloudPubSubFlusher.java:43-120`).
  *
  * The datum is `AvroSchemas.encode` of the row under
  * `AvroSchemas.toAvroSchema(df.schema)`. The encoded frame is produced as
  * binary columns — the actual transport ([[KafkaSink.write]] /
  * [[PubSubSink.publish]]) consumes them unchanged, so the wire bytes are
  * testable without a broker.
  */
object TopicSinks {

  /** Per-row Avro binary encoding of all columns as one datum. */
  def avroBinary(df: DataFrame): DataFrame = {
    val schemaJson = AvroSchemas.toAvroSchema(df.schema).toString
    val enc = udf((row: Row) => AvroSchemas.encode(row, schemaJson))
    df.withColumn("__avro", enc(struct(df.columns.map(col).toIndexedSeq: _*)))
  }

  /** Kafka frame: key = partyId UTF-8 bytes, value = naked Avro datum. */
  def kafkaFrame(df: DataFrame, partyIdCol: String): DataFrame =
    avroBinary(df).select(
      col(partyIdCol).cast("binary").as("key"),
      col("__avro").as("value"))

  /** Confluent wire format: 0x00 magic + int32 big-endian schema id + body. */
  def confluentHeader(schemaId: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(5).put(0.toByte).putInt(schemaId).array()

  def kafkaFrameConfluent(df: DataFrame, partyIdCol: String, schemaId: Int): DataFrame =
    avroBinary(df).select(
      col(partyIdCol).cast("binary").as("key"),
      concat(lit(confluentHeader(schemaId)), col("__avro")).as("value"))

  /** SHA-256 parsing fingerprint of the sink schema, base64url-no-padding
    * (reference `GoogleCloudPubSubFlusher.java:51-75`). */
  def schemaFingerprint(schema: Schema): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      SchemaNormalization.parsingFingerprint("SHA-256", schema))

  /** Pub/Sub message shape: data + attribute columns. */
  def pubsubFrame(df: DataFrame, partyIdCol: String, eventIdCol: String,
                  timestampMsCol: String): DataFrame = {
    val fp = schemaFingerprint(AvroSchemas.toAvroSchema(df.schema))
    avroBinary(df).select(
      col("__avro").as("data"),
      col(partyIdCol).as("partyIdentifier"),
      col(eventIdCol).as("eventIdentifier"),
      date_format(timestamp_millis(col(timestampMsCol)), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .as("timestamp"),
      lit(fp).as("schemaFingerprint"))
  }
}
