package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON (POST) source decoder — reference `JsonEventHandler.java:70-183`:
  * an `EventContainer` body (snake_case, ISO-8601 offset client timestamp)
  * becomes one canonical event row. No checksum exists on this path, so
  * `corrupt` is constant false (`DivolteEvent.java:182-184`); the party id
  * arrives out-of-band (query param), passed here as a column name.
  */
object JsonSource {

  /** EventContainer wire schema (`JsonEventHandler.java:104-127`). The
    * free-form `parameters` value stays raw JSON text for downstream
    * `get_json_object` — the reference also defers parameter decoding
    * (`DivolteEvent.java:55` lazy supplier). Spark's JSON reader copies a
    * non-string value into a string field as compact JSON text, so the one
    * parse of the body yields it; a repeated key keeps its last value, as
    * for every other field. */
  val containerSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("session_id", StringType, nullable = false),
    StructField("event_id", StringType, nullable = false),
    StructField("is_new_party", BooleanType, nullable = false),
    StructField("is_new_session", BooleanType, nullable = false),
    StructField("client_timestamp_iso", StringType, nullable = false),
    StructField("parameters", StringType)))

  /** Default `maximum_body_size`
    * (`config/JsonSourceConfiguration.java:35`) and the receive-buffer
    * chunk granularity (`ChunkyByteBuffer.java:34`) the rejection check
    * actually operates at: the reference compares CHUNK counts
    * (`AsyncRequestBodyReceiver.java:69,100-104`), so the effective cutoff
    * is the limit rounded up to a chunk multiple — with both defaults
    * 4096, a body of exactly 4096 bytes is accepted and 4097 rejected. */
  val DefaultMaximumBodySize = 4096
  val ChunkSize = 4096

  def decode(raw: DataFrame, bodyCol: String, partyIdCol: String,
             maximumBodySize: Int = DefaultMaximumBodySize): DataFrame = {
    // Oversized bodies are rejected at transport (413,
    // AsyncRequestBodyReceiver.java:100-104) before any parsing — the
    // engine's flag-not-drop stance keeps the row, marks it
    // `bodyOversized`, and leaves every decoded field null (the event the
    // reference never produced). Bytes, not chars: the wire check is on
    // octets, so a multi-byte UTF-8 body can reject below 4096 characters.
    val capBytes = math.max((maximumBodySize - 1) / ChunkSize + 1, 1).toLong * ChunkSize
    PeerAddress.rewrite(raw)
      .withColumn("bodyOversized",
        coalesce(octet_length(col(bodyCol)) > capBytes, lit(false)))
      .withColumn("__c",
        when(!col("bodyOversized"), from_json(col(bodyCol), containerSchema)))
      // an in-size body that does not parse is the reference's 400 path
      // (no event produced): flag it, like the browser decoder's corrupt
      // bit — a phantom all-null-id row with corrupt=false would flow
      // into sessionization indistinguishable from a valid sparse event
      .withColumn("corrupt", !col("bodyOversized") && col("__c").isNull)
      .withColumn("partyId", when(!col("bodyOversized"), col(partyIdCol)))
      .withColumn("sessionId", col("__c.session_id"))
      .withColumn("eventId", col("__c.event_id"))
      .withColumn("eventSource", lit("json"))
      .withColumn("eventType", col("__c.event_type"))
      .withColumn("newPartyId", col("__c.is_new_party"))
      .withColumn("firstInSession", col("__c.is_new_session"))
      .withColumn("clientTime",
        unix_millis(to_timestamp(col("__c.client_timestamp_iso"))))
      .withColumn("eventParameters", col("__c.parameters"))
      .drop("__c")
  }
}
