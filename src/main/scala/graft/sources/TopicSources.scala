package graft.sources

import graft.schema.AvroSchemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Topic SOURCE decoders — the consume side of the `graft.sinks.TopicSinks`
  * frames: a Kafka-shaped frame (`key`/`value` binary columns, as produced
  * by `spark.readStream.format("kafka")` or the sink tests) back into typed
  * rows. Handles both naked Avro values and Confluent-framed values
  * (0x00 magic + int32-BE schema id + body).
  *
  * The reference consumes its own Kafka output downstream
  * (`README.md:27-33`); this closes that loop natively so a graft job can
  * read what another graft job (or the reference itself) published.
  */
object TopicSources {

  /** Decode the `value` binary column as Avro into a struct column
    * `record`, dropping the wire frame. `confluent=true` strips the 5-byte
    * header first and exposes the embedded schema id as `schemaId`, a
    * signed big-endian int32 as Confluent's serializer writes it. Null
    * values (Kafka tombstones on compacted topics), frames too short to
    * carry the confluent header, AND frames whose body fails the Avro decode
    * (a corrupt message, a foreign producer) all decode to a null record
    * instead of killing the job — a poison-pill message must never wedge a
    * checkpointed query on its own offset.
    *
    * Writer-schema caveat: a naked binary frame does not carry its writer
    * schema, so `AvroSchemas.toAvroSchema(recordSchema)` is used as BOTH
    * writer and reader schema, and schema resolution has nothing to
    * reconcile. Frames published under an OLDER schema version need the
    * container-file path (`AvroFileSink.readBackDf`, whose file header
    * carries the real writer schema for Avro's resolution) or a
    * schema-registry lookup by the confluent id, which this offline module
    * does not model. */
  def decodeKafkaFrame(frames: DataFrame, recordSchema: StructType,
                       confluent: Boolean = false): DataFrame = {
    val schemaJson = AvroSchemas.toAvroSchema(recordSchema).toString
    val offset = if (confluent) 5 else 0
    val dec = udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Row] {
      override def call(value: Array[Byte]): Row =
        if (value == null || value.length < offset) null
        else try AvroSchemas.decode(value, offset, recordSchema, schemaJson)
        catch { case _: Exception => null } // corrupt frame -> null record
    }, recordSchema)
    val schemaId = udf((value: Array[Byte]) =>
      Option(value).filter(_.length >= 5).map(java.nio.ByteBuffer.wrap(_, 1, 4).getInt))
    val withId =
      if (confluent) frames.withColumn("schemaId", schemaId(col("value")))
      else frames
    withId
      .withColumn("record", dec(col("value")))
      .withColumn("partyId", col("key").cast("string"))
  }
}
