package graft.state

import com.google.common.hash.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Probabilistic duplicate flagging with the reference's slot-memory
  * semantics (`ShortTermDuplicateMemory.java:108-178`): murmur3_128 over the
  * event's identifying properties (UTF-16, Guava `putUnencodedChars`), slot
  * chosen by the byte-swapped low int of h1 mod slot count, 64-bit signature
  * from byte-swapped h2; compare-and-overwrite — a FLAG, not a filter, and
  * deliberately approximate (false positives on slot collisions after
  * overwrite, exactly like the reference).
  *
  * Distribution model mirrors the reference's: events are partitioned by
  * partyId (the reference's per-thread affinity,
  * `ProcessingPool.java:87-92`) and processed in timestamp order with one
  * slot array per partition (per-thread memory,
  * `IncomingRequestProcessor.java:150-151`). At scale this is a single
  * keyed repartition plus a narrow per-partition pass over sorted data.
  */
object DuplicateMemory {

  /** Slot/signature derivation, the reference's own chain
    * (`ShortTermDuplicateMemory.java:131-178`): the hash bytes are h1 then
    * h2, each little-endian, and the reference reads them big-endian, so
    * the slot selector is the byte-swapped low int of h1 and the signature
    * the byte-swapped h2. */
  def slotAndSignature(slotCount: Int, properties: String*): (Int, Long) = {
    val hasher = Hashing.murmur3_128().newHasher()
    properties.foreach(p => hasher.putUnencodedChars(p))
    val hash = java.nio.ByteBuffer.wrap(hasher.hash().asBytes())
    ((hash.getInt(0) & Int.MaxValue) % slotCount, hash.getLong(8))
  }

  /** Flag probable duplicates. Appends a `duplicate` boolean column.
    *
    * @param keyCols   identifying properties, hashed in order (the reference
    *                  uses partyId, sessionId, eventId —
    *                  `IncomingRequestProcessor.java:150-151`)
    * @param orderCol  processing order within a party (arrival time)
    * @param slotCount slots per partition (reference default 1M/thread)
    *
    * The order within a party is total up to rows equal in every atomic
    * column: `orderCol` ties break on the key columns, then on the remaining
    * atomic columns in schema order, so which of two same-instant repeats
    * carries the flag does not depend on shuffle arrival order.
    */
  def flagDuplicates(df: DataFrame, keyCols: Seq[String], partitionCol: String,
                     orderCol: String, slotCount: Int = 1 << 20): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("duplicate", BooleanType, nullable = false))
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val sortCols = (partitionCol +: orderCol +: keyCols).distinct
    val tieBreaks = df.schema.fields.collect {
      case StructField(n, _: NumericType | _: StringType | BinaryType | BooleanType |
          DateType | TimestampType | TimestampNTZType, _, _) if !sortCols.contains(n) => n
    }
    val partitioned = df
      .repartition(col(partitionCol))
      .sortWithinPartitions((sortCols ++ tieBreaks).map(n => col(s"`${n.replace("`", "``")}`")): _*)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    partitioned.mapPartitions { rows =>
      val memory = new Array[Long](slotCount) // one slot array per partition
      rows.map { row =>
        val props = keyIdx.map(i => String.valueOf(row.get(i)))
        val (slot, signature) = slotAndSignature(slotCount, props: _*)
        val dup = memory(slot) == signature
        memory(slot) = signature
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ dup)
      }
    }(enc)
  }
}
