package graft.state

import com.google.common.hash.Hashing
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Probabilistic duplicate flagging with the reference's slot-memory
  * semantics (`ShortTermDuplicateMemory.java:108-178`): murmur3_128 over the
  * event's identifying properties (UTF-16, Guava `putUnencodedChars`), slot
  * chosen by the byte-swapped low int of h1 mod slot count, 64-bit signature
  * from byte-swapped h2; compare-and-overwrite — a FLAG, not a filter, and
  * deliberately approximate (false positives on slot collisions after
  * overwrite, exactly like the reference).
  *
  * Distribution model: the slot array is keyed state. Rows are grouped by
  * slot and each slot folds its rows through [[Streams.keyedFold]], its
  * state the one long the slot last held (0 at first), so the memory
  * scales with the shuffle and holds at most `slotCount` keys. On a batch
  * frame the fold is a plain grouped map, and a slot's rows fold in the
  * order of one global sort (party, then arrival time, then the tie
  * breaks below): the same flags as one sequential pass over that sorted
  * frame with one slot array, whatever the partitioning. On a streaming
  * frame the slot's last signature carries across micro-batches, each
  * batch folding in that order, so a stream flags exactly what the batch
  * flags over the same events when (1) batches arrive in event-time order
  * and (2) no slot holds two parties' events across a batch boundary —
  * in a batch those fold party by party, in a stream batch by batch. The
  * second case is the reference's own approximation: its memory is per
  * mapper thread (`IncomingRequestProcessor.java:150-151`), and colliding
  * parties meet in arrival order.
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

  /** Flag probable duplicates on a batch or streaming frame. Appends a
    * non-null `duplicate` boolean column.
    *
    * @param keyCols   identifying properties, hashed in order as their
    *                  `String.valueOf` (a null hashes as "null"; the
    *                  reference uses partyId, sessionId, eventId —
    *                  `IncomingRequestProcessor.java:150-151`)
    * @param partitionCol the party: a slot's rows fold party by party
    * @param orderCol  processing order within a party (arrival time)
    * @param slotCount slots in the memory (reference default 1M/thread)
    *
    * A slot's rows fold in ascending (`partitionCol`, `orderCol`, key
    * columns, remaining atomic columns in schema order), nulls first, each
    * column compared as a Spark sort compares it (strings by UTF-8 bytes,
    * not `String.compareTo`), so which of two same-instant repeats carries
    * the flag does not depend on arrival order. The class scaladoc states
    * when a stream flags what the batch flags.
    */
  def flagDuplicates(df: DataFrame, keyCols: Seq[String], partitionCol: String,
                     orderCol: String, slotCount: Int = 1 << 20): DataFrame = {
    val fields = df.schema.fields
    val width = fields.length
    val sortCols = (partitionCol +: orderCol +: keyCols).distinct
    val tieBreaks = fields.collect {
      case StructField(n, _: NumericType | _: StringType | BinaryType | BooleanType |
          DateType | TimestampType | TimestampNTZType, _, _) if !sortCols.contains(n) => n
    }
    val order = (sortCols ++ tieBreaks).map(df.schema.fieldIndex).map(ascending(fields)).reduce(_ orElse _)
    val slotSig = udf { (key: Row) =>
      slotAndSignature(slotCount, (0 until key.length).map(i => String.valueOf(key.get(i))): _*)
    }
    // the (slot, signature) struct rides after the input columns, read by
    // position; its name is longer than any input column's, so it is fresh
    val slotSigCol = "_" * (fields.map(_.name.length).max + 1)
    val slotted = df.select(col("*"),
      slotSig(struct(keyCols.map(k => df.col(s"`${k.replace("`", "``")}`")): _*)).as(slotSigCol))
    val slots = slotted.groupBy(slotted.col(s"$slotSigCol._1"))
      .as[Int, Row](Encoders.scalaInt, Encoders.row(slotted.schema))
    val out = Encoders.row(StructType(fields :+ StructField("duplicate", BooleanType, nullable = false)))
    Streams.keyedFold(slots, OutputMode.Append)(order, 0L) { (_, held, rows) =>
      var current = held
      val flagged = rows.map { row =>
        val signature = row.getStruct(width).getLong(1)
        val dup = current == signature
        current = signature
        Row.fromSeq((0 until width).map(row.get) :+ dup)
      }
      (current, flagged.iterator)
    }(Encoders.scalaLong, out)
  }

  /** A Spark sort's order on column `i`: ascending, nulls first, values
    * compared as Catalyst compares them (strings by UTF-8 bytes). */
  private def ascending(fields: Array[StructField])(i: Int): Ordering[Row] = {
    val internal = CatalystTypeConverters.createToCatalystConverter(fields(i).dataType)
    Ordering.Option(PhysicalDataType.ordering(fields(i).dataType)).on(r => Option(internal(r.get(i))))
  }
}
