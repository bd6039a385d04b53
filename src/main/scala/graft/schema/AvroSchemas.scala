package graft.schema

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.io.ByteArrayOutputStream
import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** The engine's one Avro codec: the Avro ⇄ Spark type map in both
  * directions and the value conversion that goes with it, shared by the
  * Avro file sink, the topic sinks and the topic source.
  *
  * Avro → Spark (`.avsc` loading) follows the reference's type rules
  * (SURVEY.md §1.2; reference `recordmapping/AvroGenericRecordMapper
  * .java:77-115,324-362`, `DslRecordMapping.java:975-985,1186-1196`):
  *
  *  - unions must be trivial `[null, T]` → a nullable Spark field; any other
  *    union is rejected at schema-load time (the reference's compile-time
  *    `SchemaMappingException` becomes an `IllegalArgumentException` here);
  *  - `enum` → string, `fixed` → binary (spark-avro's public convention);
  *  - timestamps stay epoch-millis longs (no logical types);
  *  - field defaults are preserved so the mapping DSL can leave unmapped /
  *    absent fields at their schema default.
  *
  * Spark → Avro ([[toAvroSchema]], the sink side) is the inverse: a nullable
  * field becomes `[null, T]` with a null default, short/byte widen to int,
  * timestamp and timestamp_ntz become epoch-millis longs (sub-ms precision
  * truncates on the wire), maps need string keys. The record's fields are
  * the struct's fields in order, so rows convert to and from records by
  * position. Decoding always goes through a reader schema derived from the
  * target `StructType`, so where the writer schema is known (a container
  * file's header) Avro's own resolution does schema evolution: a field the
  * writer lacks reads as its null default and an int written where the
  * reader wants long (or float/double) is promoted.
  */
object AvroSchemas {

  final case class Field(name: String, dataType: DataType, nullable: Boolean,
                         default: Option[Any])

  def parse(avsc: String): Schema = new Schema.Parser().parse(avsc)

  def fields(record: Schema): Seq[Field] = fields(record, Set.empty)

  private def fields(record: Schema, seen: Set[String]): Seq[Field] = {
    // SELF-referential records are legal Avro but have no finite StructType:
    // reject them cleanly (the contract's IllegalArgumentException) instead
    // of recursing RECORD -> UNION -> RECORD into a StackOverflowError
    require(!seen.contains(record.getFullName),
      s"recursive record schemas are not representable as StructType: ${record.getFullName}")
    val seen2 = seen + record.getFullName
    record.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = convert(f.schema(), seen2)
      Field(f.name(), dt, nullable, defaultValue(f))
    }
  }

  /** (sparkType, nullable). */
  def convert(s: Schema): (DataType, Boolean) = convert(s, Set.empty)

  private def convert(s: Schema, seen: Set[String]): (DataType, Boolean) = s.getType match {
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT     => (IntegerType, false)
    case Schema.Type.LONG    => (LongType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.STRING  => (StringType, false)
    case Schema.Type.BYTES   => (BinaryType, false)
    case Schema.Type.ENUM    => (StringType, false)
    case Schema.Type.FIXED   => (BinaryType, false)
    case Schema.Type.ARRAY   =>
      val (elem, elemNullable) = convert(s.getElementType, seen)
      (ArrayType(elem, containsNull = elemNullable), false)
    case Schema.Type.MAP     =>
      val (v, vNullable) = convert(s.getValueType, seen)
      (MapType(StringType, v, valueContainsNull = vNullable), false)
    case Schema.Type.RECORD  =>
      (StructType(fields(s, seen).map(f =>
        StructField(f.name, f.dataType, f.nullable))), false)
    case Schema.Type.UNION   =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 2 && nonNull.size == 1,
        s"only trivial [null, T] unions are supported, got: $s")
      val (dt, _) = convert(nonNull.head, seen)
      (dt, true)
    case Schema.Type.NULL    => (NullType, true)
  }

  private def defaultValue(f: Schema.Field): Option[Any] = {
    if (!f.hasDefaultValue) return None
    val json = f.defaultVal()
    json match {
      case null | org.apache.avro.JsonProperties.NULL_VALUE => Some(null)
      case v: java.lang.Number => Some(v)
      case v: java.lang.Boolean => Some(v)
      case v: CharSequence => Some(v.toString)
      case _ => None // complex defaults: treated as unset (null)
    }
  }

  /** The sink schema of a struct: one Avro field per Spark field, in order;
    * a nested struct becomes a record named `<parent>_<field>`. */
  def toAvroSchema(struct: StructType, recordName: String = "graft_record",
                   namespace: String = "graft"): Schema = {
    val fields = struct.fields.map { f =>
      val base = fieldSchema(f.dataType, s"${recordName}_${f.name}")
      val sch = if (f.nullable) nullable(base) else base
      new Schema.Field(f.name, sch,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(recordName, null, namespace, false, fields.toList.asJava)
  }

  private def nullable(s: Schema): Schema = Schema.createUnion(Schema.create(Schema.Type.NULL), s)

  private def fieldSchema(dt: DataType, name: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType | TimestampNTZType => Schema.create(Schema.Type.LONG) // epoch-millis
    case ArrayType(elem, containsNull) =>
      val e = fieldSchema(elem, name + "_item")
      Schema.createArray(if (containsNull) nullable(e) else e)
    case MapType(StringType, v, valueContainsNull) =>
      val vs = fieldSchema(v, name + "_value")
      Schema.createMap(if (valueContainsNull) nullable(vs) else vs)
    case s: StructType => toAvroSchema(s, name)
    case other => throw new IllegalArgumentException(s"unsupported sink type: $other")
  }

  /** Per-executor parsed schema with its datum writer and reader, keyed by
    * the schema JSON that closures ship (parsing and reader/writer set-up
    * are too slow for per-row use). Both are safe to share across task
    * threads: the writer holds only its schema, the reader keeps its
    * resolver per thread. */
  private final class Codec(json: String) {
    val schema: Schema = parse(json)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val reader = new GenericDatumReader[GenericRecord](schema)
  }
  private val codecs = new java.util.concurrent.ConcurrentHashMap[String, Codec]()
  private def codec(json: String): Codec = codecs.computeIfAbsent(json, new Codec(_))

  /** The parsed schema of `json`, from the per-executor cache. */
  def cachedSchema(json: String): Schema = codec(json).schema

  /** One row as a naked Avro binary datum of `schemaJson`, which must be
    * [[toAvroSchema]] of the row's struct. */
  def encode(row: Row, schemaJson: String): Array[Byte] = {
    val c = codec(schemaJson)
    val out = new ByteArrayOutputStream()
    val encoder = EncoderFactory.get().binaryEncoder(out, null)
    c.writer.write(toRecord(row, c.schema), encoder)
    encoder.flush()
    out.toByteArray
  }

  /** The naked datum at `bytes[offset..]`, written under `schemaJson`
    * (= [[toAvroSchema]] of `struct`), as a row of `struct`. Throws on a
    * body that is not such a datum. */
  def decode(bytes: Array[Byte], offset: Int, struct: StructType, schemaJson: String): Row =
    fromRecord(codec(schemaJson).reader.read(null,
      DecoderFactory.get().binaryDecoder(bytes, offset, bytes.length - offset, null)), struct)

  /** A row as a record of `schema` ([[toAvroSchema]] of the row's struct),
    * field i from column i. */
  def toRecord(row: Row, schema: Schema): GenericData.Record = {
    val rec = new GenericData.Record(schema)
    val fields = schema.getFields
    var i = 0
    while (i < row.length) {
      rec.put(i, toAvro(row.get(i), fields.get(i).schema()))
      i += 1
    }
    rec
  }

  /** Only containers need their schema: a nested record takes its record
    * schema, the `[null, T]` unions [[toAvroSchema]] builds keep T second. */
  private def toAvro(v: Any, s: Schema): Any = v match {
    case null => null
    case r: Row => toRecord(r, nonNull(s))
    case seq: scala.collection.Seq[_] =>
      val e = nonNull(s).getElementType
      seq.map(toAvro(_, e)).asJava
    case m: scala.collection.Map[_, _] =>
      val vs = nonNull(s).getValueType
      m.map { case (k, mv) => k.toString -> toAvro(mv, vs) }.asJava
    case sh: java.lang.Short => sh.intValue
    case b: java.lang.Byte => b.intValue
    case ts: java.sql.Timestamp => ts.getTime
    case ts: Instant => ts.toEpochMilli
    case ts: LocalDateTime => ts.toInstant(ZoneOffset.UTC).toEpochMilli
    case bytes: Array[Byte] => java.nio.ByteBuffer.wrap(bytes)
    case other => other
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) s.getTypes.get(1) else s

  /** A record read through [[toAvroSchema]]`(struct)` as its reader schema
    * (so already in the struct's shape) as a row of `struct`, field i to
    * column i. */
  def fromRecord(rec: GenericRecord, struct: StructType): Row =
    Row.fromSeq(struct.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      fromAvro(rec.get(i), f.dataType)
    })

  /** Inverts [[toAvro]]: strings arrive as Utf8, bytes as ByteBuffer, arrays
    * and maps as java collections, and the widened scalars narrow back. */
  private def fromAvro(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case StringType => v.toString
    case BinaryType =>
      val b = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val arr = new Array[Byte](b.remaining()); b.get(arr); arr
    case s: StructType => fromRecord(v.asInstanceOf[GenericRecord], s)
    case ArrayType(e, _) => v.asInstanceOf[java.util.Collection[_]].asScala.toSeq.map(fromAvro(_, e))
    case MapType(_, vt, _) =>
      v.asInstanceOf[java.util.Map[_, _]].asScala.map { case (k, mv) => k.toString -> fromAvro(mv, vt) }.toMap
    case TimestampType => new java.sql.Timestamp(v.asInstanceOf[Long])
    case TimestampNTZType => LocalDateTime.ofInstant(Instant.ofEpochMilli(v.asInstanceOf[Long]), ZoneOffset.UTC)
    case ShortType => v.asInstanceOf[Int].toShort
    case ByteType => v.asInstanceOf[Int].toByte
    case _ => v
  }
}
