package graft.dsl

import graft.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's built-in default mapping — field-for-field the reference's
  * `DefaultEventRecord` mapping (`Mapping.java:70-100`;
  * `docs/mapping_reference.rst:50-81`): transport/session fields plus the
  * parsed user-agent enrichment.
  *
  * The UA string is parsed ONCE into a hidden struct column and projected
  * (reference memoizes the producer for the same reason,
  * `DslRecordMapping.java:340`); the UDF is the only non-codegen expression
  * here and runs once per row regardless of how many UA fields are mapped.
  */
object DefaultMapping {

  val schema: StructType = StructType(Seq(
    StructField("detectedDuplicate", BooleanType),
    StructField("detectedCorruption", BooleanType),
    StructField("firstInSession", BooleanType),
    StructField("timestamp", LongType),
    StructField("clientTimestamp", LongType),
    StructField("remoteHost", StringType),
    StructField("referer", StringType),
    StructField("location", StringType),
    StructField("viewportPixelWidth", IntegerType),
    StructField("viewportPixelHeight", IntegerType),
    StructField("screenPixelWidth", IntegerType),
    StructField("screenPixelHeight", IntegerType),
    StructField("partyId", StringType),
    StructField("sessionId", StringType),
    StructField("pageViewId", StringType),
    StructField("eventType", StringType),
    StructField("userAgentString", StringType),
    StructField("userAgentName", StringType),
    StructField("userAgentFamily", StringType),
    StructField("userAgentVendor", StringType),
    StructField("userAgentType", StringType),
    StructField("userAgentVersion", StringType),
    StructField("userAgentDeviceCategory", StringType),
    StructField("userAgentOsFamily", StringType),
    StructField("userAgentOsVersion", StringType),
    StructField("userAgentOsVendor", StringType)))

  // Native expression: one InternalRow per parse (per-thread LRU inside),
  // no reflective serializer. Still pinned to evaluate once via a dedicated
  // projection below.
  private def uaParse(c: org.apache.spark.sql.Column, dbPath: Option[String]) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.UaParse(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), dbPath))

  /** Map a decoded event frame (BrowserSource/JsonSource output; transport
    * columns `requestTimestamp`/`remoteHost`/`userAgentString`/`duplicate`
    * used when present) onto DefaultEventRecord. */
  def apply(events: DataFrame): DataFrame = {
    def has(c: String) = events.columns.contains(c)
    def optCol(c: String, dt: DataType) =
      if (has(c)) col(c) else lit(null).cast(dt)
    // JSON-source events carry no browser sub-record (DivolteEvent.java:94-105)
    def bCol(field: String, dt: DataType) =
      if (has("browser")) col(s"browser.$field") else lit(null).cast(dt)

    // `spark.graft.ua.database` (optional): a uap-core regexes.yaml path
    // refining the built-in UA heuristics — the reference's pluggable
    // uadetector database slot (`user_agent_parser` config). Resolved at
    // plan time so the path travels with the serialized plan.
    val uaDb = GraftConf.UaDatabase.get(events.sparkSession)
    val withUa = events.withColumn("__ua",
      uaParse(optCol("userAgentString", StringType), uaDb))

    val mapping = MappingDsl.mapping(schema) { b =>
      b.map(optCol("duplicate", BooleanType)) onto "detectedDuplicate"
      b.map(col("corrupt")) onto "detectedCorruption"
      b.map(col("firstInSession")) onto "firstInSession"
      b.map(optCol("requestTimestamp", LongType)) onto "timestamp"
      b.map(col("clientTime")) onto "clientTimestamp"
      b.map(optCol("remoteHost", StringType)) onto "remoteHost"
      b.map(bCol("referer", StringType)) onto "referer"
      b.map(bCol("location", StringType)) onto "location"
      b.map(bCol("viewportPixelWidth", IntegerType)) onto "viewportPixelWidth"
      b.map(bCol("viewportPixelHeight", IntegerType)) onto "viewportPixelHeight"
      b.map(bCol("screenPixelWidth", IntegerType)) onto "screenPixelWidth"
      b.map(bCol("screenPixelHeight", IntegerType)) onto "screenPixelHeight"
      b.map(col("partyId")) onto "partyId"
      b.map(col("sessionId")) onto "sessionId"
      b.map(bCol("pageViewId", StringType)) onto "pageViewId"
      b.map(col("eventType")) onto "eventType"
      b.map(optCol("userAgentString", StringType)) onto "userAgentString"
      b.map(col("__ua.name")) onto "userAgentName"
      b.map(col("__ua.family")) onto "userAgentFamily"
      b.map(col("__ua.vendor")) onto "userAgentVendor"
      b.map(col("__ua.uaType")) onto "userAgentType"
      b.map(col("__ua.version")) onto "userAgentVersion"
      b.map(col("__ua.deviceCategory")) onto "userAgentDeviceCategory"
      b.map(col("__ua.osFamily")) onto "userAgentOsFamily"
      b.map(col("__ua.osVersion")) onto "userAgentOsVersion"
      b.map(col("__ua.osVendor")) onto "userAgentOsVendor"
    }
    mapping(withUa)
  }
}
