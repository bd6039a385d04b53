package graft.topology

import graft.SparkSpec
import graft.sinks.AvroFileSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Wiring permutations from the reference's topology fixtures
  * (`ServerSinkSourceConfigurationTest.java`): shared sources, shared sinks,
  * schema-conflict rejection, discard flags. */
class TopologySpec extends SparkSpec {
  import spark.implicits._

  private def events: DataFrame = Seq(
    ("e1", false, false), ("e2", true, false), ("e3", false, true)
  ).toDF("eventId", "detectedCorruption", "detectedDuplicate")

  private val passThrough: DataFrame => DataFrame = identity

  private def persistedRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Stream sink writers that keep the `eventId`s each sink received. */
  private final class Collected {
    private val ids = new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
    def writer(sink: String): (DataFrame, String) => Any = (df, _) => {
      val got = df.select("eventId").as[String].collect().toVector
      ids.merge(sink, got, _ ++ _)
    }
    def apply(sink: String): Seq[String] = ids.getOrDefault(sink, Vector.empty)
  }

  /** The spine's shape: `all` to one sink, `clean` (both discard flags,
    * same mapper) to two. */
  private def allClean(mapper: DataFrame => DataFrame): Topology = new Topology(
    mappings = Seq(
      MappingSpec("all", Seq("browser"), mapper, "s"),
      MappingSpec("clean", Seq("browser"), mapper, "s",
        discardCorrupted = true, discardDuplicates = true)),
    sinks = Seq(SinkSpec("avro", Seq("all")), SinkSpec("kafka", Seq("clean")),
      SinkSpec("pubsub", Seq("clean"))))

  test("many-to-many fan-out: one source, two mappings, shared sink") {
    val t = new Topology(
      mappings = Seq(
        MappingSpec("m1", Seq("browser"), passThrough, "schemaA"),
        MappingSpec("m2", Seq("browser"), _.withColumn("eventId", upper(col("eventId"))), "schemaA")),
      sinks = Seq(SinkSpec("hdfs", Seq("m1", "m2")), SinkSpec("kafka", Seq("m1"))))
    val out = t(Map("browser" -> events))
    assert(out("hdfs").count() === 6) // union of both mappings
    assert(out("kafka").count() === 3)
  }

  test("discard flags filter corrupt/duplicate events per mapping") {
    val t = new Topology(
      mappings = Seq(MappingSpec("m", Seq("src"), passThrough, "s",
        discardCorrupted = true, discardDuplicates = true)),
      sinks = Seq(SinkSpec("out", Seq("m"))))
    val rows = t(Map("src" -> events))("out").select("eventId").as[String].collect()
    assert(rows === Array("e1"))
  }

  test("schema conflict on a shared sink is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      new Topology(
        mappings = Seq(
          MappingSpec("m1", Seq("s"), passThrough, "schemaA"),
          MappingSpec("m2", Seq("s"), passThrough, "schemaB")),
        sinks = Seq(SinkSpec("shared", Seq("m1", "m2"))))
    }
    assert(e.getMessage.contains("multiple schemas"))
  }

  test("unknown mapping reference is rejected") {
    intercept[IllegalArgumentException] {
      new Topology(Seq.empty, Seq(SinkSpec("s", Seq("ghost"))))
    }
  }

  test("NULL discard flags keep the row; heterogeneous sources union by name") {
    // a JSON-shaped source has no transport duplicate column -> the
    // mapping surfaces detectedDuplicate = NULL; discard must treat NULL
    // as false (the reference's primitive-boolean default), not drop ALL
    val jsonish = Seq(("j1", false), ("j2", false))
      .toDF("eventId", "detectedCorruption")
      .withColumn("detectedDuplicate", lit(null).cast("boolean"))
      .withColumn("bodyOversized", lit(false))
    val browserish = Seq(("b1", false, false))
      .toDF("eventId", "detectedCorruption", "detectedDuplicate")
    val t = new Topology(
      mappings = Seq(MappingSpec("m", Seq("browser", "json"), passThrough,
        "schemaA", discardCorrupted = true, discardDuplicates = true)),
      sinks = Seq(SinkSpec("hdfs", Seq("m"))))
    val out = t(Map("browser" -> browserish, "json" -> jsonish))
    // 1 browser + 2 json rows survive; the browser row's missing
    // bodyOversized unions in as NULL rather than failing analysis
    assert(out("hdfs").select("eventId").as[String].collect().sorted
      === Array("b1", "j1", "j2"))
  }

  test("a sink naming no mappings defaults to all; duplicate sink names reject") {
    val t = new Topology(
      mappings = Seq(
        MappingSpec("m1", Seq("browser"), passThrough, "schemaA"),
        MappingSpec("m2", Seq("browser"), passThrough, "schemaA")),
      sinks = Seq(SinkSpec("hdfs", Seq.empty)))
    assert(t(Map("browser" -> events))("hdfs").count() === 6)
    assertThrows[IllegalArgumentException] {
      new Topology(
        mappings = Seq(MappingSpec("m1", Seq("browser"), passThrough, "schemaA")),
        sinks = Seq(SinkSpec("hdfs", Seq("m1")), SinkSpec("hdfs", Seq("m1"))))
    }
  }

  test("plan-equal mappings evaluate their mapper once for all their sinks") {
    val calls = spark.sparkContext.longAccumulator("mapper-rows")
    val tag = udf { (id: String) => calls.add(1); id.length }
    // a shuffled source, so the optimizer cannot fold the mapper into a
    // local relation on the driver
    val out = allClean(_.withColumn("idLen", tag(col("eventId"))))(
      Map("browser" -> events.repartition(2)))
    assert(out("avro").collect().map(_.getAs[String]("eventId")).sorted === Array("e1", "e2", "e3"))
    assert(out("kafka").collect().map(_.getAs[String]("eventId")) === Array("e1"))
    assert(out("pubsub").collect().map(_.getAs[String]("eventId")) === Array("e1"))
    assert(calls.value === 3L) // one call per input row, not per sink
  }

  test("a shared frame is persisted lazily, at AQE's coalesced partitioning") {
    val keyed = events.repartition(col("eventId"))
    val unrouted = keyed.rdd.getNumPartitions
    assert(unrouted < 8 * 4, "AQE coalesces the 8 x cores shuffle partitions")
    val before = persistedRddIds
    val out = allClean(passThrough)(Map("browser" -> keyed))
    assert((persistedRddIds -- before).isEmpty, "apply persists nothing")
    assert(out("avro").rdd.getNumPartitions === unrouted)
    assert(out("kafka").rdd.getNumPartitions === unrouted)
    assert(out("avro").count() === 3 && out("kafka").count() === 1)
    val added = persistedRddIds -- before
    assert(added.size === 1, "both sinks read one persisted group")
    assert(spark.sparkContext.getPersistentRDDs(added.head).getNumPartitions === unrouted)
  }

  /** Route, read every sink, and return the id of the RDD the topology
    * persisted; nothing else of the routing outlives this call. */
  private def routeAndDrop(): Int = {
    val before = persistedRddIds
    allClean(passThrough)(Map("browser" -> events.repartition(2))).values.foreach(_.collect())
    val Seq(id) = (persistedRddIds -- before).toSeq
    id
  }

  test("a shared frame's storage is freed once the routed frames are dropped") {
    val freed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = { freed.add(e.rddId); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val id = routeAndDrop()
      // ContextCleaner unpersists an RDD after a GC finds it unreachable
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!freed.contains(id) && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
      assert(freed.contains(id))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a mapping that lists a source twice reads it once") {
    val t = new Topology(
      mappings = Seq(MappingSpec("m", Seq("browser", "browser"), passThrough, "s")),
      sinks = Seq(SinkSpec("hdfs", Seq("m"))))
    assert(t(Map("browser" -> events))("hdfs").count() === 3)
  }

  test("streaming sources route through unmaterialized") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Boolean, Boolean)]
    val stream = input.toDF().toDF("eventId", "detectedCorruption", "detectedDuplicate")
    val before = persistedRddIds
    val got = new Collected
    val q = allClean(passThrough).start(Map("browser" -> stream),
      Seq("avro", "kafka", "pubsub").map(s => s -> got.writer(s)).toMap, tmpDir("topology-cp"))
    try {
      input.addData(("e1", false, false), ("e2", true, false), ("e3", false, true))
      q.processAllAvailable()
      assert(got("kafka") === Seq("e1"))
    } finally q.stop()
    assert((persistedRddIds -- before).isEmpty)
  }

  test("apply rejects a streaming source and names start; start wants one writer per sink") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Boolean, Boolean)].toDF()
      .toDF("eventId", "detectedCorruption", "detectedDuplicate")
    val e = intercept[IllegalArgumentException](allClean(passThrough)(Map("browser" -> stream)))
    assert(e.getMessage.contains("Topology.start"))
    intercept[IllegalArgumentException] {
      allClean(passThrough).start(Map("browser" -> stream),
        Map("avro" -> new Collected().writer("avro")), tmpDir("topology-cp"))
    }
  }

  test("start: a 2-source, 2-mapping, 3-sink stream is one query that maps each event " +
       "once per batch and keeps nothing persisted") {
    implicit val sqlCtx = spark.sqlContext
    val browser = MemoryStream[(String, Boolean, Boolean)]
    val json = MemoryStream[(String, Boolean)]
    val calls = spark.sparkContext.longAccumulator("stream-mapper-rows")
    val tag = udf { (id: String) => calls.add(1); id.length }
    val mapper: DataFrame => DataFrame = _.withColumn("idLen", tag(col("eventId")))
    val t = new Topology(
      mappings = Seq(
        MappingSpec("all", Seq("browser", "json"), mapper, "s"),
        MappingSpec("clean", Seq("browser", "json"), mapper, "s",
          discardCorrupted = true, discardDuplicates = true)),
      sinks = Seq(SinkSpec("avro", Seq("all")), SinkSpec("kafka", Seq("clean")),
        SinkSpec("pubsub", Seq("clean"))))
    val got = new Collected
    val active = spark.streams.active.length
    val before = persistedRddIds
    val q = t.start(
      Map("browser" -> browser.toDF().toDF("eventId", "detectedCorruption", "detectedDuplicate"),
        "json" -> json.toDF().toDF("eventId", "detectedCorruption")),
      Seq("avro", "kafka", "pubsub").map(s => s -> got.writer(s)).toMap, tmpDir("topology-cp"))
    try {
      assert(spark.streams.active.length === active + 1)
      browser.addData(("b1", false, false), ("b2", true, false), ("b3", false, true))
      json.addData(("j1", false), ("j2", true))
      q.processAllAvailable()
      assert(calls.value === 5L) // one call per event, not one per sink
      assert((persistedRddIds -- before).isEmpty, "each batch releases what it persisted")
      browser.addData(("b4", false, false))
      q.processAllAvailable()
      assert(calls.value === 6L)
    } finally q.stop()
    assert((persistedRddIds -- before).isEmpty)
    assert(got("avro").sorted === Seq("b1", "b2", "b3", "b4", "j1", "j2"))
    // the JSON source has no duplicate flag: NULL keeps the row
    assert(got("kafka").sorted === Seq("b1", "b4", "j1"))
    assert(got("pubsub").sorted === Seq("b1", "b4", "j1"))
  }

  test("start: a stream killed after batch k resumes to the uninterrupted and the batch output") {
    val root = tmpDir("topology-parity")
    val (browserDir, jsonDir) = (s"$root/browser", s"$root/json")
    (0 until 3).foreach { i =>
      Seq((s"b$i-1", false, false), (s"b$i-2", i == 1, false), (s"b$i-3", false, i == 2))
        .toDF("eventId", "detectedCorruption", "detectedDuplicate")
        .coalesce(1).write.mode("append").parquet(browserDir)
      Seq((s"j$i-1", i == 0)).toDF("eventId", "detectedCorruption")
        .coalesce(1).write.mode("append").parquet(jsonDir)
    }
    val t = new Topology(
      mappings = Seq(
        MappingSpec("all", Seq("browser", "json"), _.withColumn("idLen", length(col("eventId"))), "s"),
        MappingSpec("clean", Seq("browser"), _.withColumn("idLen", length(col("eventId"))), "s",
          discardCorrupted = true, discardDuplicates = true)),
      sinks = Seq(SinkSpec("avro", Seq("all", "clean"))))
    val batch = t(Map("browser" -> spark.read.parquet(browserDir), "json" -> spark.read.parquet(jsonDir)))
    val schema = org.apache.spark.sql.types.StructType(batch("avro").schema.map(_.copy(nullable = true)))
    def contents(dir: String): Seq[String] =
      AvroFileSink.readBackDf(spark, dir, schema).collect().map(_.toString).sorted.toSeq
    /** Stream every file, one per source per batch; the writer throws once
      * it has written `dieAfter` batches plus one. */
    def run(out: String, cp: String, dieAfter: Int = Int.MaxValue): Unit = {
      val written = new java.util.concurrent.atomic.AtomicInteger
      def stream(dir: String) = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      t.start(Map("browser" -> stream(browserDir), "json" -> stream(jsonDir)),
        Map("avro" -> ((df: DataFrame, stamp: String) => {
          AvroFileSink.write(df, out, "parity", stamp = Some(stamp))
          if (written.incrementAndGet() > dieAfter)
            throw new IllegalStateException("killed after the sink wrote")
        })), cp, Trigger.AvailableNow()).awaitTermination()
    }
    AvroFileSink.write(batch("avro"), s"$root/batch", "parity")
    val expected = contents(s"$root/batch")
    assert(expected.size === 19) // all: 9 browser + 3 json; clean: 7 browser
    run(s"$root/whole", s"$root/whole-cp")
    assert(contents(s"$root/whole") === expected)
    val before = persistedRddIds
    Seq(1, 2).foreach { k =>
      val (out, cp) = (s"$root/killed-$k", s"$root/killed-$k-cp")
      val e = intercept[StreamingQueryException](run(out, cp, dieAfter = k))
      assert(e.getMessage.contains("killed after the sink wrote"))
      run(out, cp)
      assert(contents(out) === expected, s"killed after batch $k")
    }
    assert((persistedRddIds -- before).isEmpty)
  }

  test("mappings that differ only by an output name keep their own columns") {
    val t = new Topology(
      mappings = Seq(
        MappingSpec("m1", Seq("browser"), _.select(col("eventId").as("party_id")), "a"),
        MappingSpec("m2", Seq("browser"), _.select(col("eventId").as("pid")), "b"),
        MappingSpec("m3", Seq("browser"),
          _.select(col("eventId").as("x"), upper(col("eventId")).as("y")), "c"),
        MappingSpec("m4", Seq("browser"),
          _.select(col("eventId").as("y"), upper(col("eventId")).as("x")), "d")),
      sinks = Seq(SinkSpec("s1", Seq("m1")), SinkSpec("s2", Seq("m2")),
        SinkSpec("s3", Seq("m3")), SinkSpec("s4", Seq("m4"))))
    val out = t(Map("browser" -> events))
    assert(out("s1").columns === Array("party_id"))
    assert(out("s2").columns === Array("pid"))
    assert(out("s2").as[String].collect().sorted === Array("e1", "e2", "e3"))
    assert(out("s3").columns === Array("x", "y"))
    assert(out("s4").columns === Array("y", "x"))
    assert(out("s4").select("x").as[String].collect().sorted === Array("E1", "E2", "E3"))
  }

  test("mappings with different mappers over one source read it once") {
    val calls = spark.sparkContext.longAccumulator("source-rows")
    val tag = udf { (id: String) => calls.add(1); id.length }
    val source = events.repartition(2).withColumn("idLen", tag(col("eventId")))
    // the pipeline's shape: `all` to two sinks, `purchases` to one of them
    val t = new Topology(
      mappings = Seq(
        MappingSpec("all", Seq("browser"), passThrough, "s"),
        MappingSpec("purchases", Seq("browser"), _.filter(col("eventId") === "e1"), "s")),
      sinks = Seq(SinkSpec("files", Seq("all", "purchases")), SinkSpec("kafka", Seq("all"))))
    val before = persistedRddIds
    val out = t(Map("browser" -> source))
    assert(out("files").count() === 4)
    assert(out("kafka").count() === 3)
    assert(out("files").collect().length === 4)
    assert(calls.value === 3L) // one call per source row
    assert((persistedRddIds -- before).size === 1, "the identity mapping reuses the persisted source")
  }

  test("each mapping's union keeps its own source order") {
    val browser = Seq(("e1", "b")).toDF("eventId", "browserOnly")
    val json = Seq(("e2", "j")).toDF("eventId", "jsonOnly")
    val t = new Topology(
      mappings = Seq(
        MappingSpec("jb", Seq("json", "browser"), passThrough, "a"),
        MappingSpec("bj", Seq("browser", "json"), passThrough, "b")),
      sinks = Seq(SinkSpec("s1", Seq("jb")), SinkSpec("s2", Seq("bj"))))
    val out = t(Map("browser" -> browser, "json" -> json))
    assert(out("s1").columns === Array("eventId", "jsonOnly", "browserOnly"))
    assert(out("s2").columns === Array("eventId", "browserOnly", "jsonOnly"))
  }
}
