package graft.state

import com.google.common.hash.Hashing
import graft.SparkSpec
import graft.sinks.AvroFileSink
import graft.topology.TopologyConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType
import graft.streaming.Streams

class DuplicateMemorySpec extends SparkSpec {
  import spark.implicits._

  test("slot/signature split is bit-parity with the reference's Guava use") {
    val props = Seq("0:1:party", "0:1:session", "ev42")
    val hasher = Hashing.murmur3_128().newHasher()
    props.foreach(hasher.putUnencodedChars)
    val bytes = hasher.hash().asBytes()
    val expectedSlotSel =
      ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
        ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    var expectedSig = 0L
    (8 until 16).foreach(i => expectedSig = (expectedSig << 8) | (bytes(i) & 0xffL))
    val slots = 1 << 20
    val (slot, sig) = DuplicateMemory.slotAndSignature(slots, props: _*)
    assert(slot === (expectedSlotSel & Int.MaxValue) % slots)
    assert(sig === expectedSig)
  }

  test("repeated event keys are flagged, first occurrence is not") {
    val df = Seq(
      ("p1", "s1", "e1", 1L), ("p1", "s1", "e2", 2L),
      ("p1", "s1", "e1", 3L), // duplicate of the first
      ("p2", "s2", "e1", 4L)  // same eventId, different party -> distinct
    ).toDF("partyId", "sessionId", "eventId", "ts")
    val flagged = DuplicateMemory
      .flagDuplicates(df, Seq("partyId", "sessionId", "eventId"), "partyId", "ts")
      .orderBy("ts").select("eventId", "duplicate").as[(String, Boolean)].collect()
    assert(flagged === Array(("e1", false), ("e2", false), ("e1", true), ("e1", false)))
  }

  test("a same-instant repeat flags the same row in either arrival order") {
    // one input partition, so the rows reach the sort in the order given
    def flagged(rows: Seq[(String, String, String, Long, String)]): Seq[String] =
      DuplicateMemory
        .flagDuplicates(rows.toDF("partyId", "sessionId", "eventId", "ts", "payload")
          .coalesce(1), Seq("partyId", "sessionId", "eventId"), "partyId", "ts")
        .filter(col("duplicate")).select("payload").as[String].collect().toSeq
    val tie = Seq(("p1", "s1", "e1", 5L, "b"), ("p1", "s1", "e1", 5L, "a"))
    assert(flagged(tie) === Seq("b"))
    assert(flagged(tie.reverse) === Seq("b"))
  }

  test("distinct keys stay unflagged at realistic fill rates") {
    val df = (1 to 5000).map(i => (s"p${i % 50}", s"s$i", s"e$i", i.toLong))
      .toDF("partyId", "sessionId", "eventId", "ts")
    val dupes = DuplicateMemory
      .flagDuplicates(df, Seq("partyId", "sessionId", "eventId"), "partyId", "ts")
      .filter(col("duplicate")).count()
    assert(dupes === 0) // 5k distinct keys in 1M slots: collisions ~0
  }

  /** One seeded frame with resends across parties, same-instant repeats
    * that differ only in a tie-break column (strings that UTF-16 and UTF-8
    * order differently, binary bytes that signed and unsigned order
    * differently, dates), and null keys. */
  private def seededEvents(): DataFrame = {
    val rnd = new scala.util.Random(15)
    val base = (0 until 300).map { i =>
      val party = if (i % 37 == 0) null else s"p${rnd.nextInt(12)}"
      val session = if (i % 41 == 0) null else s"s${rnd.nextInt(3)}"
      val event = if (i % 43 == 0) null else s"e${rnd.nextInt(40)}"
      (party, session, event, rnd.nextInt(50).toLong,
        Array[Byte](rnd.nextInt(256).toByte), java.sql.Date.valueOf(s"2024-01-${1 + rnd.nextInt(28)}"),
        Seq("a", "\uFF21", "\uD83D\uDE00", "\u00E9")(rnd.nextInt(4)))
    }
    val resends = (0 until 60).map { _ =>
      val e = base(rnd.nextInt(base.size)); e.copy(_4 = e._4 + rnd.nextInt(20))
    }
    val repeats = (0 until 40).map { _ =>
      val e = base(rnd.nextInt(base.size))
      rnd.nextInt(3) match {
        case 0 => e.copy(_5 = Array[Byte]((e._5(0) ^ 0x80).toByte))
        case 1 => e.copy(_6 = java.sql.Date.valueOf("2023-12-31"))
        case _ => e.copy(_7 = if (e._7 == "\uFF21") "\uD83D\uDE00" else "\uFF21")
      }
    }
    rnd.shuffle(base ++ resends ++ repeats)
      .toDF("partyId", "sessionId", "eventId", "ts", "bin", "day", "note")
  }

  /** A row as comparable text: binary columns as their bytes. */
  private def shown(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  test("flags equal one sequential pass with one slot array over the sorted frame, " +
      "at any slot count and shuffle width") {
    val df = seededEvents()
    // Spark's own sort fixes the visiting order: party, time, ids, tie breaks
    val sorted = df.coalesce(1)
      .orderBy(Seq("partyId", "ts", "sessionId", "eventId", "bin", "day", "note").map(col): _*)
      .collect()
    // without the party among the keys, two parties' events share signatures
    for (keys <- Seq(Seq("partyId", "sessionId", "eventId"), Seq("sessionId", "eventId"))) {
      val flags = for (slotCount <- Seq(1 << 20, 64, 4); partitions <- Seq(1, 8)) yield {
        val memory = new Array[Long](slotCount)
        val expected = sorted.map { r =>
          val (slot, sig) = DuplicateMemory.slotAndSignature(slotCount,
            keys.map(k => String.valueOf(r.getAs[Any](k))): _*)
          val dup = memory(slot) == sig
          memory(slot) = sig
          shown(Row.fromSeq(r.toSeq :+ dup))
        }.sorted.toSeq
        // exactly `partitions` shuffle partitions: AQE must not coalesce them
        val width = Map("spark.sql.shuffle.partitions" -> partitions.toString,
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> partitions.toString,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
        val saved = width.keys.map(k => k -> spark.conf.get(k))
        width.foreach { case (k, v) => spark.conf.set(k, v) }
        val got = try DuplicateMemory.flagDuplicates(df, keys, "partyId", "ts", slotCount)
            .collect().map(shown).sorted.toSeq
          finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
        assert(got === expected, s"keys $keys, slotCount $slotCount, $partitions shuffle partitions")
        slotCount -> expected.count(_.endsWith("|true"))
      }
      // overwrites by other keys in a shared slot hide resends at 4 slots
      assert(flags.toMap.apply(4) < flags.toMap.apply(1 << 20), s"keys $keys")
    }
  }

  // ------------------------------------------------- batch/stream parity
  private val keyCols = Seq("partyId", "sessionId", "eventId")

  /** Write each batch as one parquet file of `dir`, in order. */
  private def stage(dir: String, files: Seq[Seq[(String, String, String, Long)]]): Unit =
    files.foreach(f => f.toDF("partyId", "sessionId", "eventId", "ts")
      .coalesce(1).write.mode("append").parquet(dir))

  /** Two mappings, `all` and `clean` (which discards duplicates), each to
    * its own sink; the mapper names the slot memory's flag as the
    * topology's duplicate flag. */
  private val topology = TopologyConfig.load("""
    |divolte {
    |  sources.browser.type = browser
    |  mappings {
    |    all = { sources = [browser], sinks = [everything] }
    |    clean = { sources = [browser], sinks = [deduped], discard_duplicates = true }
    |  }
    |  sinks { everything.type = hdfs, deduped.type = hdfs }
    |}""".stripMargin).toTopology(_ => _.withColumnRenamed("duplicate", "detectedDuplicate"))

  /** The topology's batch run over `src` (flagDuplicates, then apply,
    * then AvroFileSink.write) and its stream run (one file per trigger,
    * flagged inside the Topology.start query), each as its sinks' sorted
    * Avro read-back. `dieAfter` kills the stream once the `deduped`
    * writer has written that many batches plus one; the stream then
    * restarts from its checkpoint. */
  private final class Runs(src: String, slotCount: Int) {
    private val root = java.nio.file.Files.createTempDirectory("slot-parity").toString
    private val sinks = Seq("everything", "deduped")
    private def flagged(df: DataFrame) = DuplicateMemory.flagDuplicates(df, keyCols, "partyId", "ts", slotCount)
    private lazy val schema = StructType(topology(Map("browser" -> flagged(spark.read.parquet(src))))
      .apply("everything").schema.map(_.copy(nullable = true)))
    private def contents(out: String): Map[String, Seq[String]] = sinks.map(s =>
      s -> AvroFileSink.readBackDf(spark, s"$out/$s", schema).collect().map(_.toString).sorted.toSeq).toMap

    lazy val batch: Map[String, Seq[String]] = {
      val routed = topology(Map("browser" -> flagged(spark.read.parquet(src))))
      sinks.foreach(s => AvroFileSink.write(routed(s), s"$root/batch/$s", "parity"))
      contents(s"$root/batch")
    }

    def stream(name: String, dieAfter: Int = Int.MaxValue): Map[String, Seq[String]] = {
      val (out, cp) = (s"$root/$name", s"$root/$name-cp")
      def run(dieAfter: Int): Unit = {
        val written = new java.util.concurrent.atomic.AtomicInteger
        val source = spark.readStream.schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        topology.start(Map("browser" -> flagged(source)), sinks.map(s => s -> ((df: DataFrame, stamp: String) => {
          AvroFileSink.write(df, s"$out/$s", "parity", stamp = Some(stamp))
          if (s == "deduped" && written.incrementAndGet() > dieAfter)
            throw new IllegalStateException("killed after the sink wrote")
        })).toMap, cp, Trigger.AvailableNow()).awaitTermination()
      }
      if (dieAfter < Int.MaxValue) {
        val e = intercept[StreamingQueryException](run(dieAfter))
        assert(e.getMessage.contains("killed after the sink wrote"))
      }
      run(Int.MaxValue)
      contents(out)
    }
  }

  test("a stream of event-time-ordered files flags and discards what the batch run does, " +
      "also when killed after batch k and restarted") {
    val src = java.nio.file.Files.createTempDirectory("slot-parity-src").toString
    stage(src, Seq(
      Seq(("p1", "s1", "e1", 1L), ("p2", "s2", "e1", 2L), ("p1", "s1", "e2", 3L)),
      Seq(("p1", "s1", "e1", 4L), ("p3", "s3", "e7", 5L), ("p2", "s2", "e3", 6L)), // resend of p1 e1
      Seq(("p2", "s2", "e1", 7L), ("p3", "s3", "e7", 8L), ("p3", "s3", "e7", 8L)))) // resends, a same-instant pair
    val runs = new Runs(src, slotCount = 1 << 20)
    val dupOf = (r: String) => r.split(',').last.stripSuffix("]")
    assert(runs.batch("everything").size === 9)
    assert(runs.batch("everything").count(dupOf(_) == "true") === 4)
    assert(runs.batch("deduped").size === 5)
    assert(runs.stream("whole") === runs.batch)
    Seq(1, 2).foreach(k => assert(runs.stream(s"killed-$k", dieAfter = k) === runs.batch, s"killed after batch $k"))
  }

  test("at one slot, a party's resend behind another party's event across a batch " +
      "boundary is flagged by the batch run only") {
    val src = java.nio.file.Files.createTempDirectory("slot-divergence-src").toString
    // batch order folds p1's e9 before p2's events; the stream folds p2's e1 first
    stage(src, Seq(Seq(("p2", "s2", "e1", 1L)), Seq(("p1", "s1", "e9", 2L), ("p2", "s2", "e1", 3L))))
    val runs = new Runs(src, slotCount = 1)
    val resend = (rows: Seq[String]) => rows.filter(_.contains(",3,"))
    assert(resend(runs.batch("everything")).map(_.endsWith(",true]")) === Seq(true))
    assert(runs.batch("deduped").size === 2)
    val streamed = runs.stream("whole")
    assert(resend(streamed("everything")).map(_.endsWith(",true]")) === Seq(false))
    assert(streamed("deduped").size === 3)
  }
}

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming sessionization closes sessions at the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val q = Streams.sessionize(
        input.toDF.toDF("partyId", "ts"), "partyId", "ts", "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    // two sessions for p1 (gap > 30min), one for p2; a late final event
    // advances the watermark past both session ends
    input.addData(("p1", ts(0)), ("p1", ts(10)), ("p2", ts(5)))
    q.processAllAvailable()
    input.addData(("p1", ts(50)))
    q.processAllAvailable()
    input.addData(("p1", ts(59))) // still within p1's second session
    q.processAllAvailable()
    val done = spark.table("sessions")
      .select("partyId", "n_events").as[(String, Long)].collect().toSet
    q.stop()
    // sessions closed so far: p1's first (2 events) and p2's (1 event)
    assert(done.contains(("p1", 2L)))
    assert(done.contains(("p2", 1L)))
  }

  test("chained stateful streaming: hourly rollup over closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    val q = Streams.sessionRollup(
        input.toDF.toDF("partyId", "ts"), "partyId", "ts", "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("srollup").outputMode("append").start()
    // hour 10: p1 has one 3-event session, p2 one 1-event session; hour 12
    // events close them; a far-future event closes hour 12's too
    input.addData(("p1", ts(10, 0)), ("p1", ts(10, 10)), ("p1", ts(10, 20)),
      ("p2", ts(10, 5)))
    q.processAllAvailable()
    input.addData(("p1", ts(12, 0)), ("p2", ts(12, 0)))
    q.processAllAvailable()
    input.addData(("p1", ts(18, 0)))
    q.processAllAvailable()
    val got = spark.table("srollup")
      .as[(java.sql.Timestamp, Long, Long)].collect()
      .map(r => r._1.toString -> (r._2, r._3)).toMap
    q.stop()
    assert(got("2024-01-01 10:00:00.0") === ((2L, 4L)),
      s"hour 10 must report 2 sessions / 4 events, got $got")
    assert(got("2024-01-01 12:00:00.0") === ((2L, 2L)))
  }

  test("streaming attribution join pairs purchases with in-window views across batches") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(String, String, java.sql.Timestamp)]
    val purchases = MemoryStream[(String, String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val joined = Streams.attributionJoin(
      views.toDF.toDF("view_id", "user_id", "view_ts"),
      purchases.toDF.toDF("purchase_id", "user_id", "purchase_ts"),
      watermark = "0 seconds")
    val q = joined.select("view_id", "purchase_id")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    // view arrives in batch 1; its purchase only in batch 2 — the join
    // state must hold the view across the batch boundary
    views.addData(("v1", "u1", ts(0)), ("v2", "u2", ts(5)))
    q.processAllAvailable()
    // p2 must ride the same batch as p1: once p1 (10:30) advances the
    // purchase-side watermark, a 10:05 purchase would be late and dropped
    purchases.addData(("p1", "u1", ts(30)),        // 30 min after v1: in window
                      ("p2", "u2", ts(5)))         // same instant as v2: in window
    q.processAllAvailable()
    views.addData(("v3", "u1", ts(40)))
    purchases.addData(("p3", "u1", ts(45)))        // pairs with BOTH v1 and v3
    q.processAllAvailable()
    val got = spark.table("attrib").as[(String, String)].collect().toSet
    q.stop()
    assert(got === Set(("v1", "p1"), ("v2", "p2"), ("v1", "p3"), ("v3", "p3")))
  }

  test("streaming multi-touch splits credit across batches, batch-identically") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    val views = MemoryStream[(String, String, java.sql.Timestamp)]
    val purchases = MemoryStream[(String, String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val out = Streams.multitouchStream(
      views.toDF.toDF("view_id", "user_id", "view_ts"),
      purchases.toDF.toDF("purchase_id", "user_id", "purchase_ts"),
      window = "1 hour", watermark = "0 seconds")
    val q = out.select("purchase_id", "view_id", "n_touches", "credit_ppm")
      .writeStream.format("memory").queryName("mtouch").outputMode("append").start()
    // touches for p1 arrive across TWO batches before the purchase; the
    // join state must hold both until p1 lands, and the aggregation must
    // not emit p1 until the watermark passes its window
    views.addData(("v1", "u1", ts(0)), ("v2", "u2", ts(5)))
    q.processAllAvailable()
    views.addData(("v3", "u1", ts(20)))
    purchases.addData(("p1", "u1", ts(30)), ("p2", "u2", ts(6)))
    q.processAllAvailable()
    assert(spark.table("mtouch").isEmpty,
      "nothing may emit before the watermark closes the purchase windows")
    // far-future events on BOTH streams push the min watermark past 11:00
    views.addData(("vLate", "u9", ts(0 + 180)))
    purchases.addData(("pLate", "u9", ts(0 + 190)))
    q.processAllAvailable()
    val got = spark.table("mtouch")
      .as[(String, String, Long, Long)].collect().toSet
    q.stop()
    val expected = Set(
      ("p1", "v1", 2L, 500000L), ("p1", "v3", 2L, 500000L),
      ("p2", "v2", 1L, 1000000L))
    assert(got === expected)
    // batch parity: the same rows through the batch operator's shape
    val vB = Seq(("v1", "u1", ts(0)), ("v2", "u2", ts(5)), ("v3", "u1", ts(20)))
      .toDF("view_id", "user_id", "view_ts")
    val pB = Seq(("p1", "u1", ts(30)), ("p2", "u2", ts(6)))
      .toDF("purchase_id", "user_id", "purchase_ts")
    val w = Window.partitionBy(col("purchase_id"))
    val batch = pB.join(vB, Seq("user_id"))
      .filter(col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 hour"))
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("view_id"), col("n_touches"),
        expr("1000000L DIV n_touches").as("credit_ppm"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(batch === expected)
  }

  test("streaming KMV distinct matches the batch sketch over all batches") {
    implicit val sqlCtx = spark.sqlContext
    // replicate the operator's hash (first 15 md5 hex chars as a long) so
    // the expected estimate is computed independently of any Spark code
    def kmvOf(keys: Seq[String], k: Int): (Int, Double) = {
      val hs = keys.distinct.map { key =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }.distinct.sorted.take(k)
      val est = if (hs.length < k) hs.length.toDouble
                else (k - 1).toDouble * 1152921504606846976.0 / hs(k - 1)
      (hs.length, est)
    }
    val input = MemoryStream[(String, String)]
    val q = Streams.kmvDistinctStream(
        input.toDF.toDF("event_type", "key"), k = 4)
      .writeStream.format("memory").queryName("kmv").outputMode("update").start()
    // batch 1: type A below k (exact), then batch 2 pushes it past k
    // (estimator engages) and must merge with batch-1 state
    input.addData(("A", "u1"), ("A", "u2"), ("A", "u1"), ("B", "x1"))
    q.processAllAvailable()
    input.addData(("A", "u3"), ("A", "u4"), ("A", "u5"), ("A", "u6"))
    q.processAllAvailable()
    val rows = spark.table("kmv")
      .as[(String, Int, Double)].collect()
      .groupBy(_._1).map { case (t, g) => t -> g.maxBy(_._2) } // latest = fullest sketch
    q.stop()
    val expA = kmvOf(Seq("u1", "u2", "u3", "u4", "u5", "u6"), 4)
    val expB = kmvOf(Seq("x1"), 4)
    assert(rows("A")._2 == expA._1 && rows("A")._3 == expA._2,
      s"A: got ${rows("A")}, want $expA — streaming state must equal the " +
        "batch sketch over the union of batches")
    assert(rows("B")._2 == expB._1 && rows("B")._3 == expB._2)
  }

  test("streaming dedup removes within-watermark repeats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    def ts(s: Int) = new java.sql.Timestamp(1704100000000L + s * 1000L)
    val q = Streams.dropDuplicates(
        input.toDF.toDF("partyId", "eventId", "ts"), "ts", Seq("partyId", "eventId"))
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    input.addData(("p1", "e1", ts(0)), ("p1", "e1", ts(1)), ("p1", "e2", ts(2)))
    q.processAllAvailable()
    val rows = spark.table("deduped").select("eventId").as[String].collect().sorted
    q.stop()
    assert(rows === Array("e1", "e2"))
  }

  test("streaming slot-memory flags repeats across batches, first occurrence clean") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, String, Long)]
    val q = Streams.flagDuplicatesStream(input.toDS())
      .toDF("partyId", "sessionId", "eventId", "ts", "duplicate")
      .writeStream.format("memory").queryName("slotdup").outputMode("append").start()
    input.addData(("p1", "s1", "e1", 1L), ("p1", "s1", "e2", 2L))
    q.processAllAvailable()
    input.addData(("p1", "s1", "e1", 3L)) // resend of e1 in a later batch
    q.processAllAvailable()
    val rows = spark.table("slotdup")
      .select("eventId", "ts", "duplicate").as[(String, Long, Boolean)]
      .collect().sortBy(_._2)
    q.stop()
    assert(rows === Array(("e1", 1L, false), ("e2", 2L, false), ("e1", 3L, true)))
  }

  test("streaming BPE encoding: a pre-trained model encodes a stream batch-identically") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "low lower low"), (2L, "newest widest"))
      .toDF("doc_id", "text")
    val ranks = spark.sparkContext.broadcast(Map(
      ("l", "o") -> 0, ("lo", "w</w>") -> 1,
      ("s", "t</w>") -> 2, ("e", "st</w>") -> 3))
    val batch = graft.queries.DocQueries.bpeEncodeOn(docs, ranks)
      .select("doc_id", "n_bpe_tokens", "bpe_md5")
      .as[(Long, Int, String)].collect().toSet

    val input = MemoryStream[(Long, String)]
    val q = graft.queries.DocQueries
      .bpeEncodeOn(input.toDF.toDF("doc_id", "text"), ranks)
      .select("doc_id", "n_bpe_tokens", "bpe_md5")
      .writeStream.format("memory").queryName("bpestream")
      .outputMode("append").start()
    input.addData((1L, "low lower low"))
    q.processAllAvailable()
    input.addData((2L, "newest widest"))
    q.processAllAvailable()
    val streamed = spark.table("bpestream")
      .as[(Long, Int, String)].collect().toSet
    q.stop()
    assert(streamed === batch)
  }

  test("streaming anomaly: a spike flags against state built in earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long)] // user, event, ts, value
    val q = Streams.anomalyStream(input.toDS())
      .toDF("user_id", "event_id", "ts", "value_scaled", "z", "is_anomaly")
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    // batch 1: user 1 builds tight history; user 2's scale is large
    input.addData((1L to 10L).map(i => (1L, i, i, 1000L + (i % 3) * 5)) ++
      Seq((2L, 100L, 1L, 900000L), (2L, 101L, 2L, 910000L), (2L, 102L, 3L, 905000L)): _*)
    q.processAllAvailable()
    // batch 2: the SAME magnitude is a spike for user 1, normal for user 2
    input.addData((1L, 11L, 11L, 905000L), (2L, 103L, 4L, 902000L))
    q.processAllAvailable()
    val rows = spark.table("anom")
      .select("event_id", "is_anomaly").as[(Long, Boolean)].collect().toMap
    q.stop()
    assert(rows(11L), "user 1's spike must flag against cross-batch state")
    assert(!rows(103L), "user 2's in-range value must not flag")
    (1L to 10L).foreach(e => assert(!rows(e), s"warm-up event $e must not flag"))
  }

  test("streaming EWMA equals the batch query value-for-value across batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 30 events per user — deeper than the 20-window, so truncation and
    // cross-batch state both exercise
    val rows = for (u <- 1L to 3L; i <- 1L to 30L)
      yield (u, u * 100 + i, base + i * 1000, (u * 37 + i * 13) % 1500)
    val tmp = java.nio.file.Files.createTempDirectory("ewmapar").toString
    // value = whole units so floor(value*1000) is exactly v*1000 — the
    // stream is fed the same scaled longs the batch query derives
    rows.map { case (u, e, ts, v) =>
      (e, new java.sql.Timestamp(ts), u, "view", v.toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.queries.EventQueries.queries("evt_ewma")(spark, tmp)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap

    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = Streams.ewmaStream(input.toDS())
      .toDF("user_id", "event_id", "ts", "value_scaled", "ewma")
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(40) // split mid-user: state must carry over
    input.addData(b1.map { case (u, e, ts, v) => (u, e, ts, v * 1000) }: _*)
    q.processAllAvailable()
    input.addData(b2.map { case (u, e, ts, v) => (u, e, ts, v * 1000) }: _*)
    q.processAllAvailable()
    val streamed = spark.table("ewmastream")
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    q.stop()
    assert(streamed === batch)
  }

  test("streaming CUSUM carries drift state across batches; one long per key") {
    implicit val sqlCtx = spark.sqlContext
    // two keys: 'steady' hovers at the reference rate (never alarms),
    // 'drift' shifts +4/period from period 6 — the cumulative sum must
    // cross h only after enough post-shift periods ACCUMULATE, and the
    // crossing happens in the SECOND micro-batch from state carried over
    // the first.
    val ref = 10L; val slack = 1L; val h = 6L
    val rows = (1L to 10L).flatMap { p =>
      val steadyX = if (p % 2 == 0) 11L else 9L
      val driftX = if (p <= 5) 10L else 14L
      Seq(("steady", p, steadyX), ("drift", p, driftX))
    }
    // reference recursion, computed independently of the operator
    def replay(xs: Seq[(Long, Long)]): Map[Long, (Long, Boolean)] = {
      var s = 0L
      xs.sortBy(_._1).map { case (p, x) =>
        s = math.max(0L, s + (x - ref) - slack)
        p -> ((s, s > h))
      }.toMap
    }
    val expect = Map(
      "steady" -> replay(rows.collect { case ("steady", p, x) => (p, x) }),
      "drift" -> replay(rows.collect { case ("drift", p, x) => (p, x) }))
    val input = MemoryStream[(String, Long, Long)]
    val q = Streams.cusumStream(input.toDS(), ref, slack, h)
      .toDF("key", "period", "x", "s", "is_alarm")
      .writeStream.format("memory").queryName("cusumstream")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(13) // split mid-drift: periods 7+ ride state
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val streamed = spark.table("cusumstream")
      .select("key", "period", "s", "is_alarm")
      .as[(String, Long, Long, Boolean)].collect()
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(r => r._2 -> ((r._3, r._4))).toMap }
    q.stop()
    assert(streamed === expect)
    // the drift key alarms, and only after accumulation (not at the shift)
    assert(!expect("drift")(6L)._2 && expect("drift")(9L)._2)
    assert(expect("steady").values.forall(!_._2))
  }

  test("windowed counts aggregate per tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(min: Int, s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$s%02d")
    val q = Streams.windowedCounts(
        input.toDF.toDF("event_type", "ts"), "ts", "event_type", "5 minutes", "0 seconds")
      .writeStream.format("memory").queryName("counts").outputMode("append").start()
    input.addData(("view", ts(0, 10)), ("view", ts(1, 20)), ("click", ts(2, 0)))
    q.processAllAvailable()
    input.addData(("view", ts(20, 0))) // advance watermark, close first window
    q.processAllAvailable()
    val rows = spark.table("counts")
      .select("event_type", "n").as[(String, Long)].collect().toSet
    q.stop()
    assert(rows.contains(("view", 2L)))
    assert(rows.contains(("click", 1L)))
  }

  test("streaming document curation: the filter chain flags a stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.queries.DocQueries.filterChainOn(
        input.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    val good = "the quick brown fox jumps over a lazy dog of great renown today"
    input.addData((1L, good), (2L, "too short"))
    q.processAllAvailable()
    input.addData((3L, good + " again")) // later micro-batch, same transform
    q.processAllAvailable()
    val rows = spark.table("curated")
      .select("doc_id", "keep", "drop_reason")
      .as[(Long, Boolean, Option[String])].collect().sortBy(_._1)
    q.stop()
    assert(rows(0) === ((1L, true, None)))
    assert(rows(1) === ((2L, false, Some("min_tokens"))))
    assert(rows(2) === ((3L, true, None)))
  }

  test("streaming inference: the hashed classifier scores a stream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.queries.DocQueries.hashClassifierOn(
        input.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clf").outputMode("append").start()
    input.addData((1L, "spark join"), (2L, "join spark"))
    q.processAllAvailable()
    input.addData((3L, "spark join spark join")) // later micro-batch
    q.processAllAvailable()
    val rows = spark.table("clf").select("doc_id", "logit")
      .as[(Long, Long)].collect().sortBy(_._1)
    q.stop()
    assert(rows(0)._2 === rows(1)._2, "bag-of-words across micro-batches")
    assert(rows(2)._2 === 2 * rows(0)._2)
  }

  test("streaming decontamination: contamination rates over a stream-static probe") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    // stream-static broadcast probe + per-doc aggregate: complete mode
    // re-emits the scores as micro-batches arrive
    val q = graft.queries.DocQueries.contaminationRateOn(
        input.toDF.toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("contam")
      .outputMode("complete").start()
    input.addData((1L, "intro words alpha beta gamma delta epsilon closing remark"))
    q.processAllAvailable()
    input.addData((2L, "completely different content with no shared phrases here"))
    q.processAllAvailable()
    val rows = spark.table("contam")
      .select("doc_id", "n_ngrams", "n_hits", "contamination_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    q.stop()
    assert(rows.toSeq === Seq((1L, 5L, 1L, 0.2), (2L, 4L, 0L, 0.0)))
  }

  test("streaming chunking: documents chunk as they arrive, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.queries.DocQueries.chunkOn(
        input.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    val text24 = (1 to 24).map(i => s"t$i").mkString(" ") // 2 chunks of 16/12
    input.addData((1L, text24))
    q.processAllAvailable()
    input.addData((2L, "short doc")) // later micro-batch
    q.processAllAvailable()
    val rows = spark.table("chunks")
      .select("doc_id", "chunk_id", "chunk_len")
      .as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2))
    q.stop()
    assert(rows.toSeq === Seq((1L, 0, 16), (1L, 1, 12), (2L, 0, 2)))
  }
}
