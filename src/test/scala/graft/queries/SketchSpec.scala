package graft.queries

import graft.{GraftConf, SparkSpec}
import graft.functions.Skew
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("approx rollup tracks the exact rollup within sketch error") {
    val exact = EventQueries.dailyRollup(spark, sf)
      .select("day", "event_type", "n_users").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val approx = EventQueries.dailyRollupApprox(spark, sf)
      .select("day", "event_type", "approx_users").as[(String, String, Double)]
      .collect()
    assert(approx.nonEmpty)
    approx.foreach { case (day, et, a) =>
      val e = exact((day, et))
      // 15% relative, with an absolute floor of 2 for tiny groups (a single
      // register collision at n=4 is a 25% relative error by arithmetic)
      assert(math.abs(a - e) <= math.max(0.15 * e, 2.0),
        s"($day,$et): approx=$a exact=$e")
    }
  }

  test("rolling 7-day HLL tracks the exact 7-day distinct within sketch error") {
    import org.apache.spark.sql.functions.{countDistinct, datediff}
    val ev = graft.Tables.events(spark, sf).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("user_id"))
    val days = ev.select(col("day").as("win_day")).distinct()
    val exact = ev.join(days, datediff(col("win_day"), col("day")).between(0, 6))
      .groupBy("win_day", "event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val approx = EventQueries.rollingDistinct(spark, sf)
      .select("win_day", "event_type", "approx_users_7d")
      .as[(String, String, Double)].collect()
    assert(approx.nonEmpty)
    // windows and keys line up exactly; estimates within HLL error
    assert(approx.map(r => (r._1, r._2)).toSet === exact.keySet)
    approx.foreach { case (day, et, a) =>
      val e = exact((day, et))
      assert(math.abs(a - e) <= math.max(0.15 * e, 2.0),
        s"($day,$et): approx=$a exact=$e")
    }
    // merging can only grow a register set: the 7-day estimate dominates
    // the daily estimate for the window's last day (same sketch, superset)
    val daily = EventQueries.dailyRollupApprox(spark, sf)
      .select("day", "event_type", "approx_users").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    approx.foreach { case (day, et, a) =>
      daily.get((day, et)).foreach(d1 =>
        assert(a >= d1 - 1e-9, s"($day,$et): 7d $a < daily $d1"))
    }
  }

  test("rolling p95 histogram brackets the exact nearest-rank percentile") {
    import org.apache.spark.sql.functions.{collect_list, datediff, floor => ffloor}
    val ev = graft.Tables.events(spark, sf).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), ffloor(col("value") * 1000).cast("long").as("v"))
    val days = ev.select(col("day").as("win_day")).distinct()
    val exact = ev.join(days, datediff(col("win_day"), col("day")).between(0, 6))
      .groupBy("win_day", "event_type")
      .agg(collect_list(col("v")).as("vs"))
      .as[(String, String, Seq[Long])].collect()
      .map { case (d, t, vs) =>
        val sorted = vs.sorted
        val rank = math.ceil(0.95 * sorted.length).toInt
        (d, t) -> sorted(rank - 1)
      }.toMap
    val approx = EventQueries.rollingP95(spark, sf)
      .select("win_day", "event_type", "p95_floor_milli")
      .as[(String, String, Long)].collect()
    assert(approx.nonEmpty)
    assert(approx.map(r => (r._1, r._2)).toSet === exact.keySet)
    approx.foreach { case (d, t, lo) =>
      val e = exact((d, t))
      assert(lo <= e && e < lo + 4096,
        s"($d,$t): p95 bin [$lo, ${lo + 4096}) must bracket exact $e")
    }
  }

  test("histogram binning: negative values land below zero, like the oracle's >>") {
    // regression: an unsigned shift threw negatives into a ~2^52 top bin,
    // silently corrupting the percentile for any corpus with negatives
    import graft.functions.Histogram
    val agg = new Histogram.P95Floor
    val bins = Seq(-500L, -5000L, 4095L, 4096L).foldLeft(agg.zero)(agg.reduce)
    assert(bins.keySet === Set(-1L, -2L, 0L, 1L))
    // p95 over 19 negatives + 1 large positive: rank 19 is still negative
    val mostlyNeg = ((1 to 19).map(_ => -100L) :+ 1000000L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(mostlyNeg) === -4096L, "p95 must sit in the negative bin")
  }

  test("ewma_fold: deep arrays never wrap weights; empty array is null") {
    import graft.functions.GraftFunctions
    // 100-element history: elements older than 62 weigh exactly 0 — without
    // the guard the JVM shift wraps and element 64-from-newest weighs 1.0
    val deep = (1 to 99).map(_ => 1000000L) :+ 0L // newest = 0
    val out = Seq(Tuple1(deep)).toDF("hist")
      .select(GraftFunctions.ewmaFold(col("hist")).as("e"))
      .as[Double].head()
    // newest weighs 1/2 of the mass: result must be < 500000 strictly, and
    // the wrap bug would push it over 1000000 x small factor; exact bound:
    // sum_{k=1..61} 1e6*2^-(k+1) / sum_{k=0..61} 2^-(k+1) ~ 5e5
    assert(out > 0 && out < 500001.0, s"deep fold $out")
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("hist")
      .select(GraftFunctions.ewmaFold(col("hist")).as("e"))
      .as[Option[Double]].head()
    assert(empty.isEmpty, "empty history must be null, not NaN")
  }

  test("Histogram aggregator agrees exactly with the SQL histogram path") {
    import org.apache.spark.sql.functions.{floor => ffloor}
    // daily (window = 0) comparison: the aggregator per (day, type) must
    // equal the SQL path restricted to single-day windows — which is the
    // rollingP95 result on a day that has no preceding 6 days... instead
    // compare against a direct SQL-shape computation here
    val ev = graft.Tables.events(spark, sf).select(
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
      col("event_type"), ffloor(col("value") * 1000).cast("long").as("v"))
    val viaAgg = ev.groupBy("day", "event_type")
      .agg(graft.functions.Histogram.p95Floor(col("v")).as("p"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val viaSql = ev
      .withColumn("bin", expr("shiftrightunsigned(v, 12)"))
      .groupBy("day", "event_type", "bin").agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
      .map { case (k, rows) =>
        val bins = rows.map(r => r._3 -> r._4).toMap
        val n = bins.values.sum
        var cum = 0L
        val bin = bins.toSeq.sortBy(_._1).collectFirst {
          case (b, c) if { cum += c; cum * 20 >= n * 19 } => b
        }.get
        k -> (bin << 12)
      }
    assert(viaAgg.nonEmpty)
    viaSql.foreach { case (k, expected) =>
      assert(viaAgg(k) === expected, s"$k")
    }
  }

  test("Histogram aggregator works in a streaming windowed aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val q = input.toDF.toDF("ts", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(graft.functions.Histogram.p95Floor(col("v")).as("p95"))
      .select(col("window.start").as("ws"), col("p95"))
      .writeStream.format("memory").queryName("histstream")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // 20 values in one window: exactly one lands beyond the p95 rank
    input.addData((1 to 19).map(i => (ts(1), i * 100L)): _*)
    q.processAllAvailable()
    input.addData((ts(2), 1000000L))
    q.processAllAvailable()
    input.addData((ts(20), 1L)) // advance watermark, close the window
    q.processAllAvailable()
    val rows = spark.table("histstream").as[(java.sql.Timestamp, Long)].collect()
    q.stop()
    // rank ceil(0.95*20)=19 -> value 1900, bin 0 -> floor 0; the outlier
    // at rank 20 is beyond p95 and must not move the answer
    assert(rows.map(_._2).contains(0L))
    assert(!rows.map(_._2).contains((1000000L >>> 12) << 12))
  }

  test("Hll typed aggregator agrees bit-for-bit with the SQL-replica rollup") {
    val approx = EventQueries.dailyRollupApprox(spark, sf)
      .select("day", "event_type", "approx_users").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val viaAgg = graft.Tables.events(spark, sf)
      .select(
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("user_id"))
      .groupBy("day", "event_type")
      .agg(round(graft.functions.Hll.approxDistinct(col("user_id")), 3).as("a"))
      .as[(String, String, Double)].collect()
    assert(viaAgg.nonEmpty)
    viaAgg.foreach { case (day, et, a) =>
      assert(a === approx((day, et)), s"($day,$et)")
    }
  }

  test("Hll aggregator works in a streaming windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val agg = input.toDF().toDF("uid", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.Hll.approxDistinct(col("uid")).as("approx_users"))
    val q = agg.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // 200 distinct users in one window, sent across two batches (registers
    // must MERGE across micro-batches, the property that makes this a
    // streaming-safe sketch)
    input.addData((0 until 120).map(i => (s"user$i", t0)): _*)
    q.processAllAvailable()
    input.addData((80 until 200).map(i => (s"user$i", t0)): _*)
    q.processAllAvailable()
    val est = spark.table("hll_stream")
      .orderBy(col("window.start").desc).select("approx_users")
      .as[Double].head()
    q.stop()
    assert(math.abs(est - 200) / 200.0 <= 0.15, s"estimate $est vs 200")
  }

  test("count-min: never undercounts, bounded overcount, exact merge") {
    import graft.functions.CountMin
    // Zipf-ish multiset: token i appears ceil(300/i) times
    val items = (1 to 50).flatMap(i => Seq.fill(300 / i + 1)(s"tok$i"))
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val full = new Array[Long](CountMin.Depth * CountMin.Width)
    items.foreach(CountMin.add(full, _))
    val n = items.size.toLong
    exact.foreach { case (t, c) =>
      val est = CountMin.query(full, t)
      assert(est >= c, s"$t undercounted: $est < $c")
      assert(est <= c + (3 * math.E * n / CountMin.Width).toLong + 1,
        s"$t overcount $est vs $c beyond the CMS bound")
    }
    assert(CountMin.query(full, "never-seen") <= (3 * math.E * n / CountMin.Width).toLong + 1)
    // merge of split builds == build of the union, EXACTLY (sums commute)
    val (a, b) = items.splitAt(items.size / 3)
    val sa = new Array[Long](full.length); a.foreach(CountMin.add(sa, _))
    val sb = new Array[Long](full.length); b.foreach(CountMin.add(sb, _))
    val merged = sa.zip(sb).map { case (x, y) => x + y }
    assert(merged.toSeq === full.toSeq)
  }

  test("count-min groupBy aggregation matches the local build per group") {
    import graft.functions.CountMin
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"))
      .toDF("grp", "token")
    val rows = df.groupBy("grp").agg(CountMin.sketch(col("token")).as("cms"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val la = new Array[Long](CountMin.Depth * CountMin.Width)
    CountMin.add(la, "x", 2); CountMin.add(la, "y")
    assert(rows("a").toSeq === la.toSeq)
    assert(CountMin.query(rows("b"), "x") === 1L)
    assert(CountMin.query(rows("b"), "y") === 0L)
  }

  test("CountMin aggregator works in a streaming windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.CountMin
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val agg = input.toDF().toDF("uid", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(CountMin.sketch(col("uid")).as("cms"))
    val q = agg.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // "hot" appears 60x split across two micro-batches: counter sums must
    // MERGE exactly across batches (the streaming-safety property)
    input.addData(((0 until 30).map(_ => ("hot", t0)) ++
      (0 until 20).map(i => (s"cold$i", t0))): _*)
    q.processAllAvailable()
    input.addData(((0 until 30).map(_ => ("hot", t0)) ++
      (20 until 40).map(i => (s"cold$i", t0))): _*)
    q.processAllAvailable()
    val sketch = spark.table("cms_stream")
      .orderBy(col("window.start").desc).select("cms")
      .collect().head.getSeq[Long](0).toArray
    q.stop()
    // exact merge: the streamed sketch equals a local build of the union
    val local = new Array[Long](CountMin.Depth * CountMin.Width)
    (0 until 60).foreach(_ => CountMin.add(local, "hot"))
    (0 until 40).foreach(i => CountMin.add(local, s"cold$i"))
    assert(sketch.toSeq === local.toSeq)
    assert(CountMin.query(sketch, "hot") >= 60L)
  }

  test("heavy hitters: estimates never undercount the exact per-user counts") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.Tables.events(spark, sf)
      .groupBy(col("user_id").cast("string").as("u"))
      .agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val hh = EventQueries.queries("evt_heavy_hitters")(spark, sf)
      .select("user_id", "est_count", "rank")
      .as[(String, Long, Int)].collect()
    val expectedLen = math.min(20, exact.size)
    assert(hh.length === expectedLen)
    assert(hh.map(_._3).sorted.toSeq === (1 to expectedLen))
    hh.foreach { case (u, est, _) =>
      assert(est >= exact(u), s"user $u undercounted: $est < ${exact(u)}")
    }
    // the true heaviest user cannot be displaced: its estimate is >= its
    // exact count, which exceeds every other user's estimate only if
    // overcounts stay within the CMS bound — assert the top-1 matches
    val trueTop = exact.toSeq.sortBy { case (u, c) => (-c, u) }.head
    val n = exact.values.sum
    val bound = (3 * math.E * n / graft.functions.CountMin.Width).toLong + 1
    if (trueTop._2 > exact.values.toSeq.sorted.reverse.drop(1).headOption.getOrElse(0L) + bound)
      assert(hh.head._1 === trueTop._1)
  }

  test("unigram LM scored from the CMS model matches the exact model here") {
    val exact = graft.queries.DocQueries.unigramLm(spark, sf)
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    spark.conf.set(GraftConf.LmCmsModel.key, "true")
    try {
      val cms = graft.queries.DocQueries.unigramLm(spark, sf)
        .as[(Long, Int, Double)].collect().sortBy(_._1)
      // sketch counts >= exact counts, so nll_cms <= nll_exact always; on
      // this vocabulary no token collides in all Depth rows, so equality
      assert(cms.toSeq === exact.toSeq)
    } finally spark.conf.unset(GraftConf.LmCmsModel.key)
  }

  test("salted join equals plain join") {
    val fact = graft.Tables.events(spark, sf)
      .select(col("user_id").as("k"), col("value"))
    val dim = (0L until 150L).map(i => (i, s"u$i")).toDF("k", "name")
    val plain = fact.join(dim, "k").agg(count(lit(1)), sum("value")).collect()(0)
    val salted = Skew.saltedJoin(fact, dim, "k", 8).agg(count(lit(1)), sum("value")).collect()(0)
    assert(plain.getLong(0) === salted.getLong(0))
    assert(math.abs(plain.getDouble(1) - salted.getDouble(1)) < 1e-6)
  }
}
