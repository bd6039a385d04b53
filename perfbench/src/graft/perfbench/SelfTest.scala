package graft.perfbench

import org.apache.spark.sql.functions._

/** The benchmark's own tests. Prints one line per test and `ALL PASSED`
  * last when every test passed. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable => println(s"FAIL $name: $e"); e.printStackTrace(); false
    }
    if (ok) println(f"ok   $name (${(System.nanoTime() - t0) / 1e9}%.1f s)") else failures += 1
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(argv: Array[String]): Unit = {
    test("generator is deterministic for a seed") {
      check(new LoadGen(7).take(5000) == new LoadGen(7).take(5000), "same seed, different events")
      check(new LoadGen(7).take(500) != new LoadGen(8).take(500), "different seeds, same events")
      val a = new LoadGen(7); a.take(5000)
      val b = new LoadGen(7); b.take(5000)
      check(a.groundTruth == b.groundTruth, "same seed, different ground truth")
    }

    test("checksum hash matches the engine's murmur3_32") {
      val r = new java.util.Random(1)
      (0 until 2000).foreach { i =>
        val bytes = new Array[Byte](i % 67); r.nextBytes(bytes)
        check(Murmur3x86.hash32(bytes) == graft.functions.Murmur3.hash32(bytes), s"length ${bytes.length}")
      }
    }

    test("ground-truth corrupt count matches a JVM decode of the wire rows") {
      val g = new LoadGen(11)
      val evs = g.take(20000)
      val corrupt = evs.count(e => e.kind == 0 && graft.functions.BrowserWire.decode(e.qs).corrupt)
      check(corrupt == g.groundTruth.corrupt, s"decoded $corrupt vs truth ${g.groundTruth.corrupt}")
      check(g.groundTruth.corrupt > 0 && g.groundTruth.resends > 0 && g.groundTruth.oversize > 0 &&
        g.groundTruth.xff > 0, s"every injected kind present: ${g.groundTruth}")
    }

    test("self-time arithmetic") {
      val steps = Seq("a" -> None, "b" -> Some("a"), "c" -> Some("b"), "s1" -> Some("c"), "s2" -> Some("c"))
      val self = Ladder.selfTimes(Map("a" -> 1.0, "b" -> 1.5, "c" -> 3.0, "s1" -> 3.25, "s2" -> 4.0), steps)
      check(self == Map("a" -> 1.0, "b" -> 0.5, "c" -> 1.5, "s1" -> 0.25, "s2" -> 1.0), self.toString)
      check(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L, "interval union")
      val spans = Seq(Trace.Span(1, 0, "t", "outer", 0, 100), Trace.Span(2, 1, "t", "inner", 10, 40),
        Trace.Span(3, 1, "t", "inner", 30, 60))
      check(Trace.selfSeconds(spans) == Map("outer" -> 50 / 1e9, "inner" -> 60 / 1e9), "span self time")
      check(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "median interpolation")
    }

    test("the counting transport fails ~1% of first sends and no re-send") {
      CountingTransport.reset(9)
      val t = graft.sinks.PubSubSink.transport(CountingTransport.Name)
      val batch = (0 until 5000).map(i => graft.sinks.PubSubSink.Message(s"m$i".getBytes, Map.empty))
      val failed = batch.zip(t.send("t", batch)).collect { case (m, o) if o != graft.sinks.KafkaSink.Completed => m }
      check(failed.size > 20 && failed.size < 100, s"${failed.size} of 5000 first sends failed")
      check(t.send("t", failed).forall(_ == graft.sinks.KafkaSink.Completed), "a re-send failed")
      check(CountingTransport.delivered.get == 5000, s"delivered ${CountingTransport.delivered.get}")
    }

    val spark = graft.GraftSession.build(2, "perfbench-selftest")
    val dir = java.nio.file.Files.createTempDirectory("perfbench-selftest").toString
    try {
      test("ground truth matches a Spark decode, sinks and read-back of the generated rows") {
        val in = Spine.prepare(spark, 3, 20000, dir, 4)
        val led = new Ledger
        CountingTransport.reset(3)
        val (c, _) = Spine.fullPass(spark, in, s"$dir/avro", "t0")
        Spine.checkCounts(c, in.truth, led)
        Spine.check(spark, in, s"$dir/avro", led)
        val bad = led.checks.filter(_("ok") == false)
        check(bad.isEmpty, s"failed checks: $bad")
        check(c.pubsubRetried > 0, "the transport made the publisher retry")
        Spine.release(in)
      }

      test("a delay injected into one layer shows up in that layer's self time only") {
        val in = Spine.prepare(spark, 5, 20000, dir, 4)
        val steps = Seq("decode", "dedup", "map", "ua", "geo")
        def selves(inject: Ladder.Inject) = {
          val all = Ladder.spineSteps(spark, in, dir, inject).filter(s => steps.contains(s.name))
          Ladder.measure(spark, all, 3, new BenchListener, warmUp = true).self
        }
        val pauseNs = 200000L // 0.2 ms per row over 20k rows on 2 threads: ~2 s
        val base = selves(Ladder.NoInject)
        val slow = selves(l => if (l == "geo") Ladder.pause(pauseNs) else identity)
        val expected = in.events * pauseNs / 1e9 / 2
        val dGeo = slow("geo") - base("geo")
        check(dGeo > 0.5 * expected && dGeo < 2 * expected, f"geo moved $dGeo%.2f s, expected ~$expected%.2f s")
        steps.filter(_ != "geo").foreach { s =>
          val d = math.abs(slow(s) - base(s))
          check(d < 0.25 * expected, f"$s moved $d%.2f s (geo moved $dGeo%.2f s)")
        }
        Spine.release(in)
      }

      test("query materialization hash is order-independent") {
        import spark.implicits._
        val a = Seq((1, "x", 0.1 + 0.2), (2, "y", 3.0)).toDF("i", "s", "d")
        val b = Seq((2, "y", 3.0), (1, "x", 0.3)).toDF("i", "s", "d").repartition(2)
        check(Suite.materialize(a) == Suite.materialize(b), "row order or last-bit float changed the hash")
        check(Suite.materialize(a) != Suite.materialize(a.filter(col("i") === 1)), "hash ignores rows")
      }
    } finally spark.stop()

    println(if (failures == 0) "ALL PASSED" else s"$failures FAILED")
  }
}
