package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The repo benchmark. Usage:
  * `PerfBench --workload <spine|query_suite> --seed <n>
  *  --seconds <s> --trace <0|1> --root <dir> --out <dir>`
  * (`--root` holds `fixture/` and `queries.tsv`). The last stdout line is
  * the result object; the full artifact goes to `--out`. */
object PerfBench {
  val Workloads = Seq("spine", "query_suite")

  // sizes of the measured work; fixed so every run does the same work
  val BatchEvents = 12000
  val ProbeEvents = 10000
  val StreamRate = 3000
  val StreamTriggerMs = 1000L
  val StreamWarmupEvents = 4500
  val StreamBacklog = 20000
  val SetupRounds = 3
  val WarmPasses = 5
  val SuiteWarmPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, out: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("root"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val bench = new PerfBench(args)
    val line = bench.run()
    println(line)
    System.out.flush()
  }
}

/** Snapshot of the engine-wide counters, for deltas over a section. */
final case class Snap(ns: Long, gcMs: Long, jitMs: Long, memo: (Long, Long), planningMs: Double,
                      jobs: Long, stages: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long,
                      shuffle: Long, spill: Long)

final class PerfBench(args: PerfBench.Args) {
  import PerfBench._
  private val cores = Runtime.getRuntime.availableProcessors
  private val listener = new BenchListener
  private val planningMs = new java.util.concurrent.atomic.DoubleAdder
  private val led = new Ledger
  private val fixture = s"${args.root}/fixture/sf0.01"
  private val outDir = s"${args.out}/${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}"
  private var spark: SparkSession = _
  private val artifact = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val loadBefore = Engine.loadAvg
  private val phases = ArrayBuffer.empty[(String, Double)]
  private def phase(name: String): Unit =
    phases += name -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def newSession(c: Int = cores): Double = Clock.seconds {
    if (spark != null) spark.stop()
    spark = Trace.span("session.GraftSession.build")(graft.GraftSession.build(c, "perfbench"))
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        planningMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
  }

  private def snap(): Snap = {
    if (spark != null) org.apache.spark.BusDrain(spark.sparkContext)
    val accs = listener.traces.map(listener.acc)
    def s(f: listener.Acc => java.util.concurrent.atomic.AtomicLong) = accs.map(a => f(a).get).sum
    Snap(System.nanoTime(), Engine.gcMs, Engine.jitMs, graft.queries.MemoCache.lookupCounts,
      planningMs.sum, s(_.jobs), s(_.stages), s(_.tasks), s(_.taskRunMs), s(_.taskCpuNs),
      s(_.shuffleWrite), s(_.spill))
  }

  private def stageUnionMs(fromMs: Long, toMs: Long): Long =
    Trace.union(listener.traces.flatMap(t => listener.acc(t).stageSpans.asScala)
      .filter { case (s, e) => e >= fromMs && s <= toMs })

  /** Engine/query counters over a measured section, into per-layer names. */
  private def sectionLayers(a: Snap, b: Snap, wallStartMs: Long): Unit = {
    val wall = (b.ns - a.ns) / 1e9
    layer("queries.planning_ms") = b.planningMs - a.planningMs
    layer("queries.jobs") = (b.jobs - a.jobs).toDouble
    layer("queries.stages") = (b.stages - a.stages).toDouble
    layer("queries.tasks") = (b.tasks - a.tasks).toDouble
    layer("queries.driver_s") = wall - stageUnionMs(wallStartMs, wallStartMs + (wall * 1000).toLong) / 1000.0
    layer("queries.task_s") = (b.taskRunMs - a.taskRunMs) / 1000.0
    layer("queries.task_cpu_s") = (b.taskCpuNs - a.taskCpuNs) / 1e9
    layer("queries.shuffle_write_bytes") = (b.shuffle - a.shuffle).toDouble
    layer("queries.spill_bytes") = (b.spill - a.spill).toDouble
    layer("queries.memo_hits") = (b.memo._1 - a.memo._1).toDouble
    layer("queries.memo_misses") = (b.memo._2 - a.memo._2).toDouble
    layer("engine.gc_ms") = (b.gcMs - a.gcMs).toDouble
    layer("engine.jit_ms") = (b.jitMs - a.jitMs).toDouble
    layer("engine.task_cpu_frac") =
      if (b.taskRunMs > a.taskRunMs) (b.taskCpuNs - a.taskCpuNs) / 1e6 / (b.taskRunMs - a.taskRunMs) else 0.0
  }

  /** Repeat session start + input preparation; keep the last. */
  private def setup[T](prepare: () => T, release: T => Unit): T = {
    val starts, inputs = ArrayBuffer.empty[Double]
    var kept: Option[T] = None
    for (_ <- 1 to SetupRounds) {
      kept.foreach(release)
      starts += newSession()
      val (in, t) = Clock.timed(Trace.span("session.input")(prepare()))
      inputs += t; kept = Some(in)
    }
    e2e("setup_s") = Stats.median(starts.indices.map(i => starts(i) + inputs(i)))
    layer("session.start_s") = Stats.median(starts.toSeq)
    layer("session.input_s") = Stats.median(inputs.toSeq)
    artifact("setup_rounds") = ListMap("start_s" -> starts.toSeq, "input_s" -> inputs.toSeq)
    Engine.heapCheckpoint()
    phase("setup")
    kept.get
  }

  def run(): String = {
    Trace.enabled = args.trace
    new java.io.File(outDir).mkdirs()
    phase("start")
    args.workload match {
      case "spine" => spine()
      case "query_suite" => querySuite()
    }
    phase("workload")
    if (args.trace) {
      layerProbes(); phase("probes")
      layer("engine.spine_eps_1core") = singleCore(); phase("single_core")
    }
    e2e("heap_peak_mb") = Engine.heapPeakMb
    val loadAfter = Engine.loadAvg
    val conf = if (spark == null) Map.empty[String, String]
      else spark.conf.getAll.filter(_._1.startsWith("spark.graft.")).toMap
    if (spark != null) spark.stop()
    phase("stopped")
    artifact("phases_jvm_uptime_s") = ListMap(phases.toSeq: _*)
    val e2eUnits = ListMap("setup_s" -> "s", "ops_per_s" -> "1/s", "cold_s" -> "s",
      "p50_ms" -> "ms", "heap_peak_mb" -> "MB")
    val metrics =
      if (!args.trace) e2eUnits.map { case (k, u) => k -> ListMap("value" -> e2e(k), "unit" -> u) }
      else LayerUnits.all.map { case (k, u) => k -> ListMap("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }
    artifact("stamp") = ListMap(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "nproc" -> cores, "master" -> s"local[$cores]",
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "load_avg_before" -> loadBefore, "load_avg_after" -> loadAfter,
      "offered_rate_eps" -> StreamRate,
      "spark_graft_conf" -> conf)
    artifact("end_to_end") = e2e.toMap
    artifact("per_layer") = layer.toMap
    artifact("attempted") = led.attempted
    artifact("failed") = led.failed
    artifact("error_rate") = led.errorRate
    artifact("checks") = led.checks.toSeq
    if (args.trace) {
      artifact("span_self_s") = Trace.selfSeconds(Trace.all)
      artifact("spans") = Trace.toJson(Trace.all)
    }
    val w = new java.io.PrintWriter(s"$outDir/result.json")
    try w.write(Json.render(artifact)) finally w.close()
    Json.render(ListMap("correct" -> (led.failed == 0), "attempted" -> math.max(1L, led.attempted),
      "failed" -> led.failed, "metrics" -> metrics))
  }

  // ---------------------------------------------------------------------- spine
  private var spineIn: SpineInput = _

  /** A cold batch pass through all three sinks and its output checks, the
    * same spine as a fixed-rate stream, then the warm batch passes. */
  private def spine(): Unit = {
    val in = setup(() => Spine.prepare(spark, args.seed, BatchEvents, outDir, cores * 2),
      (i: SpineInput) => Spine.release(i))
    spineIn = in
    artifact("truth") = in.truth.toString
    CountingTransport.reset(args.seed)
    val avroDir = s"$outDir/avro"
    val a = snap(); val startMs = System.currentTimeMillis()
    val (c0, cold) = Trace.withTrace("pass-0")(Spine.fullPass(spark, in, avroDir, "p0"))
    phase("cold_pass")
    Spine.checkCounts(c0, in.truth, led); led.ops(in.events)
    spineCounts(c0, Spine.check(spark, in, avroDir, led))
    Engine.heapCheckpoint()
    phase("checks")
    // the stream runs between the cold and the warm passes: the layers it
    // shares with them are JIT-compiled by the time the warm passes start
    val sr = new StreamRun(spark, args.seed, s"$outDir/stream", StreamTriggerMs)
    val r = sr.run(StreamRate, StreamWarmupEvents, 1.0, args.seconds, StreamBacklog,
      backlogCap = StreamRate * 20L)
    e2e("p50_ms") = Stats.median(r.latMs)
    artifact("stream") = streamReport(sr, r)
    phase("stream")
    val warm = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Boolean]
    var p = 1
    while (warm.size < WarmPasses || warm.sum < args.seconds) {
      // the traced run alternates spans on and off to measure their cost
      if (args.trace) Trace.enabled = p % 2 == 1
      traced += Trace.enabled
      val (c, w) = Trace.withTrace(s"pass-$p")(Spine.fullPass(spark, in, avroDir, s"p$p"))
      Spine.checkCounts(c, in.truth, led); led.ops(in.events)
      warm += w; p += 1
    }
    Trace.enabled = args.trace
    phase("batch_passes")
    // the best pass: contention and the JIT still compiling only ever slow a pass
    e2e("ops_per_s") = in.events / warm.min
    e2e("cold_s") = cold
    artifact("batch") = ListMap("spine_eps" -> e2e("ops_per_s"), "cold_s" -> cold,
      "pass_walls" -> warm.toSeq, "traced" -> traced.toSeq)
    if (args.trace) {
      val on = warm.indices.filter(traced).map(warm); val off = warm.indices.filterNot(traced).map(warm)
      layer("trace.overhead_pct") = (Stats.median(on) / Stats.median(off) - 1) * 100
      ladder(in, reps = 2, warmUp = false)
      phase("ladder")
    }
    sectionLayers(a, snap(), startMs)
    Engine.heapCheckpoint()
  }

  private def spineCounts(c: Spine.SinkCounts, chk: Map[String, Long]): Unit = {
    layer("sources.corrupt_rows") = chk("corrupt").toDouble
    layer("sources.oversize_rows") = chk("oversize").toDouble
    layer("state.flagged_rows") = chk("flagged").toDouble
    layer("topology.discarded_rows") = chk("discarded").toDouble
    layer("sinks.avro_bytes") = c.avroBytes.toDouble
    layer("sinks.kafka_bytes") = c.kafkaBytes.toDouble
    layer("sinks.pubsub_retried") = c.pubsubRetried.toDouble
  }

  private def ladder(in: SpineInput, reps: Int, warmUp: Boolean): Unit = {
    val r = Ladder.measure(spark, Ladder.spineSteps(spark, in, outDir), reps, listener, warmUp)
    Seq("decode" -> "sources.decode_s", "dedup" -> "state.dedup_s", "map" -> "dsl.map_s",
      "ua" -> "functions.ua_s", "geo" -> "functions.geo_s", "route" -> "topology.route_s",
      "avro" -> "sinks.avro_s", "kafka" -> "sinks.kafka_s", "pubsub" -> "sinks.pubsub_s")
      .foreach { case (step, name) => layer(name) = r.self(step) }
    layer("state.shuffle_bytes") = r.shuffleBytes("dedup") - r.shuffleBytes("decode")
    artifact("ladder") = ListMap("events" -> in.events, "medians_s" -> r.medians,
      "self_s" -> r.self, "samples_s" -> r.samples)
  }

  /** Per-layer stream metrics, delivery checks and the per-batch record. */
  private def streamReport(sr: StreamRun, r: StreamResult): ListMap[String, Any] = {
    streamLayers(sr, r)
    led.ops(r.offered)
    if (r.latMs.isEmpty || r.drainEps.isNaN) led.expect("streaming.completed", ok = false)
    ListMap("events_timed" -> r.latMs.size,
      "lat_p50_ms" -> Stats.median(r.latMs), "lat_p99_ms" -> Stats.quantile(r.latMs, 0.99),
      "drain_eps" -> r.drainEps, "first_batch_s" -> r.firstBatchS, "batches" -> r.progress.size,
      "overflowed" -> r.overflowed, "delivery" -> sr.finish(led, r),
      "progress" -> r.progress.map(p => ListMap("batch" -> p.batchId,
        "duration_ms" -> p.durationMs.asScala.toMap, "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)))
  }

  private def streamLayers(sr: StreamRun, r: StreamResult): Unit = {
    val ps = r.progress.filter(_.numInputRows > 0)
    def dur(k: String*) = ps.map(p => k.map(x => Option(p.durationMs.get(x)).map(_.toDouble).getOrElse(0.0)).sum)
    layer("streaming.trigger_ms_p50") = Stats.median(dur("triggerExecution"))
    layer("streaming.add_batch_ms_p50") = Stats.median(dur("addBatch"))
    layer("streaming.commit_ms_p50") = Stats.median(dur("walCommit", "commitOffsets"))
    layer("streaming.state_rows") = ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0)
    layer("streaming.state_mem_bytes") = ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0)
    layer("streaming.state_commit_ms_p50") = Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
    layer("streaming.rows_per_batch_p50") = Stats.median(sr.rowsPerBatch(ps))
    layer("streaming.drain_eps") = r.drainEps
    layer("loadgen.late_max_ms") = r.lateMaxMs
    layer("loadgen.backlog_max_rows") = r.backlogMax.toDouble
  }

  // ---------------------------------------------------------------- query_suite
  private def querySuite(): Unit = {
    val expected = Expected.load(s"${args.root}/queries.tsv")
    setup(() => Trace.span("session.Tables") {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings").foreach(t => graft.Tables.tableRaw(spark, fixture, t).schema)
    }, (_: Unit) => ())
    val rnd = new scala.util.Random(args.seed)
    val runs = ArrayBuffer.empty[ListMap[String, Any]]
    def one(e: Expected, phase: String, pass: Int): Suite.Run = {
      val id = s"$phase-$pass-${e.name}"
      spark.sparkContext.setLocalProperty("perfbench.trace", id)
      val r = Trace.withTrace(id)(Trace.span(s"queries.${e.name}")(Suite.run(spark, e.name, fixture)))
      spark.sparkContext.setLocalProperty("perfbench.trace", null)
      Suite.check(r, e, led); led.ops(1)
      if (args.trace) {
        org.apache.spark.BusDrain(spark.sparkContext)
        val acc = listener.acc(id)
        val stagesMs = Trace.union(acc.stageSpans.asScala.toSeq)
        runs += Suite.runJson(r, phase, ListMap("jobs" -> acc.jobs.get, "stages" -> acc.stages.get,
          "tasks" -> acc.tasks.get, "task_s" -> acc.taskRunMs.get / 1000.0,
          "shuffle_write_bytes" -> acc.shuffleWrite.get, "spill_bytes" -> acc.spill.get,
          "driver_s" -> (r.wall - stagesMs / 1000.0)))
      } else runs += Suite.runJson(r, phase, ListMap.empty)
      r
    }
    val a = snap(); val startMs = System.currentTimeMillis()
    // the cold pass runs in the frozen (sorted) order, so which query absorbs
    // the JVM's warm-up, and which memoized results stay resident, is the
    // same in every run; the seed orders the warm passes
    val cold = expected.map(e => one(e, "cold", 0))
    Engine.heapCheckpoint()
    phase("cold_pass")
    val warm = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val passOn = ArrayBuffer.empty[(Boolean, Double)]
    var pass = 1
    val t0 = System.nanoTime()
    while (pass <= SuiteWarmPasses || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      if (args.trace) Trace.enabled = pass % 2 == 1
      val rs = rnd.shuffle(expected).map(e => one(e, "warm", pass))
      rs.foreach(r => warm(r.name) :+= r.wall)
      passOn += ((Trace.enabled, rs.map(_.wall).sum))
      pass += 1
    }
    Trace.enabled = args.trace
    sectionLayers(a, snap(), startMs)
    // each query's best warm run: contention and the JIT only ever slow a run
    val warmBest = expected.map(e => warm(e.name).min)
    val suiteWarm = warmBest.sum
    e2e("ops_per_s") = expected.size / suiteWarm
    e2e("cold_s") = cold.map(_.wall).sum
    e2e("p50_ms") = Stats.median(warmBest) * 1000
    artifact("suite") = ListMap("queries" -> expected.size, "suite_cold_s" -> e2e("cold_s"),
      "suite_warm_s" -> suiteWarm, "query_warm_p50_ms" -> e2e("p50_ms"), "warm_passes" -> (pass - 1),
      "count_only" -> expected.filterNot(_.stable).map(_.name), "runs" -> runs.toSeq)
    if (args.trace) {
      val on = passOn.filter(_._1).map(_._2); val off = passOn.filterNot(_._1).map(_._2)
      layer("trace.overhead_pct") =
        if (on.nonEmpty && off.nonEmpty) (Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1) * 100 else 0.0
    }
  }

  // ------------------------------------------------------------- traced probes
  /** The traced run measures every per-layer metric: layers the workload
    * itself does not exercise are measured by a short probe of them. */
  private def layerProbes(): Unit = if (args.workload != "spine") {
    val in = Spine.prepare(spark, args.seed, ProbeEvents, s"$outDir/probe", cores * 2)
    CountingTransport.reset(args.seed)
    val (c, _) = Spine.fullPass(spark, in, s"$outDir/probe/avro", "probe")
    Spine.checkCounts(c, in.truth, led); led.ops(in.events)
    spineCounts(c, Spine.check(spark, in, s"$outDir/probe/avro", led))
    ladder(in, reps = 2, warmUp = false)
    Spine.release(in)
    val sr = new StreamRun(spark, args.seed, s"$outDir/probe-stream", StreamTriggerMs)
    val r = sr.run(StreamRate, StreamWarmupEvents, 1.0, 4.0, 10000, backlogCap = StreamRate * 20L)
    artifact("stream_probe") = streamReport(sr, r)
  }

  /** The spine at `local[1]`, beside the reference's per-thread rate. */
  private def singleCore(): Double = {
    Option(spineIn).foreach(Spine.release)
    newSession(1)
    val in = Spine.prepare(spark, args.seed, ProbeEvents, s"$outDir/one", 2)
    CountingTransport.reset(args.seed)
    val walls = (0 until 2).map { i =>
      val (c, w) = Spine.fullPass(spark, in, s"$outDir/one/avro", s"one$i")
      Spine.checkCounts(c, in.truth, led); led.ops(in.events)
      w
    }
    in.events / walls.last
  }
}

/** Units of every per-layer metric, in report order. */
object LayerUnits {
  val all: ListMap[String, String] = ListMap(
    "sources.decode_s" -> "s", "sources.corrupt_rows" -> "count", "sources.oversize_rows" -> "count",
    "state.dedup_s" -> "s", "state.flagged_rows" -> "count", "state.shuffle_bytes" -> "bytes",
    "dsl.map_s" -> "s", "functions.ua_s" -> "s", "functions.geo_s" -> "s",
    "topology.route_s" -> "s", "topology.discarded_rows" -> "count",
    "sinks.avro_s" -> "s", "sinks.avro_bytes" -> "bytes", "sinks.kafka_s" -> "s",
    "sinks.kafka_bytes" -> "bytes", "sinks.pubsub_s" -> "s", "sinks.pubsub_retried" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.commit_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes", "streaming.state_commit_ms_p50" -> "ms",
    "streaming.rows_per_batch_p50" -> "count", "streaming.drain_eps" -> "1/s",
    "loadgen.late_max_ms" -> "ms", "loadgen.backlog_max_rows" -> "count",
    "queries.planning_ms" -> "ms", "queries.jobs" -> "count", "queries.stages" -> "count",
    "queries.tasks" -> "count", "queries.driver_s" -> "s", "queries.task_s" -> "s",
    "queries.task_cpu_s" -> "s", "queries.shuffle_write_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes", "queries.memo_hits" -> "count", "queries.memo_misses" -> "count",
    "session.start_s" -> "s", "session.input_s" -> "s",
    "engine.gc_ms" -> "ms", "engine.jit_ms" -> "ms", "engine.task_cpu_frac" -> "ratio",
    "engine.spine_eps_1core" -> "1/s", "trace.overhead_pct" -> "%")
}
