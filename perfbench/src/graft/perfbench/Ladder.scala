package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cumulative-prefix timing of the spine. Each step materializes a fresh
  * DataFrame over the cached input; a layer's self time is its step's
  * median minus its base step's median. The layers run fused in one Spark
  * stage (dedup's shuffle is the only boundary), so spans alone cannot
  * separate them — the prefix differences can. */
object Ladder {
  final case class Step(name: String, base: Option[String], run: () => Unit)

  /** Self time per step: median(step) − median(base step). */
  def selfTimes(medians: Map[String, Double], steps: Seq[(String, Option[String])]): Map[String, Double] =
    steps.map { case (n, b) => n -> (medians(n) - b.map(medians).getOrElse(0.0)) }.toMap

  /** Layer hook applied to each layer's output (identity outside tests). */
  type Inject = String => DataFrame => DataFrame
  val NoInject: Inject = _ => identity

  /** The spine's prefix steps: decode, +dedup, +map with a null UA, +map
    * with the real UA, +geo, +route, then each sink in place of its count. */
  def spineSteps(spark: SparkSession, in: SpineInput, dir: String,
                 inject: Inject = NoInject): Seq[Step] = {
    def srcs(dedup: Boolean): Map[String, DataFrame] = {
      val b = inject("decode")(Spine.decodeBrowser(in.browserRaw))
      val j = inject("decode")(Spine.decodeJson(in.jsonRaw))
      if (!dedup) Map("browser" -> b, "json" -> j)
      else Map("browser" -> inject("dedup")(Spine.dedup(b)), "json" -> inject("dedup")(Spine.dedup(j)))
    }
    def union(m: Map[String, DataFrame]) =
      m("browser").unionByName(m("json"), allowMissingColumns = true)
    def mapped(df: DataFrame, ua: Boolean) = {
      val m = inject("map")(Spine.mapDefault(df, ua))
      if (ua) inject("ua")(m) else m
    }
    def geo(df: DataFrame) = inject("geo")(Spine.geo(mapped(df, ua = true), in.dim))
    def routed(sinkStep: Option[String]): Unit = {
      val s = srcs(dedup = true)
      val r = Trace.span("topology.Topology.apply") {
        val topo = graft.topology.TopologyConfig.load(Spine.TopologyText).toTopology(_ => geo)
        topo(s)
      }
      try {
        if (sinkStep.contains("avro")) { Spine.clearDir(s"$dir/ladder-avro"); Spine.avro(r("avro"), s"$dir/ladder-avro", "ladder") }
        else Spine.countRows(r("avro"))
        if (sinkStep.contains("kafka")) Spine.kafka(r("kafka")) else Spine.countRows(r("kafka"))
        if (sinkStep.contains("pubsub")) Spine.pubsub(r("pubsub")) else Spine.countRows(r("pubsub"))
      } finally Spine.unroute(s)
    }
    Seq(
      Step("decode", None, () => Spine.countRows(union(srcs(dedup = false)))),
      Step("dedup", Some("decode"), () => Spine.countRows(union(srcs(dedup = true)))),
      Step("map", Some("dedup"), () => Spine.countRows(mapped(union(srcs(dedup = true)), ua = false))),
      Step("ua", Some("map"), () => Spine.countRows(mapped(union(srcs(dedup = true)), ua = true))),
      Step("geo", Some("ua"), () => Spine.countRows(geo(union(srcs(dedup = true))))),
      Step("route", Some("geo"), () => routed(None)),
      Step("avro", Some("route"), () => routed(Some("avro"))),
      Step("kafka", Some("route"), () => routed(Some("kafka"))),
      Step("pubsub", Some("route"), () => routed(Some("pubsub"))))
  }

  final case class Result(medians: Map[String, Double], self: Map[String, Double],
                          shuffleBytes: Map[String, Double], samples: Map[String, Seq[Double]])

  /** Run every step `reps` times, rotating the order each round so drift
    * and warm-up do not land on one step. Each run is its own trace. */
  def measure(spark: SparkSession, steps: Seq[Step], reps: Int, listener: BenchListener,
              warmUp: Boolean): Result = {
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val shuffle = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    if (warmUp) steps.foreach(s => s.run()) // codegen and JIT for every step
    for (r <- 0 until reps; i <- steps.indices) {
      val s = steps((i + r) % steps.size)
      val id = s"ladder-${s.name}-$r"
      spark.sparkContext.setLocalProperty("perfbench.trace", id)
      val w = Trace.withTrace(id)(Trace.span(s"ladder.${s.name}")(Clock.seconds(s.run())))
      spark.sparkContext.setLocalProperty("perfbench.trace", null)
      times(s.name) :+= w
      org.apache.spark.BusDrain(spark.sparkContext)
      shuffle(s.name) :+= listener.acc(id).shuffleWrite.get.toDouble
    }
    val med = times.map { case (k, v) => k -> Stats.median(v) }.toMap
    Result(med, selfTimes(med, steps.map(s => s.name -> s.base)),
      shuffle.map { case (k, v) => k -> Stats.median(v) }.toMap, times.toMap)
  }

  /** Test hook: a per-row pause, planned as a filter the optimizer keeps. */
  def pause(nanosPerRow: Long): DataFrame => DataFrame = { df =>
    val f = udf { () => java.util.concurrent.locks.LockSupport.parkNanos(nanosPerRow); true }
      .asNondeterministic()
    df.filter(f())
  }
}
