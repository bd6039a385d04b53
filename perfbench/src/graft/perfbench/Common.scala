package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering (ordered objects via ListMap / Seq of pairs). */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o => quote(o.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]); NaN on empty input. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** JVM-wide counters: collector time, JIT time, and the peak
  * live heap. The heap is sized -Xms = -Xmx and pre-touched, so RSS says
  * nothing about the program's memory. */
object Engine {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private val peakLive = new AtomicLong(0L)

  /** Heap in use right after a forced full collection: the live set. Taken
    * at fixed checkpoints outside timed sections, so it does not depend on
    * when the collector happened to run; the max over checkpoints is kept. */
  def heapCheckpoint(): Unit = {
    // the second collection reclaims what the first one's reference
    // processing released (Spark's cleaner drops broadcasts and shuffles then)
    System.gc(); Thread.sleep(100); System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakLive.accumulateAndGet(used, math.max(_, _))
  }
  def heapPeakMb: Double = peakLive.get / (1024.0 * 1024.0)

  def loadAvg: String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }
}

/** In-memory span recorder: one span per call into a layer, with its trace
  * id (one per prefix, query or micro-batch) and the span that caused it.
  * Disabled spans cost one volatile read. Spans are written at the end. */
object Trace {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        startNs: Long, endNs: Long)
  @volatile var enabled = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val traceId = ThreadLocal.withInitial[String](() => "")

  def withTrace[T](id: String)(body: => T): T = {
    val prev = traceId.get; traceId.set(id)
    try body finally traceId.set(prev)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(id, parent, traceId.get, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name: duration minus the union of its children. */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def toJson(ss: Seq[Span]): Seq[ListMap[String, Any]] = ss.map(s => ListMap(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** The benchmark's own listener: job/stage/task counts, task time, shuffle
  * and spill bytes, attributed to the trace id set as a job-local property
  * (`perfbench.trace`) when the job started, plus every stage's span. */
class BenchListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  final class Acc {
    val jobs, stages, tasks, taskRunMs, taskCpuNs, shuffleWrite, spill = new AtomicLong
    val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val byTrace = new ConcurrentHashMap[String, Acc]()
  private val stageTrace = new ConcurrentHashMap[Int, String]()
  def acc(t: String): Acc = byTrace.computeIfAbsent(t, _ => new Acc)
  def traces: Seq[String] = byTrace.keySet.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.trace"))).getOrElse("")
    acc(t).jobs.incrementAndGet()
    e.stageIds.foreach(stageTrace.put(_, t))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageTrace.getOrDefault(e.stageInfo.stageId, ""))
    a.stages.incrementAndGet()
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime) a.stageSpans.add((s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageTrace.getOrDefault(e.stageId, ""))
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.taskRunMs.addAndGet(m.executorRunTime)
      a.taskCpuNs.addAndGet(m.executorCpuTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Counts operations and failed operations/checks; every mismatch found by
  * an output check is a failure. Check results are kept for the artifact. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer.empty[ListMap[String, Any]]
  def ops(n: Long, bad: Long = 0L): Unit = { attempted += n; failed += bad }
  /** Equality check; a mismatch fails |expected - got| operations (at least one). */
  def expectEq(name: String, expected: Long, got: Long): Unit = {
    val bad = math.abs(expected - got)
    attempted += 1; if (bad != 0) failed += math.max(1L, bad)
    checks += ListMap("check" -> name, "expected" -> expected, "got" -> got, "ok" -> (bad == 0))
  }
  def expect(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1; if (!ok) failed += 1
    checks += ListMap("check" -> name, "ok" -> ok, "detail" -> detail)
  }
  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Wall-clock helpers. */
object Clock {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(body: => Any): Double = timed(body)._2
}
