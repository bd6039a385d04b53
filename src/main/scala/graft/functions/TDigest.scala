package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests", arXiv:1902.04023) — the mergeable quantile
  * sketch for 100-TB percentile rollups.
  *
  * Why not exact or built-in: exact per-group quantiles shuffle every
  * value to its group's reducer ([[graft.queries.EventQueries
  * .exactQuantiles]] is the oracle-grade formulation, O(group size) on one
  * task); Spark's `percentile_approx` (Greenwald-Khanna) is not
  * re-mergeable ACROSS pre-aggregated groups — you cannot keep per-day
  * summaries and later roll them into a month. A t-digest is a ~2δ-entry
  * summary with map-side partial aggregation AND second-level digest
  * re-merge (`tdigestMerge`), so the month rollup reads 30 digest rows,
  * not 30 days of raw events. Rank error concentrates at the tails as
  * O(q(1-q)/δ) — the p99-friendly property the interpolating scale
  * function k1(q) = δ/2π·asin(2q−1) buys.
  *
  * Representation: a flat `Array[Double]` of (mean, weight) pairs sorted
  * by mean — Tungsten-friendly, no boxing, encoder-trivial. The aggregation
  * buffer prepends a header slot holding the live pair count so `reduce`
  * mutates in place (Hll/TopK pattern: zero per-row allocation; compression
  * runs in place when the fixed buffer fills).
  */
object TDigest {

  /** Compression parameter δ: ≤ ~2δ centroids survive a compress. */
  val DefaultDelta = 200.0

  /** Buffered (uncompressed) pairs before an in-place compress. */
  private val BufPairs = 2048

  private def kFn(q: Double, delta: Double): Double =
    delta / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  /** Merge-compress sorted-by-mean (mean, weight) pairs to the δ bound.
    * Input `pairs` is a flat array of `n` (mean, weight) pairs in
    * arbitrary order; returns a flat sorted compressed array. */
  def compress(pairs: Array[Double], n: Int, delta: Double): Array[Double] = {
    if (n == 0) return Array.emptyDoubleArray
    val idx = Array.range(0, n).sortBy(i => pairs(2 * i))
    var total = 0.0
    var i = 0
    while (i < n) { total += pairs(2 * i + 1); i += 1 }
    val outM = new Array[Double](n)
    val outW = new Array[Double](n)
    var m = 0
    var curM = pairs(2 * idx(0))
    var curW = pairs(2 * idx(0) + 1)
    var wSoFar = 0.0
    i = 1
    while (i < n) {
      val mean = pairs(2 * idx(i))
      val w = pairs(2 * idx(i) + 1)
      val q0 = wSoFar / total
      val q2 = (wSoFar + curW + w) / total
      if (kFn(q2, delta) - kFn(q0, delta) <= 1.0) {
        // absorb: weighted mean update keeps the centroid exact
        curM = (curM * curW + mean * w) / (curW + w)
        curW += w
      } else {
        outM(m) = curM; outW(m) = curW; m += 1
        wSoFar += curW
        curM = mean; curW = w
      }
      i += 1
    }
    outM(m) = curM; outW(m) = curW; m += 1
    val out = new Array[Double](2 * m)
    i = 0
    while (i < m) { out(2 * i) = outM(i); out(2 * i + 1) = outW(i); i += 1 }
    out
  }

  /** Quantile estimate from a compressed digest (flat sorted pairs):
    * linear interpolation between centroid centers, clamped to the
    * extreme centroid means at the tails. */
  def quantile(digest: Array[Double], q: Double): Double = {
    val n = digest.length / 2
    if (n == 0) return Double.NaN
    if (n == 1) return digest(0)
    var total = 0.0
    var i = 0
    while (i < n) { total += digest(2 * i + 1); i += 1 }
    val target = q * total
    // centroid centers in cumulative-weight space
    var cum = 0.0
    var prevCenter = 0.0
    var prevMean = digest(0)
    i = 0
    while (i < n) {
      val w = digest(2 * i + 1)
      val center = cum + w / 2.0
      if (target < center) {
        if (i == 0) return digest(0)
        val f = (target - prevCenter) / (center - prevCenter)
        return prevMean + f * (digest(2 * i) - prevMean)
      }
      prevCenter = center
      prevMean = digest(2 * i)
      cum += w
      i += 1
    }
    digest(2 * (n - 1))
  }

  /** Total weight (observation count) in a digest. */
  def weight(digest: Array[Double]): Double = {
    var total = 0.0
    var i = 1
    while (i < digest.length) { total += digest(i); i += 2 }
    total
  }

  // ------------------------------------------------------------ aggregators
  /** Buffer layout: slot 0 = live pair count; pairs from slot 1. Fixed
    * capacity, mutated in place; compressed in place when full. */
  private def newBuf: Array[Double] = new Array[Double](1 + 2 * BufPairs)

  private def compressBuf(b: Array[Double], delta: Double): Unit = {
    val n = b(0).toInt
    val packed = java.util.Arrays.copyOfRange(b, 1, 1 + 2 * n)
    val c = compress(packed, n, delta)
    System.arraycopy(c, 0, b, 1, c.length)
    b(0) = (c.length / 2).toDouble
  }

  private def addPair(b: Array[Double], mean: Double, w: Double, delta: Double): Array[Double] = {
    if (b(0).toInt == BufPairs) compressBuf(b, delta)
    val n = b(0).toInt
    b(1 + 2 * n) = mean
    b(2 + 2 * n) = w
    b(0) = (n + 1).toDouble
    b
  }

  // ---------------------------------------------------- streaming-state API
  /** The aggregation buffer as streaming state ([[graft.streaming.Streams
    * .tdigestStream]]): fold raw values in, snapshot a compressed digest
    * out — the state IS the batch aggregator's buffer, O(δ) per group. */
  def emptyBuffer: Array[Double] = newBuf

  def fold(buf: Array[Double], v: Double, delta: Double = DefaultDelta): Array[Double] =
    if (v.isNaN) buf else addPair(buf, v, 1.0, delta)

  /** Compressed digest view of a buffer, without consuming it. */
  def snapshot(buf: Array[Double], delta: Double = DefaultDelta): Array[Double] =
    compress(java.util.Arrays.copyOfRange(buf, 1, 1 + 2 * buf(0).toInt),
      buf(0).toInt, delta)

  /** values → digest (flat sorted (mean, weight) pairs). */
  class TDigestAgg(delta: Double) extends Aggregator[Double, Array[Double], Array[Double]] {
    override def zero: Array[Double] = newBuf
    override def reduce(b: Array[Double], a: Double): Array[Double] =
      if (a.isNaN) b else addPair(b, a, 1.0, delta)
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      val ny = y(0).toInt
      var i = 0
      var b = x
      while (i < ny) { b = addPair(b, y(1 + 2 * i), y(2 + 2 * i), delta); i += 1 }
      b
    }
    override def finish(b: Array[Double]): Array[Double] =
      compress(java.util.Arrays.copyOfRange(b, 1, 1 + 2 * b(0).toInt), b(0).toInt, delta)
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** digests → digest: second-level re-merge (the month-from-days rollup).
    * Null-safe on the input column (absent groups merge as empty). */
  class TDigestMergeAgg(delta: Double)
      extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    override def zero: Array[Double] = newBuf
    override def reduce(b: Array[Double], dig: Seq[Double]): Array[Double] = {
      if (dig == null) return b
      var i = 0
      var buf = b
      while (i + 1 < dig.length) { buf = addPair(buf, dig(i), dig(i + 1), delta); i += 2 }
      buf
    }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      val ny = y(0).toInt
      var i = 0
      var b = x
      while (i < ny) { b = addPair(b, y(1 + 2 * i), y(2 + 2 * i), delta); i += 1 }
      b
    }
    override def finish(b: Array[Double]): Array[Double] =
      compress(java.util.Arrays.copyOfRange(b, 1, 1 + 2 * b(0).toInt), b(0).toInt, delta)
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** `df.groupBy(g).agg(TDigest.tdigest(col("v")))` → digest column. */
  def tdigest(c: Column, delta: Double = DefaultDelta): Column =
    udaf(new TDigestAgg(delta)).apply(c.cast("double"))

  /** Re-merge digest columns: `groupBy(g).agg(TDigest.tdigestMerge(col("dig")))`. */
  def tdigestMerge(c: Column, delta: Double = DefaultDelta): Column =
    udaf(new TDigestMergeAgg(delta), ExpressionEncoder[Seq[Double]]()).apply(c)
}
