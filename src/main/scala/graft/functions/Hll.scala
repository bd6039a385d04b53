package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable HyperLogLog distinct-count as a typed [[Aggregator]] — the
  * custom-aggregate form of the deterministic sketch used by
  * `EventQueries.dailyRollupApprox` (same md5-low-64 hash, same
  * register encoding, same harmonic-sum-in-exact-integers estimate, so the
  * two formulations agree bit-for-bit; asserted in SketchSpec).
  *
  * Registers store 2^(rho-1) (the lowest set bit of the hash's upper 54
  * bits) rather than rho itself: `max` of powers of two ≡ max rho, and the
  * harmonic sum Σ2^-rho becomes an exact integer sum scaled by 2^52 — one
  * double division at the end, engine/order independent.
  *
  * Usable anywhere a Column aggregate is: `ds.groupBy(...).agg(Hll.udaf
  * (col))`, including streaming windowed aggregations (registers merge
  * associatively/commutatively — constant state per group, the property
  * that makes HLL the 100 TB distinct-count).
  */
object Hll {
  final val M = 1024 // 2^10 registers

  /** (bucket, register value 2^(rho-1)) for one element. */
  private[functions] def registerOf(value: String): (Int, Long) = {
    val bytes = Digests.md5Utf8(value)
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    val bucket = (h & (M - 1)).toInt
    val w = h >>> 10
    val r = if (w == 0) 1L << 54 else w & -w
    (bucket, r)
  }

  /** Estimate from registers (0 = empty). Same constants and small-range
    * correction as the SQL replica in EventQueries.dailyRollupApproxSql. */
  private[functions] def estimate(regs: Array[Long]): Double = {
    val scale = (0.7213 / (1 + 1.079 / M)) * M * M * math.pow(2, 52)
    var s = 0L
    var zeros = 0
    var i = 0
    while (i < regs.length) {
      if (regs(i) == 0L) { zeros += 1; s += 1L << 52 }
      else s += math.floor((1L << 51).toDouble / regs(i)).toLong
      i += 1
    }
    val raw = scale / s.toDouble
    if (raw <= 2.5 * M && zeros > 0) M.toDouble * math.log(M.toDouble / zeros)
    else raw
  }

  /** Typed aggregator over the string form of the key (matches the SQL
    * side's md5(x::VARCHAR)). */
  class HllDistinct extends Aggregator[String, Array[Long], Double] {
    override def zero: Array[Long] = new Array[Long](M)
    override def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) {
        val (bucket, r) = registerOf(a)
        if (r > b(bucket)) b(bucket) = r
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Double = estimate(b)
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column-API form: `df.groupBy(...).agg(Hll.approxDistinct(col("k")))`. */
  def approxDistinct(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new HllDistinct).apply(c.cast("string"))
}
