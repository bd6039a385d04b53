package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable count-min sketch as a typed [[Aggregator]] — the frequency
  * companion of [[Hll]] (distinct count) and the Bloom decontamination
  * probe (membership): `depth` md5-derived hash rows over `width` counters;
  * an item increments one counter per row, a point query takes the MIN
  * across rows. Estimates never undercount, and overcount is bounded by
  * (e/width)·N with probability 1-(1/e)^depth — the classic CMS contract.
  *
  * This is the documented open-vocabulary scale path for the LM/importance
  * model builds (`DocQueries.unigramLm`'s top-K cap keeps exact counts for
  * the head; the sketch bounds memory for the UNBOUNDED tail): state is a
  * constant `depth*width` long array regardless of vocabulary, merges are
  * exact element-wise sums (associative + commutative), so it partial-
  * aggregates map-side, merges across streaming micro-batches, and
  * broadcasts in a few hundred KB where an exact token→count map would be
  * the vocabulary itself.
  *
  * Hashing is md5 over "cm<row>:<value>" (no RNG, no Spark-internal hash):
  * two independent builds over the same multiset produce the identical
  * array, so sketch equality and cross-engine replication are meaningful.
  */
object CountMin {
  final val Depth = 4
  final val Width = 1 << 12 // 4096 counters/row: eps = e/4096 ~ 0.07% of N

  /** Counter index of `value` in hash row `row`. */
  private[functions] def bucket(value: String, row: Int): Int = {
    val bytes = Digests.md5Utf8(s"cm$row:$value")
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    ((h >>> 1) % Width).toInt
  }

  /** Add `n` occurrences of `value` to the sketch (flat depth×width array). */
  def add(sketch: Array[Long], value: String, n: Long = 1L): Unit = {
    var r = 0
    while (r < Depth) {
      sketch(r * Width + bucket(value, r)) += n
      r += 1
    }
  }

  /** Point estimate: min across rows — >= the true count, always. */
  def query(sketch: Array[Long], value: String): Long = {
    var est = Long.MaxValue
    var r = 0
    while (r < Depth) {
      val c = sketch(r * Width + bucket(value, r))
      if (c < est) est = c
      r += 1
    }
    est
  }

  /** Typed aggregator: one input row = one occurrence of the (string) key.
    * Buffer and result are the raw sketch array, so the aggregate output
    * can be collected once and broadcast for executor-side [[query]]. */
  class SketchAgg extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](Depth * Width)
    override def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) add(b, a)
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Column-API form: `df.agg(CountMin.sketch(col("token")))` — also valid
    * under `groupBy` (per-group sketches) and streaming aggregation. */
  def sketch(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new SketchAgg).apply(c.cast("string"))
}
