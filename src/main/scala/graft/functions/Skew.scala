package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot-key joins at warehouse scale.
  *
  * AQE's skew-join splitting handles most cases; explicit salting remains
  * the tool when one side must pre-aggregate per key or AQE can't see the
  * skew (e.g. streaming state, bucketed layouts).
  */
object Skew {

  /** Salted equi-join of a skewed fact to a dimension: the fact side gets a
    * random-but-deterministic salt in [0, salts), the dim side is exploded
    * across all salts, and the join key becomes (key, salt) — hot keys
    * spread over `salts` reducers. Dim grows by `salts`x, so keep it for
    * genuinely small/medium dims. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }
}
