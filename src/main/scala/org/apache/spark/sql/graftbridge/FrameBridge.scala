package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Static factory over the `private[sql]` `Dataset.ofRows`, so the graft
  * engine can hand rows it already holds back to Spark SQL as a DataFrame
  * (the same wrapping `Dataset.checkpoint` does for its checkpointed RDD).
  */
object FrameBridge {

  /** A DataFrame with `like`'s output columns whose rows come from `rdd`.
    * `rdd` must yield `like`'s rows (e.g. `like.queryExecution.toRdd`,
    * copied and persisted); its partitioning is reported as unknown, so
    * downstream operators re-shuffle wherever they need a distribution. */
  def ofRows(like: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val qe = like.queryExecution
    Dataset.ofRows(qe.sparkSession, LogicalRDD(qe.analyzed.output, rdd)(qe.sparkSession))
  }
}
