package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, SessionStateHelper}

/** Bridge into the `private[sql]` session-state accessors, so the graft
  * engine can read a session's own `SQLConf` and Hadoop configuration the
  * way Spark's file sources do. */
object SessionBridge {
  def sqlConf(spark: SparkSession): SQLConf = SessionStateHelper.getSqlConf(spark)
  def hadoopConf(spark: SparkSession): Configuration = SessionStateHelper.getHadoopConf(spark)
}
