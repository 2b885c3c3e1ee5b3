package org.apache.spark.sql

import org.apache.spark.sql.internal.SQLConf

/** A session's own SQL conf (sessionState is private[sql]), for the
  * Spark helpers that take one. Lives in org.apache.spark.sql for
  * access only. */
object GraftSessionConf {
  def apply(spark: SparkSession): SQLConf = spark.sessionState.conf
}
