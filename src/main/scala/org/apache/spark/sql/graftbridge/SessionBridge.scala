package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Session internals the engine needs. Spark's `Dataset.ofRows` and
  * `SessionState` are `private[sql]`, so they are reached from inside the
  * `org.apache.spark.sql` package tree, like [[ColumnBridge]].
  */
object SessionBridge {
  /** `df`'s plan as a DataFrame of `spark`: everything derived from it is
    * analyzed, planned and code-generated under `spark`'s state and conf.
    */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** The Hadoop conf `spark`'s own reads and writes use: the context's conf
    * overlaid with the session's runtime conf (so with what
    * `graft.core.LocalFs.install` set there). Every engine FileSystem handle
    * is opened with it.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
