package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Re-home a frame's logical plan in another session. Spark's
  * `Dataset.ofRows` is `private[sql]`, so the factory lives inside the
  * `org.apache.spark.sql` package tree, like [[ColumnBridge]].
  */
object SessionBridge {
  /** `df`'s plan as a DataFrame of `spark`: everything derived from it is
    * analyzed, planned and code-generated under `spark`'s state and conf.
    */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
