package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into package-private Spark API: the `private[sql]` Dataset
  * constructor, so graft's custom logical operators
  * ([[graft.plans.TopKPerKeyNode]]) can be wrapped back into a public
  * DataFrame, and `SparkContext.unpersistRDD` for [[graft.plans.Loop]].
  * This is the standard extension-library pattern:
  * one minimal object compiled into the `org.apache.spark.sql` package,
  * everything else lives in graft's own namespace.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `RDD.unpersist(blocking = true)` without the warning it logs for every
    * locally checkpointed RDD. */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
}
