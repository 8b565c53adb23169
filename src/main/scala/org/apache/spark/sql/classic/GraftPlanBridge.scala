package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft needs: turning a hand-built
  * LogicalPlan (graft.plans.AsofJoinPlan, or a parquet relation re-pointed
  * at graft.store.SkippingFileIndex) into a DataFrame. Everything
  * else in the library stays on public API; this shim is the standard
  * pattern for libraries that contribute custom plan nodes.
  */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
