package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.{DataFrame, SparkSession => ApiSparkSession}

/** The one `private[sql]` doorway the engine needs: wrap a custom
  * `LogicalPlan` (graft.plans.AsOfMergeLogical, graft.plans.DecodeFrames)
  * in a DataFrame.
  * Spark exposes custom-plan REGISTRATION (SparkSessionExtensions
  * strategies) publicly but not plan→DataFrame construction, so
  * every library adding a whole-operator plan node carries exactly
  * this shim. Nothing else in the repo lives outside `graft.*`.
  */
object PlanDataFrame {
  def ofRows(spark: ApiSparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
