package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Driver-held relations for [[graft.search.SessionCache]]'s small-bucket
  * snapshots, collected from the bucket's snapshot-zone read. Lives in an `org.apache.spark.sql` subpackage because
  * `Dataset.ofRows` (a DataFrame over a given logical plan) is
  * `private[sql]` — same pattern as
  * [[org.apache.spark.graft.metrics.SearchMetricsSource]]; no Spark behavior
  * is modified.
  */
object LocalPlans {

  /** A DataFrame over `plan` as given: an already-optimized
    * `LocalRelation` is served without optimizing its source again. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
