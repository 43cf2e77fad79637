package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The route from a logical plan to a DataFrame, which Spark keeps
  * package-private (`classic.Dataset.ofRows`). `graft.core.CheckpointPolicy`
  * builds its keyed pins with it: a pinned RDD wrapped in a plan node that
  * declares the partitioning the rows really have. */
object PlanFrames {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
}
