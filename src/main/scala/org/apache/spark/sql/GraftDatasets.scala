package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `classic.Dataset.ofRows` is `private[sql]`; graft.util.Blocks needs it. */
object GraftDatasets {
  def ofRows(session: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session, plan)
}
