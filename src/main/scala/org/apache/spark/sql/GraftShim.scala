package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one Spark-internal entry point graft needs: wrapping an already
  * built logical leaf as a DataFrame without a round trip through a Dataset
  * action (`Dataset.ofRows` is package-private to `org.apache.spark.sql`). */
object GraftShim {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
}
