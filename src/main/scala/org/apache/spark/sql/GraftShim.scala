package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The Spark-internal entry points graft needs, package-private to
  * `org.apache.spark.sql`: wrapping an already built logical plan as a
  * DataFrame without a round trip through a Dataset action, and cloning a
  * session. */
object GraftShim {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** A child of `session` that starts from a copy of its SQL settings,
    * catalog, UDFs and query listeners, and shares its SparkContext and
    * cached data; settings made on either afterwards stay their own. */
  def cloneSession(session: SparkSession): SparkSession =
    session.asInstanceOf[classic.SparkSession].cloneSession()
}
