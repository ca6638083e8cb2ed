package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The Spark-internal entry points graft needs, package-private to
  * `org.apache.spark.sql`: wrapping an already built logical plan as a
  * DataFrame without a round trip through a Dataset action, cloning a
  * session, and running code with a session active. */
object GraftShim {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** A child of `session` that starts from a copy of its SQL settings,
    * catalog, UDFs and query listeners, and shares its SparkContext and
    * cached data; settings made on either afterwards stay their own. */
  def cloneSession(session: SparkSession): SparkSession =
    session.asInstanceOf[classic.SparkSession].cloneSession()

  /** Runs `body` with `session` as the thread's active session. A physical
    * plan node takes its settings from the session active when it is made,
    * so copies of a plan made in `body` keep `session`'s settings. */
  def withActive[T](session: SparkSession)(body: => T): T = session.withActive(body)
}
