package graft.core

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSeq, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types.{BooleanType, StructType}

/** A superstep's physical plan, planned once and re-executed over each new
  * state. The plan was built over a state leaf (a `LogicalRDD`, the
  * placeholder). A later superstep over a leaf of the same schema, size
  * statistics, partitioning and ordering (by column position) runs the
  * cached plan with the new state's rows swapped into the placeholder's
  * `RDDScanExec` — no step is built, and no optimization, planning or code
  * compilation happens. The leaf is enough to decide because a step is a
  * function of the state alone. Nodes above the swapped scan are copied
  * (fresh exchanges and metrics); subtrees that do not read the state (the
  * cached edge side) are shared.
  *
  * @param output   the step's output columns, which every state leaf made
  *   from this plan carries (with fresh ids).
  * @param sentinel stands in for the placeholder's rows in `plan`, so the
  *   cache holds no superseded state. */
private[core] final class SuperstepPlan private (
    key: SuperstepPlan.LeafKey,
    plan: SparkPlan,
    val output: Seq[Attribute],
    sentinel: RDD[InternalRow]) {

  /** True when a superstep over the state leaf `leaf` may run this plan: the
    * leaf looks like the placeholder. */
  def fits(leaf: LogicalRDD): Boolean = SuperstepPlan.keyOf(leaf) == key

  /** The cached plan reading `leaf`'s rows. Call it with the loop session
    * active: the copied nodes take their settings from the active session. */
  def rebind(leaf: LogicalRDD): SparkPlan =
    plan.transformUp { case s: RDDScanExec if s.rdd eq sentinel => s.copy(rdd = leaf.rdd) }
}

private[core] object SuperstepPlan {

  /** What a step's plan can see of a state leaf: its schema, size
    * statistics, and partitioning and ordering by column position. */
  type LeafKey = (StructType, (BigInt, Option[BigInt]), Partitioning, Seq[Expression])

  /** The state's leaf, when the frame is nothing but one. */
  def leafOf(state: DataFrame): Option[LogicalRDD] = state.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l)
    case _ => None
  }

  /** `plan` — `step`'s executed plan over the state leaf `leaf` — as a
    * cache entry, or None when the runner cannot show that swapping the
    * state's rows is all a later superstep changes: the plan must read the
    * state only through plain `RDDScanExec`s of its rows, and no other leaf
    * (another in-step checkpoint, a cached relation, a reused exchange or a
    * subquery) may read data derived from them. */
  def cache(step: DataFrame, leaf: LogicalRDD, plan: SparkPlan): Option[SuperstepPlan] = {
    val state = leaf.rdd
    val scansState = plan.exists {
      case s: RDDScanExec => s.rdd eq state
      case _ => false
    }
    if (!scansState || readsDerived(plan, state, plain = true, mutable.Set.empty)) None
    else {
      val sentinel = state.sparkContext.emptyRDD[InternalRow]
      Some(new SuperstepPlan(keyOf(leaf),
        plan.transformUp { case s: RDDScanExec if s.rdd eq state => s.copy(rdd = sentinel) },
        step.queryExecution.analyzed.output, sentinel))
    }
  }

  private def keyOf(leaf: LogicalRDD): LeafKey = {
    val in = new AttributeSeq(leaf.output)
    (leaf.schema, (leaf.stats.sizeInBytes, leaf.stats.rowCount),
      normalized(leaf.outputPartitioning, in), leaf.outputOrdering.map(QueryPlan.normalizeExpressions(_, in)))
  }

  private def normalized(p: Partitioning, in: AttributeSeq): Partitioning = p match {
    case e: Expression => QueryPlan.normalizeExpressions(e, in).asInstanceOf[Partitioning]
    case other => other
  }

  private def readsDerived(plan: SparkPlan, state: RDD[_], plain: Boolean,
      seen: mutable.Set[Int]): Boolean = plan.exists {
    case s: RDDScanExec => !(plain && (s.rdd eq state)) && dependsOn(s.rdd, state, seen)
    case r: ReusedExchangeExec => readsDerived(r.child, state, plain = false, seen)
    case m: InMemoryTableScanExec =>
      readsDerived(m.relation.cacheBuilder.cachedPlan, state, plain = false, seen)
    case p => p.subqueries.exists(readsDerived(_, state, plain = false, seen))
  }

  private def dependsOn(rdd: RDD[_], target: RDD[_], seen: mutable.Set[Int]): Boolean =
    (rdd eq target) || (seen.add(rdd.id) && rdd.dependencies.exists(d => dependsOn(d.rdd, target, seen)))

  /** Runs `plan` as a superstep whose output columns are `output`: its rows
    * behind a lazy local checkpoint — materialized by the first job that
    * reads them, lineage cut once it has — as a `LogicalRDD` leaf of
    * `session`, partitioned and ordered as `plan` delivers them. The leaf
    * carries no size statistics, so later plans over it see the session's
    * default size. Call it with `session` active. */
  def checkpoint(session: SparkSession, output: Seq[Attribute], plan: SparkPlan): LogicalRDD = {
    val rdd = plan.execute().map(_.copy())
    rdd.localCheckpoint()
    val rename = AttributeMap(plan.output.zip(output))
    def renamed[T <: Expression](e: T): Option[T] =
      if (e.references.forall(rename.contains))
        Some(e.transform { case a: Attribute => rename(a) }.asInstanceOf[T])
      else None
    val partitioning = firstLeaf(plan.outputPartitioning) match {
      case e: Expression => renamed(e).map(_.asInstanceOf[Partitioning])
        .getOrElse(UnknownPartitioning(plan.outputPartitioning.numPartitions))
      case p => p
    }
    val ordering = plan.outputOrdering.map(renamed[SortOrder])
    LogicalRDD(output, rdd, partitioning,
      if (ordering.forall(_.isDefined)) ordering.flatten else Nil, isStreaming = false)(
      session.asInstanceOf[classic.SparkSession])
  }

  /** A join's partitioning lists both sides' keys; the first (the streamed
    * side's) is the one over output columns, as `Dataset.checkpoint` takes
    * it. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  /** Index of the boolean column `column` of `leaf`. */
  def booleanColumn(leaf: LogicalRDD, column: String): Int = {
    val i = leaf.output.indexWhere(_.name == column)
    require(i >= 0 && leaf.output(i).dataType == BooleanType,
      s"no boolean column '$column' in ${leaf.schema.simpleString}")
    i
  }

  /** Runs `job` over the rows of `leaf` as a SQL execution named `name` that
    * scans the leaf, with `tracker` as its planning record (the planned
    * step's, or an empty one for a rebound superstep). */
  def onLeaf[T](session: SparkSession, leaf: LogicalRDD, name: String,
      tracker: QueryPlanningTracker)(job: RDD[InternalRow] => T): T = {
    val scan = RDDScanExec(leaf.output, leaf.rdd, "ExistingRDD", leaf.outputPartitioning,
      leaf.outputOrdering)
    val qe = new QueryExecution(session.asInstanceOf[classic.SparkSession], leaf, tracker) {
      override def analyzed: LogicalPlan = leaf
      override def optimizedPlan: LogicalPlan = leaf
      override def sparkPlan: SparkPlan = scan
      override def executedPlan: SparkPlan = scan
    }
    SQLExecution.withNewExecutionId(qe, Some(name))(job(leaf.rdd))
  }

  /** Rows of `leaf` whose boolean column `column` is true, counted on its
    * rows directly in one job — the convergence action, recorded as a SQL
    * execution named "count". */
  def countTrue(session: SparkSession, leaf: LogicalRDD, column: String,
      tracker: QueryPlanningTracker): Long = {
    val i = booleanColumn(leaf, column)
    onLeaf(session, leaf, "count", tracker) { rdd =>
      // the (TaskContext, Iterator) overload: the one-argument one also
      // cleans SparkContext's own wrapper closure on every call
      session.sparkContext.runJob(rdd, (_: TaskContext, rows: Iterator[InternalRow]) => {
        var n = 0L
        while (rows.hasNext) {
          val r = rows.next()
          if (!r.isNullAt(i) && r.getBoolean(i)) n += 1
        }
        n
      }, 0 until rdd.partitions.length).sum
    }
  }
}
