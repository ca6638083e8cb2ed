package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSeq, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types.{BooleanType, StructType}

/** A superstep's physical plan, planned once and re-executed over each new
  * state. The plan was built over a state leaf (a `LogicalRDD`, the
  * placeholder); a later superstep whose step builds the same analyzed plan
  * over a leaf of the same schema, partitioning and statistics runs the
  * cached plan with the new state's rows swapped into the placeholder's
  * `RDDScanExec` — no optimization, planning or code compilation. Nodes
  * above the swapped scan are copied (fresh exchanges and metrics); subtrees
  * that do not read the state (the cached edge side) are shared.
  *
  * @param sentinel stands in for the placeholder's rows in `plan` and
  *   `shape`, so the cache holds no superseded state. */
private[core] final class SuperstepPlan private (
    schema: StructType,
    stats: (BigInt, Option[BigInt]),
    shape: (LogicalPlan, Seq[HintInfo]),
    plan: SparkPlan,
    sentinel: RDD[InternalRow]) {

  /** True when `step`, built over the state leaf `leaf`, is the cached
    * superstep with only the state's rows changed. */
  def fits(step: DataFrame, leaf: LogicalRDD): Boolean =
    leaf.schema == schema && SuperstepPlan.statsOf(leaf) == stats &&
      SuperstepPlan.shape(step, leaf.rdd, sentinel) == shape

  /** The cached plan reading `leaf`'s rows. */
  def rebind(leaf: LogicalRDD): SparkPlan =
    plan.transformUp { case s: RDDScanExec if s.rdd eq sentinel => s.copy(rdd = leaf.rdd) }
}

private[core] object SuperstepPlan {

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
      Some(new SuperstepPlan(leaf.schema, statsOf(leaf), shape(step, state, sentinel),
        plan.transformUp { case s: RDDScanExec if s.rdd eq state => s.copy(rdd = sentinel) },
        sentinel))
    }
  }

  private def statsOf(leaf: LogicalRDD) = (leaf.stats.sizeInBytes, leaf.stats.rowCount)

  /** `step`'s analyzed plan in canonical form, with the state's rows
    * replaced by `sentinel` and every RDD leaf's partitioning and ordering
    * written by column position (a leaf's own attribute ids are fresh in
    * every superstep), and its join hints, which the canonical form drops
    * but which choose the physical join. */
  private def shape(step: DataFrame, state: RDD[InternalRow],
      sentinel: RDD[InternalRow]): (LogicalPlan, Seq[HintInfo]) = {
    val session = step.sparkSession.asInstanceOf[classic.SparkSession]
    val analyzed = step.queryExecution.analyzed
    val canonical = analyzed.transformUp {
      case l: LogicalRDD =>
        l.copy(
          rdd = if (l.rdd eq state) sentinel else l.rdd,
          outputPartitioning = l.outputPartitioning match {
            case e: Expression => QueryPlan.normalizeExpressions(e, new AttributeSeq(l.output))
              .asInstanceOf[Partitioning]
            case p => p
          },
          outputOrdering = l.outputOrdering.map(QueryPlan.normalizeExpressions(_, new AttributeSeq(l.output))))(
          session, None, None)
    }.canonicalized
    (canonical, analyzed.collect { case h: ResolvedHint => h.hints })
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

  /** Runs `plan` (`step`'s, or a rebound copy of it) as `step`'s output: its
    * rows behind a lazy local checkpoint — materialized by the first job
    * that reads them, lineage cut once it has — wrapped as a `LogicalRDD`
    * leaf over `step`'s output columns, partitioned and ordered as `plan`
    * delivers them. The leaf carries no size statistics, so later plans
    * over it see the session's default size. */
  def checkpoint(step: DataFrame, plan: SparkPlan): DataFrame = {
    val session = step.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = plan.execute().map(_.copy())
    rdd.localCheckpoint()
    val output = step.queryExecution.analyzed.output
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
    GraftShim.ofRows(session, LogicalRDD(output, rdd, partitioning,
      if (ordering.forall(_.isDefined)) ordering.flatten else Nil, isStreaming = false)(session))
  }

  /** A join's partitioning lists both sides' keys; the first (the streamed
    * side's) is the one over output columns, as `Dataset.checkpoint` takes
    * it. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  /** Rows of the leaf frame `state` whose boolean column `column` is true,
    * counted on its rows directly in one job — the convergence action,
    * recorded as a SQL execution named "count" whose planning phases are
    * `step`'s. */
  def countTrue(state: DataFrame, step: DataFrame, column: String): Long = {
    val session = state.sparkSession.asInstanceOf[classic.SparkSession]
    val leaf = leafOf(state).getOrElse(
      throw new IllegalArgumentException("countTrue needs a checkpointed state leaf"))
    val i = leaf.output.indexWhere(_.name == column)
    require(i >= 0 && leaf.output(i).dataType == BooleanType,
      s"no boolean column '$column' in ${leaf.schema.simpleString}")
    val scan = RDDScanExec(leaf.output, leaf.rdd, "ExistingRDD", leaf.outputPartitioning,
      leaf.outputOrdering)
    val qe = new QueryExecution(session, leaf, step.queryExecution.tracker) {
      override def analyzed: LogicalPlan = leaf
      override def optimizedPlan: LogicalPlan = leaf
      override def sparkPlan: SparkPlan = scan
      override def executedPlan: SparkPlan = scan
    }
    SQLExecution.withNewExecutionId(qe, Some("count")) {
      session.sparkContext.runJob(leaf.rdd, (rows: Iterator[InternalRow]) => {
        var n = 0L
        while (rows.hasNext) {
          val r = rows.next()
          if (!r.isNullAt(i) && r.getBoolean(i)) n += 1
        }
        n
      }).sum
    }
  }
}
