package graft.core

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession, classic}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** Per-iteration metrics row (the engine analog of the reference Pregel's
  * per-superstep bookkeeping, `framework/Pregel.scala:41-48` — whose early
  * exit was dead because `activeMessageCount` returned `BitSet.capacity`,
  * `Graph.scala:446-455`; ours actually counts).
  *
  * @param planMs  driver time before the superstep's first job: building the
  *                step, then planning it or rebinding the cached plan.
  * @param rebound the superstep ran the cached plan of an earlier one.
  */
final case class IterMetrics(iter: Int, activeCount: Long, wallMs: Long,
    planMs: Long = 0L, rebound: Boolean = false)

/** Driver loop shared by every iterative algorithm (PageRank, both CC
  * forms, LPA, k-core, HITS, shortest paths, the three walks, dedup's
  * canonical propagation and SVD++'s SGD): persist-swap state management,
  * convergence action, and lineage truncation. The per-iteration body is
  * ONE declarative Catalyst plan (join → partial+final aggregate → join),
  * so whole-stage codegen applies to every superstep.
  *
  * Plan once, rebind per superstep: the state is always a leaf (a
  * `LogicalRDD` over locally checkpointed rows), so consecutive supersteps
  * usually run the same plan over a different leaf. The first is planned
  * with its state leaf as a placeholder ([[SuperstepPlan]]); a later one
  * whose leaf looks the same to a plan (schema, size statistics,
  * partitioning and ordering by column position) runs the cached physical
  * plan with the new state's rows swapped in — the step is not even built,
  * and nothing is analyzed, optimized, planned or compiled. A step is a
  * function of the state alone, which is what makes the leaf enough to
  * decide; a step that needs the superstep number carries it as a state
  * column (the walks' `step`). A superstep whose leaf differs (another
  * partitioning or size statistics), or whose plan cannot be cached (an
  * in-step checkpoint leaf), is planned afresh and becomes the cached plan.
  * Results are the same either way; `IterMetrics.rebound` records which
  * path each superstep took.
  *
  * Lineage: each iteration's plan references the previous one; without
  * truncation the plan tree grows (exponentially for multi-reference steps)
  * and the driver dies around iteration ~10. A lazy local checkpoint per
  * iteration caps it. A durable `Checkpointer` (if given) additionally writes
  * a state snapshot with its lineage every `truncateEvery` iterations, from
  * the job that materializes that superstep, and a metrics line every
  * iteration, so a killed run resumes mid-convergence.
  */
object IterativeRunner {

  final case class Result(state: DataFrame, iterations: Int, metrics: Vector[IterMetrics])

  /** Convergence action counting the new state's rows whose boolean column
    * `column` is true. The runner counts them on the checkpointed rows in
    * one job, without planning a query per superstep; applied to any other
    * frame it is the plain `where(column).count()`. */
  final case class CountTrue(column: String) extends (DataFrame => Long) {
    def apply(state: DataFrame): Long = state.where(col(column)).count()
  }

  /** Whether supersteps may rebind a cached plan; false plans every
    * superstep afresh (the reference arm of the rebinding specs). */
  private[graft] val rebind = new DynamicVariable[Boolean](true)

  /** Sees every superstep's metrics, also of loops whose callers do not
    * return them (what the rebinding specs inspect). */
  private[graft] val onSuperstep = new DynamicVariable[IterMetrics => Unit](_ => ())

  /** Sees the physical plan each superstep runs (what the loop-session
    * spec inspects). */
  private[graft] val onPlan = new DynamicVariable[SparkPlan => Unit](_ => ())

  /** The session a superstep loop plans in: a clone of `spark` — its
    * settings, catalog, UDFs and query listeners as they are now, its
    * SparkContext and cached data shared — with AQE off and, when given,
    * `parts` shuffle partitions. AQE stays off because a rebound superstep
    * swaps rows into a static plan, which an adaptive plan does not have.
    * The caller's session is never changed, so queries running next to the
    * loop on it keep their own settings. Make one per loop call: a clone
    * does not see listeners registered on `spark` after it was made. */
  private def loopSession(spark: SparkSession, parts: Option[Int]): SparkSession = {
    val child = GraftShim.cloneSession(spark)
    val conf = child.asInstanceOf[classic.SparkSession].sessionState.conf
    conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    // whole-stage-codegen RDDs built through a partition evaluator skip the
    // closure cleaning of `mapPartitionsWithIndex`, which a rebound
    // superstep's `execute()` otherwise pays on every superstep
    conf.setConf(SQLConf.USE_PARTITION_EVALUATOR, true)
    parts.foreach(conf.setConf(SQLConf.SHUFFLE_PARTITIONS, _))
    child
  }

  /** `df` as a frame of `session`: its analyzed plan, optimized and planned
    * under that session's settings. */
  private def rebase(df: DataFrame, session: SparkSession): DataFrame =
    if (df.sparkSession eq session) df else GraftShim.ofRows(session, df.queryExecution.analyzed)

  /** Runs supersteps until `maxIter` or until `activeCount` is 0. Every
    * superstep is planned and run in a [[loopSession]] of `init`'s session;
    * the returned state is a frame of `init`'s session again, planned under
    * its settings.
    *
    * The step is a function of the state alone, so a superstep whose state
    * leaf has the cached plan's schema, size statistics, partitioning and
    * ordering runs that plan without calling `step` at all; `step` is called
    * only when no cached plan fits (normally supersteps 1 and 2). A step
    * that needs the superstep number carries it as a state column.
    *
    * @param init         initial state; any schema, must contain the columns
    *                     `step` expects.
    * @param maxIter      hard iteration cap.
    * @param shuffleParts scale-adaptive shuffle-partition count for every
    *                     exchange inside the loop (state shuffles, message
    *                     aggregates) — normally the count [[IterCache.byKey]]
    *                     derived for the cached edge side, so all loop
    *                     exchanges co-partition with it and the cached
    *                     exchange is reused every superstep. None keeps the
    *                     caller's setting.
    * @param step         state → next state. Must be a pure Dataset
    *                     transformation of its argument: no captured value
    *                     that changes between supersteps (the superstep
    *                     number, say, is a state column). It may reference
    *                     `state` any number of times: the loop truncates the
    *                     plan to a leaf every iteration, so multiple
    *                     references do NOT nest exponentially across
    *                     supersteps (a k-reference step would otherwise grow
    *                     the logical plan k^n deep and OOM the driver around
    *                     iteration 10 — measured, not hypothetical).
    * @param activeCount  action deciding convergence: number of still-active
    *                     vertices in the NEW state; 0 stops the loop. A
    *                     constant runs exactly `maxIter` supersteps and no
    *                     job: the states' checkpoints materialize in the
    *                     first job that reads the returned state. A
    *                     [[CountTrue]] is one job per superstep, which on a
    *                     durable save superstep also writes the snapshot.
    */
  def loop(
      init: DataFrame,
      maxIter: Int,
      truncateEvery: Int = 10,
      checkpointer: Option[Checkpointer] = None,
      shuffleParts: Option[Int] = None)(
      step: DataFrame => DataFrame)(
      activeCount: DataFrame => Long): Result = {
    val spark = init.sparkSession
    val session = loopSession(spark, shuffleParts)
    // the session is active while the loop plans and runs, so plan copies
    // made by rebinding carry its settings, not the caller's
    val (last, iterations, metrics) = GraftShim.withActive(session) {
      val startIter = checkpointer.flatMap(_.latestIter).getOrElse(0)
      val start = rebase(checkpointer.flatMap(_.restore()).getOrElse(init), session)
      // the first leaf is made like every later one (lazy local checkpoint,
      // no size statistics), so superstep 2 can rebind superstep 1's plan.
      // LAZY: truncates the logical plan to a leaf immediately (so
      // multi-reference steps can't nest exponentially) but defers
      // materialization to the convergence action — one job per superstep,
      // not two. Superseded leaves are dropped by the ContextCleaner once
      // unreferenced.
      var state = SuperstepPlan.checkpoint(session, start.queryExecution.analyzed.output,
        start.queryExecution.executedPlan)
      var iter = startIter
      val metrics = Vector.newBuilder[IterMetrics]
      var active = 1L
      var cached: Option[SuperstepPlan] = None
      while (iter < maxIter && active > 0) {
        val t0 = System.nanoTime()
        iter += 1
        val reuse = if (rebind.value) cached.filter(_.fits(state)) else None
        val (plan, output, tracker) = reuse match {
          case Some(c) => (c.rebind(state), c.output.map(_.newInstance()), new QueryPlanningTracker(None))
          case None =>
            val stepDf = rebase(step(GraftShim.ofRows(session, state)), session)
            val p = stepDf.queryExecution.executedPlan
            cached = SuperstepPlan.cache(stepDf, state, p)
            (p, stepDf.queryExecution.analyzed.output, stepDf.queryExecution.tracker)
        }
        onPlan.value(plan)
        val next = SuperstepPlan.checkpoint(session, output, plan)
        val planMs = (System.nanoTime() - t0) / 1000000L
        // durable snapshot for kill/resume, written by the job that
        // materializes the leaf; the loop keeps the in-memory leaf, whose
        // local checkpoint already bounds the lineage
        val save = checkpointer.filter(_ => iter % truncateEvery == 0)
        active = activeCount match {
          case CountTrue(column) => save match {
            case Some(cp) => cp.saveLeaf(session, next, iter, Some(column), tracker)
            case None => SuperstepPlan.countTrue(session, next, column, tracker)
          }
          case f =>
            save.foreach(_.saveLeaf(session, next, iter, None, tracker))
            f(GraftShim.ofRows(session, next))
        }
        val m = IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000L, planMs, reuse.isDefined)
        metrics += m
        onSuperstep.value(m)
        checkpointer.foreach(_.appendMetrics(m))
        state = next
      }
      (state, iter, metrics.result())
    }
    Result(GraftShim.ofRows(spark, last), iterations, metrics)
  }
}
