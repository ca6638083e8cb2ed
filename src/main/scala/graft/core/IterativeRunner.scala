package graft.core

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

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

/** Driver loop shared by every iterative algorithm (PageRank / CC / LPA /
  * walks): persist-swap state management, convergence action, and lineage
  * truncation. The per-iteration body is ONE declarative Catalyst plan
  * (join → partial+final aggregate → join), so whole-stage codegen applies
  * to every superstep.
  *
  * Plan once, rebind per superstep: the state is always a leaf (a
  * `LogicalRDD` over locally checkpointed rows), so consecutive supersteps
  * usually build the same plan over a different leaf. The first is planned
  * with its state leaf as a placeholder ([[SuperstepPlan]]); each later one
  * still calls `step` (its analyzed plan is what shows the swap is safe) and,
  * when that plan matches, runs the cached physical plan with the new
  * state's rows swapped in — no optimization, physical planning or code
  * compilation. A superstep whose plan differs (a broadcast switch, an
  * in-step checkpoint leaf, a leaf of another schema, partitioning or size)
  * is planned afresh and becomes the cached plan. Results are the same
  * either way; `IterMetrics.rebound` records which path each superstep took.
  *
  * Lineage: each iteration's plan references the previous one; without
  * truncation the plan tree grows (exponentially for multi-reference steps)
  * and the driver dies around iteration ~10. A lazy local checkpoint per
  * iteration caps it. A durable `Checkpointer` (if given) additionally writes
  * state + lineage + metrics tables every `truncateEvery` iterations so a
  * killed run resumes mid-convergence.
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

  /** @param init        initial state; any schema, must contain the columns
    *                    `step` expects.
    * @param maxIter     hard iteration cap.
    * @param activeCount action deciding convergence: number of still-active
    *                    vertices in the NEW state; 0 stops the loop.
    * @param step        (state, iter) → next state. Must be a pure Dataset
    *                    transformation. It may reference `state` any number of
    *                    times: the loop truncates the plan to a leaf every
    *                    iteration, so multiple references do NOT nest
    *                    exponentially across supersteps (a k-reference step
    *                    would otherwise grow the logical plan k^n deep and OOM
    *                    the driver around iteration 10 — measured, not
    *                    hypothetical).
    */
  /** @param shuffleParts scale-adaptive shuffle-partition count for every
    *   exchange inside the loop (state shuffles, message aggregates) —
    *   normally the count [[IterCache.byKeyAdaptive]] derived for the cached
    *   edge side, so all loop exchanges co-partition with it and the cached
    *   exchange is reused every superstep. None keeps the session setting
    *   (the pre-round-6 behavior: a constant tuned for local[cpus] that
    *   scheduled 32-task stages over kilo-row fixture graphs — guide §2.2). */
  def loop(
      init: DataFrame,
      maxIter: Int,
      truncateEvery: Int = 10,
      checkpointer: Option[Checkpointer] = None,
      shuffleParts: Option[Int] = None)(
      step: (DataFrame, Int) => DataFrame)(
      activeCount: DataFrame => Long): Result = {

    // AQE off for the duration of the loop: adaptive re-planning of the
    // per-superstep message shuffle defeats the static one-exchange plan and
    // its partitioning reuse (measured ~2× slower; PLANS.md). Restored after.
    val spark = init.sparkSession
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    shuffleParts.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    try loopInner(init, maxIter, truncateEvery, checkpointer)(step)(activeCount)
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    }
  }

  private def loopInner(
      init: DataFrame,
      maxIter: Int,
      truncateEvery: Int,
      checkpointer: Option[Checkpointer])(
      step: (DataFrame, Int) => DataFrame)(
      activeCount: DataFrame => Long): Result = {
    val startIter = checkpointer.flatMap(_.latestIter).getOrElse(0)
    var state = checkpointer.flatMap(_.restore()).getOrElse(init)
    // LAZY local checkpoint: truncates the logical plan to a leaf immediately
    // (so multi-reference steps can't nest exponentially) but defers
    // materialization to the convergence action — one job per superstep, not
    // two. Storage is MEMORY_AND_DISK; superseded iterations are dropped by
    // the ContextCleaner once unreferenced.
    state = state.localCheckpoint(false)
    var iter = startIter
    val metrics = Vector.newBuilder[IterMetrics]
    var active = 1L
    var cached: Option[SuperstepPlan] = None
    while (iter < maxIter && active > 0) {
      val t0 = System.nanoTime()
      iter += 1
      val stepDf = step(state, iter)
      val leaf = SuperstepPlan.leafOf(state)
      val reuse =
        if (rebind.value) cached.filter(c => leaf.exists(c.fits(stepDf, _))) else None
      val plan = reuse match {
        case Some(c) => c.rebind(leaf.get)
        case None =>
          val p = stepDf.queryExecution.executedPlan
          cached = leaf.flatMap(SuperstepPlan.cache(stepDf, _, p))
          p
      }
      val next = SuperstepPlan.checkpoint(stepDf, plan)
      val planMs = (System.nanoTime() - t0) / 1000000L
      // durable snapshot for kill/resume; the loop keeps the in-memory leaf,
      // whose local checkpoint already bounds the lineage
      if (iter % truncateEvery == 0) checkpointer.foreach(_.save(next, iter))
      active = activeCount match {
        case CountTrue(column) => SuperstepPlan.countTrue(next, stepDf, column)
        case f => f(next)
      }
      val m = IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000L, planMs, reuse.isDefined)
      metrics += m
      onSuperstep.value(m)
      checkpointer.foreach(_.appendMetrics(m))
      state = next
    }
    Result(state, iter, metrics.result())
  }
}
