package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Checkpointer, IterativeRunner, IterMetrics}
import graft.derive.LinkGraph

/** Dataset-native PageRank with the reference's exact recurrence
  * (`graph-algo/.../algo/pangerank/PageRank.scala:12-70`):
  *
  *   r ← p·r + (1−p)·Σ_{u∼v} r_u / deg(u)       p = resetProb = 0.15
  *
  * over the *symmetrized* edge set with both-direction count degrees
  * (the reference sends `srcAttr/deg(src)` to dst AND `dstAttr/deg(dst)` to
  * src, `PageRank.scala:62-67`; degree is `calDegree("degreeBoth")`,
  * `Graph.scala:349-385`), init r₀ = 1, convergence when
  * max_v |(1−p)(m_v − r_v)| < tol (`PageRank.scala:53` — the tolerance loop
  * the reference intended; its own early-exit was dead, see SURVEY.md §2.9).
  *
  * Execution shape per iteration — one Catalyst plan:
  *   contribs = adj ⋈ ranks on src   (adj cached + hash-partitioned by src
  *                                    once; the rank side is shuffle-hash by
  *                                    hint — NEVER broadcast, see step() —
  *                                    so only the vertex-sized side moves)
  *   msgs     = contribs groupBy dst agg sum   (partial map-side combine makes
  *                                    hub skew a non-issue for sums — the
  *                                    Spark answer to the reference's
  *                                    degree-ordered edge sort)
  *   state'   = state ⋈ msgs on vid (left) → vprog + active flag
  *
  * Computation is Double end-to-end (reference uses Float; 1e-6 parity at
  * scale needs Double accumulators — SURVEY.md §7 hard parts).
  */
object PageRank {

  /** @param frontierSizes per-iteration ACTIVE-frontier sizes (change ≥
    *   tol·freezeFactor) — populated by [[runFrontier]] only; the stop
    *   criterion (change ≥ tol) lands in `metrics.activeCount` as usual. */
  final case class Result(
      ranks: DataFrame,
      iterations: Int,
      metrics: Vector[IterMetrics],
      frontierSizes: Vector[Long] = Vector.empty)

  /** Symmetrized edge pairs, iteration-cached: derivation lineage truncated
    * to a DISK_ONLY leaf (a big logical plan under the cache would otherwise
    * be re-canonicalized by the CacheManager on every iteration — measured as
    * the dominant serial cost), then hash-partitioned on the join key once
    * and cached COLUMNAR. 1/deg is NOT carried per edge: the per-vertex
    * contribution pr/deg is computed on the vertex-sized state instead, so
    * the big cached side is two longs per edge. (Int32 vid packing was
    * A/B-measured on the 337M-edge pair and is ~6% SLOWER at both 8 and 32
    * cores — the columnar cache already compresses long vids, and the casts
    * cost more than the width saves; see BASELINE.md §c round 2.) Every superstep reuses this exchange; only the
    * vertex-sized rank table moves. */
  /** Round-6: partition count derived from the symmetrized edge count
    * ([[graft.core.IterCache.adaptiveParts]]) instead of the session
    * constant — the headline graph still lands on the measured-optimal 32 at
    * local[32], while fixture-sized graphs stop paying 32-task scheduling
    * per exchange (guide §2.2). The count is threaded into every loop so all
    * superstep exchanges co-partition with the cache. */
  private def symCache(edges: DataFrame): (DataFrame, Int) =
    graft.core.IterCache.byKey(LinkGraph.symmetrize(edges), "src")

  /** Per-vertex degree over the symmetrized edge set, for the init state.
    * With `vertices` supplied, isolated (degree-0) vertices are seeded too —
    * they keep rank resetProb·prᵢ₋₁ (contrib guard in step()) and match the
    * oracle's r0-from-vertices seeding; without it the vertex set is derived
    * from the edges (safe whenever every vertex has an edge, as the
    * link-graph derivation guarantees). */
  private def initState(sym: DataFrame, vertices: Option[DataFrame]): DataFrame = {
    val degs = sym.groupBy(col("src").as("vid")).agg(count(lit(1)).cast("double").as("deg"))
    val base = vertices match {
      case Some(v) => v.select(col("vid")).join(degs, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("deg"), lit(0.0)).as("deg"))
      case None => degs
    }
    base.select(col("vid"), lit(1.0).as("pr"), col("deg"), lit(true).as("active"))
  }

  /** Tolerance-driven run (the north-rule semantics). */
  def run(
      edges: DataFrame,
      resetProb: Double = 0.15,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      checkpointer: Option[Checkpointer] = None,
      vertices: Option[DataFrame] = None): Result = {
    val (sym, parts) = symCache(edges)
    val res = IterativeRunner.loop(initState(sym, vertices), maxIter,
      checkpointer = checkpointer, shuffleParts = Some(parts)) {
      state => step(sym, state, resetProb, tol)
    }(IterativeRunner.CountTrue("active"))
    sym.unpersist(false)
    Result(res.state.select("vid", "pr"), res.iterations, res.metrics)
  }

  /** Frontier (delta) tolerance run — the reference's INTENDED per-vertex
    * halting semantics (its `active()` gating, `PageRank.scala:53`, never
    * fired because `activeMessageCount` was a dead constant; here it works):
    * a vertex whose update would fall below `tol` FREEZES — keeps its rank,
    * stops sending — and REACTIVATES if enough incoming mass later changes.
    * Messages carry contribution DELTAS from the active frontier only, and
    * the per-vertex message sum is maintained incrementally, so iteration
    * cost scales with edges incident to the frontier, not |E|.
    *
    * Why it matters at scale: the measured tolerance loop spends 43% of its
    * iterations (29 of 67 on the headline graph) with <0.03% of vertices
    * active — the exact recurrence pays the full edge pass anyway; this
    * variant pays ~nothing. Numbers in BASELINE.md §g.
    *
    * Trade-off vs [[run]], measured on the 13.7M-edge headline graph:
    * frozen vertices hold rank constant while the exact recurrence keeps
    * applying sub-freezeTol updates, so results are NOT bit-identical —
    * max RELATIVE divergence 2.7·10⁻⁸ (≪ the 1e-6 criterion); the max
    * ABSOLUTE divergence 4.1·10⁻⁴ sits entirely on the top hub whose rank
    * is ~9.5·10⁴ (frozen low-rank vertices stop feeding the hub its
    * sub-tol inflow — per-vertex freezing cannot see receiver-side
    * aggregation, the classic delta-PageRank property on skewed graphs).
    * Loop wall-clock 1.75-1.8× faster at identical stop semantics
    * (BASELINE.md §g). The exact recurrence stays the default, the
    * headline, and the oracle surface. */
  def runFrontier(
      edges: DataFrame,
      resetProb: Double = 0.15,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      vertices: Option[DataFrame] = None,
      freezeFactor: Double = 0.01,
      checkpointer: Option[Checkpointer] = None): Result = {
    val (sym, parts) = symCache(edges)
    val freezeTol = tol * freezeFactor
    // state: (vid, pr, deg, sent = last contribution actually sent,
    //         msum = maintained incoming sum, active = in the frontier,
    //         conv = this change ≥ tol → loop keeps going).
    // TWO thresholds: a vertex leaves the FRONTIER only when its change
    // falls below tol·freezeFactor (so it keeps refining well below the
    // stop tolerance — the freeze-at-tol variant accumulated the skipped
    // sub-tol updates times the 1/(1−α) PageRank amplification ≈ 6·10⁻⁵
    // measured), while the LOOP stops exactly like [[run]]: when no change
    // is ≥ tol.
    val init = initState(sym, vertices)
      .select(col("vid"), col("pr"), col("deg"),
        lit(0.0).as("sent"), lit(0.0).as("msum"),
        lit(true).as("active"), lit(true).as("conv"))
    // per-iteration frontier sizes, observed by the SAME action that
    // computes the stop count (no extra job) and returned in
    // Result.frontierSizes; `metrics.activeCount` records the stop
    // criterion's conv count (change ≥ tol), a strict subset of the frontier
    val frontierSizes = Vector.newBuilder[Long]
    val res = IterativeRunner.loop(init, maxIter, checkpointer = checkpointer,
      shuffleParts = Some(parts)) { state =>
      // the active frontier publishes the CHANGE in its contribution
      // (iteration 1: everyone is active with sent=0 → full sums establish
      // msum, identically to the exact first superstep)
      val frontierDf = state.where(col("active"))
        .select(col("vid").as("src"),
          (when(col("deg") > 0, col("pr") / col("deg")).otherwise(lit(0.0))
            - col("sent")).as("dc"))
      val dmsgs = sym.join(frontierDf.hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(sum(col("dc")).as("dsum"))
      state
        .join(dmsgs.hint("shuffle_hash"), Seq("vid"), "left")
        .select(col("vid"), col("pr"), col("deg"), col("active"),
          when(col("active"),
            when(col("deg") > 0, col("pr") / col("deg")).otherwise(lit(0.0)))
            .otherwise(col("sent")).as("sent"),
          (col("msum") + coalesce(col("dsum"), lit(0.0))).as("msum"))
        .select(col("vid"),
          when(col("active"),
            lit(resetProb) * col("pr") + lit(1.0 - resetProb) * col("msum"))
            .otherwise(col("pr")).as("pr"),
          col("deg"), col("sent"), col("msum"),
          // (1−p)(msum − pr_OLD): for a vertex that just updated this equals
          // THIS iteration's rank change (the exact loop's criterion); for a
          // frozen one it is the change an update WOULD make — reactivation
          (abs(lit(1.0 - resetProb) * (col("msum") - col("pr"))) >= lit(freezeTol))
            .as("active"),
          (abs(lit(1.0 - resetProb) * (col("msum") - col("pr"))) >= lit(tol))
            .as("conv"))
    } { next =>
      // ONE action for both counts: conv (stop criterion — what
      // metrics.activeCount records) and active (frontier size)
      val r = next.agg(
        count(when(col("conv"), lit(1))).as("conv"),
        count(when(col("active"), lit(1))).as("act")).head()
      frontierSizes += r.getLong(1)
      r.getLong(0)
    }
    sym.unpersist(false)
    Result(res.state.select("vid", "pr"), res.iterations, res.metrics,
      frontierSizes.result())
  }

  /** Personalized PageRank / random-walk-with-restart, fixed iterations
    * (oracle-parity): the reset term anchors on the SOURCE set instead of
    * the current rank —
    *
    *   r ← p·r₀ + (1−p)·Σ_{u∼v} r_u / deg(u),   r₀ = 1 on `sources`, else 0
    *
    * — the damped-restart analog of the reference's recurrence (its p·r
    * term becomes p·r₀), converging to proximity-to-sources scores: the
    * standard related-entity retrieval primitive over the link graph
    * (e.g. "conversations most associated with this tool set"). Same
    * superstep plan as [[runFixed]] — one exchange per iteration, rank side
    * shuffle-hash, adjacency cached; the extra r₀ column rides the
    * vertex-sized state. */
  /** Weighted fixed-iteration PageRank: transition mass proportional to the
    * co-occurrence edge weight instead of uniform over neighbors —
    *
    *   r ← p·r + (1−p)·Σ_{u∼v} (r_u / wdeg(u))·w_uv,   wdeg = Σ incident w
    *
    * (GraphX's `PageRank` normalizes weights the same way). The reference's
    * PageRank ignores its weights (`PageRank.scala:62-67` divides by count
    * degree) — this variant is what its weighted loaders were presumably
    * for. Execution shape is identical to [[runFixed]] except the cached
    * symmetric side carries the weight column (3 longs/edge instead of 2)
    * and the per-vertex contribution r/wdeg is multiplied edge-side by w
    * inside the partial agg — still ONE exchange per superstep, vertex
    * state never broadcast. */
  def runWeighted(
      edges: DataFrame,
      iterations: Int,
      resetProb: Double = 0.15): DataFrame = {
    val (symw, parts) = graft.core.IterCache.byKey(
      edges.select(col("src"), col("dst"), col("weight"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight"))),
      "src")
    val init = symw.groupBy(col("src").as("vid"))
      .agg(sum(col("weight")).cast("double").as("wdeg"))
      .select(col("vid"), lit(1.0).as("pr"), col("wdeg"))
    val res = IterativeRunner.loop(init, iterations, shuffleParts = Some(parts)) { state =>
      val msgs = symw
        .join(state.select(col("vid").as("src"), (col("pr") / col("wdeg")).as("contrib"))
          .hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(sum(col("contrib") * col("weight")).as("msum"))
      state
        .join(msgs.hint("shuffle_hash"), Seq("vid"), "left")
        .select(col("vid"),
          (lit(resetProb) * col("pr") +
            lit(1.0 - resetProb) * coalesce(col("msum"), lit(0.0))).as("pr"),
          col("wdeg"))
    } { _ => 1L } // fixed iterations
    symw.unpersist(false)
    res.state.select("vid", "pr")
  }

  def runRestart(
      edges: DataFrame,
      sources: DataFrame,
      iterations: Int,
      resetProb: Double = 0.15): DataFrame = {
    val (sym, parts) = symCache(edges)
    val init = initState(sym, None)
      .join(sources.select(col("vid"), lit(1.0).as("r0")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("r0"), lit(0.0)).as("r0"),
        coalesce(col("r0"), lit(0.0)).as("pr"), col("deg"))
    val res = IterativeRunner.loop(init, iterations, shuffleParts = Some(parts)) { state =>
      state
        .join(messageSums(sym, state).hint("shuffle_hash"), Seq("vid"), "left")
        .select(col("vid"), col("r0"),
          (lit(resetProb) * col("r0") +
            lit(1.0 - resetProb) * coalesce(col("msum"), lit(0.0))).as("pr"),
          col("deg"))
    } { _ => 1L } // fixed iterations
    sym.unpersist(false)
    res.state.select("vid", "pr")
  }

  /** Fixed-iteration run (oracle-parity variant; no convergence action). */
  def runFixed(
      edges: DataFrame,
      iterations: Int,
      resetProb: Double = 0.15,
      vertices: Option[DataFrame] = None,
      checkpointer: Option[Checkpointer] = None): DataFrame = {
    val (sym, parts) = symCache(edges)
    val res = IterativeRunner.loop(initState(sym, vertices), iterations,
      checkpointer = checkpointer, shuffleParts = Some(parts)) { state =>
      step(sym, state, resetProb, tol = 0.0)
    } { _ => 1L } // no early exit: run exactly `iterations` supersteps
    sym.unpersist(false)
    res.state.select("vid", "pr")
  }

  /** The one-exchange message aggregate every PageRank variant shares:
    * adjacency ⋈ per-vertex contributions (SHUFFLE_HASH by hint — the
    * vertex-sized side must never be broadcast: a per-iteration driver
    * collect+rebuild measured 2× slower locally and impossible at a billion
    * vertices; with adj already hash-partitioned on src, only the
    * vertex-sized side shuffles) → partial+final sum per dst. */
  private def messageSums(sym: DataFrame, state: DataFrame): DataFrame =
    sym.join(state.select(col("vid").as("src"),
        when(col("deg") > 0, col("pr") / col("deg")).otherwise(lit(0.0)).as("contrib"))
      .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid"))
      .agg(sum(col("contrib")).as("msum"))

  /** One superstep of the exact recurrence. */
  private def step(sym: DataFrame, state: DataFrame, resetProb: Double, tol: Double): DataFrame = {
    val msgs = messageSums(sym, state)
    state
      .join(msgs.hint("shuffle_hash"), Seq("vid"), "left")
      .select(
        col("vid"),
        (lit(resetProb) * col("pr") +
          lit(1.0 - resetProb) * coalesce(col("msum"), lit(0.0))).as("pr"),
        col("deg"),
        (abs(lit(1.0 - resetProb) * (coalesce(col("msum"), lit(0.0)) - col("pr"))) >= lit(tol))
          .as("active"))
  }
}
