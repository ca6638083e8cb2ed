package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source shortest paths over the undirected link graph: hop-count BFS
  * (`weighted = false`) or weighted min-plus Bellman–Ford (`weighted = true`,
  * edge weights ≥ 1 from the canonical co-occurrence counts). GraphX ships
  * `lib.ShortestPaths` (landmark BFS); the reference has no analog — this is
  * the landmark-distance operator a link-graph engine needs for closeness /
  * reachability features.
  *
  * Superstep = the standard frontier relaxation: only vertices whose distance
  * IMPROVED last round publish `dist + w` to their neighbors (frontier
  * semi-join via the `active` flag — identical shape to
  * [[ConnectedComponents.minPropagation]]), a min partial-agg combines
  * map-side, and a left join folds the candidate into the running state.
  * Rounds are O(hop diameter) unweighted / O(longest relaxing chain)
  * weighted; both are small on a transcript co-occurrence graph (everything
  * is ≤ a few hops through shared tools). One exchange per superstep, active
  * frontier shrinks monotonically after the wave passes.
  */
object ShortestPaths {

  final case class Result(distances: DataFrame, iterations: Int)

  /** @param sources  (vid) landmark set — distance 0 seeds.
    * @return distances (vid, dist) for EVERY vertex in `vertices`;
    *         unreachable vertices carry dist = -1. */
  def run(
      edges: DataFrame,
      vertices: DataFrame,
      sources: DataFrame,
      weighted: Boolean = false,
      maxIter: Int = 100): Result = {
    val symw = edges
      .select(col("src"), col("dst"),
        (if (weighted) col("weight") else lit(1L)).cast("long").as("w"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"),
        (if (weighted) col("weight") else lit(1L)).cast("long").as("w")))
    val (sym, parts) = graft.core.IterCache.byKey(symw, "src")

    val init = vertices.select(col("vid"))
      .join(sources.select(col("vid"), lit(true).as("is_src")), Seq("vid"), "left")
      .select(col("vid"),
        when(col("is_src"), lit(0L)).otherwise(lit(null).cast("long")).as("dist"),
        coalesce(col("is_src"), lit(false)).as("active"))

    val res = graft.core.IterativeRunner.loop(init, maxIter,
      shuffleParts = Some(parts)) { state =>
      val msgs = sym
        .join(state.where(col("active")).select(col("vid").as("src"), col("dist"))
          .hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(min(col("dist") + col("w")).as("cand"))
      state.join(msgs, Seq("vid"), "left").select(
        col("vid"),
        least(col("dist"), col("cand")).as("dist"), // least skips nulls
        (col("cand").isNotNull &&
          (col("dist").isNull || col("cand") < col("dist"))).as("active"))
    }(graft.core.IterativeRunner.CountTrue("active"))

    val out = res.state
      .select(col("vid"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .localCheckpoint(false)
    sym.unpersist(false)
    Result(out, res.iterations)
  }

  /** GraphX-`lib.ShortestPaths` semantics: hop distance from EVERY landmark
    * separately (a vid → {landmark → dist} map), not the min-combined single
    * distance [[run]] returns — the per-landmark vector is what closeness /
    * positional features need. State is the SPARSE exploded map
    * (vid, lm, dist, active): rows exist only for discovered pairs, the
    * frontier publishes (dist+1) per landmark, and a FULL outer join folds
    * new discoveries in (state grows monotonically to Σ_v |landmarks
    * reachable from v| — the same O(|V|·|L|) worst case GraphX's map-state
    * carries, priced per-row here instead of per-vertex-map). One exchange
    * per superstep; rounds = hop diameter.
    */
  def landmarkDistances(
      edges: DataFrame,
      vertices: DataFrame,
      sources: DataFrame,
      maxIter: Int = 100): Result = {
    val (sym, parts) = graft.core.IterCache.byKey(
      graft.derive.LinkGraph.symmetrize(edges.select(col("src"), col("dst"))), "src")

    val init = sources.select(col("vid"), col("vid").as("lm"),
      lit(0L).as("dist"), lit(true).as("active"))

    val res = graft.core.IterativeRunner.loop(init, maxIter,
      shuffleParts = Some(parts)) { state =>
      val msgs = sym
        .join(state.where(col("active"))
          .select(col("vid").as("src"), col("lm"), col("dist")).hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"), col("lm"))
        .agg(min(col("dist") + 1L).as("cand"))
      // full outer: newly discovered (vid, lm) pairs enter with state-side
      // nulls; least() folds the improvement for existing pairs
      state.join(msgs, Seq("vid", "lm"), "full").select(
        col("vid"), col("lm"),
        least(col("dist"), col("cand")).as("dist"),
        (col("cand").isNotNull &&
          (col("dist").isNull || col("cand") < col("dist"))).as("active"))
    }(graft.core.IterativeRunner.CountTrue("active"))

    val out = res.state.select(col("vid"), col("lm"), col("dist")).localCheckpoint(false)
    sym.unpersist(false)
    Result(out, res.iterations)
  }

  /** Harmonic closeness over a landmark distance table ([[landmarkDistances]]
    * output): Σ_{lm : 0 < dist} 1/dist, plus the reachable-landmark count.
    * Unreached landmarks contribute 0 by absence (the sparse state never
    * materializes them) — the standard harmonic convention. */
  def harmonicCloseness(distances: DataFrame): DataFrame =
    distances.groupBy("vid").agg(
      count(lit(1)).as("n_reach"),
      sum(when(col("dist") > 0L, lit(1.0) / col("dist").cast("double"))
        .otherwise(lit(0.0))).as("harmonic"))
}
