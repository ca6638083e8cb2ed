package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.IterativeRunner
import graft.derive.LinkGraph

/** Connected components. The reference file is an empty stub
  * (`graph-algo/.../algo/components/ConnectedComponents.scala:3-5`); per
  * SURVEY.md §2.9 the contract is the published min-label fixed point:
  * component(v) = min vertex id reachable from v.
  *
  * Two implementations:
  *   - [[run]]: alternating Small-Star / Large-Star (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
  *     rounds, each round a pair of aggregate+join passes with no
  *     collect_list (hub-safe: the per-group state is a single min, so
  *     map-side combine flattens skew).
  *   - [[minPropagation]]: the GraphX-style Pregel min flood — O(diameter)
  *     rounds with a frontier semi-join (the reference's `activeSet`,
  *     `EdgePartition.scala:141-156`, as a Dataset). Used as a cross-check.
  */
object ConnectedComponents {

  /** @return (vid, component) for every vertex in `vertices`. */
  def run(edges: DataFrame, vertices: DataFrame, maxRounds: Int = 50): DataFrame = {
    val e0 = edges
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    // the first signature materializes the canonical edge leaf; its row
    // count sizes the rounds' exchanges. A round is active while the
    // signature changes: the star rounds have converged once it repeats.
    var sig = signature(e0)
    val stars = IterativeRunner.loop(e0, maxRounds,
      shuffleParts = Some(graft.core.IterCache.adaptiveParts(edges.sparkSession, sig._1))) {
      e => smallStar(largeStar(e))
    } { next =>
      val prev = sig
      sig = signature(next)
      if (sig == prev) 0L else 1L
    }.state
    // Converged state is a forest of stars (src = component min, dst = member).
    val labels = stars.select(col("dst").as("vid"), col("src").as("component"))
      .union(stars.select(col("src").as("vid"), col("src").as("component")))
      .distinct()
    vertices.select(col("vid"))
      .join(labels, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
  }

  /** Large-Star: every node's strictly-larger neighbors link to the minimum
    * of its closed neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = LinkGraph.symmetrize(e)
    val minNbr = sym.groupBy(col("src").as("u"))
      .agg(least(min(col("dst")), first(col("src"))).as("m"))
    sym.join(minNbr, sym("src") === minNbr("u"))
      .where(col("dst") > col("src"))
      .select(col("m").as("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-Star: orient each edge max→min; every node's ≤ neighbors (and the
    * node itself) link to the minimum neighbor. */
  private def smallStar(e: DataFrame): DataFrame = {
    // e rows already have src < dst (large-star emits (m, v) with m < v).
    val oriented = e.select(col("dst").as("u"), col("src").as("v"))
    val minNbr = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val relink = oriented.join(minNbr, "u")
      .select(col("m").as("src"), col("v").as("dst"))
    val self = minNbr.select(col("m").as("src"), col("u").as("dst"))
    relink.union(self)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Cheap fixpoint signature: (row count, xor of row hashes) — xor, not sum:
    * Spark 4 runs ANSI mode by default and a hash sum overflows Long. */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Pregel min-label flood with frontier semi-join; cross-check for [[run]]. */
  def minPropagation(edges: DataFrame, vertices: DataFrame, maxIter: Int = 50): DataFrame =
    minFlood(edges, vertices, maxIter, keepPrevious = false).state.select("vid", "component")

  /** The flood's loop, with state (vid, component, active) and, with
    * `keepPrevious`, each vertex's component before the last superstep
    * (`previous`). Every vertex is active in superstep 1, so after superstep
    * s a vertex with a lower-labelled neighbour always has an active one,
    * and superstep s+1 lowers exactly those vertices: its active count is
    * the number of vertices s rounds leave unsettled. */
  private[graft] def minFlood(edges: DataFrame, vertices: DataFrame, maxIter: Int,
      keepPrevious: Boolean): IterativeRunner.Result = {
    val (sym, parts) = graft.core.IterCache.byKey(LinkGraph.symmetrize(edges), "src")
    val previous = if (keepPrevious) Seq(col("component").as("previous")) else Nil
    val init = vertices.select(Seq(col("vid"), col("vid").as("component"), lit(true).as("active")) ++
      previous: _*)
    val res = IterativeRunner.loop(init, maxIter,
      shuffleParts = Some(parts)) { state =>
      val msgs = sym
        .join(state.where(col("active")).select(col("vid").as("src"), col("component"))
          .hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(min(col("component")).as("m"))
      state.join(msgs, Seq("vid"), "left").select(Seq(
        col("vid"),
        least(col("component"), coalesce(col("m"), col("component"))).as("component"),
        (coalesce(col("m"), col("component")) < col("component")).as("active")) ++ previous: _*)
    }(IterativeRunner.CountTrue("active"))
    sym.unpersist(false)
    res
  }
}
