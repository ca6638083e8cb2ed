package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg hubs & authorities) over the DIRECTED canonical edge set
  * (conv→tool, tool→tool with t1<t2): the natural companion ranking to
  * PageRank on a bipartite-ish link graph — convs score as hubs, shared
  * tools as authorities. The reference ships no HITS (its algo package stops
  * at PageRank/walks); this is a beyond-reference operator built from the
  * same superstep grammar.
  *
  * Per iteration (the standard mutual recursion):
  *   auth(v) ← Σ_{(u,v)∈E} hub(u),  then normalized
  *   hub(v)  ← Σ_{(v,u)∈E} auth(u), then normalized
  *
  * Normalization is by the MAX (not the L1/L2 sum) deliberately: max over a
  * distributed aggregate is ORDER-INDEPENDENT in floating point, so the
  * DuckDB oracle replays the recurrence bit-for-bit modulo the same
  * per-group-sum 1-ulp class every chain oracle carries; a global float SUM
  * would add an order-dependent reduction over |V| terms that neither engine
  * pins. Scores land in [0,1] with the same argsort as the L2 convention.
  *
  * Execution shape: the edge table is iteration-cached TWICE, hash-partitioned
  * by src and by dst (each half-step joins on a different key; caching one
  * copy would re-exchange |E| rows every superstep — the 2× storage buys
  * vertex-sized-only shuffles, the same trade PageRank makes once). The two
  * normalizers are 1-row aggregates joined back via broadcast. The auth
  * frame is referenced twice per superstep (hub messages + carried state), so
  * it is truncated to a lazy leaf to keep it computed once.
  */
object Hits {

  final case class Result(scores: DataFrame, iterations: Int)

  /** @return (vid, hub, auth) for every vertex, after `iterations` rounds. */
  def run(edges: DataFrame, vertices: DataFrame, iterations: Int = 10): Result = {
    val dir = edges.select(col("src"), col("dst"))
    val (bySrc, parts) = graft.core.IterCache.byKey(dir, "src")
    val (byDst, _) = graft.core.IterCache.byKey(dir, "dst", Some(parts))

    val init = vertices.select(col("vid"), lit(1.0).as("hub"), lit(1.0).as("auth"))

    val res = graft.core.IterativeRunner.loop(init, iterations,
      shuffleParts = Some(parts)) { state =>
      val authRaw = bySrc
        .join(state.select(col("vid").as("src"), col("hub")).hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("vid"))
        .agg(sum(col("hub")).as("araw"))
      val amax = authRaw.agg(max(col("araw")).as("amax"))
      val auth = state.select(col("vid"))
        .join(authRaw.hint("shuffle_hash"), Seq("vid"), "left")
        .crossJoin(broadcast(amax))
        .select(col("vid"), coalesce(col("araw") / col("amax"), lit(0.0)).as("auth"))
        .localCheckpoint(false) // referenced twice below — compute once
      val hubRaw = byDst
        .join(auth.select(col("vid").as("dst"), col("auth")).hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("vid"))
        .agg(sum(col("auth")).as("hraw"))
      val hmax = hubRaw.agg(max(col("hraw")).as("hmax"))
      auth
        .join(hubRaw.hint("shuffle_hash"), Seq("vid"), "left")
        .crossJoin(broadcast(hmax))
        .select(col("vid"),
          coalesce(col("hraw") / col("hmax"), lit(0.0)).as("hub"),
          col("auth"))
    } { _ => 1L } // fixed-iteration run, like PageRank.runFixed

    bySrc.unpersist(false)
    byDst.unpersist(false)
    Result(res.state.select("vid", "hub", "auth"), res.iterations)
  }
}
