package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.IterativeRunner

/** SVD++ (Koren, KDD'08) collaborative filtering on a bipartite rating graph —
  * capability parity with the reference's `algo/svdpp/SVDPlusPlus.scala:11-203`
  * (vertex data `SVDPPVD(v1,v2,v3,v4)` = (factors, weighted factors/y, bias,
  * 1/√deg), global-mean init, per-iteration sumY phase + gradient phase, final
  * squared-error pass — the reference's own test asserts err/numEdges ≤ 8 on
  * a 16-rating dataset, `GraphTest.scala:172-188`).
  *
  * Spark-native re-expression: vertex state is a Dataset with Array[Double]
  * factor columns; the two reference phases form one join + aggregate
  * superstep of [[IterativeRunner.loop]]; element-wise array-sum aggregation
  * is posexplode + one hash aggregate (skew-safe, no per-vertex map); BLAS
  * daxpy/ddot become zip_with and unrolled scalar column expressions. Factor
  * init is hash-deterministic, not `new Random()` — runs are exactly
  * reproducible.
  */
object SVDPlusPlus {

  final case class Conf(
      rank: Int = 8,
      maxIters: Int = 5,
      minVal: Double = 0.0,
      maxVal: Double = 5.0,
      gamma1: Double = 0.007, // bias learning rate
      gamma2: Double = 0.007, // factor learning rate
      gamma6: Double = 0.005, // bias regularization
      gamma7: Double = 0.015) // factor regularization

  final case class Result(vertices: DataFrame, mean: Double, squaredErrorPerEdge: Double)

  /** Deterministic factor init in [0, 1): PORTABLE integer arithmetic
    * (squared-mix, same family as RandomWalks.mix / Similarity.planeComponent)
    * instead of xxhash64, so the DuckDB oracle replays the exact SGD float
    * sequence — this is what turns q_svdpp from rows-only into a full
    * hash-match check. Mirrors [[graft.Oracles.detRandSql]]. */
  private[graft] def detRand(vid: Column, i: Column, salt: Long): Column = {
    val t = pmod(vid * lit(2654435761L) + i.cast("long") * lit(40503L) +
      lit(salt * 97L + 11L), lit(1000003L))
    pmod(t * t * lit(31L) + t * lit(7L) + i.cast("long"), lit(2000003L))
      .cast("double") / lit(2000003.0)
  }

  private def detRandArray(vid: Column, rank: Int, salt: Long): Column =
    transform(sequence(lit(0), lit(rank - 1)), i => detRand(vid, i, salt))

  /** Dot product unrolled to whole-stage-codegen scalar arithmetic: the
    * left-to-right sum from 0.0 of `aggregate(zip_with(a, b, *), 0.0, +)`
    * (bit-identical doubles), evaluated compiled instead of via that
    * interpreted higher-order form, which costs ~µs/row on the 600k-row
    * edge pass. */
  private def dotFlat(a: Column, b: Column, rank: Int): Column =
    (0 until rank).foldLeft(lit(0.0))((acc, i) =>
      acc + element_at(a, i + 1) * element_at(b, i + 1))

  private def axpy(alpha: Column, x: Column, y: Column): Column =
    zip_with(x, y, (xi, yi) => alpha * xi + yi)

  /** Element-wise vector-sum aggregation of (vid, arr) rows → (vid, arr):
    * posexplode + ONE hash aggregate with `rank` conditional sums. The
    * explode evaluates the (interpreted zip_with) message expression exactly
    * once per row and is the optimizer barrier that stops CollapseProject
    * re-inlining it per dimension — a barrier-free
    * `sum(element_at(arr, i))` form was A/B-measured ~40% SLOWER for
    * exactly that reason, and a two-level
    * groupBy(vid,pos)→groupBy(vid)+collect_list-sort shape pays a second
    * shuffle plus a per-vertex sort. One shuffle, map-side combine absorbs
    * hub skew. */
  private def sumArrays(msgs: DataFrame, rank: Int): DataFrame =
    msgs.select(col("vid"), posexplode(col("arr")).as(Seq("pos", "v")))
      .groupBy("vid")
      .agg(array((0 until rank).map(i =>
        sum(when(col("pos") === i, col("v")))): _*).as("arr"))

  /** Runs `conf.maxIters` SGD supersteps through [[IterativeRunner.loop]]:
    * each superstep is the reference's sumY phase and gradient phase as one
    * join + aggregate plan over the vertex state.
    *
    * Building the result runs four actions before the returned frame is
    * used: the global mean rating (which also fills the edge cache), the
    * edge count, the vertex count (which materializes the initial state and
    * sizes the join cutover) and the final squared-error sum (which
    * materializes the supersteps).
    *
    * @param ratings (src: user vid, dst: item vid, rating: double); user and
    *                item id spaces must be disjoint (bipartite).
    */
  def run(ratings: DataFrame, conf: Conf = Conf()): Result = {
    val spark = ratings.sparkSession
    val edges = ratings.select(col("src"), col("dst"), col("rating").cast("double"))
      .persist()
    val u = edges.agg(avg("rating")).head().getDouble(0)
    val n = edges.count()

    // init: bias = mean incident rating - u, norm = 1/sqrt(deg)  (reference
    // Graph.updateVertexAttr init, SVDPlusPlus.scala:32-38)
    val incident = edges.select(col("src").as("vid"), col("rating"))
      .union(edges.select(col("dst").as("vid"), col("rating")))
      .groupBy("vid").agg(count(lit(1)).as("deg"), avg("rating").as("meanr"))
    val init = incident.select(
      col("vid"),
      detRandArray(col("vid"), conf.rank, salt = 1L).as("p"),
      detRandArray(col("vid"), conf.rank, salt = 2L).as("y"),
      (col("meanr") - u).as("bias"),
      (lit(1.0) / sqrt(col("deg"))).as("norm"))
      .localCheckpoint(false)
    // The edge⋈state joins below would re-shuffle the WIDE edge side
    // (600k rows × three rank-arrays ≈ 180 MB) once per join per superstep
    // under a blanket shuffle_hash hint, while the vertex state is
    // rating-vertex-sized. Pick broadcast when the MEASURED state SIZE is
    // broadcast-safe, else keep shuffle_hash (never sort the edge side).
    // The cutover is in BYTES, not rows: every hinted side projects at most
    // two rank-length double arrays (users → pu, p2; v → qi, yi), one row
    // per vertex, so ~16·rank+64 B per row sizes the widest side. A
    // row-count cutover à la the (vid, key)-shaped dict joins would admit
    // multi-hundred-MB broadcasts rebuilt per join per superstep. 64 MB
    // keeps the build cheap at every rank. With broadcast the edge cache is
    // probed in place — zero edge shuffles per superstep.
    val stateBytesEst = init.count() * (16L * conf.rank + 64L)
    val stateHint = if (stateBytesEst <= (64L << 20)) "broadcast" else "shuffle_hash"

    def predicted(pu2: Column, qi: Column, bu: Column, bi: Column): Column = {
      val raw = lit(u) + bu + bi + dotFlat(qi, pu2, conf.rank)
      least(greatest(raw, lit(conf.minVal)), lit(conf.maxVal))
    }

    // Phase 1 (reference sumY, SVDPlusPlus.scala:116-149): the state with
    // each user's implicit profile p2 = p + norm * Σ_{j∈N(u)} y_j
    def withProfile(v: DataFrame): DataFrame = {
      val sumY = sumArrays(
        edges.join(v.select(col("vid").as("dst"), col("y")).hint(stateHint), "dst")
          .select(col("src").as("vid"), col("y").as("arr")),
        conf.rank)
      v.join(sumY, Seq("vid"), "left")
        .select(col("vid"), col("p"), col("y"), col("bias"), col("norm"),
          when(col("arr").isNull, col("p"))
            .otherwise(axpy(col("norm"), col("arr"), col("p"))).as("p2"))
    }

    // every rating with both endpoints' state and its prediction error
    def rated(v: DataFrame): DataFrame = edges
      .join(withProfile(v).select(col("vid").as("src"), col("p").as("pu"), col("p2"),
        col("bias").as("bu"), col("norm").as("nu")).hint(stateHint), "src")
      .join(v.select(col("vid").as("dst"), col("p").as("qi"), col("y").as("yi"),
        col("bias").as("bi")).hint(stateHint), "dst")
      .withColumn("err", col("rating") - predicted(col("p2"), col("qi"), col("bu"), col("bi")))

    // Phase 2 (reference trainF + reduceByKey + outerJoinVertices,
    // SVDPlusPlus.scala:40-86,153-171): per-edge gradients, merged per vertex.
    // ONE message row per (edge, endpoint, dimension): each rated edge is
    // exploded into its two ends (the user's own factors pu against the
    // item's qi; the item's own qi against the user's profile p2, plus the
    // item-only y update), then the rank index is exploded and every
    // gradient is SCALAR codegen arithmetic on the exploded row, not an
    // interpreted zip_with array per edge row. Each edge row is read once,
    // so its error is computed once without caching it. dy is null for
    // users (the per-vid count(dyv)=0 below keeps the "no y update for
    // users" contract); db is counted once per (edge, endpoint) via the
    // pos=0 row.
    val g2 = lit(conf.gamma2)
    def step(v: DataFrame): DataFrame = {
      val exploded = rated(v)
        .select(col("err"), explode(array(
          struct(col("src").as("vid"), col("bu").as("bb"), col("pu").as("own"),
            col("qi").as("other"), lit(null).cast("double").as("nu"),
            lit(null).cast("array<double>").as("yo")),
          struct(col("dst").as("vid"), col("bi").as("bb"), col("qi").as("own"),
            col("p2").as("other"), col("nu"), col("yi").as("yo")))).as("end"))
        .select(col("err"), col("end.*"))
        .select(col("vid"), col("err"), col("bb"), col("other"), col("nu"), col("yo"),
          posexplode(col("own")).as(Seq("pos", "ov")))
        .select(col("vid"), col("pos"),
          (g2 * (col("err") * element_at(col("other"), col("pos") + 1)
            - lit(conf.gamma7) * col("ov"))).as("dpv"),
          when(col("pos") === 0,
            lit(conf.gamma1) * (col("err") - lit(conf.gamma6) * col("bb"))).as("db0"),
          (g2 * (col("err") * col("nu") * col("ov")
            - lit(conf.gamma7) * element_at(col("yo"), col("pos") + 1))).as("dyv"))
      val grads = exploded.groupBy("vid").agg(
        array((0 until conf.rank).map(i => sum(when(col("pos") === i, col("dpv")))): _*).as("dp"),
        sum(col("db0")).as("db"),
        when(count(col("dyv")) === 0, lit(null).cast("array<double>"))
          .otherwise(array((0 until conf.rank).map(i =>
            sum(when(col("pos") === i, col("dyv")))): _*)).as("dy"))
      v.join(grads, Seq("vid"), "left")
        .select(
          col("vid"),
          when(col("dp").isNull, col("p"))
            .otherwise(zip_with(col("p"), col("dp"), (a, b) => a + b)).as("p"),
          when(col("dy").isNull, col("y"))
            .otherwise(zip_with(col("y"), col("dy"), (a, b) => a + b)).as("y"),
          (col("bias") + coalesce(col("db"), lit(0.0))).as("bias"),
          col("norm"))
    }

    // the widest exchange inside a superstep is the 2-endpoint × rank
    // gradient explode over the edge set
    val v = IterativeRunner.loop(init, conf.maxIters,
      shuffleParts = Some(graft.core.IterCache.adaptiveParts(spark, n * 2L * conf.rank)))(
      step)(_ => 1L).state

    // final error pass (reference testF, SVDPlusPlus.scala:89-112,175-180)
    val sqErr = rated(v).select(pow(col("err"), 2).as("se")).agg(sum("se")).head().getDouble(0)
    edges.unpersist(false)
    Result(v, u, sqErr / n)
  }
}
