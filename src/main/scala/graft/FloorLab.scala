package graft

import org.apache.spark.sql.functions._

/** Decomposes the PageRank per-iteration floor (BASELINE.md §h measured it
  * at ~0.9-1.0 s on the 13.7M-sym-edge headline graph REGARDLESS of frontier
  * size): times cumulative slices of one superstep, each as a single action
  * over the same cached inputs —
  *
  *   scan      : aggregate over the cached symmetrized edge table alone
  *   msg       : + shuffle-hash join with the vertex-sized contribution side
  *               and the partial+final per-dst sum (the message aggregate)
  *   step      : + the state left-join / vprog (full superstep), consumed by
  *               the same count action the real loop uses
  *   step_ckpt : the full loop body — step materialized through the lazy
  *               localCheckpoint leaf exactly as IterativeRunner runs it
  *
  * The deltas between arms attribute the floor. AQE off, like the loop. */
object FloorLab {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.localBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.pagerankHeadline(spark, 50000, 100) // JIT warm-up
    spark.catalog.clearCache()

    val t = graft.model.SyntheticTranscripts.generate(spark, nConvs, 20, 500)
    val g = graft.derive.LinkGraph.fromTranscripts(t)
    val (sym, _) = graft.core.IterCache.byKey(graft.derive.LinkGraph.symmetrize(g.edges), "src")
    sym.count() // materialize the iteration cache
    // a converged-shape state (vid, pr, deg), checkpoint-leaf like the loop's
    val state = sym.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).cast("double").as("deg"))
      .select(col("vid"), lit(1.0).as("pr"), col("deg"))
      .localCheckpoint(true)

    def contribs = state.select(col("vid").as("src"),
      when(col("deg") > 0, col("pr") / col("deg")).otherwise(lit(0.0)).as("contrib"))
    def msgs = sym.join(contribs.hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid")).agg(sum(col("contrib")).as("msum"))
    def step = state.join(msgs.hint("shuffle_hash"), Seq("vid"), "left")
      .select(col("vid"),
        (lit(0.15) * col("pr") + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("pr"),
        col("deg"))

    def time(label: String)(action: => Unit): Unit = {
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); action; (System.nanoTime() - t0) / 1e9
      }
      println(f"FLOORLAB $label reps=${secs.map(s => f"$s%.3f").mkString(",")} " +
        f"min=${secs.min}%.3f load=${graft.core.HostLoad.load1}%.2f")
    }
    time("scan")(sym.agg(count(lit(1))).head())
    time("msg")(msgs.agg(count(lit(1))).head())
    time("step")(step.where(col("pr") >= 0).agg(count(lit(1))).head())
    time("step_ckpt") { // the real loop body: leaf + the loop's count action
      step.localCheckpoint(false).where(col("pr") >= 0).count(): Unit
    }

    // Candidate lever: grouped-adjacency message pass — join probes the
    // 2M-row adjacency cache instead of the 13.7M-row edge cache, then
    // explodes. Segmented variant caps rows at `seg` dsts so a 10⁷-degree
    // hub emits bounded rows (the flat edge cache needs no such cap — THE
    // reason it ships; this measures what that safety costs per iteration).
    val segW = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    val (adjSeg, _) = graft.core.IterCache.byKey(
      sym.withColumn("seg", ((row_number().over(segW) - 1) / 8192).cast("int"))
        .groupBy(col("src"), col("seg")).agg(collect_list(col("dst")).as("dsts")),
      "src")
    adjSeg.count()
    def msgsAdj = adjSeg.join(contribs.hint("shuffle_hash"), "src")
      .select(explode(col("dsts")).as("vid"), col("contrib"))
      .groupBy("vid").agg(sum(col("contrib")).as("msum"))
    time("msg_adjseg")(msgsAdj.agg(count(lit(1))).head())
    adjSeg.unpersist(false)
    spark.stop()
  }
}
