package graft

import org.apache.spark.sql.SparkSession

/** A/B: exact tolerance PageRank vs the frontier (delta) variant on the
  * headline graph — the measurement behind BASELINE.md §g's frontier row. */
object FrontierLab {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.localBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.pagerankHeadline(spark, 50000, 100) // JIT warm-up
    spark.catalog.clearCache()
    val t = graft.model.SyntheticTranscripts.generate(spark, nConvs, 20, 500)
    val g = graft.derive.LinkGraph.fromTranscripts(t)
    val edges = g.edges.persist()
    val nEdges = 2L * edges.count()
    var keep: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
    def time(label: String)(f: => graft.algo.PageRank.Result): Unit = {
      val l0 = graft.core.HostLoad.load1
      val t0 = System.nanoTime()
      val r = f
      r.ranks.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val minIter = r.metrics.map(_.wallMs).min / 1e3
      println(f"FRONTIERLAB $label iters=${r.iterations} loop_sec=$sec%.3f " +
        f"min_iter=$minIter%.3f edges_per_sec_per_iter=${nEdges.toDouble * r.iterations / sec}%.0f " +
        f"load_pre=$l0%.2f load_post=${graft.core.HostLoad.load1}%.2f")
      if (r.frontierSizes.nonEmpty)
        println(s"FRONTIERLAB $label frontier_sizes=${r.frontierSizes.mkString(",")}")
      // per-iteration wall times for the convergence tail (tiny-frontier
      // iterations): far less steal-exposed than loop totals
      println(s"FRONTIERLAB $label tail_iter_ms=${r.metrics.takeRight(12).map(_.wallMs).mkString(",")}")
      keep += label -> r.ranks.localCheckpoint(false)
    }
    time("exact")(graft.algo.PageRank.run(edges, tol = 1e-6, maxIter = 100))
    spark.catalog.clearCache()
    time("frontier")(graft.algo.PageRank.runFrontier(edges, tol = 1e-6, maxIter = 100))
    import org.apache.spark.sql.functions._
    val j = keep("exact").withColumnRenamed("pr", "pe")
      .join(keep("frontier").withColumnRenamed("pr", "pf"), "vid")
    val row = j.agg(
      max(abs(col("pe") - col("pf"))).as("maxd"),
      max(abs(col("pe") - col("pf")) / greatest(abs(col("pe")), lit(1e-12))).as("maxrel"))
      .head()
    val worst = j.orderBy(desc("pe")).limit(1).head()
    val worstAbs = j.orderBy((abs(col("pe") - col("pf"))).desc).limit(1).head()
    println(f"FRONTIERLAB max_abs_diff=${row.getDouble(0)}%.3e max_rel_diff=${row.getDouble(1)}%.3e")
    println(s"FRONTIERLAB top_rank_vertex=$worst worst_abs_vertex=$worstAbs")
    spark.stop()
  }
}
