package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.derive.LinkGraph

/** Prints the physical plans of the engine's non-loop hot paths for audit:
  * parquet pushdown in the derivation scan, the text aggregates, the
  * generic message operator, the sized wedge self-join and the corpus and
  * session operators. Findings are recorded in PLANS.md. A superstep's
  * plan is the one `IterativeRunner.onPlan` sees; `tools/dump_superstep.scala`
  * prints it. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false") // static plans for readability
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("=== A. derivation scan: events → transcripts (expect pushed filters + pruned ReadSchema) ===")
    LinkGraph.transcriptsFromEvents(spark, sfDir)
      .where(col("tool").isNotNull)
      .select("conv_id", "tool")
      .explain("formatted")

    println("=== C. token stats over documents (expect single codegen span over the scan) ===")
    graft.text.TextStats.tokenCounts(spark.read.parquet(s"$sfDir/documents.parquet"))
      .explain("formatted")

    println("=== D. vocab top-k (expect partial+final HashAggregate then TakeOrderedAndProject — no Window, no full Sort) ===")
    graft.text.TextStats.vocab(spark.read.parquet(s"$sfDir/documents.parquet"), 100)
      .explain("formatted")

    val g = LinkGraph.fromTranscripts(LinkGraph.transcriptsFromEvents(spark, sfDir))

    println("=== E. generic aggregateMessages (expect two joins + Union + partial+final HashAggregate, no BroadcastExchange of state) ===")
    val amState = g.vertices.select(col("vid"), (pmod(col("vid"), lit(7L)) + 1L).as("w"))
    graft.operators.GraphOps.aggregateMessages(g.edges, amState,
      msgToDst = Some(col("src_w") * col("weight")),
      msgToSrc = Some(col("dst_w")),
      merge = sum(col("msg")))
      .explain("formatted")

    println("=== F. gated aggregateMessages, Either (expect semi+anti ShuffledHashJoins on the frontier, NO row-multiplying join, then the E-shape) ===")
    val frontier = g.vertices.where(pmod(col("vid"), lit(3L)) === 0).select("vid")
    graft.operators.GraphOps.aggregateMessages(g.edges, amState,
      msgToDst = Some(col("src_w") * col("weight")),
      msgToSrc = Some(col("dst_w")),
      merge = sum(col("msg")),
      activeSet = Some(frontier),
      activeness = graft.operators.GraphOps.EdgeActiveness.Either)
      .explain("formatted")

    println("=== G. typed weighted k-sample (expect ONE Exchange on the window keys feeding Window(src,kind) + filter; dict join broadcast-eligible) ===")
    graft.functions.Samplers.weightedKTyped(g.edges, g.vertices, 2)
      .explain("formatted")

    println("=== H. wedge link-prediction, Adamic-Adar (expect the IterCache.selfJoin shape: ONE sized Exchange of the center key reused by both sides, partial+final HashAggregate on (a,b), post-agg minCommon Filter, shuffle-hash degree join) ===")
    graft.algo.LinkPrediction.adamicAdar(g.edges, minCommon = 2L)
      .explain("formatted")

    println("=== K. tf-idf top-k (expect two partial+final HashAggregates, BroadcastExchange ONLY of the one-row count, Window partitioned BY DOC — no single-partition Sort) ===")
    graft.text.TextStats.tfidf(spark.read.parquet(s"$sfDir/documents.parquet"), 3)
      .explain("formatted")

    println("=== N. assortativity (expect one degree HashAggregate, two vertex-sized shuffle-hash joins onto sym, single scalar HashAggregate — no window, no broadcast of degrees) ===")
    graft.operators.GraphOps.assortativity(g.edges)
      .explain("formatted")

    println("=== O. contamination screen (expect shingle scan + left_semi/left_anti on eval ids, semi-join on shingle, two doc-keyed partial+final HashAggregates — no self-join of the corpus) ===")
    graft.text.CorpusOps.contamination(spark.read.parquet(s"$sfDir/documents.parquet"))
      .explain("formatted")

    println("=== P2. stratified sample (expect the langId plan + broadcast threshold join + scan-fused draw filter — no extra shuffle beyond langId's) ===")
    graft.text.CorpusOps.stratifiedSample(spark.read.parquet(s"$sfDir/documents.parquet"))
      .explain("formatted")

    println("=== Z. sessionization stats (expect ONE Exchange on conv_id feeding Window(lag) + Window(running sum) + partial+final HashAggregate — conv_id partitioning satisfies the (conv_id, session_idx) clustering, no second Exchange) ===")
    graft.derive.Sessionize.sessionStats(LinkGraph.transcriptsFromEvents(spark, sfDir))
      .explain("formatted")

    println("=== Z2. session tool pairs (expect the Z shape + distinct and self-join REUSING the conv_id partitioning — the only new Exchange is the tiny (t1,t2) aggregate) ===")
    graft.derive.TranscriptAnalytics.sessionToolPairs(
        LinkGraph.transcriptsFromEvents(spark, sfDir))
      .explain("formatted")

    println("=== Z3. session tool pairs at scale-stats (broadcast off — expect ShuffledHashJoin/SortMergeJoin on (conv_id, session_idx) with a ReusedExchange for the identical self-join side) ===")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.derive.TranscriptAnalytics.sessionToolPairs(
        LinkGraph.transcriptsFromEvents(spark, sfDir))
      .explain("formatted")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    println("=== AA. tool-trajectory docs (expect ONE conv_id Exchange into ObjectHashAggregate partial+final collect_list — sort_array/transform/array_join are per-group expressions, no Window, no extra Exchange) ===")
    graft.derive.TranscriptAnalytics.toolTrajectoryDocs(
        LinkGraph.transcriptsFromEvents(spark, sfDir))
      .explain("formatted")

    spark.stop()
  }
}
