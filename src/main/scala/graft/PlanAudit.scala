package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.derive.LinkGraph

/** Prints the physical plans of the engine's hot paths for audit:
  * parquet pushdown in the derivation scan, the PageRank superstep shape
  * (exchange reuse, shuffle-hash joins, whole-stage codegen spans), and the
  * triangle-count join. Findings are recorded in PLANS.md. */
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

    println("=== B. PageRank superstep (expect: adj InMemoryTableScan, ShuffledHashJoin, partial+final HashAggregate, NO BroadcastExchange) ===")
    val g = LinkGraph.fromTranscripts(LinkGraph.transcriptsFromEvents(spark, sfDir))
    val sym = LinkGraph.symmetrize(g.edges)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val (adj, _) = graft.core.IterCache.byKey(
      sym.join(deg, "src").select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("inv")), "src")
    adj.count()
    val state = adj.select(col("src").as("vid")).distinct()
      .select(col("vid"), lit(1.0).as("pr")).localCheckpoint(true)
    val msgs = adj.join(state.select(col("vid").as("src"), col("pr")).hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid")).agg(sum(col("pr") * col("inv")).as("msum"))
    state.join(msgs.hint("shuffle_hash"), Seq("vid"), "left")
      .select(col("vid"), (lit(0.15) * col("pr") + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("pr"))
      .explain("formatted")

    println("=== C. token stats over documents (expect single codegen span over the scan) ===")
    graft.text.TextStats.tokenCounts(spark.read.parquet(s"$sfDir/documents.parquet"))
      .explain("formatted")

    println("=== D. vocab top-k (expect partial+final HashAggregate then TakeOrderedAndProject — no Window, no full Sort) ===")
    graft.text.TextStats.vocab(spark.read.parquet(s"$sfDir/documents.parquet"), 100)
      .explain("formatted")

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

    println("=== H. wedge link-prediction, Adamic-Adar (expect self-join on ONE Exchange of the center key, partial+final HashAggregate on (a,b), post-agg minCommon Filter, shuffle-hash degree join) ===")
    graft.algo.LinkPrediction.adamicAdar(g.edges, minCommon = 2L)
      .explain("formatted")

    println("=== I. k-core superstep (expect two left_semi ShuffledHashJoins on the cached sym, partial+final degree HashAggregate, one-column state left join — NO BroadcastExchange of state) ===")
    val kAlive = g.vertices.select(col("vid"))
    val kSym = LinkGraph.symmetrize(
      g.edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst")).distinct())
    kSym
      .join(kAlive.select(col("vid").as("src")).hint("shuffle_hash"), Seq("src"), "left_semi")
      .join(kAlive.select(col("vid").as("dst")).hint("shuffle_hash"), Seq("dst"), "left_semi")
      .groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
      .explain("formatted")

    println("=== J. SSSP relaxation superstep (expect frontier-filtered state as the shuffle-hash build side, min partial+final HashAggregate, left join back to state) ===")
    val sState = g.vertices.select(col("vid"),
      when(pmod(col("vid"), lit(7L)) === 0, lit(0L)).as("dist"),
      (pmod(col("vid"), lit(7L)) === 0).as("active"))
    val sSym = g.edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .union(g.edges.select(col("dst").as("src"), col("src").as("dst"), lit(1L).as("w")))
    val sMsgs = sSym
      .join(sState.where(col("active")).select(col("vid").as("src"), col("dist"))
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid")).agg(min(col("dist") + col("w")).as("cand"))
    sState.join(sMsgs, Seq("vid"), "left")
      .select(col("vid"), least(col("dist"), col("cand")).as("dist"))
      .explain("formatted")

    println("=== K. tf-idf top-k (expect two partial+final HashAggregates, BroadcastExchange ONLY of the one-row count, Window partitioned BY DOC — no single-partition Sort) ===")
    graft.text.TextStats.tfidf(spark.read.parquet(s"$sfDir/documents.parquet"), 3)
      .explain("formatted")

    println("=== L. HITS half-superstep (expect edge join with shuffle-hash state build side, partial+final sum HashAggregate, BroadcastExchange ONLY of the one-row max) ===")
    val hState = g.vertices.select(col("vid"), lit(1.0).as("hub"))
    val hARaw = g.edges
      .join(hState.select(col("vid").as("src"), col("hub")).hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid")).agg(sum(col("hub")).as("araw"))
    g.vertices.select(col("vid"))
      .join(hARaw.hint("shuffle_hash"), Seq("vid"), "left")
      .crossJoin(broadcast(hARaw.agg(max(col("araw")).as("amax"))))
      .select(col("vid"), coalesce(col("araw") / col("amax"), lit(0.0)).as("auth"))
      .explain("formatted")

    println("=== M. landmark-distance superstep (expect frontier-filtered shuffle-hash join, min HashAggregate keyed (vid,lm), full-outer fold — NO broadcast of state) ===")
    val lmState = g.vertices.where(pmod(col("vid"), lit(7L)) === 0)
      .select(col("vid"), col("vid").as("lm"), lit(0L).as("dist"), lit(true).as("active"))
    val lmSym = LinkGraph.symmetrize(g.edges.select(col("src"), col("dst")))
    val lmMsgs = lmSym
      .join(lmState.where(col("active"))
        .select(col("vid").as("src"), col("lm"), col("dist")).hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid"), col("lm")).agg(min(col("dist") + 1L).as("cand"))
    lmState.join(lmMsgs, Seq("vid", "lm"), "full")
      .select(col("vid"), col("lm"), least(col("dist"), col("cand")).as("dist"))
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
