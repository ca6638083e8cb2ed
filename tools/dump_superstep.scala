// Capture the PageRank-superstep physical plan (the shared shape of every
// iterative algo) at a given scale factor, into
// plans/r06/superstep_<suffix>.txt (run from the repository root): the edge
// cache from IterCache.byKey, planned with the settings of a superstep loop's
// session (AQE off, the cache's partition count as the shuffle width), so the
// Exchange partition counts are the loop's scale-adaptive ones.
//   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 GRAFT_PLAN_SUFFIX=before \
//   SPARK_GRAFT_CPUS=32 /opt/spark/bin/spark-shell --master "local[32]" \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -i tools/dump_superstep.scala
{
  import org.apache.spark.sql.functions._
  import graft.core.IterCache
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
  spark.sparkContext.setLogLevel("ERROR")
  val g = graft.derive.LinkGraph.fromTranscripts(
    graft.derive.LinkGraph.transcriptsFromEvents(spark, sfDir))
  val (sym, parts) = IterCache.byKey(graft.derive.LinkGraph.symmetrize(g.edges), "src")
  // this script owns its shell session, so it sets the loop settings there
  spark.conf.set("spark.sql.adaptive.enabled", "false")
  spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
  sym.count()
  val state = sym.groupBy(col("src").as("vid"))
    .agg(count(lit(1)).cast("double").as("deg"))
    .select(col("vid"), lit(1.0).as("pr"), col("deg"))
    .localCheckpoint(true)
  // the superstep in the form IterativeRunner.loop takes: a function of the
  // state alone (r/deg state-side, as PageRank.messageSums)
  val step: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { state =>
    val msgs = sym.join(state.select(col("vid").as("src"), (col("pr") / col("deg")).as("contrib"))
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("vid")).agg(sum(col("contrib")).as("msum"))
    state.join(msgs.hint("shuffle_hash"), Seq("vid"), "left")
      .select(col("vid"),
        (lit(0.15) * col("pr") + lit(0.85) * coalesce(col("msum"), lit(0.0))).as("pr"),
        col("deg"))
  }
  val next = step(state)
  val plan = next.queryExecution.explainString(
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  java.nio.file.Files.writeString(
    java.nio.file.Paths.get(s"plans/r06/superstep_$suffix.txt"),
    s"// PageRank superstep @ $sfDir ($suffix), loop shuffle partitions = $parts\n" + plan)
  println(s"[dump_superstep] wrote superstep_$suffix.txt (parts=$parts)")
}
sys.exit(0)
