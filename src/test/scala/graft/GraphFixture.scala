package graft

import org.apache.spark.sql.DataFrame

import graft.derive.LinkGraph
import graft.model.SyntheticTranscripts

/** Shared tiny deterministic graph for oracle tests (FIXTURES.md §1/§4):
  * synthetic transcripts → link graph, plus driver-side plain-Scala copies of
  * the edge set for brute-force oracles.
  */
object GraphFixture {

  lazy val transcripts: DataFrame =
    SyntheticTranscripts.generate(SparkTestBase.session, nConvs = 60, maxTurns = 12, nTools = 12)

  lazy val graph: LinkGraph.GraphTables = {
    val g = LinkGraph.fromTranscripts(transcripts)
    LinkGraph.GraphTables(g.vertices.cache(), g.edges.cache())
  }

  /** Canonical edge list (src < dst, distinct) collected to the driver. */
  lazy val edgeList: Seq[(Long, Long)] =
    graph.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  lazy val vertexIds: Seq[Long] =
    graph.vertices.select("vid").collect().map(_.getLong(0)).sorted.toSeq

  /** ALS-shaped synthetic ratings (users 1..20, items 101..115, planted
    * low-rank structure), mirroring the reference's 16-line als-test.data
    * smoke shape at slightly larger size. */
  lazy val ratings: DataFrame = {
    val rows = for {
      user <- 1L to 20L
      item <- 101L to 115L
      if (user * 7 + item) % 3 != 0
    } yield (user, item, 1.0 + ((user % 4) + (item % 3)) % 5) // structured in [1,5]
    SparkTestBase.session.createDataFrame(rows).toDF("src", "dst", "rating")
  }

  /** Symmetric adjacency map for oracles. */
  lazy val adj: Map[Long, Seq[Long]] = {
    val both = edgeList.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    both.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
  }
}
