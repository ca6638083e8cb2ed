package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, Hits, KCore, LabelPropagation, PageRank, RandomWalks, SVDPlusPlus,
  ShortestPaths}
import graft.core.{Checkpointer, IterCache, IterMetrics, IterativeRunner}
import graft.dedup.Dedup

/** Plan once, rebind per superstep: every loop gives bit-identical results
  * whether supersteps rebind the cached plan or are planned afresh, and the
  * supersteps that cannot rebind (an in-step checkpoint leaf, a leaf of
  * another shape) fall back to planning. */
class RebindSpec extends SparkTestBase {
  import spark.implicits._

  private def edges = GraphFixture.graph.edges
  private def vertices = GraphFixture.graph.vertices
  private def landmarks = vertices.where(col("kind") === "tool" && pmod(col("vid"), lit(7L)) === 0L)
    .select("vid")

  /** Rows in a canonical order, doubles (also array elements) by their bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] = {
    def raw(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case s: Seq[_] => s.map(raw)
      case x => x
    }
    df.collect().toSeq.map(_.toSeq.map(raw)).sortBy(_.mkString(","))
  }

  /** Runs `body` with the given planning mode; returns its result and the
    * metrics of every superstep it ran. */
  private def arm[T](rebind: Boolean)(body: => T): (T, Seq[IterMetrics]) = {
    val seen = mutable.ArrayBuffer.empty[IterMetrics]
    val out = IterativeRunner.rebind.withValue(rebind) {
      IterativeRunner.onSuperstep.withValue(m => seen += m)(body)
    }
    (out, seen.toSeq)
  }

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "PageRank.run" -> (() => PageRank.run(edges, tol = 1e-6, maxIter = 100).ranks),
    "PageRank.runFixed" -> (() => PageRank.runFixed(edges, iterations = 10)),
    "PageRank.runRestart" -> (() => PageRank.runRestart(edges, landmarks, iterations = 8)),
    "PageRank.runWeighted" -> (() => PageRank.runWeighted(edges, iterations = 10)),
    "LabelPropagation" -> (() => LabelPropagation.run(edges, vertices, iterations = 5)),
    "ConnectedComponents.minPropagation" -> (() => ConnectedComponents.minPropagation(edges, vertices)),
    "KCore" -> (() => KCore.run(edges, vertices, k = 3L).vertices),
    "ShortestPaths.run" -> (() => ShortestPaths.run(edges, vertices, landmarks, weighted = true).distances),
    "ShortestPaths.landmarkDistances" ->
      (() => ShortestPaths.landmarkDistances(edges, vertices, landmarks).distances))

  for ((name, run) <- loops)
    test(s"$name: rebinding gives bit-identical results to per-superstep planning") {
      val (planned, plannedSteps) = arm(rebind = false)(bits(run()))
      val (rebound, reboundSteps) = arm(rebind = true)(bits(run()))
      assert(rebound == planned)
      assert(reboundSteps.map(s => (s.iter, s.activeCount)) == plannedSteps.map(s => (s.iter, s.activeCount)))
      assert(!plannedSteps.exists(_.rebound))
      // the initial leaf is made like every later one: a loop whose initial
      // state comes out of the edge cache partitioned like its step's output
      // (PageRank's) rebinds from superstep 2 on; the others from superstep
      // 3, once the state is partitioned by a step
      assert(!reboundSteps.head.rebound, reboundSteps)
      val settled = if (name.startsWith("PageRank")) 1 else 2
      assert(reboundSteps.drop(settled).forall(_.rebound), reboundSteps)
    }

  test("Hits' in-step checkpoint leaf forces per-superstep planning") {
    val (planned, _) = arm(rebind = false)(bits(Hits.run(edges, vertices, 6).scores))
    val (rebound, steps) = arm(rebind = true)(bits(Hits.run(edges, vertices, 6).scores))
    assert(rebound == planned)
    assert(steps.length == 6 && steps.forall(!_.rebound), steps)
  }

  test("an iteration-free loop builds its step once per leaf shape") {
    // superstep 1's leaf is the round-robin init, every later one is
    // hash-partitioned by the step: the step is built for supersteps 1 and 2
    // only, and the leaf of another partitioning (superstep 2's) is planned
    val init = (1L to 20L).map(v => (v, v.toDouble)).toDF("vid", "value").repartition(3)
    val side = (1L to 20L).map(v => (v, (v % 3).toDouble)).toDF("vid", "w")
    def run(): (Seq[Seq[Any]], Int) = {
      var built = 0
      val out = IterativeRunner.loop(init, maxIter = 6) { state =>
        built += 1
        state.repartition(2, col("vid")).join(side, "vid")
          .select(col("vid"), (col("value") * 0.5 + col("w")).as("value"))
      }(_ => 1L).state
      (bits(out), built)
    }
    val ((planned, plannedBuilds), _) = arm(rebind = false)(run())
    val ((rebound, reboundBuilds), steps) = arm(rebind = true)(run())
    assert(rebound == planned)
    assert(plannedBuilds == 6)
    assert(reboundBuilds == 2)
    assert(steps.map(_.rebound) == Seq(false, false, true, true, true, true), steps)
  }

  private lazy val chainPairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")

  /** Loops that drive the runner through an operator: name, the number of
    * supersteps expected (None: until the signature repeats), the first
    * superstep from which every later one rebinds (None: not asserted), and
    * the run. */
  private val runnerLoops: Seq[(String, Option[Int], Option[Int], () => DataFrame)] = Seq(
    ("ConnectedComponents.run", None, Some(3), () => ConnectedComponents.run(edges, vertices)),
    // rounds = 8 plus the guard superstep
    ("Dedup.propagateCanonical", Some(9), Some(3),
      () => Dedup.propagateCanonical(chainPairs, (0L until 12L).toDF("doc_id"), rounds = 8)._1),
    // the walks carry their step number in the state, so their supersteps
    // rebind like any other loop's
    ("RandomWalks.deepWalk", Some(5), Some(3), () => RandomWalks.deepWalk(edges, pathLength = 6)),
    ("RandomWalks.node2vec", Some(4), Some(3), () => RandomWalks.node2vec(edges, pathLength = 6)),
    ("RandomWalks.metaPath2Vec", Some(5), Some(3),
      () => RandomWalks.metaPath2Vec(edges, vertices, Seq("conv", "tool"), pathLength = 6)),
    ("SVDPlusPlus.run", Some(6), Some(3),
      () => SVDPlusPlus.run(GraphFixture.ratings, SVDPlusPlus.Conf(rank = 4, maxIters = 6)).vertices))

  for ((name, supersteps, settledFrom, run) <- runnerLoops)
    test(s"$name runs through the runner: bit-identical with and without rebinding") {
      val (planned, plannedSteps) = arm(rebind = false)(bits(run()))
      val (rebound, reboundSteps) = arm(rebind = true)(bits(run()))
      assert(rebound == planned)
      assert(reboundSteps.map(s => (s.iter, s.activeCount)) == plannedSteps.map(s => (s.iter, s.activeCount)))
      assert(reboundSteps.map(_.iter) == (1 to reboundSteps.length), reboundSteps)
      supersteps match {
        case Some(n) => assert(reboundSteps.length == n, reboundSteps)
        // the star rounds stop at the first round whose signature repeats
        case None => assert(reboundSteps.map(_.activeCount) ==
          Seq.fill(reboundSteps.length - 1)(1L) :+ 0L, reboundSteps)
      }
      settledFrom.foreach(k => assert(reboundSteps.drop(k - 1).forall(_.rebound), reboundSteps))
    }

  test("the superstep after a durable save reads the in-memory leaf, no file scan") {
    val root = Files.createTempDirectory("graft-rebind").toString
    val init = (1L to 20L).map(v => (v, v.toDouble, true)).toDF("vid", "value", "active")
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val res = IterativeRunner.onPlan.withValue(plans += _) {
      IterativeRunner.loop(init, maxIter = 4, truncateEvery = 2,
        checkpointer = Some(new Checkpointer(spark, root, "r"))) { state =>
        state.select($"vid", ($"value" - 1.0).as("value"), ($"value" > 1.0).as("active"))
      }(IterativeRunner.CountTrue("active"))
    }
    val afterSave = plans(2)
    assert(afterSave.collect { case f: FileSourceScanExec => f }.isEmpty, afterSave.treeString)
    assert(res.metrics(2).rebound, res.metrics)
    assert(res.metrics.map(_.activeCount) == Seq(19L, 18L, 17L, 16L))
    // the snapshot and its lineage are still written, with the recorded schema
    assert(Files.exists(Paths.get(s"$root/r/state/iter=000002/_COMMITTED")))
    assert(spark.read.json(s"$root/r/lineage/iter=000002.jsonl").agg(sum("rows")).head().getLong(0) == 20L)
    // metrics.jsonl carries plan_ms and rebound next to the original keys
    val lines = Files.readAllLines(Paths.get(s"$root/r/metrics.jsonl"))
    assert(lines.size == 4)
    assert(lines.get(2).matches(
      """\{"iter":3,"active_count":17,"wall_ms":\d+,"plan_ms":\d+,"rebound":true\}"""), lines.get(2))
  }

  test("restore reads with the recorded schema, and infers one when none was recorded") {
    val root = Files.createTempDirectory("graft-schema").toString
    val cp = new Checkpointer(spark, root, "r")
    val df = Seq((1L, 2.0, true), (2L, 3.0, false)).toDF("vid", "value", "active")
    cp.save(df, 1)
    val schemaFile = Paths.get(s"$root/r/state/iter=000001/_schema.json")
    assert(Files.exists(schemaFile))
    val recorded = cp.restore().get
    Files.delete(schemaFile)
    val inferred = cp.restore().get
    assert(recorded.schema == inferred.schema)
    assert(bits(recorded) == bits(inferred) && bits(recorded) == bits(df))
  }

  test("re-running an operator in the same session compiles no new classes") {
    def runOnce(): Unit = {
      PageRank.run(edges, tol = 1e-6, maxIter = 100).ranks.collect()
      LabelPropagation.run(edges, vertices, iterations = 5).collect()
    }
    runOnce()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runOnce()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0L)
  }

  test("LSH verify-join estimate saturates instead of overflowing at 10^12-scale counts") {
    // 10^12 candidate pairs x (3*10^13 / 3*10^6 + 1) shingles per pair
    // exceeds Long.MaxValue; an unsaturated product wraps negative, which
    // sizes the join to one partition
    val est = Dedup.verifyRowsEstimate(candRows = 1000000000000L, nDocs = 3000000L,
      shRows = 30000000000000L)
    assert(est == Long.MaxValue)
    val cores = spark.sparkContext.defaultParallelism
    assert(IterCache.adaptiveParts(spark, est) == 8 * cores)
    // below saturation it is the plain product, the distinct-pair cap applied
    assert(Dedup.verifyRowsEstimate(1000000000000L, 1000000L, 1000000000L) ==
      (1000000L * 999999L / 2L) * 1001L)
  }
}
