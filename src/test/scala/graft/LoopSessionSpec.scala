package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, RandomWalks, SVDPlusPlus}
import graft.core.{Checkpointer, IterCache, IterativeRunner}
import graft.dedup.Dedup

/** Superstep loops plan in a session of their own: the caller's session
  * keeps its settings while a loop runs, frames a loop returns belong to the
  * caller again, and loops on two threads of one session do not disturb
  * each other. */
class LoopSessionSpec extends SparkTestBase {
  import spark.implicits._

  private def edges = GraphFixture.graph.edges
  private def vertices = GraphFixture.graph.vertices

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private def settings = (spark.conf.get(Aqe), spark.conf.get(Parts))

  /** Rows in a canonical order, doubles by their bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).sortBy(_.mkString(","))

  private lazy val ratings = (for {
    user <- 1L to 10L
    item <- 101L to 108L
    if (user + item) % 3 != 0
  } yield (user, item, 1.0 + (user + item) % 5)).toDF("src", "dst", "rating")

  private val sites: Seq[(String, () => Seq[DataFrame])] = Seq(
    "PageRank.run with a Checkpointer" -> { () =>
      val root = Files.createTempDirectory("graft-loop-session").toString
      Seq(PageRank.run(edges, tol = 0.0, maxIter = 11,
        checkpointer = Some(new Checkpointer(spark, root, "pr"))).ranks)
    },
    "ConnectedComponents.run" -> (() => Seq(ConnectedComponents.run(edges, vertices))),
    "SVDPlusPlus.run" -> (() => Seq(SVDPlusPlus.run(ratings, SVDPlusPlus.Conf(rank = 3, maxIters = 2)).vertices)),
    "Dedup.propagateCanonical" -> { () =>
      val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      Seq(Dedup.propagateCanonical(pairs, (0L until 12L).toDF("doc_id"), rounds = 4)._1)
    },
    "RandomWalks.deepWalk" -> (() => Seq(RandomWalks.deepWalk(edges, pathLength = 4))),
    "RandomWalks.node2vec" -> (() => Seq(RandomWalks.node2vec(edges, pathLength = 4))),
    "RandomWalks.metaPath2Vec" ->
      (() => Seq(RandomWalks.metaPath2Vec(edges, vertices, Seq("conv", "tool"), pathLength = 4))))

  for ((name, run) <- sites)
    test(s"$name leaves the caller's session settings alone and returns frames of it") {
      val before = settings
      val seen = mutable.Set(before)
      @volatile var running = true
      val reader = new Thread(() => {
        while (running) {
          seen.synchronized(seen += settings)
          Thread.sleep(1)
        }
      })
      reader.start()
      val out = try {
        val frames = run()
        frames.foreach(_.count()) // plan and run what the site returns
        frames
      } finally {
        running = false
        reader.join()
      }
      assert(seen.toSet == Set(before), s"a concurrent reader saw $seen")
      assert(settings == before)
      assert(out.forall(_.sparkSession eq spark))
    }

  test("PageRank and label propagation on two threads of one session match a sequential run") {
    def pageRank() = bits(PageRank.run(edges, tol = 1e-6, maxIter = 100).ranks)
    def lpa() = bits(LabelPropagation.run(edges, vertices, iterations = 5))
    val before = settings
    val sequential = (pageRank(), lpa())
    val pool = Executors.newFixedThreadPool(2)
    try {
      val pr = pool.submit(new Callable[Seq[Seq[Any]]] { def call() = pageRank() })
      val lp = pool.submit(new Callable[Seq[Seq[Any]]] { def call() = lpa() })
      assert((pr.get(5, TimeUnit.MINUTES), lp.get(5, TimeUnit.MINUTES)) == sequential)
    } finally pool.shutdown()
    assert(settings == before)
  }

  test("a PageRank superstep plans with AQE off and the edge cache's partition count") {
    // a ring large enough that the loop's width is neither 1 (no exchange
    // at all) nor the session's
    val n = 30000L
    val ring = spark.range(n).select(col("id").as("src"), ((col("id") + 1L) % n).as("dst"))
    val parts = IterCache.adaptiveParts(spark, 2L * n)
    assert(parts > 1 && parts.toString != spark.conf.get(Parts), parts)
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    IterativeRunner.onPlan.withValue(plans += _) {
      PageRank.run(ring, tol = 0.0, maxIter = 3).ranks.count()
    }
    assert(plans.size == 3)
    for (plan <- plans) {
      assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, plan.treeString)
      val widths = plan.collect { case e: ShuffleExchangeLike => e.numPartitions }
      assert(widths.nonEmpty && widths.forall(_ == parts), plan.treeString)
    }
    assert(spark.conf.get(Aqe) == "true")
  }

  test("a rebound superstep's plan carries the loop session's settings") {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val steps = mutable.ArrayBuffer.empty[graft.core.IterMetrics]
    IterativeRunner.onSuperstep.withValue(steps += _) {
      IterativeRunner.onPlan.withValue(plans += _) {
        PageRank.run(edges, tol = 0.0, maxIter = 4).ranks.count()
      }
    }
    assert(steps.map(_.rebound) == Seq(false, true, true, true), steps)
    val loop = plans.head.session
    assert(loop ne spark)
    for ((plan, m) <- plans.zip(steps); node <- plan.collect { case p => p }) {
      assert(node.session eq loop, s"superstep ${m.iter}: ${node.nodeName}")
      assert(!node.conf.adaptiveExecutionEnabled && node.conf.usePartitionEvaluator,
        s"superstep ${m.iter}: ${node.nodeName}")
    }
    assert(spark.conf.get(Aqe) == "true")
  }

  test("byKey runs one job before the first superstep: same rows, hash-partitioned by key") {
    val n = 30000L
    val ring = spark.range(n).select(col("id").as("src"), ((col("id") + 1L) % n).as("dst"))
      .localCheckpoint()
    val sym = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
    val ((cached, parts), jobs) = jobsOf(IterCache.byKey(sym, "src"))
    try {
      assert(jobs == 1, jobs)
      assert(parts == IterCache.adaptiveParts(spark, 2L * n) && parts > 1, parts)
      assert(cached.sparkSession eq spark)
      assert(bits(cached) == bits(sym))
      assert(cached.rdd.getNumPartitions == parts)
      assert(cached.where(spark_partition_id() =!= pmod(hash(col("src")), lit(parts))).isEmpty)
    } finally cached.unpersist(false)
  }

  test("widenIfNarrow refuses a grouped input and accepts a leaf or a scan pipeline") {
    val rows = (1L to 40L).map(i => (i % 5, i)).toDF("k", "v")
    val grouped = rows.groupBy("k").agg(sum("v").as("v"))
    intercept[IllegalArgumentException](IterCache.widenIfNarrow(grouped, 1000000L, "k"))
    val leaf = grouped.localCheckpoint()
    val pipeline = rows.select(col("k"), explode(array(col("v"), -col("v"))).as("v"))
    for (df <- Seq(leaf, pipeline)) {
      val widened = IterCache.widenIfNarrow(df, 1000000L, "k")
      assert(widened.rdd.getNumPartitions >= IterCache.adaptiveParts(spark, 1000000L))
      assert(bits(widened) == bits(df))
    }
  }

  test("the engine's loop packages never set a session's configuration") {
    val root = Paths.get("src/main/scala/graft")
    val files = Seq("core", "algo", "dedup", "sim").flatMap { dir =>
      Files.walk(root.resolve(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(files.size > 10, files)
    def lines(p: Path) = Files.readAllLines(p).asScala.zipWithIndex
      .map { case (l, i) => s"$p:${i + 1}: $l" }
    // a loop's settings live on the loop session; the one place that writes
    // them is IterativeRunner.loopSession
    assert(files.flatMap(lines).filter(_.matches(".*conf.set\\(.*")).isEmpty)
    assert(files.filter(p => lines(p).exists(_.contains("setConf("))).map(_.getFileName.toString) ==
      Seq("IterativeRunner.scala"))
  }
}
