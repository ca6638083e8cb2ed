package graftperf

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.algo.PageRank
import graft.core.{Checkpointer, IterMetrics}
import graft.dedup.Dedup
import graft.derive.{LinkGraph, TranscriptAnalytics}

/** One superstep loop as graft reports it through [[IterMetrics]], with the
  * epoch-ms interval of the call that ran it. `checkpointed` marks a loop
  * that saves a durable checkpoint every 10th superstep. */
final case class Loop(name: String, checkpointed: Boolean, startMs: Long, endMs: Long,
    metrics: Vector[IterMetrics], symEdges: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** What one operation hands back: its loops, exact counts, the documents it
  * processed, and the checks to run on its outputs once the clock has
  * stopped. */
final case class Outcome(loops: Seq[Loop], counts: Map[String, Double], docs: Long,
    checks: () => Seq[Check])

/** A benchmark workload: generator parameters, the timed operation, and the
  * oracle its outputs are checked against (built once per run, untimed). */
sealed abstract class Workload(val nConvs: Long, val maxTurns: Int, val nTools: Int) {
  def name: String
  /** Prepares the expected outputs from the transcript parquet, untimed. */
  def prepare(spark: SparkSession, input: String): Unit
  /** The timed operation, starting from the transcript parquet. */
  def op(spark: SparkSession, tr: Trace, input: String, opDir: Path): Outcome
}

object Workload {
  def apply(name: String): Workload = name match {
    case "supersteps_small" => new SuperstepsSmall
    case "dedup_skew" => new DedupSkew
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def allclose(name: String, got: Map[Long, Double], exp: Map[Long, Double],
      atol: Double): Check = {
    val diffs = exp.toSeq.map { case (v, e) => got.get(v).fold(Double.PositiveInfinity)(g => math.abs(g - e)) }
    val bad = diffs.count(_ > atol)
    Check(name, bad == 0 && got.size == exp.size,
      s"${got.size} rows, expected ${exp.size}; max |got-expected| = ${diffs.max}, $bad above $atol")
  }

  def exactly[K, V](name: String, got: Map[K, V], exp: Map[K, V]): Check = {
    val diff = exp.count { case (k, v) => !got.get(k).contains(v) }
    Check(name, diff == 0 && got.size == exp.size,
      s"${got.size} rows, expected ${exp.size}; $diff differ")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** The link graph's superstep loops on a small graph, where planning,
  * scheduling and checkpoint writes outweigh the edge work: derivation, a
  * tolerance PageRank with a durable checkpoint every 10th superstep, a
  * restore of its last snapshot, and a resume from it. */
final class SuperstepsSmall extends Workload(2000L, 20, 500) {
  val name = "supersteps_small"
  /** A zero tolerance never converges, so every run takes exactly `Steps`
    * supersteps whatever the seed, and each still ends with the loop's
    * convergence count. 11 puts one durable checkpoint (superstep 10) in the
    * run and leaves one superstep to resume. */
  private val Steps = 11
  private var graph: Oracles.Graph = _
  private var expRanks: Map[Long, Double] = _

  def prepare(spark: SparkSession, input: String): Unit = {
    val convTools = spark.read.parquet(input).where(col("tool").isNotNull)
      .select("conv_id", "tool").collect().map(r => (r.getString(0), r.getString(1)))
    graph = Oracles.linkGraph(convTools)
    expRanks = graph.vertices.zip(Oracles.pageRank(graph, tol = 0.0, maxIter = Steps)).toMap
  }

  private def pageRank(tr: Trace, name: String, edges: DataFrame,
      ckpt: Checkpointer): (Loop, Map[Long, Double]) =
    tr.span(s"algo.$name", "graft.algo") {
      val t0 = System.currentTimeMillis()
      val res = PageRank.run(edges, tol = 0.0, maxIter = Steps, checkpointer = Some(ckpt))
      val t1 = System.currentTimeMillis()
      val ranks = tr.span("algo.output", "graft.algo") {
        res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      (Loop(name, checkpointed = true, t0, t1, res.metrics, graph.symEdges), ranks)
    }

  def op(spark: SparkSession, tr: Trace, input: String, opDir: Path): Outcome = {
    // materialized here, so the derivation's jobs run in this span and not
    // inside the first loop's cache build
    val (edges, nEdges) = tr.span("derive.graph", "graft.derive") {
      val e = LinkGraph.fromTranscripts(spark.read.parquet(input)).edges.localCheckpoint()
      (e, e.count())
    }
    val root = opDir.resolve("ckpt")
    val (loop, ranks) = pageRank(tr, "pagerank", edges, new Checkpointer(spark, root.toString, "pr"))
    val restored = tr.span("core.ckpt_restore", "graft.core") {
      new Checkpointer(spark, root.toString, "pr").restore().map(_.count()).getOrElse(-1L)
    }
    val ckptBytes = Workload.dirBytes(root)
    val (resumeLoop, resumed) =
      pageRank(tr, "pagerank_resume", edges, new Checkpointer(spark, root.toString, "pr"))
    Outcome(Seq(loop, resumeLoop),
      Map("derive.edges" -> nEdges.toDouble, "core.ckpt_bytes" -> ckptBytes.toDouble),
      nConvs,
      () => Seq(
        Check("derive.edges", nEdges == graph.edges.size, s"$nEdges edges, expected ${graph.edges.size}"),
        Workload.allclose("pagerank", ranks, expRanks, atol = 1e-6),
        Check("checkpoint.restore", restored == graph.vertices.length,
          s"restored $restored rows, expected ${graph.vertices.length}"),
        Workload.allclose("pagerank.resumed_equals_uninterrupted", resumed, ranks, atol = 1e-6)))
  }
}

/** Row-multiplying self-joins under hub skew: with 6 tools a handful of tool
  * 3-grams are shared by a large share of the trajectory documents. The
  * operation is the flow `Dedup.clusters` runs, one call per span. */
final class DedupSkew extends Workload(2000L, 30, 6) {
  val name = "dedup_skew"
  private val Rounds = 8 // Dedup.clusters' default
  private var docShingles: Map[String, Set[String]] = _

  def prepare(spark: SparkSession, input: String): Unit = {
    val in = spark.read.parquet(input)
    // a conversation's tools in turn order, as its trajectory document lists them
    val text = in.where(col("tool").isNotNull).select("conv_id", "turn_idx", "tool").collect()
      .groupBy(_.getString(0))
      .map { case (c, rows) => c -> rows.sortBy(_.getInt(1)).map(_.getString(2)).mkString(" ") }
    docShingles = in.select("conv_id").distinct().collect().map(_.getString(0))
      .map(d => d -> Oracles.shingles(text.getOrElse(d, ""))).toMap
  }

  def op(spark: SparkSession, tr: Trace, input: String, opDir: Path): Outcome = {
    val (docs, nDocs) = tr.span("derive.docs", "graft.derive") {
      val d = TranscriptAnalytics.toolTrajectoryDocs(spark.read.parquet(input)).localCheckpoint()
      (d, d.count())
    }
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = tr.span("dedup.exact", "graft.dedup")(pairs(Dedup.ngramJaccard(docs)))
    val (lshDf, lsh) = tr.span("dedup.lsh", "graft.dedup") {
      val df = Dedup.minhashLsh(docs).localCheckpoint()
      (df, pairs(df))
    }
    val (canon, unconverged) = tr.span("dedup.propagate", "graft.dedup") {
      val (df, unconverged) = Dedup.propagateCanonical(lshDf, docs, Rounds)
      (df.collect().map(r => r.getString(0) -> r.getString(1)).toMap, unconverged)
    }
    Outcome(Nil,
      Map("dedup.exact_pairs" -> exact.size.toDouble, "dedup.lsh_pairs" -> lsh.size.toDouble,
        "dedup.unconverged_docs" -> unconverged.toDouble),
      nDocs,
      () => {
        def wrong(pairs: Map[(String, String), Double]) = pairs.count { case ((a, b), j) =>
          j < 0.5 || math.abs(Oracles.jaccard(docShingles(a), docShingles(b)) - j) > 1e-12
        }
        val (wrongExact, wrongLsh) = (wrong(exact), wrong(lsh))
        val notExact = lsh.count { case (k, j) => !exact.get(k).contains(j) }
        val (expCanon, expUnconverged) =
          Oracles.canonical(docShingles.keys.toSeq, lsh.keys.toSeq, Rounds)
        Seq(
          Check("derive.docs", nDocs == docShingles.size, s"$nDocs docs, expected ${docShingles.size}"),
          Check("exact.jaccard", wrongExact == 0,
            s"$wrongExact of ${exact.size} exact pairs below 0.5 or off the recomputed Jaccard"),
          Check("lsh.subset_of_exact", notExact == 0,
            s"$notExact of ${lsh.size} LSH pairs missing from the exact pairs or with another Jaccard"),
          Check("lsh.jaccard", wrongLsh == 0,
            s"$wrongLsh of ${lsh.size} LSH pairs below 0.5 or off the recomputed Jaccard"),
          Check("propagate.unconverged", unconverged == expUnconverged,
            s"$unconverged docs unconverged, expected $expUnconverged"),
          Workload.exactly("propagate.canonical", canon, expCanon))
      })
  }
}
