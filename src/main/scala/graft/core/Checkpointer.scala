package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.OutputWriter

import graft.sources.{ParquetDirTableIO, TableIO}

/** Durable iteration-state checkpoint with per-partition lineage and a
  * metrics log, so a killed run resumes mid-convergence (north rule). This
  * supplies what the reference left unimplemented
  * (`PSPartition.checkpoint()` is `???`, `PSPartition.scala:172`) and
  * replaces `Graph.checkpoint` (`Graph.scala:518-528`).
  *
  * Storage goes through the [[graft.sources.TableIO]] seam (Iceberg in
  * production, Iceberg-shaped parquet directories here). Per run:
  *
  *   state/iter=NNNNNN/         vertex-state snapshot (committed LAST — a
  *                              crash mid-write leaves no visible snapshot)
  *   lineage/iter=NNNNNN.jsonl  one line per non-empty partition of the
  *                              snapshot: partition_id, rows, checksum
  *                              (`bit_xor(xxhash64(<all columns>))` of its
  *                              rows), input_fingerprint (the run id)
  *   metrics.jsonl              one line per iteration
  *
  * A snapshot is written in ONE job: each task writes its partition's data
  * file through the table's partition writer and hands back the partition's
  * row count, checksum and (for the runner's convergence count) active rows;
  * the driver then records the lineage and commits. Inside a superstep loop
  * that job is the superstep's own: it materializes the state leaf, so the
  * loop goes on over checkpointed rows rather than a parquet re-read.
  */
final class Checkpointer(spark: SparkSession, root: String, runId: String) {

  private val base = s"$root/$runId"
  private val io: TableIO = new ParquetDirTableIO(base)

  private def stateTable(iter: Int) = f"state/iter=$iter%06d"

  /** Writes `state` as iteration `iter`'s snapshot plus its lineage,
    * publishes the snapshot last, and returns `state` itself. */
  def save(state: DataFrame, iter: Int): DataFrame = {
    val qe = state.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("checkpoint")) {
      write(state.sparkSession, qe.toRdd, qe.analyzed.output, iter, -1)
    }
    state
  }

  /** Saves the runner's state leaf as iteration `iter`'s snapshot in the
    * job that materializes it; returns its rows whose boolean column
    * `active` is true (0 without one), so the job is also the superstep's
    * convergence count. */
  private[core] def saveLeaf(session: SparkSession, leaf: LogicalRDD, iter: Int,
      active: Option[String], tracker: QueryPlanningTracker): Long = {
    val i = active.fold(-1)(SuperstepPlan.booleanColumn(leaf, _))
    SuperstepPlan.onLeaf(session, leaf, if (active.isDefined) "count" else "checkpoint", tracker) {
      write(session, _, leaf.output, iter, i)
    }
  }

  /** One job over `rows`: data files, per-partition lineage, then the
    * commit; returns the count of rows true in column `active` (if >= 0). */
  private def write(session: SparkSession, rows: RDD[InternalRow], output: Seq[Attribute],
      iter: Int, active: Int): Long = {
    val tbl = stateTable(iter)
    val writer = io.partitionWriter(session, tbl, DataTypeUtils.fromAttributes(output))
    // seed 42, as `xxhash64(...)` hashes
    val hash = XxHash64(output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }, 42L)
    val parts = session.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      var out: OutputWriter = null
      var n, checksum, on = 0L
      try {
        while (it.hasNext) {
          val r = it.next()
          if (out == null) out = writer.open(ctx.partitionId())
          out.write(r)
          n += 1
          checksum ^= hash.eval(r).asInstanceOf[Long]
          if (active >= 0 && !r.isNullAt(active) && r.getBoolean(active)) on += 1
        }
      } finally if (out != null) out.close()
      (ctx.partitionId(), n, checksum, on)
    }, 0 until rows.partitions.length)
    val lineage = Paths.get(base, f"lineage/iter=$iter%06d.jsonl")
    Files.createDirectories(lineage.getParent)
    Files.write(lineage, parts.collect { case (p, n, c, _) if n > 0 =>
      s"""{"partition_id":$p,"rows":$n,"checksum":$c,"input_fingerprint":"${json(runId)}"}\n"""
    }.mkString.getBytes(StandardCharsets.UTF_8))
    io.commit(tbl) // state commit is the atomic publish point
    parts.map(_._4).sum
  }

  private def json(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def appendMetrics(m: IterMetrics): Unit = {
    Files.createDirectories(Paths.get(base))
    val line = s"""{"iter":${m.iter},"active_count":${m.activeCount},"wall_ms":${m.wallMs},""" +
      s""""plan_ms":${m.planMs},"rebound":${m.rebound}}\n"""
    Files.write(Paths.get(s"$base/metrics.jsonl"), line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Latest committed iteration, if any. */
  def latestIter: Option[Int] =
    io.snapshots("state").lastOption.map(_.stripPrefix("state/iter=").toInt)

  /** The latest committed snapshot, read with the schema recorded when it
    * was written (see [[graft.sources.TableIO.read]]). */
  def restore(): Option[DataFrame] =
    latestIter.map(i => io.read(spark, stateTable(i)))
}
