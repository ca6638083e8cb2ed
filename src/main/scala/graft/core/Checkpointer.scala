package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *   state/iter=NNNNNN/   vertex-state snapshot (committed LAST — a crash
  *                        mid-write leaves no visible snapshot)
  *   lineage/iter=NNNNNN/ (partition_id, rows, checksum, input_fingerprint)
  *   metrics.jsonl        one line per iteration
  *
  * [[save]] writes both tables from the in-memory state leaf and hands the
  * same leaf back, so the loop goes on over checkpointed rows rather than a
  * parquet re-read: the leaf's local checkpoint already bounds its lineage,
  * and a file-scan leaf would force the next superstep to be planned anew.
  */
final class Checkpointer(spark: SparkSession, root: String, runId: String) {

  private val base = s"$root/$runId"
  private val io: TableIO = new ParquetDirTableIO(base)

  private def stateTable(iter: Int) = f"state/iter=$iter%06d"

  /** Writes `state` as iteration `iter`'s snapshot plus its lineage table
    * (per-partition rows and checksum of the rows written), publishes the
    * snapshot last, and returns `state` itself. */
  def save(state: DataFrame, iter: Int): DataFrame = {
    val tbl = stateTable(iter)
    io.writeData(state, tbl)
    val hashCols = state.columns.map(col).toSeq
    io.write(
      state
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows"), bit_xor(xxhash64(hashCols: _*)).as("checksum"))
        .withColumn("input_fingerprint", lit(runId)),
      f"lineage/iter=$iter%06d")
    io.commit(tbl) // state commit is the atomic publish point
    state
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
