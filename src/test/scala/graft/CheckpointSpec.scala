package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{Checkpointer, IterativeRunner}

class CheckpointSpec extends SparkTestBase {
  import spark.implicits._

  private def countdownStep(state: org.apache.spark.sql.DataFrame) =
    state.select($"vid", ($"value" - 1.0).as("value"), ($"value" > 1.0).as("active"))

  test("kill-after-iteration-k resume reproduces the uninterrupted run exactly") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val init = (1L to 20L).map(v => (v, v.toDouble, true)).toDF("vid", "value", "active")

    val full = IterativeRunner.loop(init, maxIter = 9, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-full")))(countdownStep)(
      _.where($"active").count())

    // "killed" run: stop at iteration 5 (checkpoints committed at 3)
    IterativeRunner.loop(init, maxIter = 5, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-killed")))(countdownStep)(
      _.where($"active").count())
    // resume with the same runId: restarts from iter 3, continues to 9
    val resumed = IterativeRunner.loop(init, maxIter = 9, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-killed")))(countdownStep)(
      _.where($"active").count())

    val a = full.state.select("vid", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val b = resumed.state.select("vid", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(a.toSeq == b.toSeq)
    assert(resumed.iterations == 9)

    // lineage table exists with per-partition rows + checksum
    val lineage = spark.read.json(s"$root/run-full/lineage/iter=000009.jsonl")
    assert(lineage.columns.toSet == Set("partition_id", "rows", "checksum", "input_fingerprint"))
    assert(lineage.agg(sum("rows")).head().getLong(0) == 20L)

    // metrics log has one line per iteration
    val metrics = Files.readAllLines(java.nio.file.Paths.get(s"$root/run-full/metrics.jsonl"))
    assert(metrics.size == full.iterations)
  }

  test("restore picks the latest COMPLETE snapshot only") {
    val root = Files.createTempDirectory("graft-ckpt2").toString
    val cp = new Checkpointer(spark, root, "r1")
    val df = Seq((1L, 2.0, true)).toDF("vid", "value", "active")
    cp.save(df, 4)
    // simulate a torn write: directory exists but no commit marker
    val torn = java.nio.file.Paths.get(s"$root/r1/state/iter=000008")
    Files.createDirectories(torn)
    assert(cp.latestIter.contains(4))
    assert(cp.restore().get.count() == 1)
  }

  private def lineage(path: String) =
    spark.read.json(path).select($"partition_id", $"rows", $"checksum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

  test("a durable save superstep runs one job, which also counts the active rows") {
    val root = Files.createTempDirectory("graft-ckpt-jobs").toString
    val init = (1L to 20L).map(v => (v, v.toDouble, true)).toDF("vid", "value", "active")
    def run(cp: Option[Checkpointer]) = jobsOf(IterativeRunner.loop(init, maxIter = 2,
      truncateEvery = 2, checkpointer = cp)(countdownStep)(IterativeRunner.CountTrue("active")))
    val (saved, savedJobs) = run(Some(new Checkpointer(spark, root, "r")))
    val (plain, plainJobs) = run(None)
    assert(savedJobs == 2 && plainJobs == 2, (savedJobs, plainJobs))
    assert(saved.metrics.map(_.activeCount) == Seq(19L, 18L))
    assert(saved.metrics.map(_.activeCount) == plain.metrics.map(_.activeCount))
    assert(spark.read.parquet(s"$root/r/state/iter=000002").count() == 20L)
  }

  test("lineage rows and checksums are the per-partition aggregate of the snapshot") {
    val root = Files.createTempDirectory("graft-ckpt-lineage").toString
    val init = (1L to 50L).map(v => (v, v.toDouble, true)).toDF("vid", "value", "active")
      .repartition(4, $"vid")
    val res = IterativeRunner.loop(init, maxIter = 2, truncateEvery = 2,
      checkpointer = Some(new Checkpointer(spark, root, "r")))(countdownStep)(
      IterativeRunner.CountTrue("active"))
    // what the snapshot's lineage was computed as: an aggregate by partition
    val expected = res.state
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"), bit_xor(xxhash64($"vid", $"value", $"active")).as("checksum"))
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(expected.size > 1, expected)
    assert(lineage(s"$root/r/lineage/iter=000002.jsonl") == expected)
    assert(spark.read.json(s"$root/r/lineage/iter=000002.jsonl").select("input_fingerprint")
      .distinct().collect().map(_.getString(0)).toSeq == Seq("r"))
  }

  test("a snapshot whose job fails stays invisible") {
    val root = Files.createTempDirectory("graft-ckpt-torn").toString
    val cp = new Checkpointer(spark, root, "r")
    cp.save(Seq((1L, 2.0, true), (2L, 3.0, true)).toDF("vid", "value", "active"), 4)
    val boom = udf((v: Long) => if (v == 7L) throw new IllegalStateException("boom") else v)
    val failing = (1L to 10L).toDF("vid").repartition(3, $"vid")
      .select(boom($"vid").as("vid"), lit(1.0).as("value"), lit(true).as("active"))
    intercept[Exception](cp.save(failing, 8))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$root/r/state/iter=000008")))
    assert(cp.latestIter.contains(4))
    assert(cp.restore().get.count() == 2L)
  }
}
