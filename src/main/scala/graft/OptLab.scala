package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query lab: time named SparkEntry queries in a fresh session under
  * the Bench conditions (clearCache between runs, repeats to separate
  * first-run JIT/IO from steady state), with a SparkListener that
  * attributes wall-clock to individual Spark jobs (per-job ms; still-running
  * jobs marked, excluded from the sum) and prints every ≥200 ms stage with
  * its task count — the stand-in for the Spark UI's job/stage pages. Usage:
  *   runMain graft.OptLab q_ann_ivf[,q_x...] [sfDir] [reps]
  */
object OptLab {

  private final case class JobRow(id: Int, start: Long, var endMs: Long = -1, desc: String)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_ann_ivf").split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.localBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new ConcurrentHashMap[Int, JobRow]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, JobRow(js.jobId, js.time, desc = desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId); if (r != null) r.endMs = je.time - r.start
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        if (ms >= 200) println(
          f"OPTLAB   stage=${si.stageId}%4d ms=$ms%6d tasks=${si.numTasks}%4d ${si.name.take(70)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- names; rep <- 1 to reps) {
      spark.catalog.clearCache()
      jobs.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = jobs.values.asScala.toSeq.sortBy(_.id)
      val unfinished = rows.count(_.endMs < 0)
      val totalJobMs = rows.filter(_.endMs >= 0).map(_.endMs).sum
      println(f"OPTLAB $name rep=$rep rows=$n sec=$sec%.3f jobs=${rows.size} " +
        f"job_ms_sum=$totalJobMs unfinished=$unfinished")
      rows.foreach { r =>
        val ms = if (r.endMs < 0) "  (run)" else f"${r.endMs}%7d"
        println(f"OPTLAB   job=${r.id}%4d ms=$ms ${r.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
