package graftperf

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions
import graft.model.SyntheticTranscripts

/** Runs one workload in one JVM and writes every raw measurement as JSON;
  * `run.py` turns that into the benchmark's metrics.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --out <file>
  *
  * Set-up: start the session, generate the transcripts from the seed and
  * write them to parquet (several times; the median counts), then run the
  * operation `WarmupPasses` times. Measurement: repeat the operation for
  * `seconds` (at least `MinOps` times); outputs are checked, and a full collection
  * taken, after each operation's clock has stopped. With `--trace 1` the
  * operations alternate between untraced and traced, so one run yields both
  * the per-layer numbers and the tracing overhead. */
object Main {

  private val GenRepeats = 3
  /** With the C1-only JIT that `run.py` starts the JVM with, the first pass
    * runs at about 1.5 times the steady time and the second is within about
    * 5-10% of it, so one warm-up pass plus a median over at least `MinOps`
    * measured operations suffices; a second warm-up pass would add a sixth
    * to every run, which the time budget does not allow. */
  private val WarmupPasses = 1
  private val MinOps = 3
  /** Traced runs alternate untraced and traced operations, starting
    * untraced: five give three of one and two of the other. */
  private val MinTracedOps = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))

    val t0 = System.nanoTime()
    val spark = Sessions.localBuilder(cores.toString)
      .appName(s"graftperf-${workload.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count() // the session is up once its first job has run
    val sessionS = secs(t0)

    val genS = (1 to GenRepeats).map { i =>
      val t = System.nanoTime()
      SyntheticTranscripts.generate(spark, workload.nConvs, workload.maxTurns, workload.nTools, seed)
        .write.parquet(work.resolve(s"input-$i").toString)
      secs(t)
    }
    val input = work.resolve(s"input-$GenRepeats").toString

    val tPrep = System.nanoTime()
    workload.prepare(spark, input)
    val prepareS = secs(tPrep)
    System.err.println(f"[graftperf] session $sessionS%.1fs, generate ${genS.mkString(",")}, prepare $prepareS%.1fs")

    val tr = new Trace(spark)
    var opIdx = 0
    def runOp(trace: Boolean): Json.Obj = {
      val opDir = work.resolve(s"op-$opIdx")
      tr.enable(trace)
      tr.op = opIdx
      val gc0 = gcMs
      val cpu0 = cpuNs
      val ts = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try Right(tr.span("op", "op")(workload.op(spark, tr, input, opDir)))
      catch { case e: Exception => Left(e) }
      val wall = secs(t)
      val cpuS = (cpuNs - cpu0) / 1e9
      val gcS = (gcMs - gc0) / 1000.0
      tr.drain()
      val (checks, outcome) = res match {
        case Right(o) =>
          val c = try o.checks() catch { case e: Exception => Seq(Check("checks", ok = false, e.toString)) }
          (c, Some(o))
        case Left(e) => (Seq(Check("op", ok = false, e.toString)), None)
      }
      deleteTree(opDir)
      val liveMb = liveHeapMb()
      System.err.println(f"[graftperf] op $opIdx%d traced=$trace%s wall=$wall%.2fs cpu=$cpuS%.2fs " +
        checks.filterNot(_.ok).map(c => s"FAILED ${c.name}: ${c.detail}").mkString("; "))
      val out = Json.Obj(
        "index" -> opIdx, "traced" -> trace, "start_ms" -> ts, "wall_s" -> wall, "cpu_s" -> cpuS, "gc_s" -> gcS,
        "heap_live_mb" -> liveMb, "ok" -> checks.forall(_.ok),
        "checks" -> checks.map(c => Json.Obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "docs" -> outcome.fold(0L)(_.docs),
        "counts" -> Json.Obj(outcome.fold(Seq.empty[(String, Any)])(_.counts.toSeq): _*),
        "loops" -> outcome.fold(Seq.empty[Json.Obj])(_.loops.map(loopJson)))
      opIdx += 1
      out
    }

    // warm-up: a fixed number of passes (see WarmupPasses)
    val tw = System.nanoTime()
    val warmup = (1 to WarmupPasses).map(_ => runOp(trace = false))
    val warmupS = secs(tw)

    val ops = Seq.newBuilder[Json.Obj]
    val tm = System.nanoTime()
    var n = 0
    val minOps = if (traced) MinTracedOps else MinOps
    while (n < minOps || secs(tm) < seconds) {
      ops += runOp(trace = traced && n % 2 == 1)
      n += 1
    }
    tr.enable(false)

    val traceJson = if (!traced) Json.Obj() else Json.Obj(
      "spans" -> tr.spanRecords.map(s => Json.Obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> tr.jobRecords.map(j => Json.Obj("id" -> j.id, "span" -> j.span, "exec" -> j.exec,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds)),
      "stages" -> tr.stageRecords.map(s => Json.Obj("id" -> s.id, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "task_ms_max" -> s.taskMsMax, "task_ms_median" -> s.taskMsMedian,
        "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB)),
      "execs" -> tr.execRecords.map(x => Json.Obj("id" -> x.id, "desc" -> x.desc,
        "func" -> x.func, "start_ms" -> x.startMs, "plan_ms" -> x.planMs)))

    val result = Json.Obj(
      "workload" -> workload.name, "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "generator" -> Json.Obj("nConvs" -> workload.nConvs, "maxTurns" -> workload.maxTurns,
        "nTools" -> workload.nTools, "seed" -> seed),
      "setup" -> Json.Obj("session_s" -> sessionS, "gen_s" -> genS, "warmup_s" -> warmupS,
        "warmup_levels" -> warmup.map(levelOf),
        "prepare_s" -> prepareS),
      "warmup" -> warmup,
      "ops" -> ops.result(),
      "trace" -> traceJson)
    spark.stop()
    Files.write(Paths.get(a("out")), result.render.getBytes(StandardCharsets.UTF_8))
  }

  private def loopJson(l: Loop): Json.Obj = Json.Obj(
    "name" -> l.name, "checkpointed" -> l.checkpointed, "start_ms" -> l.startMs,
    "end_ms" -> l.endMs, "iters" -> l.metrics.map(_.iter), "wall_ms" -> l.metrics.map(_.wallMs),
    "sym_edges" -> l.symEdges)

  /** Median superstep ms of an operation, or its wall ms when it has no loop. */
  private def levelOf(op: Json.Obj): Double = {
    val walls = op("loops").asInstanceOf[Seq[Json.Obj]]
      .flatMap(_("wall_ms").asInstanceOf[Seq[Long]]).sorted
    if (walls.isEmpty) op("wall_s").asInstanceOf[Double] * 1000.0
    else walls(walls.length / 2).toDouble
  }

  /** Heap in use after a full collection, i.e. the live set the session
    * keeps between operations: the heap pools' usage after the last
    * collection (`getCollectionUsage`), read right after `System.gc()`. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of the whole JVM (driver, executor and JIT threads). */
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Minimal JSON writer for the benchmark's raw output. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    def apply(key: String): Any = fields.collectFirst { case (`key`, v) => v }.get
    def render: String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }
  object Obj {
    def apply(fields: (String, Any)*): Obj = new Obj(fields)
  }
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def value(v: Any): String = v match {
    case null | None => "null"
    case o: Obj => o.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
