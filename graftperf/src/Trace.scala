package graftperf

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A benchmark-side span around one call into a graft module. Times are epoch
  * milliseconds, the clock Spark stamps listener events with, so job intervals
  * and spans share one time axis. */
final case class Span(id: Long, parent: Long, op: Int, name: String, layer: String,
    startMs: Long, endMs: Long)

final case class JobRec(id: Int, span: Long, exec: Long, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

final case class StageRec(id: Int, tasks: Int, runMs: Long, taskMsMax: Long, taskMsMedian: Long,
    shuffleWriteB: Long, spillB: Long)

final case class QueryRec(func: String, durMs: Double, planMs: Long)

/** A SQL execution; `desc` is its call site ("count at PageRank.scala:97").
  * `func` and `planMs` come from the [[QueryListener]] when the execution
  * was a Dataset action. */
final case class ExecRec(id: Long, desc: String, startMs: Long, var func: String,
    var planMs: Long)

/** Records jobs, stages, tasks and SQL executions. Each job is tied to the
  * span that was open when it started through the `graftperf.span` local
  * property, and to its SQL execution through `spark.sql.execution.id`. */
final class JobListener(queries: QueryListener) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val taskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val drained = new ConcurrentHashMap[String, java.lang.Boolean]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop(Trace.DrainKey).foreach(k => drained.put(k, true))
    jobs.put(e.jobId, JobRec(e.jobId, prop(Trace.SpanKey).map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val buf = taskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized(buf += e.taskMetrics.executorRunTime)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val ms = Option(taskMs.remove(si.stageId)).map(b => b.synchronized(b.sorted.toVector))
      .getOrElse(Vector.empty)
    stages.put(si.stageId, StageRec(si.stageId, si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (ms.isEmpty) 0L else ms.last,
      if (ms.isEmpty) 0L else ms((ms.length - 1) / 2),
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  // Spark hands an action's execution-end event to the QueryListener's bus
  // first (it joined the shared queue when the session was built), then to
  // this listener: the action it just recorded is this execution's, which
  // the matching duration confirms.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecRec(s.executionId, s.description, s.time, null, -1L))
    case end: SparkListenerSQLExecutionEnd =>
      val q = queries.pending.getAndSet(null)
      Option(execs.get(end.executionId)).foreach { x =>
        if (q != null && math.abs(q.durMs - (end.time - x.startMs)) <= 50.0) {
          x.func = q.func
          x.planMs = q.planMs
        }
      }
    case _ =>
  }

  def seenDrain(key: String): Boolean = drained.containsKey(key)
}

/** Records the last Dataset action with its planning time (analysis +
  * optimization + physical planning) until [[JobListener]] pairs it with
  * its execution. */
final class QueryListener extends QueryExecutionListener {
  val pending = new java.util.concurrent.atomic.AtomicReference[QueryRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pending.set(QueryRec(funcName, durationNs / 1e6, qe.tracker.phases.values.map(_.durationMs).sum))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Span recorder plus the two listeners. Spans and records stay in memory
  * until the run is over. With tracing off the spans still run (unrecorded),
  * so a traced and an untraced operation run the same benchmark code and
  * differ only in the listeners. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0L)
  val queries = new QueryListener
  val jobs = new JobListener(queries)
  private var on = false
  var op = -1

  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) { sc.addSparkListener(jobs); spark.listenerManager.register(queries) }
    else { drain(); sc.removeSparkListener(jobs); spark.listenerManager.unregister(queries) }
    on = flag
  }

  /** Runs `body` inside a span; jobs it starts carry the span id. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.head
    stack = id :: stack
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanKey, if (stack.head == 0L) null else stack.head.toString)
      if (on) spans += Span(id, parent, op, name, layer, t0, t1)
    }
  }

  /** Waits until the listener has seen every event posted so far: a marker
    * job is posted after them on the same bus, so once its start event has
    * arrived everything before it has too. */
  def drain(): Unit = if (on) {
    val key = s"drain-${nextId.getAndIncrement()}"
    sc.setLocalProperty(Trace.DrainKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.DrainKey, null)
    val deadline = System.currentTimeMillis() + 60000L
    while (!jobs.seenDrain(key) && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  def spanRecords: Seq[Span] = spans.toSeq
  def jobRecords: Seq[JobRec] =
    jobs.jobs.values.asScala.toSeq.filter(_.span > 0).sortBy(_.id)
  def stageRecords: Seq[StageRec] = jobs.stages.values.asScala.toSeq.sortBy(_.id)
  def execRecords: Seq[ExecRec] = jobs.execs.values.asScala.toSeq.sortBy(_.id)
}

object Trace {
  val SpanKey = "graftperf.span"
  val DrainKey = "graftperf.drain"
}
