package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite (mirrors the reference's `WithSpark` harness,
  * `graph-algo/src/test/.../utils/WithSpark.scala:10-36`, minus the PS). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.put(e.jobId, _))
    }
    sc.addSparkListener(listener)
    def tagged[U](t: String)(f: => U): U = {
      sc.setLocalProperty(key, t)
      try f finally sc.setLocalProperty(key, null)
    }
    try {
      val out = tagged(tag)(body)
      // a marker job's start event is posted after every event of `body`
      tagged(s"$tag-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 60000L
      while (!seen.containsValue(s"$tag-end") && System.currentTimeMillis() < deadline) Thread.sleep(10)
      (out, seen.values.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // the engine's own builder: local[4] plus its session-wide settings
    // (the generated-class cache size the codegen spec checks)
    val s = graft.core.Sessions.localBuilder("4")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
