package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite (mirrors the reference's `WithSpark` harness,
  * `graph-algo/src/test/.../utils/WithSpark.scala:10-36`, minus the PS). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
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
