package graft.core

import org.apache.spark.sql.SparkSession

/** Session construction shared by the engine mains.
  *
  * Under `spark-submit`, `--master` / `--conf` arrive as `spark.*` system
  * properties in the driver JVM — and a `.master(...)`/`.config(...)` call
  * on the builder would silently OVERRIDE them, turning a cluster submit
  * into a local run on the driver node. So the local master and the
  * local-tuning shuffle-partition default apply ONLY when no external
  * master was injected; everything spark-submit set wins untouched.
  */
object Sessions {

  /** True when launched via spark-submit (or any launcher that injected a
    * master). */
  def externallyManaged: Boolean = sys.props.contains("spark.master")

  /** Builder honoring an injected master: local[cpus] + cpus shuffle
    * partitions otherwise. Callers add their own extra `.config(...)`s
    * (UI off, timezone, local dirs) — those are engine invariants, not
    * cluster-resource settings, so they are safe either way. */
  def localBuilder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
    if (!sys.props.contains(CodegenCacheKey)) b.config(CodegenCacheKey, CodegenCacheEntries)
    if (!sys.props.contains(IsolationKey)) b.config(IsolationKey, false)
    if (externallyManaged) {
      println(s"[sessions] deferring to injected spark.master=${sys.props("spark.master")}")
      b
    } else b.master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
  }

  /** Generated-class cache size (a static, JVM-wide setting; a launcher's
    * value wins). Spark's default of 100 entries, in 4 LRU segments, is
    * smaller than the 65-95 distinct classes one graft operation generates,
    * so a repeated operation in a long-lived session (streaming
    * `foreachBatch`, a service) recompiled 45-70 of them; with 1000 a
    * repeat compiles none. */
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  private val CodegenCacheEntries = 1000L

  /** Per-session artifact isolation, off unless a launcher set it: graft
    * adds no per-session jars or files, and an isolated session runs its
    * tasks in an executor class loader of its own. Every superstep loop
    * plans in a session cloned from the caller's
    * ([[IterativeRunner.loop]]), so with isolation each loop call
    * compiled again the generated classes its tasks use (16 for a repeated
    * PageRank on the test graph) — the generated-class cache is keyed by
    * class loader. */
  private val IsolationKey = "spark.sql.artifact.isolation.enabled"
}
