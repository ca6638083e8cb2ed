package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Iteration-side cache for the big (edge-shaped) operand of a superstep
  * loop. Three deliberate choices, each measured (BASELINE.md §c):
  *
  *  1. `localCheckpoint(DISK_ONLY)` first: truncates the (possibly huge)
  *     derivation lineage to a leaf. The CacheManager canonicalizes every
  *     query's plan against each cache entry's plan — with a large plan under
  *     the cache this is a serial driver cost paid once per iteration, and it
  *     dominated the loop before truncation. DISK_ONLY keeps the row-format
  *     checkpoint off the heap (it is read only by the sizing count and the
  *     cache build).
  *  2. `repartition(key)`: the loop's equi-join key; every superstep reuses
  *     this exchange so only the vertex-sized side shuffles per iteration.
  *  3. Dataset `persist()` on top: columnar compressed batches (~10× less
  *     heap than row caching; GC was the scaling bottleneck at 10M+ rows).
  */
object IterCache {

  /** Rows-per-partition target for [[adaptiveParts]]. 430k reproduces every
    * partition-count optimum measured in BASELINE.md: the 13.7M-sym-edge
    * headline graph lands on exactly 32 partitions at local[32] (the measured
    * optimum — 128 parts were 2× WORSE there, §f), the 337M-edge ScalingBench
    * graph lands on the 8-tasks-per-core 256 (the §d +16% lever), and the
    * kilo-edge fixture graphs land on 1 (a 32-task shuffle over ~10³ rows is
    * pure scheduling overhead — guide §2.2 "fewer, larger reduce
    * partitions"). */
  private val targetRowsPerPartition = 430000L

  /** Minimum rows per task for the core-fill term of [[adaptiveParts]]:
    * below this, a task's work (~10 ms) no longer amortizes its scheduling
    * overhead, so engaging more cores stops paying (measured: kilo-row
    * fixture loops are fastest at 1 partition, while a 1.18M-row graph at 3
    * partitions left an idle 32-core box 0.7 s slower than at 30 — the fill
    * term covers exactly that middle regime). */
  private val minRowsPerTask = 40000L

  /** Scale-adaptive partition count for a superstep loop over `rows` rows:
    * max(ceil(rows/430k), enough-to-fill-the-cores while tasks keep ≥40k
    * rows), clamped to [1, 8 × defaultParallelism]. Derived from the DATA,
    * not from the local core constant, so the same code picks 1 on a laptop
    * fixture and hundreds on a cluster-sized graph (guide §2: "make
    * partitioning scale-adaptive ... rather than a constant tuned for either
    * local mode or the cluster"). Anchored to every measured optimum:
    * 13.7M-edge headline → 32 at local[32] (both terms agree), 337M → 256
    * (=8/core, BASELINE §d), kilo-row fixtures → 1. */
  def adaptiveParts(spark: org.apache.spark.sql.SparkSession, rows: Long): Int = {
    val cores = math.max(1, spark.sparkContext.defaultParallelism).toLong
    val r = math.max(0L, rows)
    // ceiling divisions that cannot overflow for a saturated estimate
    def ceilDiv(n: Long, d: Long) = n / d + (if (n % d == 0) 0L else 1L)
    val byThroughput = ceilDiv(r, targetRowsPerPartition)
    val fill = math.min(cores, ceilDiv(r, minRowsPerTask))
    math.max(1L, math.min(cores * 8L, math.max(byThroughput, fill))).toInt
  }

  /** Hash-repartition `df` by `key` to [[adaptiveParts]](workUnits) ONLY
    * when its planned parallelism is below that — raises the parallelism of
    * a wide aggregate over a small under-split input (one parquet split /
    * a 1-partition leaf runs a 60-column aggregate single-task) WITHOUT
    * adding a table-sized exchange where the scan is already parallel (at
    * real scale the input has thousands of splits and the map-side partial
    * aggregate must keep finishing groups before any exchange — shuffling
    * the pre-aggregate rows there would cost dim× the bytes).
    *
    * `df` must be a checkpoint leaf or a shuffle-free plan
    * (scan/project/generate only): the parallelism probe reads the planned
    * RDD's partition count, and under AQE that EXECUTES any upstream
    * shuffle stages just to finalize the plan — silent double execution.
    * A frame whose plan has an exchange is refused. */
  def widenIfNarrow(df: DataFrame, workUnits: Long, key: String): DataFrame = {
    val qe = df.queryExecution
    val exchanges = qe.executedPlan.exists {
      case _: Exchange => true
      case a: AdaptiveSparkPlanExec => a.initialPlan.exists(_.isInstanceOf[Exchange])
      case _ => false
    }
    require(!exchanges, s"widenIfNarrow needs a leaf or a shuffle-free plan:\n${qe.executedPlan}")
    val parts = adaptiveParts(df.sparkSession, workUnits)
    if (qe.toRdd.getNumPartitions >= parts) df else df.repartition(parts, col(key))
  }

  /** A sized self-join and the key histogram that sized it: `pairs2` is
    * Σ_k c(k)·(c(k)−1) and `rows` is Σ_k c(k), the input row count. */
  final case class SelfJoin(joined: DataFrame, pairs2: Long, rows: Long)

  /** The equi-self-join of `df` on `keys`, aliased `a` and `b`, with the
    * pair condition `a.id < b.id` (`ordered`) or `a.id =!= b.id`, and its
    * input partitioned for its OUTPUT size. The shingle, LSH bucket and
    * wedge joins emit Σ_k c(k)·(c(k)−1) rows (halved when ordered), orders
    * of magnitude more than their input bytes, so AQE, which sizes shuffle
    * partitions by bytes, coalesces such a join into 1-2 tasks. One tiny
    * aggregate over the key histogram (one action) gives the exact output
    * size; [[adaptiveParts]] of it is the width of an explicit
    * `repartition(keys)` that AQE keeps and both join sides share
    * (ReusedExchange). The sizing spreads keys over tasks but does not split
    * one key: a hub key's c² pairs still run in a single task. */
  def selfJoin(df: DataFrame, keys: Seq[String], id: String, ordered: Boolean): SelfJoin = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val hist = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1L)), lit(0L)),
        coalesce(sum(col("c")), lit(0L))).head()
    val pairs2 = hist.getLong(0)
    val parts = adaptiveParts(df.sparkSession, if (ordered) pairs2 / 2L else pairs2)
    val in = df.repartition(parts, keys.map(col): _*)
    val pair = if (ordered) col(s"a.$id") < col(s"b.$id") else col(s"a.$id") =!= col(s"b.$id")
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && pair
    SelfJoin(in.as("a").join(in.as("b"), on), pairs2, hist.getLong(1))
  }

  /** The cache itself: the DISK_ONLY leaf, hash-repartitioned by `key` and
    * persisted. The partition count is `parts` when given (a sibling cache's
    * count, so two caches of one loop co-partition without a second sizing
    * scan), else [[adaptiveParts]] of the leaf's row count, counted by one
    * RDD job that also writes the (lazy) leaf — the one job the cache runs
    * before it is first read. The persist is planned in `df`'s session, so
    * under AQE its shuffle runs as one stage job when the loop's first plan
    * is executed and its columnar batches are built by the first superstep.
    * (A static cache planned with AQE off reports a SinglePartition at width
    * 1, and every superstep over it then re-shuffled both join sides and
    * the aggregate.) Returns (cached frame, partition count) so the caller
    * can pin the loop's OTHER exchanges (state shuffles, message aggregates)
    * to the same count via [[IterativeRunner.loop]]'s `shuffleParts` —
    * mismatched counts would re-exchange the cached side every superstep. */
  def byKey(df: DataFrame, key: String, parts: Option[Int] = None): (DataFrame, Int) = {
    val leaf = df.localCheckpoint(false, StorageLevel.DISK_ONLY)
    val n = parts.getOrElse(adaptiveParts(df.sparkSession, SuperstepPlan.leafOf(leaf).get.rdd.count()))
    (leaf.repartition(n, col(key)).persist(), n)
  }
}
