package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, a random-hyperplane
  * LSH-bucketed variant as the ANN scale path, and — for the exact
  * threshold-pair join — a grid-partitioned theta-join (Okcan & Riedewald,
  * SIGMOD'11 "Processing Theta-Joins using MapReduce") whose cells bound
  * per-task memory and distribute the O(n²) work evenly, with no broadcast
  * of the full table.
  *
  * Dot products run on FLATTENED per-dimension double columns (`x0..x{d-1}`)
  * so the 64-term sum is whole-stage-codegen primitive arithmetic — no
  * per-pair array allocation. (The previous `aggregate(zip_with(...))`
  * higher-order form evaluated interpreted per pair: ~32 µs/pair, 128 s for
  * the sf0.1 pair join; the flat form is the same arithmetic, same
  * left-to-right summation order, >20× faster.)
  */
object Similarity {

  /** Σ a_i·b_i in Double over array columns (spec/compat surface). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Embedding dimensionality — one scalar probe (dims are uniform per
    * table by contract; a ragged table with rows SHORTER than the probed
    * row surfaces as ANSI INVALID_ARRAY_INDEX from the flattened plan —
    * that error means "ragged embedding column"). Empty table → 1, so
    * downstream plans stay valid (and correctly empty) instead of crashing
    * on head(). */
  private def embDim(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding")).as("d")).take(1)
      .headOption.map(_.getInt(0)).getOrElse(1)

  /** (row count, dim): a column-pruned count() (reads NO array data from
    * parquet) plus the one-row dim probe. NOT a min/max(size) scan — that
    * would decode the heaviest column of the whole table just for a sanity
    * check (measured wrong-headed at the 1e9-row scale this targets). Dims
    * are uniform per table by contract; a ragged table fails at run time
    * with ANSI INVALID_ARRAY_INDEX in the flattened plan (documented at
    * [[embDim]]). */
  private def countAndDim(embeddings: DataFrame): (Long, Int) =
    (embeddings.count(), embDim(embeddings))

  /** (vec_id, nrm, x0..x{dim-1}): flattened unit of all similarity plans.
    *
    * The nrm column stays the INTERPRETED `aggregate(zip_with(...))` form
    * DELIBERATELY (round-6 measured-negative): unrolling it to a 64-term
    * codegen Add chain (like the pair dot below) tripled the size of the
    * inlined cosine expression, and Catalyst's constraint propagation
    * (`getAllValidConstraints` → per-substitution re-canonicalization of
    * commutative Add chains) went from seconds to MINUTES of driver spin on
    * the similarity plans — the per-row interpreted cost (one call per
    * vector, not per pair) is far cheaper than the planning blowup. The
    * per-PAIR dot stays flat codegen (it is an optimizer-opaque column
    * reference by the time the pair plans see it). */
  private def flat(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings.select(
      col("vec_id") +:
        norm(col("embedding")).as("nrm") +:
        (0 until dim).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)

  /** Flat dot between two flattened sides, left-to-right summation (same
    * association order as the array form and the DuckDB oracle's per-index
    * join — identical doubles per term). */
  private def dotFlat(dim: Int, l: String = "a", r: String = "b"): Column =
    (0 until dim).map(i => col(s"$l.x$i") * col(s"$r.x$i")).reduce(_ + _)

  /** Shared ANN verify tail: exact cosine over (query_id, neighbor_id)
    * candidates + top-k window — ONE definition so the LSH and IVF paths
    * (and their oracles) cannot silently diverge on tie-break or norm
    * handling. */
  private def exactCosineTopK(
      cand: DataFrame,
      embeddings: DataFrame,
      dim: Int,
      k: Int): DataFrame = {
    val v = flat(embeddings, dim)
    val scored = cand
      .join(v.as("a"), col("query_id") === col("a.vec_id"))
      .join(v.as("b"), col("neighbor_id") === col("b.vec_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotFlat(dim) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Exact cosine top-k neighbors (self excluded):
    * (query_id, rnk, neighbor_id, cosine). O(|queries|·n) — the correctness
    * baseline; use [[annTopK]] at scale. `queryPred` restricts the query side
    * (all vectors stay candidates). */
  def bruteTopK(embeddings: DataFrame, k: Int = 10, queryPred: Column = lit(true)): DataFrame = {
    val dim = embDim(embeddings)
    val v = flat(embeddings, dim)
    val pairs = v.where(queryPred).as("a")
      .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        (dotFlat(dim) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i)
    * in [-1, 1): pure integer arithmetic, portable to any SQL engine — the
    * DuckDB oracle recomputes it exactly. The squared mixing step is the
    * nonlinearity: a plain LCG would leave plane j and j+1 differing by a
    * near-constant vector (mod wraps only), i.e. strongly correlated planes. */
  private[graft] def planeComponent(j: Int, i: Int): Double = {
    val t = Math.floorMod(j.toLong * 40503L + i.toLong * 2654435761L + 7L, 1000003L)
    val u = Math.floorMod(t * t * 31L + t * 7L + j.toLong, 2000003L)
    u / 1000001.5 - 1.0
  }

  /** [[planeComponent]] as a column expression over the 0-based dim index. */
  private def planeComponentCol(j: Int, i0: Column): Column = {
    val t = pmod(lit(j.toLong * 40503L + 7L) + i0 * lit(2654435761L), lit(1000003L))
    val u = pmod(t * t * lit(31L) + t * lit(7L) + lit(j.toLong), lit(2000003L))
    u / lit(1000001.5) - lit(1.0)
  }

  /** Sign-of-projection bit signature (numBits ≤ 63 hyperplanes), packed into
    * one long: (vec_id, nrm, rp_sig). Projections are numBits sum-aggregates
    * over the posexploded embedding — the explode keeps a vector's rows
    * co-located, so the partial aggregate finishes each group map-side and
    * the exchange carries one row per vector. (A flat numBits×dim expression
    * tree is NOT codegen-able: a single ~1024-term tree overflows janino's
    * 64 KB method limit and silently falls back to interpreted eval; the
    * aggregate form keeps every generated method small AND gives a hard
    * optimizer barrier so the signature projection can't be re-inlined.) */
  def rpSignatures(embeddings: DataFrame, numBits: Int = 16): DataFrame = {
    require(numBits > 0 && numBits <= 63, "packed long signature: 1..63 bits")
    // Work-sized parallelism raise (round 6): the projection aggregate
    // evaluates numBits plane components per exploded (vector, dim) row; a
    // small parquet input is ONE scan split, so the whole aggregate ran
    // single-task. widenIfNarrow repartitions by vec_id only when the scan
    // under-splits relative to rows × numBits work units — at real scale
    // the scan is already parallel and the map-side partial aggregate keeps
    // the exchange at one row per vector (no added shuffle).
    val (n, dim) = countAndDim(embeddings)
    val ex = graft.core.IterCache.widenIfNarrow(
      embeddings
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
        .select(col("vec_id"), col("i0").cast("long").as("i0"),
          col("xf").cast("double").as("x")),
      n * dim.toLong * numBits, "vec_id")
    val projAggs = (0 until numBits).map(j =>
      sum(col("x") * planeComponentCol(j, col("i0"))).as(s"proj$j"))
    val aggs = sqrt(sum(col("x") * col("x"))).as("nrm") +: projAggs
    val sig = (0 until numBits)
      .map(j => when(col(s"proj$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    ex.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id"), col("nrm"), sig.as("rp_sig"))
  }

  /** ANN top-k: candidates = pairs sharing any band of the RP signature
    * (bands of bandBits each), then exact cosine within candidates. Recall
    * is tested against [[bruteTopK]] in SimilaritySpec; parameter scaling for
    * large n is [[annTopKAuto]]. */
  def annTopK(
      embeddings: DataFrame,
      k: Int = 10,
      numBits: Int = 16,
      bandBits: Int = 4): DataFrame =
    annTopKDim(embeddings, embDim(embeddings), k, numBits, bandBits)

  private def annTopKDim(
      embeddings: DataFrame,
      dim: Int,
      k: Int,
      numBits: Int,
      bandBits: Int): DataFrame = {
    require(numBits % bandBits == 0)
    val bands = numBits / bandBits
    // skinny banding: only (vec_id, band, bh) travels through the bucket
    // self-join; embeddings re-join by vec_id for the exact-cosine verify.
    // Lazy leaf: the self-join references banded twice — each side would
    // re-run the full numBits-projection signature aggregate
    val banded = rpSignatures(embeddings, numBits).select(col("vec_id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("rp_sig"), b * bandBits).bitwiseAND((1L << bandBits) - 1)): _*))
        .as(Seq("band", "bh")))
      .localCheckpoint(false)
    val cand = graft.core.IterCache.selfJoin(banded, Seq("band", "bh"), "vec_id", ordered = false)
      .joined
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
      .distinct()
    exactCosineTopK(cand, embeddings, dim, k)
  }

  /** Scale-aware ANN: picks bandBits so a band has ~n/targetOccupancy buckets
    * (expected per-bucket candidate pairs ≈ occupancy²/2 per band — the bound
    * that keeps the bucket join linear-ish in n), keeps 4 bands for recall,
    * and logs the chosen parameters + bound. At n=5e3 this reproduces the
    * 16-bit default; at n=1e9 with occupancy 1024 it picks 20-bit bands
    * (≈10⁶ buckets/band, ~5·10⁵ candidate pairs per bucket). */
  def annTopKAuto(embeddings: DataFrame, k: Int = 10, targetOccupancy: Long = 256L): DataFrame = {
    // pruned count() + one-row dim probe — the win is never decoding the
    // full embedding column just for sizing (see countAndDim)
    val (n0, dim) = countAndDim(embeddings)
    val n = math.max(1L, n0)
    val bandBits = math.min(15, math.max(4,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt))
    val bands = 4
    val occupancy = n.toDouble / (1L << bandBits)
    // expected candidate pairs per band ≈ n · occupancy / 2
    println(f"[annTopKAuto] n=$n bandBits=$bandBits bands=$bands " +
      f"expected bucket occupancy=$occupancy%.1f candidate pairs/band≈${n * occupancy / 2}%.0f")
    annTopKDim(embeddings, dim, k, numBits = bands * bandBits, bandBits = bandBits)
  }

  /** Embedding-cosine near-dup pairs (vec_a < vec_b, cosine >= minCosine) —
    * EXACT, via a grid-partitioned self-join: vectors are hashed into
    * `blocks` buckets, the B(B+1)/2 unordered block pairs become cells of an
    * equi-join key, and each cell computes its (n/B)² dot products with flat
    * codegen arithmetic. Shuffle volume is n·(B+1) rows; per-task memory is
    * bounded by the cell, and no side is broadcast — the shape that survives
    * a 1000-executor scale-out. (The exact threshold join is inherently
    * Θ(n²) compute when the threshold sits inside the bulk of the similarity
    * distribution, as it does for this corpus — the testdata embeddings have
    * NO high-cosine cluster structure, max pair ≈0.6 — so LSH candidate
    * pruning cannot reach full recall here; see [[cosinePairsLsh]] for the
    * true near-dup regime where it can.) */
  def cosinePairs(embeddings: DataFrame, minCosine: Double, blocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val dim = embDim(embeddings)
    val v = flat(embeddings, dim)
      .withColumn("blk", pmod(xxhash64(col("vec_id"), lit("gridblk")), lit(blocks)).cast("int"))
    import spark.implicits._
    val cells = (for { i <- 0 until blocks; j <- i until blocks } yield (i * blocks + j, i, j))
      .toDF("cell", "bi", "bj")
    val left = v.join(broadcast(cells.select(col("cell"), col("bi").as("blk"))), "blk")
    val right = v.join(broadcast(cells.select(col("cell"), col("bj").as("blk"))), "blk")
    left.as("a").join(right.as("b"), col("a.cell") === col("b.cell"))
      .where(col("a.blk") =!= col("b.blk") || col("a.vec_id") < col("b.vec_id"))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        (dotFlat(dim) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** IVF (inverted-file) ANN top-k — the second named scale path beside
    * RP-LSH: a deterministic integer-space Lloyd's k-means builds `nlist`
    * coarse cells; each query probes its `nprobe` nearest centroids and
    * exact-cosine-verifies only those cells' members.
    *
    * Replayability design: embeddings are quantized to BIGINT micro-units
    * (round(x·10⁶)), so every distance is an EXACT integer sum and every
    * argmin (assignment, probe) is an exact integer comparison with cid
    * tie-break — no float-comparison flip hazards between engines. The only
    * float step is the centroid mean, immediately re-quantized
    * (round(avg)); a cross-engine flip there needs the mean within ~1e-10
    * of a .5 boundary (~10⁻⁶ over the whole run). Init centroids are the
    * `nlist` vectors with smallest portable hash rank. The DuckDB oracle
    * ([[graft.Oracles.qAnnIvf]]) replays the whole pipeline.
    *
    * Scale shape: the per-iteration cost is ONE broadcast join of the
    * (nlist×dim) centroid table onto the exploded vectors + one partial-agg
    * shuffle — no n×n anything, but the assignment work is O(n·dim·nlist),
    * so nlist must stay broadcast-small (see [[ivfTopKAuto]]'s cap and the
    * mapPartitions-BLAS note there); candidate verification is bounded by
    * cell occupancy × nprobe. Empty cells simply drop out of the next round
    * (identically on both sides). */
  def ivfTopK(
      embeddings: DataFrame,
      k: Int = 10,
      nlist: Int = 8,
      nprobe: Int = 2,
      iters: Int = 2,
      quant: Double = 1e6,
      kernelAssign: Boolean = false): DataFrame =
    ivfTopKDim(embeddings, embDim(embeddings), k, nlist, nprobe, iters, quant, kernelAssign)

  /** Top-`nprobe` nearest centroids per vector via a `mapPartitions` argmin
    * over the driver-collected + broadcast centroid table — the beyond-cap
    * assignment stage named by [[ivfTopKAuto]]: per-row work is a dense
    * integer kernel (no n·dim·nlist row explosion through an aggregate), so
    * nlist is bounded by the broadcast size (nlist×dim longs; 31k×256 ≈
    * 64 MB at the 10⁹-row sizing), not by aggregate row volume. Semantics
    * are IDENTICAL to the declarative form: exact integer distances
    * Σ(xq−cq)², ordered (d asc, cid asc) — asserted equal on the clustered
    * fixture in SimilaritySpec. Output: (vec_id, cid, d, rn) with rn ∈
    * [1, nprobe].
    *
    * Arithmetic envelope: distances accumulate in Long — exact (and
    * identical to the declarative form) while dim·max(xq−cq)² < 2⁶³, i.e.
    * per-coordinate |x| up to ~6·10⁴ at quant=1e6 and dim=1024; unit-norm
    * embeddings sit ~10⁸ below the bound. The envelope is ENFORCED: a cheap
    * per-row precheck (max|xq| + the partition-constant max|cq|, squared and
    * scaled by dim, checked against 2⁶³ with exact arithmetic) throws
    * ArithmeticException outside it — loud like the ANSI declarative form,
    * never a silent wraparound. The precheck bound is conservative (it
    * assumes every coordinate hits the worst-case difference), which is the
    * right direction for a guard. */
  private def kernelProbeRanks(qv: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
    kernelProbeRanksBc(qv,
      qv.sparkSession.sparkContext.broadcast(collectCentroids(cent)), nprobe)

  /** Driver-side centroid materialization for the kernel path: collected
    * through a compact tuple encoder straight into primitive arrays —
    * transient driver heap is an (Int,Int,Long) tuple array (~40 B/row,
    * ~300 MB at the documented 10⁹ sizing of 31k×256 rows), not generic Row
    * objects (multi-GB); the retained footprint is the ~64 MB of centroid
    * longs plus its broadcast copy. (A `toLocalIterator` variant would be
    * O(partition) transient but floods the driver log with GC'd-accumulator
    * warnings from its per-partition jobs — measured, not worth it at this
    * bounded size.) */
  private def collectCentroids(cent: DataFrame): Array[(Int, Array[Long])] = {
    val spark = cent.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rows = cent.as[(Int, Int, Long)].collect()
    var dim = 0
    rows.foreach { case (_, i0, _) => if (i0 + 1 > dim) dim = i0 + 1 }
    val map = new java.util.HashMap[Int, Array[Long]]()
    rows.foreach { case (cid, i0, cq) =>
      map.computeIfAbsent(cid, _ => new Array[Long](dim))(i0) = cq
    }
    map.entrySet().asScala.toArray
      .map(e => (e.getKey.intValue, e.getValue)).sortBy(_._1)
  }

  private def kernelProbeRanksBc(
      qv: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Long])]],
      nprobe: Int): DataFrame = {
    val spark = qv.sparkSession
    import spark.implicits._
    qv.as[(Long, Array[Long])].mapPartitions { it =>
      val cents = bc.value
      val nl = cents.length
      val np = math.min(nprobe, nl)
      // partition-constant: worst-case |cq| for the overflow precheck
      var maxAbsC = 0L
      var c0 = 0
      while (c0 < nl) {
        val cv = cents(c0)._2; var i = 0
        while (i < cv.length) { val a = math.abs(cv(i)); if (a > maxAbsC) maxAbsC = a; i += 1 }
        c0 += 1
      }
      it.flatMap { case (vid, xq) =>
        // overflow guard (O(dim), vs the O(dim·nlist) distance work): the
        // worst-case accumulated distance dim·(max|xq|+max|cq|)² must fit a
        // Long, else fail loudly like the ANSI declarative form would
        var maxAbsX = 0L
        var i0 = 0
        while (i0 < xq.length) { val a = math.abs(xq(i0)); if (a > maxAbsX) maxAbsX = a; i0 += 1 }
        val worst = Math.addExact(maxAbsX, maxAbsC)
        if (worst > 3037000499L || // sqrt(2^63): worst² itself would overflow
            (worst > 0 && worst * worst > Long.MaxValue / math.max(1, xq.length)))
          throw new ArithmeticException(
            s"kernelProbeRanks: quantized coordinates too large for exact Long " +
            s"distances (max|xq|=$maxAbsX, max|cq|=$maxAbsC, dim=${xq.length}); " +
            "lower `quant` — see the arithmetic envelope in the scaladoc")
        val bestD = Array.fill(np)(Long.MaxValue)
        val bestC = new Array[Int](np)
        var c = 0
        while (c < nl) {
          val cv = cents(c)._2
          var d = 0L
          var i = 0
          while (i < xq.length) { val t = xq(i) - cv(i); d += t * t; i += 1 }
          // insert (d, cid) into the sorted top-np; cids ascend, so a tie on
          // d keeps the earlier (smaller) cid — the (d asc, cid asc) order
          if (d < bestD(np - 1)) {
            var pos = np - 1
            while (pos > 0 && bestD(pos - 1) > d) {
              bestD(pos) = bestD(pos - 1); bestC(pos) = bestC(pos - 1); pos -= 1
            }
            bestD(pos) = d; bestC(pos) = cents(c)._1
          }
          c += 1
        }
        (0 until np).iterator.filter(bestD(_) < Long.MaxValue)
          .map(r => (vid, bestC(r), bestD(r), r + 1))
      }
    }.toDF("vec_id", "cid", "d", "rn")
  }

  /** Quantized per-dim rows (vec_id, i0, xq) — the declarative-form input,
    * reused every Lloyd round. */
  private def quantExploded(embeddings: DataFrame, quant: Double): DataFrame =
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), col("i0"),
        round(col("xf").cast("double") * quant, 0).cast("long").as("xq"))
      .localCheckpoint(false)

  /** Quantized vector-per-row (vec_id, xq: array<long>) — the kernel-form
    * input; identical arithmetic to [[quantExploded]]. */
  private def quantVectors(embeddings: DataFrame, quant: Double): DataFrame =
    embeddings.select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * quant, 0).cast("long"))
          .as("xq"))
      .localCheckpoint(false)

  /** Init centroid table (cid, i0, cq): the nlist vectors with smallest
    * (portable hash, vec_id) rank — a global top-k (TakeOrderedAndProject,
    * per-partition heaps; NOT a single-partition window) + an nlist-row
    * driver collect for the cid map. */
  private def initCentroids(embeddings: DataFrame, ex: DataFrame, nlist: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val picked = embeddings
      .select(col("vec_id"), pmod(col("vec_id") * 2654435761L + 13L, lit(1000003L)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(nlist)
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted
      .zipWithIndex.map { case ((_, vid), i) => (vid, i) }
    val pick = picked.toSeq.toDF("vec_id", "cid")
    ex.join(broadcast(pick), "vec_id")
      .select(col("cid"), col("i0"), col("xq").as("cq"))
      .localCheckpoint(false)
  }

  /** Exact integer cell distances, declarative form: exploded vectors ⋈
    * broadcast centroid rows on dim index → partial+final aggregate. */
  private def declarativeDists(ex: DataFrame, cent: DataFrame): DataFrame =
    ex.join(broadcast(cent), "i0")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d"))

  /** Argmin cell per vector, declarative form — the ONE definition of the
    * (d, cid) min-struct tie-break (the reference the kernel path is
    * spec-asserted against). */
  private def declarativeAssign(ex: DataFrame, cent: DataFrame): DataFrame =
    declarativeDists(ex, cent)
      .select(col("vec_id"), struct(col("d"), col("cid")).as("s"))
      .groupBy("vec_id").agg(min(col("s")).as("s"))
      .select(col("vec_id"), col("s.cid").as("cid"))

  private def ivfTopKDim(
      embeddings: DataFrame,
      dim: Int,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int,
      quant: Double,
      kernelAssign: Boolean = false): DataFrame = {
    // quantized per-dim rows (vec_id, i0, xq) — reused every Lloyd round.
    // Round 6: the declarative assignment's broadcast join multiplies the
    // n·dim leaf by nlist rows INSIDE the probe stage, so an under-split
    // local leaf ran the whole O(n·dim·nlist) distance aggregate in 1-2
    // tasks; widenIfNarrow raises the leaf's parallelism to the work level
    // (no-op when the input is already parallel — see its scaladoc).
    val nVec = embeddings.count()
    val ex = graft.core.IterCache.widenIfNarrow(
      quantExploded(embeddings, quant), nVec * dim.toLong * nlist, "vec_id")
    // kernel path input: same quantization as `ex`, vector-per-row
    val qv = if (!kernelAssign) None else Some(quantVectors(embeddings, quant))
    var cent = initCentroids(embeddings, ex, nlist)
    // Kernel-path broadcast lifecycle: a fresh centroid broadcast per
    // assignment call, reclaimed by the ContextCleaner — the superseded
    // round's Broadcast object becomes unreachable as soon as the Lloyd loop
    // reassigns `cent` past the localCheckpoint that consumed it (checkpoint
    // materialization truncates the lineage holding the mapPartitions
    // closure). An EXPLICIT bc.destroy() here was measured to flood the
    // driver log with GC'd-accumulator DAGScheduler errors in long sessions;
    // reference-dropping is the idiomatic (and quiet) cleanup path.
    // argmin cell per vector: declarative min-struct, or the mapPartitions
    // kernel (identical exact-integer (d, cid) order)
    def assign(c: DataFrame): DataFrame = qv match {
      case Some(q) => kernelProbeRanks(q, c, 1).select(col("vec_id"), col("cid"))
      case None => declarativeAssign(ex, c)
    }
    for (_ <- 1 to iters) {
      cent = assign(cent).join(ex, "vec_id")
        .groupBy("cid", "i0")
        .agg(round(avg(col("xq")), 0).cast("long").as("cq"))
        .localCheckpoint(false)
    }
    // lists (rank 1) + probes (rank ≤ nprobe) from one ranked table
    val ranked = (qv match {
      case Some(q) => kernelProbeRanks(q, cent, nprobe)
      case None =>
        val rankW = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("d").asc, col("cid").asc)
        declarativeDists(ex, cent).withColumn("rn", row_number().over(rankW))
          .where(col("rn") <= nprobe)
    }).localCheckpoint(false)
    val lists = ranked.where(col("rn") === 1).select(col("vec_id"), col("cid"))
    val probes = ranked.select(col("vec_id").as("query_id"), col("cid"))
    val cand = probes
      .join(lists.select(col("vec_id").as("neighbor_id"), col("cid")), "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    exactCosineTopK(cand, embeddings, dim, k)
  }

  /** Scale-aware IVF: nlist ≈ √n (the standard coarse-quantizer sizing —
    * cell occupancy and cell count grow together, so the verify join stays
    * ~nprobe·√n candidates per query), floored at 8. Up to nlist = 1024 the
    * assignment runs in the declarative shape (broadcast centroid join +
    * aggregate — correctness-auditable, but O(n·dim·nlist) ROWS through the
    * aggregate, so it must stay small); beyond 1024 the assignment stage
    * swaps to [[kernelProbeRanks]] — a mapPartitions integer argmin over the
    * same broadcast centroid table with bit-identical (d, cid) semantics
    * (spec-asserted), whose per-row work is a dense kernel with NO row
    * explosion, so nlist is bounded only by the centroid broadcast
    * (31k×256 ≈ 64 MB at n = 10⁹). A/B numbers in BASELINE.md §g.
    * The count is a column-pruned scan; dim comes from the one-row probe
    * and is threaded through (no re-probe). */
  def ivfTopKAuto(embeddings: DataFrame, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val (n, dim) = countAndDim(embeddings)
    val nlist = math.max(8, math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt)
    val kernel = nlist > 1024
    println(s"[ivfTopKAuto] n=$n nlist=$nlist nprobe=$nprobe kernel_assign=$kernel " +
      f"expected cell occupancy=${n.toDouble / nlist}%.1f")
    ivfTopKDim(embeddings, dim, k, nlist, nprobe, iters = 2, quant = 1e6,
      kernelAssign = kernel)
  }

  /** Near-dup pairs via RP-LSH candidate generation + exact cosine verify —
    * the scale path for TRUE near-dup thresholds (minCosine ≳ 0.9, where the
    * per-band collision probability (1-θ/π)^bandBits is high enough for
    * near-1 recall with few bands). Precision is 1.0 by construction (exact
    * verify); recall vs [[cosinePairs]] is asserted in SimilaritySpec on
    * planted duplicates. */
  def cosinePairsLsh(
      embeddings: DataFrame,
      minCosine: Double,
      numBits: Int = 56,
      bandBits: Int = 8): DataFrame = {
    require(numBits % bandBits == 0)
    val bands = numBits / bandBits
    val dim = embDim(embeddings)
    val banded = rpSignatures(embeddings, numBits).select(col("vec_id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("rp_sig"), b * bandBits).bitwiseAND((1L << bandBits) - 1)): _*))
        .as(Seq("band", "bh")))
      .localCheckpoint(false) // self-joined twice, same rationale as annTopK
    val cand = graft.core.IterCache.selfJoin(banded, Seq("band", "bh"), "vec_id", ordered = true)
      .joined
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val v = flat(embeddings, dim)
    cand
      .join(v.as("a"), col("vec_a") === col("a.vec_id"))
      .join(v.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        (dotFlat(dim) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
