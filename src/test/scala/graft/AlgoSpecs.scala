package graft

import scala.collection.mutable

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}

/** Driver-side double-precision oracles on the tiny fixture graph
  * (FIXTURES.md §4): power iteration (allclose 1e-6), union-find (exact),
  * synchronous LPA (exact), brute-force triangles (exact).
  */
class PageRankSpec extends SparkTestBase {

  private def oracle(tolStop: Boolean, iters: Int): Map[Long, Double] = {
    val adj = GraphFixture.adj
    val deg = adj.map { case (k, v) => k -> v.size.toDouble }
    var r = GraphFixture.vertexIds.map(_ -> 1.0).toMap
    var it = 0
    var active = true
    while (it < iters && active) {
      it += 1
      val msum = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((u, nbrs) <- adj; v <- nbrs) msum(v) += r(u) / deg(u)
      val next = r.map { case (v, rv) => v -> (0.15 * rv + 0.85 * msum(v)) }
      active = !tolStop || r.exists { case (v, rv) => math.abs(0.85 * (msum(v) - rv)) >= 1e-6 }
      r = next
    }
    r
  }

  test("tolerance-driven PageRank matches power iteration allclose 1e-6") {
    val res = PageRank.run(GraphFixture.graph.edges, tol = 1e-6, maxIter = 100)
    val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = oracle(tolStop = true, iters = 100)
    assert(got.keySet == exp.keySet)
    val maxDiff = exp.map { case (v, e) => math.abs(got(v) - e) }.max
    assert(maxDiff < 1e-6, s"max |engine-oracle| = $maxDiff")
    assert(res.iterations > 1 && res.iterations <= 100)
    assert(res.metrics.nonEmpty && res.metrics.last.activeCount == 0)
  }

  test("frontier (delta) PageRank agrees with the exact loop to tolerance order") {
    val exact = PageRank.run(GraphFixture.graph.edges, tol = 1e-6, maxIter = 100)
    val frontier = PageRank.runFrontier(GraphFixture.graph.edges, tol = 1e-6, maxIter = 100)
    val e = exact.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f = frontier.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f.keySet == e.keySet)
    val maxDiff = e.map { case (v, x) => math.abs(f(v) - x) }.max
    // frozen vertices skip sub-tol updates; agreement is tolerance-order,
    // not bit-for-bit (runFrontier scaladoc)
    assert(maxDiff <= 5e-6, s"max |frontier-exact| = $maxDiff")
    // Result.frontierSizes = per-iteration ACTIVE-frontier size (change ≥
    // tol·freezeFactor). On this small fixture the per-vertex changes are
    // tightly clustered — every vertex sits in the [freezeTol, tol) band at
    // the global stop, so the frontier legitimately never shrinks here
    // (freezing pays off on graphs whose rank spectrum spans orders of
    // magnitude; the headline-graph instrumentation in BASELINE.md §g shows
    // the 52-vs-67-iteration effect). What MUST hold everywhere:
    val sizes = frontier.frontierSizes
    assert(sizes.length == frontier.iterations, s"one frontier size per iteration: $sizes")
    // the stop criterion (conv count, in metrics.activeCount) shrinks below
    // half and ends at zero, and is a subset of the frontier (freezeTol<tol)
    val convs = frontier.metrics.map(_.activeCount)
    assert(convs.last == 0)
    assert(convs.exists(c => c > 0 && c < convs.head / 2),
      s"conv count never shrank below half: $convs")
    assert(convs.zip(sizes).forall { case (c, a) => c <= a },
      s"conv must be a subset of the frontier: ${convs.zip(sizes)}")
    // and it must also match the driver-side power iteration within 5e-6
    val exp = oracle(tolStop = true, iters = 100)
    val vsOracle = exp.map { case (v, x) => math.abs(f(v) - x) }.max
    assert(vsOracle <= 5e-6, s"max |frontier-power| = $vsOracle")
  }

  test("PageRank seeds isolated vertices when a vertex table is supplied") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    val vertices = Seq(1L, 2L, 99L).toDF("vid") // 99 has no edges
    val got = PageRank.runFixed(edges, iterations = 3, vertices = Some(vertices))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 99L))
    // isolated vertex: r_k = 0.15 * r_{k-1}, r_0 = 1
    assert(math.abs(got(99L) - math.pow(0.15, 3)) < 1e-12)
    // the 1-2 pair is symmetric: each vertex's msum = the other's rank → both stay 1
    assert(math.abs(got(1L) - 1.0) < 1e-12 && math.abs(got(2L) - 1.0) < 1e-12)
  }

  test("personalized PageRank (restart) matches the driver-side damped recurrence") {
    import spark.implicits._
    val srcIds = GraphFixture.vertexIds.filter(_ % 3 == 0)
    val got = PageRank.runRestart(GraphFixture.graph.edges, srcIds.toDF("vid"), iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adj = GraphFixture.adj
    val deg = adj.map { case (k, v) => k -> v.size.toDouble }
    val r0 = GraphFixture.vertexIds.map(v => v -> (if (srcIds.contains(v)) 1.0 else 0.0)).toMap
    var r = r0
    for (_ <- 1 to 8) {
      val msum = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((u, nbrs) <- adj; v <- nbrs) msum(v) += r(u) / deg(u)
      r = r.map { case (v, _) => v -> (0.15 * r0(v) + 0.85 * msum(v)) }
    }
    assert(got.keySet == r.keySet)
    val maxDiff = r.map { case (v, e) => math.abs(got(v) - e) }.max
    assert(maxDiff < 1e-9, s"max |engine-oracle| = $maxDiff")
    // proximity semantics: mass concentrates at/near sources
    assert(srcIds.map(got).min > GraphFixture.vertexIds.filterNot(srcIds.contains).map(got).min)
  }

  test("fixed-iteration PageRank matches 10-step power iteration") {
    val got = PageRank.runFixed(GraphFixture.graph.edges, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = oracle(tolStop = false, iters = 10)
    val maxDiff = exp.map { case (v, e) => math.abs(got(v) - e) }.max
    assert(maxDiff < 1e-9, s"max |engine-oracle| = $maxDiff")
  }
}

class ConnectedComponentsSpec extends SparkTestBase {

  private lazy val oracle: Map[Long, Long] = {
    val parent = mutable.Map(GraphFixture.vertexIds.map(v => v -> v): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- GraphFixture.edgeList) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    GraphFixture.vertexIds.map { v =>
      var r = find(v)
      v -> r
    }.toMap
  }

  // Union-find roots are not necessarily the min id; normalize both sides to
  // min-id-per-component before comparing.
  private def normalize(m: Map[Long, Long]): Map[Long, Long] = {
    val minPer = m.groupBy(_._2).map { case (c, vs) => c -> vs.keys.min }
    m.map { case (v, c) => v -> minPer(c) }
  }

  test("Small-Star/Large-Star matches union-find exactly") {
    val got = ConnectedComponents.run(GraphFixture.graph.edges, GraphFixture.graph.vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(normalize(got) == normalize(oracle))
    // star contraction labels every vertex with its component MIN id
    assert(got == normalize(got))
  }

  test("min-propagation Pregel agrees with star contraction") {
    val a = ConnectedComponents.run(GraphFixture.graph.edges, GraphFixture.graph.vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = ConnectedComponents.minPropagation(GraphFixture.graph.edges, GraphFixture.graph.vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("isolated vertices keep their own id as component") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    val vertices = Seq(1L, 2L, 3L).toDF("vid")
    val got = ConnectedComponents.run(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}

class LabelPropagationSpec extends SparkTestBase {

  private def oracle(iters: Int): Map[Long, Long] = {
    val adj = GraphFixture.adj
    var lab = GraphFixture.vertexIds.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lab = lab.map { case (v, l) =>
        val nbrs = adj.getOrElse(v, Seq.empty)
        if (nbrs.isEmpty) v -> l
        else {
          val hist = nbrs.groupBy(lab).map { case (nl, xs) => nl -> xs.size }
          // argmax count, tie -> min label
          v -> hist.toSeq.minBy { case (nl, c) => (-c, nl) }._1
        }
      }
    }
    lab
  }

  test("synchronous LPA with min-label tie-break matches oracle exactly") {
    val got = LabelPropagation.run(GraphFixture.graph.edges, GraphFixture.graph.vertices, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oracle(5))
  }
}

class TriangleCountSpec extends SparkTestBase {

  private lazy val oracle: Map[Long, Long] = {
    val adjSet = GraphFixture.adj.map { case (k, v) => k -> v.toSet }
    val counts = mutable.Map[Long, Long]().withDefaultValue(0L)
    val es = GraphFixture.edgeList
    for ((a, b) <- es; c <- adjSet.getOrElse(a, Set.empty) if c > b && adjSet(b).contains(c)) {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    GraphFixture.vertexIds.map(v => v -> counts(v)).toMap
  }

  test("degree-oriented triangle counts match brute force exactly") {
    val got = TriangleCount.perVertex(GraphFixture.graph.edges, GraphFixture.graph.vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oracle)
    assert(TriangleCount.total(GraphFixture.graph.edges) == oracle.values.sum / 3)
    assert(oracle.values.sum > 0, "fixture should contain triangles")
  }
}
