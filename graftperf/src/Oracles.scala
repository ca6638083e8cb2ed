package graftperf

import scala.collection.mutable

/** Driver-side reference computations the engine's outputs are checked
  * against. None of them calls graft: each recomputes its answer from the
  * generated transcript rows alone. */
object Oracles {

  /** The link graph of FIXTURES.md §2-3: dense 1-based vertex ids in key
    * order over `conv:<id>` and `tool:<name>`, conv–tool edges weighted by
    * turns, tool–tool edges weighted by shared conversations (`t1 < t2`). */
  final case class Graph(vertices: Array[Long], edges: Map[(Long, Long), Long]) {
    /** Symmetrized adjacency: vertex index → neighbour indices. */
    lazy val adj: Array[Array[Int]] = {
      val idx = vertices.zipWithIndex.toMap
      val b = Array.fill(vertices.length)(mutable.ArrayBuilder.make[Int])
      for ((s, d) <- edges.keys) { b(idx(s)) += idx(d); b(idx(d)) += idx(s) }
      b.map(_.result())
    }
    def symEdges: Long = 2L * edges.size
  }

  /** @param convTool one (conv_id, tool) row per tool turn */
  def linkGraph(convTool: Seq[(String, String)]): Graph = {
    val weights = convTool.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val keys = (weights.keys.map("conv:" + _._1) ++ weights.keys.map("tool:" + _._2))
      .toArray.distinct.sorted
    val vid = keys.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
    val ct = weights.map { case ((c, t), w) => (vid("conv:" + c), vid("tool:" + t)) -> w }
    val tt = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for ((_, pairs) <- weights.keys.groupBy(_._1)) {
      val tools = pairs.map(_._2).toArray.sorted
      for (i <- tools.indices; j <- i + 1 until tools.length)
        tt((vid("tool:" + tools(i)), vid("tool:" + tools(j)))) += 1L
    }
    Graph(keys.indices.map(_ + 1L).toArray, ct ++ tt)
  }

  /** Power iteration of graft's PageRank recurrence r ← p·r + (1−p)·Σ r_u/deg(u)
    * from r₀ = 1, stopping after the first superstep whose largest change is
    * below `tol`. Returns the ranks by vertex index. */
  def pageRank(g: Graph, tol: Double, maxIter: Int = 100, p: Double = 0.15): Array[Double] = {
    val n = g.vertices.length
    val deg = g.adj.map(_.length.toDouble)
    var r = Array.fill(n)(1.0)
    var it = 0
    var active = true
    while (it < maxIter && active) {
      it += 1
      val msum = new Array[Double](n)
      var u = 0
      while (u < n) {
        val c = r(u) / deg(u)
        val nb = g.adj(u)
        var k = 0
        while (k < nb.length) { msum(nb(k)) += c; k += 1 }
        u += 1
      }
      active = (0 until n).exists(v => math.abs((1 - p) * (msum(v) - r(v))) >= tol)
      r = Array.tabulate(n)(v => p * r(v) + (1 - p) * msum(v))
    }
    r
  }

  /** Word 3-gram shingle set of a document, tokenized as `[a-z0-9]+` over
    * the lower-cased text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** `rounds` synchronous min-propagation rounds over an undirected pair
    * graph: every doc takes the minimum doc id among itself and its
    * neighbours. Returns each doc's id after the rounds (docs in no pair keep
    * their own) and the number of docs one more round would still lower. */
  def canonical(docs: Seq[String], pairs: Seq[(String, String)],
      rounds: Int): (Map[String, String], Long) = {
    val nbrs = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    def step(c: Map[String, String]) =
      c.map { case (d, v) => d -> (v +: nbrs(d).map(c)).min }
    var c = nbrs.keys.map(d => d -> d).toMap
    for (_ <- 1 to rounds) c = step(c)
    val unconverged = step(c).count { case (d, v) => v < c(d) }.toLong
    (docs.map(d => d -> c.getOrElse(d, d)).toMap, unconverged)
  }
}
