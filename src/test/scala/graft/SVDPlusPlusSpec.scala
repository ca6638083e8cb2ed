package graft

import graft.algo.SVDPlusPlus

class SVDPlusPlusSpec extends SparkTestBase {
  import GraphFixture.ratings

  test("SVD++ squared error per edge within the reference's bound, and improving") {
    val conf = SVDPlusPlus.Conf(rank = 4, maxIters = 4)
    val r0 = SVDPlusPlus.run(ratings, conf.copy(maxIters = 0))
    val r = SVDPlusPlus.run(ratings, conf)
    // reference bound: err/numEdges <= 8.0 (GraphTest.scala:186)
    assert(r.squaredErrorPerEdge <= 8.0, s"err/edge = ${r.squaredErrorPerEdge}")
    assert(r.squaredErrorPerEdge <= r0.squaredErrorPerEdge,
      s"training should not worsen: ${r.squaredErrorPerEdge} vs init ${r0.squaredErrorPerEdge}")
    assert(r.mean > 0)
    assert(r.vertices.count() == 35)
  }

  test("SVD++ is deterministic") {
    val conf = SVDPlusPlus.Conf(rank = 4, maxIters = 2)
    val a = SVDPlusPlus.run(ratings, conf).squaredErrorPerEdge
    val b = SVDPlusPlus.run(ratings, conf).squaredErrorPerEdge
    assert(a == b)
  }
}
