package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.derive.LinkGraph

/** Neighborhood-overlap link-prediction scores over the undirected link
  * graph: common-neighbor counts, Adamic–Adar, and neighbor-Jaccard. The
  * reference exposes the raw ingredients (neighbor tables `NeighN.scala`,
  * degree PSFs `Graph.scala:349-424`) and leaves scoring to callers; here the
  * whole score is one declarative plan.
  *
  * Shape: every score is computed from the WEDGE enumeration — for each
  * center z and neighbor pair a < b emit (a, b, z) — which is a self-join of
  * the adjacency on the center key followed by a partial-agg groupBy(a, b).
  * Work is Σ_z deg(z)², so super-hub centers dominate at scale; the
  * `maxWedgeDegree` cap drops wedge CENTERS above a degree cap (the standard
  * scale lever: a z seen by millions of pairs contributes negligible
  * per-pair evidence — Adamic–Adar already discounts it by 1/ln deg(z) —
  * while costing deg² rows; same role as the shingle df-cap in
  * [[graft.dedup.Dedup.ngramJaccard]]). `minCommon` prunes the output to
  * pairs with enough shared structure, applied AFTER the aggregate so it
  * composes with map-side combine.
  */
object LinkPrediction {

  /** Canonical loop-free undirected edge set, both directions, truncated to
    * a lazy leaf: every scorer references it 2-4× (wedge self-join ×2,
    * degree aggregate, and in the capped form the center filter) — without
    * the leaf each reference re-runs the ENTIRE upstream graph derivation
    * (dictionary build + edge joins + symmetrize + distinct), measured as
    * the dominant cost of q_adamic_adar / q_jaccard_neighbors (round 6). */
  private def sym(edges: DataFrame): DataFrame =
    LinkGraph.symmetrize(
      edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
      .localCheckpoint(false)

  /** Degree over a [[sym]] leaf (distinct-neighbor count). */
  private def degreesOf(s: DataFrame): DataFrame =
    s.groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))

  /** (a, b, z): neighbor pair a < b with common neighbor (wedge center) z,
    * over a shared [[sym]] leaf. */
  private def wedgesOf(s: DataFrame, maxWedgeDegree: Option[Long]): DataFrame = {
    val centers = maxWedgeDegree match {
      case None => s
      case Some(cap) =>
        // left_semi against the sub-cap center set; the aggregate is tiny
        // (one row per vertex) and partial-aggregates before its shuffle
        val ok = s.groupBy("src").agg(count(lit(1)).as("cdeg"))
          .where(col("cdeg") <= cap).select("src")
        s.join(ok, Seq("src"), "left_semi")
    }
    graft.core.IterCache.selfJoin(centers, Seq("src"), "dst", ordered = true).joined
      .select(col("a.dst").as("a"), col("b.dst").as("b"), col("a.src").as("z"))
  }

  private def commonFrom(wedges: DataFrame, minCommon: Long): DataFrame =
    wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)

  /** (a, b, common): number of shared neighbors per candidate pair. */
  def commonNeighbors(
      edges: DataFrame,
      minCommon: Long = 1L,
      maxWedgeDegree: Option[Long] = None): DataFrame =
    commonFrom(wedgesOf(sym(edges), maxWedgeDegree), minCommon)

  /** (a, b, common, aa): Adamic–Adar score Σ_z 1/ln(deg z) over shared
    * neighbors z (deg z ≥ 2 for any wedge center, so ln is never 0). */
  def adamicAdar(
      edges: DataFrame,
      minCommon: Long = 1L,
      maxWedgeDegree: Option[Long] = None): DataFrame = {
    val s = sym(edges)
    val deg = degreesOf(s).select(col("vid").as("z"), col("degree").as("zdeg"))
    wedgesOf(s, maxWedgeDegree)
      .join(deg.hint("shuffle_hash"), "z")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("zdeg").cast("double"))).as("aa"))
      .where(col("common") >= minCommon)
  }

  /** (a, b, common, jaccard): |N(a)∩N(b)| / |N(a)∪N(b)|, the union size via
    * deg(a) + deg(b) − common (exact integers, one division — bit-portable
    * across engines). */
  def jaccardNeighbors(
      edges: DataFrame,
      minCommon: Long = 1L,
      maxWedgeDegree: Option[Long] = None): DataFrame = {
    val s = sym(edges)
    val deg = degreesOf(s)
    commonFrom(wedgesOf(s, maxWedgeDegree), minCommon)
      .join(deg.select(col("vid").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("vid").as("b"), col("degree").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double")).as("jaccard"))
  }
}
