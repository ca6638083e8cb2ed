package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

import graft.algo.LinkPrediction
import graft.core.IterCache
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{CorpusOps, TextStats}

/** Specs for the training-data pipeline operators (dedup / similarity / text):
  * exactness vs brute-force where the op is exact, recall vs the exact
  * baseline where the op is approximate (LSH paths).
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = {
    // deterministic corpus: long docs with unique-ish vocab per doc, planted
    // near-dups (one word changed out of 300) and exact dups
    val base = (0 until 40).map { i =>
      val words = (0 until 300).map(j => s"w${(i * 997 + j * 13) % 2000}").mkString(" ")
      (i.toLong, words)
    }
    val nearDup = base.take(5).map { case (i, t) =>
      (100L + i, t.split(" ").updated(150, "CHANGED").mkString(" ")) // ~99% shingle overlap
    }
    val exactDup = base.take(3).map { case (i, t) => (200L + i, t) }
    spark.createDataFrame(base ++ nearDup ++ exactDup).toDF("doc_id", "text")
  }

  test("exact dedup groups byte-identical texts under min doc_id") {
    val got = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(200L) == (0L, 2L) && got(0L) == (0L, 2L))
    assert(got(5L) == (5L, 1L))
    assert(got.size == docs.count())
  }

  test("minhash LSH: verified subset of exact, full recall on high-sim pairs") {
    val exactAll = Dedup.ngramJaccard(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.minhashLsh(docs, 3, 64, 16, 0.5).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactAll.nonEmpty, "fixture must contain near-dups")
    // the verify stage guarantees precision: LSH output ⊆ exact-jaccard output
    assert(lsh.subsetOf(exactAll.keySet))
    // 16 bands × 4 rows: P(miss | s >= 0.9) < 1e-7 — demand full recall there
    val highSim = exactAll.filter(_._2 >= 0.9).keySet
    assert(highSim.nonEmpty)
    assert((highSim -- lsh).isEmpty, s"LSH missed high-sim pairs: ${highSim -- lsh}")
  }

  test("simhash: exact dups at hamming 0; near-dups closer than unrelated docs") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 200L)).contains(0), s"exact dup pair missing: $pairs")
    assert(pairs.values.forall(_ <= 3))
    // driver-side signature distances: planted near-dup ≪ unrelated
    val sig = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(sig(0L), sig(100L))
    val unrelated = (1 to 20).map(i => ham(sig(0L), sig(i.toLong))).min
    assert(near < unrelated, s"near-dup hamming $near !< unrelated $unrelated")
  }

  test("dedup clusters: transitive chain collapses to one canonical; singletons keep theirs") {
    // chain 300~301~302 where 300~302 is BELOW threshold (jaccard ≈ 0.497):
    // only min-propagation transitivity can put all three in one cluster
    val toks = (0 until 600).map(j => s"t$j")
    val chain = Seq((300L, toks.slice(0, 300)), (301L, toks.slice(50, 350)),
        (302L, toks.slice(100, 400)),
        (400L, (0 until 300).map(j => s"u$j"))) // unique vocab: a true singleton
      .map { case (id, ws) => (id, ws.mkString(" ")) }
    val all = docs.unionByName(spark.createDataFrame(chain).toDF("doc_id", "text"))
    val pairs = Dedup.minhashLsh(all, minJaccard = 0.5).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((300L, 301L)) && pairs.contains((301L, 302L)))
    assert(!pairs.contains((300L, 302L)), "fixture must require transitivity")
    val got = Dedup.clusters(all, minJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(300L) == 300L && got(301L) == 300L && got(302L) == 300L)
    // the exact+near dup family of doc 0 collapses to 0
    assert(got(0L) == 0L && got(100L) == 0L && got(200L) == 0L)
    // a doc with no dups is its own canonical; every doc appears. (The base
    // fixture's shared-vocab docs chain into one large component — e.g.
    // (0,9) jaccard 0.58 — so the singleton check uses the unique-vocab doc.)
    assert(got(400L) == 400L)
    assert(got.size == all.count())
  }

  test("clusters diameter guard: a diameter-9 chain trips it; escalation reaches fixpoint") {
    // planted pair graph: a 10-doc path 0-1-2-...-9 with ids ascending along
    // it, so the minimum (0) needs 9 rounds to reach doc 9 — the worst case
    // the default rounds=8 budget does NOT cover
    val pathPairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ids = (0L until 10L).toDF("doc_id")
    val (split, unconv) = Dedup.propagateCanonical(pathPairs, ids, rounds = 8)
    assert(unconv > 0, "diameter-9 chain must trip the guard at rounds=8")
    // the silent failure mode the guard exposes: doc 9's canonical is SPLIT
    val splitMap = split.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(splitMap(9L) != 0L && splitMap(8L) == 0L)
    // one more round of budget covers it — guard goes quiet
    val (_, conv9) = Dedup.propagateCanonical(pathPairs, ids, rounds = 9)
    assert(conv9 == 0L)
    // escalation reports the trip AND still produces the transitive closure
    val (fixed, unconvEsc) = Dedup.propagateCanonical(pathPairs, ids, rounds = 8,
      escalate = true)
    assert(unconvEsc > 0)
    val fixedMap = fixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10L).forall(fixedMap(_) == 0L), s"escalation must converge: $fixedMap")
  }

  test("ngramJaccard df-cap: exact output for large tau, bounded candidates on hot shingles") {
    // a generous cap must not change the result (scores are verified exactly
    // either way; only candidate generation is pruned)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs(Dedup.ngramJaccard(docs, 3, 0.5, maxShingleDf = Some(1000000L))) ==
      pairs(Dedup.ngramJaccard(docs, 3, 0.5)))
    // planted ubiquitous shingle: every doc shares one boilerplate trigram +
    // unique content. Uncapped candidate generation goes quadratic on it
    // (n(n-1)/2 = 435 pairs); a df-cap of 5 removes it, so NO candidates
    // survive and the join stays linear
    val boiler = (0 until 30).map { i =>
      (i.toLong, "shared boiler plate " + (0 until 50).map(j => s"u${i}x$j").mkString(" "))
    }
    val hot = spark.createDataFrame(boiler).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(hot, 3, 0.001).count()
    val capped = Dedup.ngramJaccard(hot, 3, 0.001, maxShingleDf = Some(5L)).count()
    assert(uncapped == 435L, s"fixture should pair every doc, got $uncapped")
    assert(capped == 0L, s"df-cap must prune hot-shingle-only candidates, got $capped")
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val embeddings = {
    // deterministic clustered vectors: 8 centers, 10 members each, dim 16
    val rows = for {
      c <- 0 until 8
      m <- 0 until 10
    } yield {
      val rnd = new scala.util.Random(c * 1000 + m)
      val center = Array.tabulate(16)(i => math.sin(c * 17 + i).toFloat)
      val v = center.map(x => x + 0.1f * rnd.nextFloat())
      ((c * 10 + m).toLong, v)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding").cache()
  }

  test("brute-force top-k matches a driver-side exact computation") {
    val got = Similarity.bruteTopK(embeddings, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vecs = embeddings.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for ((q, qv) <- vecs.toSeq.sortBy(_._1).take(10)) {
      val exp = vecs.toSeq.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
      val gotK = (1 to 3).map(r => got((q, r)))
      assert(gotK == exp, s"query $q: got $gotK expected $exp")
    }
  }

  test("RP-LSH ANN has high recall@10 vs brute force on clustered data") {
    val brute = Similarity.bruteTopK(embeddings, k = 10).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(embeddings, k = 10, numBits = 16, bandBits = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"ANN recall@10 = $recall")
  }

  test("annTopKAuto picks scale-safe bands and keeps recall") {
    val brute = Similarity.bruteTopK(embeddings, k = 10).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopKAuto(embeddings, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"auto ANN recall@10 = $recall")
  }

  test("IVF ANN: integer k-means recovers the planted cells, recall vs brute >= 0.8") {
    val brute = Similarity.bruteTopK(embeddings, k = 10).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = Similarity.ivfTopK(embeddings, k = 10, nlist = 8, nprobe = 2)
      .select("query_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivf = first.map { case (q, _, nb) => (q, nb) }
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@10 = $recall")
    // determinism across partitionings (the oracle replays this exactly)
    val again = Similarity.ivfTopK(embeddings.repartition(7), k = 10, nlist = 8, nprobe = 2)
      .select("query_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == first, "IVF output must be partition-invariant")
    // scale-aware sizing keeps recall on the clustered fixture too
    val auto = Similarity.ivfTopKAuto(embeddings, k = 10).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val autoRecall = (brute intersect auto).size.toDouble / brute.size
    assert(autoRecall >= 0.7, s"IVF auto recall@10 = $autoRecall")
  }

  test("IVF kernel assignment (mapPartitions argmin) == declarative assignment") {
    // the beyond-1024-nlist path must be bit-identical to the auditable
    // declarative form: same exact-integer distances, same (d, cid) order,
    // through the whole pipeline (Lloyd loop + probe ranking + verify)
    for (nprobe <- Seq(1, 2, 3)) {
      val decl = Similarity.ivfTopK(embeddings, k = 10, nlist = 8, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val kern = Similarity.ivfTopK(embeddings.repartition(5), k = 10, nlist = 8,
          nprobe = nprobe, kernelAssign = true)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(kern == decl, s"kernel != declarative at nprobe=$nprobe")
    }
  }

  test("cosinePairs finds the planted clusters") {
    val pairs = Similarity.cosinePairs(embeddings, 0.99).collect()
    assert(pairs.nonEmpty)
    // same-cluster ids are within 10 of each other
    assert(pairs.forall(r => r.getLong(0) / 10 == r.getLong(1) / 10))
  }

  test("cosinePairs grid join is block-count invariant (exact, no dup/missing cells)") {
    val base = Similarity.cosinePairs(embeddings, 0.98, blocks = 1)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (b <- Seq(3, 16, 32)) {
      val got = Similarity.cosinePairs(embeddings, 0.98, blocks = b)
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == base, s"blocks=$b diverged: extra=${got -- base} missing=${base -- got}")
    }
  }

  test("cosinePairsLsh: precision 1.0 (subset of exact), high recall on near-dups") {
    val exact = Similarity.cosinePairs(embeddings, 0.98)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(embeddings, 0.98)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain near-dup pairs at 0.98")
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"cosinePairsLsh recall $recall < 0.9 (missed ${exact -- lsh})")
  }
}

class TextStatsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat and the dog is of no concern to the walrus"),
    (2L, "el perro y el gato de la casa que ladra y la luna"),
    (3L, "le chat et le chien des villes et les maisons une fois"),
    (4L, "der hund und die katze ist nicht der feind und die freunde"),
    (5L, "这是一个中文文档 机器学习 图计算"),
    (6L, "zzz qqq xxx"),
    (7L, "Punct, punct; more: punct! Yes? No. Sure,")).toDF("doc_id", "text")

  test("langId detects marker languages, CJK, and falls back to und") {
    val got = TextStats.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "fr" && got(4L) == "de")
    assert(got(5L) == "zh")
    assert(got(6L) == "und")
  }

  test("quality scores: ratios are consistent") {
    val r = TextStats.qualityScores(docs).where($"doc_id" === 7L).head()
    assert(r.getAs[Double]("punct_ratio") > 0.1)
    assert(r.getAs[Long]("n_tokens") == 7L)
  }

  test("fingerprints are deterministic and distinct for distinct texts") {
    val a = TextStats.fingerprints(docs).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val b = TextStats.fingerprints(docs).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._3).distinct.length == a.length)
  }

  test("repetition: 1 - distinct/total, 0 for empty") {
    val reps = Seq(
      (10L, "spam spam spam spam"),          // 4 tokens, 1 distinct → 0.75
      (11L, "all words fully distinct here"), // 5/5 → 0.0
      (12L, "!!! ???")).toDF("doc_id", "text") // no tokens → 0.0
    val got = TextStats.repetition(reps).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(10L) == ((4, 1, 0.75)))
    assert(got(11L) == ((5, 5, 0.0)))
    assert(got(12L) == ((0, 0, 0.0)))
  }

  test("stratifiedSample: deterministic, threshold-faithful, keeps all of the 1.0 stratum") {
    val a = CorpusOps.stratifiedSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = CorpusOps.stratifiedSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b, "sample must be replay-stable")
    val thresholds = CorpusOps.strataThresholds.toMap
    assert(a.forall { case (_, stratum, draw) =>
      draw >= 0L && draw < graft.functions.PortableHash.P && draw < thresholds(stratum) })
    // stratum rate 1.0 (en) can never drop a doc
    val langs = TextStats.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val enDocs = langs.collect { case (id, "en") => id }.toSet
    assert(enDocs.subsetOf(a.map(_._1).toSet))
    // strata labels agree with langId
    assert(a.forall { case (id, stratum, _) => langs(id) == stratum })
  }

  test("contamination: planted 8-gram overlap is counted, clean docs read 0") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // eval (0 % 97 = 0)
      (1L, "alpha beta gamma delta epsilon zeta eta theta different tail here"),
      (2L, "completely other words that never overlap with the benchmark text at all"),
      (3L, "too short to shingle")).toDF("doc_id", "text")
    val got = CorpusOps.contamination(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 11 tokens → 4 shingles; exactly the first matches the eval doc
    assert(got(1L) == ((4L, 1L, 0.25)))
    // doc 2: 12 tokens → 5 shingles, zero overlap
    assert(got(2L) == ((5L, 0L, 0.0)))
    // eval docs and sub-8-token docs are absent
    assert(!got.contains(0L) && !got.contains(3L))
  }
}

/** The one sized self-join ([[graft.core.IterCache.selfJoin]]) and the seven
  * shingle, bucket and wedge joins built on it. */
class SelfJoinSpec extends SparkTestBase {
  import spark.implicits._

  /** Partition counts of the join's input repartitions (one per side). */
  private def inputParts(joined: DataFrame): Seq[Int] =
    joined.queryExecution.analyzed.collect { case r: RepartitionByExpression => r.numPartitions }

  for (hub <- Seq(200, 300); ordered <- Seq(true, false))
    test(s"selfJoin histogram and width: hub key c = $hub, ordered = $ordered") {
      // one hub key plus 300 singleton keys
      val df = ((0 until hub).map(i => (0L, i.toLong)) ++ (1 to 300).map(k => (k.toLong, 0L)))
        .toDF("k", "id")
      val sj = IterCache.selfJoin(df, Seq("k"), "id", ordered)
      val joinedRows = sj.joined.count()
      assert(sj.pairs2 == hub.toLong * (hub - 1))
      assert(sj.pairs2 == (if (ordered) 2L * joinedRows else joinedRows))
      assert(sj.rows == df.count())
      val parts = inputParts(sj.joined)
      assert(parts.nonEmpty && parts.forall(_ == IterCache.adaptiveParts(spark, joinedRows)), parts)
    }

  test("selfJoin of an empty input: no rows, one partition") {
    val sj = IterCache.selfJoin(Seq.empty[(Long, Long)].toDF("k", "id"), Seq("k"), "id", ordered = true)
    assert(sj.joined.count() == 0L && sj.pairs2 == 0L && sj.rows == 0L)
    assert(inputParts(sj.joined).forall(_ == 1))
  }

  private val text = (0 until 40).map(j => s"tok$j").mkString(" ")
  private def docs(n: Int) = (0 until n).map(i => (i.toLong, text)).toDF("doc_id", "text")
  private val vec = Array.tabulate(16)(i => math.sin(i + 1.0).toFloat)
  private def vectors(n: Int) = (0 until n).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
  /** A star of n leaves: every leaf pair shares the center. */
  private def star(n: Int) = (1 to n).map(i => (0L, i.toLong)).toDF("src", "dst")

  // (caller, input of n identical docs / vectors / star leaves, operator,
  // rows over fifty): every pair of the fifty matches, so the count is the
  // brute-force 50·49/2 pairs, or 50 queries × k = 10 for the top-k
  private val callers: Seq[(String, Int => DataFrame, DataFrame => DataFrame, Long)] = Seq(
    ("Dedup.ngramJaccard", docs, Dedup.ngramJaccard(_, 3, 0.5), 1225L),
    ("Dedup.ngramJaccard(maxShingleDf)", docs,
      Dedup.ngramJaccard(_, 3, 0.5, maxShingleDf = Some(1000L)), 1225L),
    ("Dedup.minhashLsh", docs, Dedup.minhashLsh(_, 3, 64, 16, 0.5), 1225L),
    ("Dedup.simhashPairs", docs, Dedup.simhashPairs(_, 3), 1225L),
    ("Similarity.annTopK", vectors, Similarity.annTopK(_, 10), 500L),
    ("Similarity.cosinePairsLsh", vectors, Similarity.cosinePairsLsh(_, 0.9), 1225L),
    ("LinkPrediction.commonNeighbors", star, LinkPrediction.commonNeighbors(_), 1225L))

  for ((name, input, op, fifty) <- callers)
    test(s"$name over the sized self-join: empty input and fifty identical rows") {
      assert(op(input(0)).count() == 0L)
      assert(op(input(50)).count() == fifty)
    }
}
