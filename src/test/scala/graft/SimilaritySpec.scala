package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Ingest, Similarity}
import graft.queries.Tables

/** Similarity-search operator tests: exact cosine vs manual computation,
  * ANN recall vs brute force, determinism. */
class SimilaritySpec extends SparkSpecBase {

  import testImplicits._

  test("graft_cosine matches a manual double-precision computation") {
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val got = Seq((a, b)).toDF("x", "y")
      .select(VectorOps.cosine(col("x"), col("y")).as("c"))
      .collect().head.getDouble(0)
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expect = dot / (math.sqrt(a.map(x => x * x.toDouble).sum) *
      math.sqrt(b.map(x => x * x.toDouble).sum))
    assert(math.abs(got - expect) < 1e-12)
  }

  test("graft_cosine: orthogonal → 0, parallel → 1, zero vector → 0") {
    val rows = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(2f, 2f), Array(1f, 1f)),
      (Array(0f, 0f), Array(1f, 1f))
    ).toDF("x", "y").select(VectorOps.cosine(col("x"), col("y")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(math.abs(rows(0)) < 1e-12)
    assert(math.abs(rows(1) - 1.0) < 1e-12)
    assert(rows(2) == 0.0)
  }

  test("MMR diversifies: a redundant near-duplicate loses its pure-relevance slot") {
    // probe id 0; ids 1 and 2 are IDENTICAL (sim = 1, rel ≈ 0.99); id 3
    // is equally relevant but on the other side of the probe
    // (sim(1,3) ≈ 0.96). Pure top-2 by relevance = {1, 2}; MMR's
    // redundancy penalty must evict the duplicate and pick {1, 3}.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.99f, 0.141f)),
      (2L, Seq(0.99f, 0.141f)),
      (3L, Seq(0.99f, -0.141f)))
      .toDF("vec_id", "embedding")
    val picks = graft.operators.Similarity.mmrRerank(emb, n = 3, k = 2)
      .collect().map(r => r.getInt(2) -> r.getLong(0)).toMap
    assert(picks == Map(1 -> 1L, 2 -> 3L),
      s"expected diversified picks {1→1, 2→3}, got $picks")
    val pure = graft.operators.Similarity.cosineTopK(emb, 2)
      .collect().map(_.getLong(0)).toSet
    assert(pure == Set(1L, 2L),
      "fixture must make pure relevance pick the duplicate pair, else the test proves nothing")
  }

  test("SRP sketch is deterministic and identical for identical vectors") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val s1 = Similarity.sketched(emb).orderBy("vec_id").collect().map(_.getLong(2))
    val s2 = Similarity.sketched(emb).orderBy("vec_id").collect().map(_.getLong(2))
    assert(s1.toSeq == s2.toSeq)
  }

  test("ANN top-k recall ≥ 0.8 vs brute force on testdata") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val bf = Similarity.cosineTopK(emb, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(emb, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(bf.size == 10 && ann.size == 10)
    val recall = (bf & ann).size / 10.0
    assert(recall >= 0.8, s"ANN recall $recall")
  }

  test("annTopK with a corpus-count artifact plans without running a job (ADVICE r7)") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val n = emb.count()
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val planned = Similarity.annTopK(emb, 10, expand = 100, corpusRows = n)
    val after = tracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"plan construction ran ${after - before} job(s) despite the count artifact")
    // and the artifact-fed plan returns the same neighbor set as the
    // fallback-count path
    val viaArtifact = planned.select("vec_id").collect().map(_.getLong(0)).toSet
    val viaCount = Similarity.annTopK(emb, 10, expand = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaArtifact == viaCount)
  }

  test("IVF top-k: perfect recall on clustered data, ≥ k rows on any data") {
    import testImplicits._
    // planted clusters: 8 bases × 25 members with small noise — the
    // regime IVF is built for (cell ≈ cluster).
    val rng = new scala.util.Random(7)
    val bases = Array.tabulate(8)(b => Array.tabulate(16)(d => math.sin(b * 3.1 + d).toFloat))
    val vecs = for (b <- bases.indices; m <- 0 until 25) yield {
      val v = bases(b).map(x => x + (rng.nextFloat() - 0.5f) * 0.1f)
      ((b * 25 + m).toLong, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val bf = Similarity.cosineTopK(emb, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, 10, nCells = 8, nProbe = 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    val recall = (bf & ivf).size / 10.0
    // recall<1 is the designed IVF trade: neighbors assigned to an
    // unprobed cell are missed (nProbe/nCells controls it)
    assert(recall >= 0.8, s"IVF recall $recall on clustered data")
    // and on the (unclustered) testdata it still returns k rows
    val td = Similarity.ivfTopK(Tables.embeddings(spark, TestSpark.Sf0001), 10)
    assert(td.count() == 10)
  }

  test("kmeansCentroids converges onto planted cluster directions") {
    // two tight clusters around orthogonal axes; seeds (lowest ids 0,1)
    // both start INSIDE cluster A, so only Lloyd iteration can move one
    // centroid over to cluster B
    val a = (0L until 20L).map(i => (i, Array(1.0f, 0.001f * i, 0f)))
    val b = (20L until 40L).map(i => (i, Array(0.001f * (i - 20), 1.0f, 0f)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val seeds = Similarity.ivfCentroids(emb, 2).collect()
    assert(seeds.forall(_.getAs[scala.collection.Seq[Float]]("cvec").head > 0.9f),
      "both seeds must start in cluster A for the test to bite")
    val trained = Similarity.kmeansCentroids(emb, nCells = 2, iters = 3)
      .orderBy("cid").collect()
      .map(r => r.getAs[scala.collection.Seq[Float]]("cvec"))
    // after training, one centroid points x-ward, the other y-ward
    val xish = trained.count(c => c.head > 0.5f && c(1) < 0.5f)
    val yish = trained.count(c => c(1) > 0.5f && c.head < 0.5f)
    assert(xish == 1 && yish == 1,
      s"expected one x-cluster and one y-cluster centroid, got ${trained.map(_.toList).toList}")
  }

  test("kmeansCentroids: empty cells inherit their previous centroid") {
    // all vectors identical ⇒ every vector assigns to one cell; the other
    // centroid must survive (not vanish / NaN)
    val emb = (0L until 8L).map(i => (i, Array(1.0f, 0f))).toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(emb, nCells = 2, iters = 2)
      .orderBy("cid").collect()
    assert(trained.length == 2, "empty cell must not disappear")
    assert(trained.forall(r => r.getAs[scala.collection.Seq[Float]]("cvec").forall(f => !f.isNaN)))
  }

  test("near-dup pairs are canonical (v1 < v2) and deduped") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val pairs = Similarity.nearDupPairs(emb).select("v1", "v2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.length == pairs.toSet.size)
  }

  test("SRP hamming correlates with cosine (planted near-duplicate)") {
    val base = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => math.cos(i * 2.3).toFloat)
    val sk = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val out = Similarity.sketched(sk).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(2L)) <= 2)
    assert(ham(out(1L), out(3L)) > 10)
  }

  test("knnJoin: per-query results equal the single-probe brute force") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val qs = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val knn = Similarity.knnJoin(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val qids = qs.collect().map(_.getLong(0))
    assert(knn.map(_._1).toSet == qids.toSet)
    qids.foreach { qid =>
      // brute force for this one query: exclude the probe, top-5 by
      // rounded score with vec_id tiebreak (the operator's exact order)
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("q_emb"))
      val bf = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")), 6).as("s"))
        .orderBy(desc("s"), asc("vec_id")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      val got = knn.filter(_._1 == qid).sortBy(_._2).map(_._3).toSeq
      assert(got == bf, s"query $qid: knn $got vs brute force $bf")
    }
  }

  test("hardNegatives: cross-label only, per-anchor brute-force agreement") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val hn = Similarity.hardNegatives(emb, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(hn.nonEmpty)
    // no same-label pair ever surfaces, ranks are contiguous 1..5
    assert(hn.forall { case (_, ql, _, _, nl) => ql != nl },
      "a same-label vector leaked into the negatives")
    hn.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 5), s"anchor $q ranks broken")
    }
    // brute-force agreement for one anchor (the smallest % 7 id)
    val qid = hn.map(_._1).min
    val q = emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_emb"), col("label").as("q_label"))
    val bf = emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")), 6).as("s"))
      .orderBy(desc("s"), asc("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(hn.filter(_._1 == qid).sortBy(_._3).map(_._4).toSeq == bf)
  }

  test("rrfFuse: consensus beats single-list rank-1; ranks only, no scores") {
    import org.apache.spark.sql.functions._
    // id 1: rank 2 on BOTH lists (2/62) beats id 2: rank 3 on one list
    // (1/63); id 3 (ranks 1+3, 1/61+1/63) tops everything by a hair.
    val a = Seq((3L, 1), (1L, 2), (2L, 3)).toDF("id", "rank")
    val b = Seq((1L, 2), (3L, 3), (9L, 1)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._3 == 2 && byId(3L)._3 == 2 && byId(2L)._3 == 1)
    assert(byId(3L)._2 > byId(1L)._2, "1/61+1/63 > 2/62... rank sums decide")
    assert(byId(1L)._2 > byId(2L)._2, "two mid ranks beat one good rank")
    assert(out.head._1 == 3L, "output ordered by fused score")
    assert(!byId.contains(5L))
    // exact values: the arithmetic is pinned, not just the order
    assert(byId(2L)._2 == math.rint(1.0 / 63 * 1e6) / 1e6)
  }

  test("ndcgAtK: 1.0 on the ideal order, known value reversed, 0.0 disjoint") {
    import org.apache.spark.sql.functions._
    val ideal = (1L to 3L).map(i => (i, i.toInt)).toDF("id", "rank")
    def ndcg(ranked: org.apache.spark.sql.DataFrame) =
      Similarity.ndcgAtK(ranked, ideal, 3).head().getDouble(0)
    assert(ndcg(ideal) == 1.0)
    val reversed = Seq((3L, 1), (2L, 2), (1L, 3)).toDF("id", "rank")
    // rel = 4-ideal_rank → (3,2,1); DCG_rev = 1/1 + 2/log2(3) + 3/2;
    // IDCG = 3/1 + 2/log2(3) + 1/2
    val expect = (1.0 / 1 + 2.0 / (math.log(3) / math.log(2)) + 3.0 / 2) /
      (3.0 / 1 + 2.0 / (math.log(3) / math.log(2)) + 1.0 / 2)
    assert(math.abs(ndcg(reversed) - math.rint(expect * 1e6) / 1e6) < 1e-9)
    val disjoint = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    assert(ndcg(disjoint) == 0.0)
  }

  test("mrrBatch: reciprocal of the first relevant rank, zero on a miss") {
    import testImplicits._
    val ranked = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2)).toDF("q_id", "id", "rank")
    val ideal = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 99L, 1))
      .toDF("q_id", "id", "rank")
    val got = Similarity.mrrBatch(ranked, ideal).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.5, 2L -> 0.0), got.toString)
  }

  test("batched RRF + nDCG ≡ the single-query operators, per q_id") {
    import org.apache.spark.sql.functions._
    // two queries with deliberately different shapes: q1 = the rrfFuse
    // spec's consensus case, q2 = a partially-disjoint pair
    val a1 = Seq((3L, 1), (1L, 2), (2L, 3)); val b1 = Seq((1L, 2), (3L, 3), (9L, 1))
    val a2 = Seq((7L, 1), (8L, 2)); val b2 = Seq((8L, 1), (5L, 2))
    def keyed(q: Long, l: Seq[(Long, Int)]) = l.map { case (i, r) => (q, i, r) }
    val aB = (keyed(1L, a1) ++ keyed(2L, a2)).toDF("q_id", "id", "rank")
    val bB = (keyed(1L, b1) ++ keyed(2L, b2)).toDF("q_id", "id", "rank")
    val fusedB = Similarity.rrfFuseBatch(Seq(aB, bB), 10)
    for ((qa, qb, q) <- Seq((a1, b1, 1L), (a2, b2, 2L))) {
      val single = Similarity.rrfFuse(
          Seq(qa.toDF("id", "rank"), qb.toDF("id", "rank")), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val batch = fusedB.filter(col("q_id") === q)
        .select("id", "rrf", "n_lists")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(batch == single, s"q$q fused lists diverge")
      val idealB = aB.filter(col("q_id") === q)
      val rankedB = fusedB.filter(col("q_id") === q).select("q_id", "id", "rank")
      val nd = Similarity.ndcgAtKBatch(rankedB,
        idealB, 10).head()
      val ndSingle = Similarity.ndcgAtK(
        rankedB.select("id", "rank"), qa.toDF("id", "rank"), 10).head().getDouble(0)
      assert(nd.getLong(0) == q && nd.getDouble(1) == ndSingle,
        s"q$q nDCG batch ${nd.getDouble(1)} != single $ndSingle")
    }
  }

  test("knnClassify recovers cluster labels on separable data") {
    import org.apache.spark.sql.functions._
    // 5 well-separated cluster directions in 16-d; label = cluster.
    // Every vec_id%5==0 hold-out must be re-labeled correctly by its
    // neighbors, and the vote must be unanimous (n_votes = k).
    val bases = Array.tabulate(5)(c => Array.tabulate(16)(d =>
      (math.sin(c * 2.9 + d * 1.3) + (if (d % 5 == c) 4.0 else 0.0)).toFloat))
    // clusters in id-blocks of 12, so the vec_id%5==0 hold-out fifth
    // spans every cluster (ids 0,5,10 → c0 … 50,55 → c4) and each
    // cluster keeps ≥9 labeled members for the k=5 vote
    val vecs = (0L until 60L).map { i =>
      val c = (i / 12L).toInt
      val v = bases(c).zipWithIndex.map { case (x, d) =>
        x + 0.01f * math.sin(i * 7.7 + d).toFloat }
      (i, v, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
    assert(out.length == 12) // 60/5 held out
    assert(out.forall(_._5), s"misclassified: ${out.filterNot(_._5).mkString(", ")}")
    assert(out.forall(_._4 == 5L), "votes must be unanimous on separable clusters")
  }

  test("PQ encode: argmin codes, lowest-index tie-break, packed layout") {
    // m=2 sub-spaces of 1 dim, k=2 centroids each; codebook layout
    // (mi*k + ki)*sub + d. Sub 0: {0.0, 10.0}; sub 1: {5.0, 5.0} (a
    // deliberate tie: must pick index 0).
    val cb = Array(0.0f, 10.0f, 5.0f, 5.0f)
    val code = Seq(Tuple1(Array(9.0f, 7.0f))).toDF("e")
      .select(graft.functions.PqOps.encode(col("e"), cb, 2, 2).as("c"))
      .collect().head.getLong(0)
    // sub 0: 9.0 is nearer 10.0 -> code 1; sub 1: tie -> code 0
    assert(code == ((0L << 8) | 1L))
  }

  test("PQ ADC: table-lookup score matches the manual computation") {
    val dot = Array(0.25, 0.75, -0.5, 1.5)
    val nrm = Array(1.0, 4.0, 9.0, 16.0)
    val code = (1L << 8) | 1L // sub 0 -> ki 1, sub 1 -> ki 1
    val got = graft.functions.PqKernels.adc(code, dot, nrm, 2, 2)
    assert(math.abs(got - (0.75 + 1.5) / math.sqrt(4.0 + 16.0)) < 1e-12)
  }

  test("PQ codes are identical for identical vectors and partitioning-independent") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val (cb, _, _) = Similarity.pqTrain(emb, 8, 16, iters = 1)
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.PqOps.encode(col("embedding"), cb, 8, 16).as("code"))
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = codes(emb.repartition(1))
    val b = codes(emb.repartition(7))
    assert(a == b && a.nonEmpty)
    // a bit-identical copy of a vector must encode to the same code
    val one = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding"))
    val copied = one.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val cc = codes(one.unionByName(copied))
    assert(cc.map(_._2).distinct.size == 1)
  }

  test("pqTopK achieves recall 1.0 vs brute force at sf0.001") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val pq = Similarity.pqTopK(emb, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.cosineTopK(emb, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(pq == exact)
  }

  test("PQ kernels fail loudly on layout mismatches") {
    // dim not divisible by m
    val e1 = intercept[Exception] {
      graft.functions.PqKernels.encode(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(1.0f, 2.0f, 3.0f)), new Array[Float](8), 2, 2)
    }
    assert(e1.getMessage.contains("incompatible"))
    // ADC table length disagreeing with m*k
    val e2 = intercept[Exception] {
      graft.functions.PqKernels.adc(0L, new Array[Double](3),
        new Array[Double](3), 2, 2)
    }
    assert(e2.getMessage.contains("table length"))
  }

  test("stored PQ indexes with different layouts coexist (paths carry m,k)") {
    val (cb8, dim8, _) = graft.operators.Ingest.ensurePqIndex(spark, TestSpark.Sf0001)
    val (cb4, dim4, _) = graft.operators.Ingest.ensurePqIndex(spark,
      TestSpark.Sf0001, m = 4, kCent = 16)
    // each layout trains and stores independently; lengths prove neither
    // read the other's artifact (8*256*8 vs 4*16*16 floats at dim 64)
    assert(dim8 == 64 && dim4 == 64)
    assert(cb8.length == 8 * 256 * 8)
    assert(cb4.length == 4 * 16 * 16)
  }

  test("kernel cell assignment == declarative crossJoin+groupBy assignment") {
    import org.apache.spark.sql.functions._
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.Sf0001)
    val centroids = graft.operators.Similarity
      .kmeansCentroids(emb, 16, iters = 1).localCheckpoint()
    val kernel = graft.operators.Similarity.ivfAssignKernel(emb, centroids)
      .select("vec_id", "cell")
    val declarative = graft.operators.Similarity.ivfAssign(emb, centroids)
      .select("vec_id", "cell")
    // full differential: same (vec_id, cell) set both directions —
    // arithmetic OR tie-break divergence shows up as a non-empty diff
    assert(kernel.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(kernel).isEmpty)
    assert(kernel.count() == emb.count())
  }

  test("IVF occupancy report accounts for every base+delta row") {
    val s = spark
    val dir = TestSpark.Sf0001
    val (_, assign, delta) = Ingest.ivfDelta(s, dir, Ingest.IvfLayout.Flat)
    val r = Ingest.ivfOccupancy(s, dir).head()
    assert(r.getAs[Long]("n_vectors") == assign.count() + delta.count())
    assert(r.getAs[Long]("n_cells") >= 1)
    // max ≥ mean by definition; equality only under perfect balance
    assert(r.getAs[Double]("skew") >= 1.0 - 1e-9)
    assert(r.getAs[Long]("max_cell") * r.getAs[Long]("n_cells")
      >= r.getAs[Long]("n_vectors"))
  }

  test("IVF append: delta is additive, base untouched, canary served") {
    val s = spark
    val dir = TestSpark.Sf0001
    val (_, baseBefore) = Ingest.ensureIvfIndex(s, dir)
    val nBaseBefore = baseBefore.count()
    val (_, baseAfter, delta) = Ingest.ivfDelta(s, dir, Ingest.IvfLayout.Flat)
    // the delta lands NEXT TO the base: exactly the append batch, and
    // the base assignment table is byte-for-byte the same row set
    assert(delta.count() == Ingest.NumCanaries.toLong)
    assert(baseAfter.count() == nBaseBefore)
    assert(delta.select("vec_id").collect().map(_.getLong(0)).forall(
      _ >= Ingest.AppendOffset))
    // the served top-10 for the first append source contains its delta
    // canary at cosine 1.0 (the q_ivf_append gate shape)
    val emb = Tables.embeddings(s, dir)
    val q = Ingest.appendQueryRow(emb)
    val top = Ingest.ivfTopKServed(s, dir, Ingest.DocGen.Appended, 10)
    val hit = top.join(q,
        col("vec_id") === col("q_id") + lit(Ingest.AppendOffset))
      .collect()
    assert(hit.length == 1, s"append canary missing from top-10")
    assert(math.abs(hit.head.getAs[Double]("score") - 1.0) < 1e-6)
  }

  // ONE lifecycle, three layouts: delta / compact / purge / retrain are
  // each written once over an IvfLayout, so every lifecycle property is
  // pinned per layout here. `single` is the layout's single-query serve
  // for the append probe row, where one exists.
  private case class IvfCase(label: String,
      layout: (org.apache.spark.sql.SparkSession, String) => Ingest.IvfLayout,
      single: Option[Ingest.DocGen => org.apache.spark.sql.DataFrame])

  private def ivfCases: Seq[IvfCase] = Seq(
    IvfCase("IVF", (_, _) => Ingest.IvfLayout.Flat,
      Some(g => Ingest.ivfTopKServed(spark, TestSpark.Sf0001, g, 10))),
    IvfCase("IVF-SQ8", (s, d) => Ingest.IvfLayout.sq8(s, d), None),
    IvfCase("IVF-PQ", (s, d) => Ingest.IvfLayout.pq(s, d),
      Some(g => Ingest.ivfPqTopKServed(spark, TestSpark.Sf0001, g, 10))))

  /** Stored rows in a comparable form, ordered by `keys` (binary SQ8
    * codes compared by content). */
  private def rowsOf(df: org.apache.spark.sql.DataFrame, keys: String*) =
    df.orderBy(keys.map(col): _*).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSeq

  /** The 8 append sources (the batched append gates' probe batch). */
  private def appendSources(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir).orderBy("vec_id")
      .offset(Ingest.NumCanaries).limit(Ingest.NumCanaries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Every append source's delta-only copy is in its top-10 (the
    * batched append gates' recall 1.0). */
  private def assertAppendCanaries(served: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    val hits = served
      .filter(col("vec_id") === col("q_id") + lit(Ingest.AppendOffset))
      .select("q_id").collect().map(_.getLong(0))
    assert(hits.distinct.length == Ingest.NumCanaries,
      s"append canaries missing from the $what top-10: ${hits.toSeq}")
  }

  /** The single-query serve's append canary, at cosine 1.0. */
  private def assertSingleCanary(served: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    val q = Ingest.appendQueryRow(Tables.embeddings(spark, TestSpark.Sf0001))
    val hit = served.join(q,
        col("vec_id") === col("q_id") + lit(Ingest.AppendOffset))
      .collect()
    assert(hit.length == 1, s"append canary missing from $what top-10")
    assert(math.abs(hit.head.getAs[Double]("score") - 1.0) < 1e-6)
  }

  for (c <- ivfCases) {
    test(s"${c.label} compaction: gen2 == base∪delta row-for-row, canary served through gen2") {
      val s = spark
      val dir = TestSpark.Sf0001
      val l = c.layout(s, dir)
      val (_, base, delta) = Ingest.ivfDelta(s, dir, l)
      val Seq(gen2) = Ingest.ivfServed(s, dir, l, Ingest.DocGen.Compacted).sides
      // the merge is a pure layout job: gen2 holds EXACTLY the
      // base∪delta rows — payloads verbatim, nothing re-encoded
      assert(rowsOf(gen2, "vec_id") == rowsOf(base.unionByName(delta), "vec_id"))
      // serving differential: the compacted scan returns the appended
      // path's top-10 bit-for-bit, including every delta-only canary
      val qs = appendSources(s, dir)
      def serve(g: Ingest.DocGen) = Ingest.knnJoinIvfServed(s, dir, l, g, qs, 10)
      val appended = rowsOf(serve(Ingest.DocGen.Appended), "q_id", "rnk")
      val compacted = rowsOf(serve(Ingest.DocGen.Compacted), "q_id", "rnk")
      assert(compacted == appended && compacted.nonEmpty)
      assertAppendCanaries(serve(Ingest.DocGen.Compacted), "compacted")
      for (one <- c.single) {
        val a1 = one(Ingest.DocGen.Appended).collect().map(_.toSeq).toSeq
        val c1 = one(Ingest.DocGen.Compacted).collect().map(_.toSeq).toSeq
        assert(c1 == a1 && c1.nonEmpty)
        assertSingleCanary(one(Ingest.DocGen.Compacted), "compacted")
      }
    }

    test(s"${c.label} retrain: gen3 carries bit-identical codes under new centroids, canary served") {
      val s = spark
      val dir = TestSpark.Sf0001
      val l = c.layout(s, dir)
      val (cents3, gen3, retrained) =
        Ingest.ivfRetrained(s, dir, l, skewThreshold = 0.0)
      assert(retrained, "threshold 0 must force the drift response")
      // the retrained generation re-partitions the SAME payload set: per
      // vec_id the frozen-model encode is deterministic, so payloads are
      // bit-identical to the served base∪delta even though cells moved
      val (cents2, base, delta) = Ingest.ivfDelta(s, dir, l)
      assert(rowsOf(gen3.drop("cell"), "vec_id") ==
        rowsOf(base.unionByName(delta).drop("cell"), "vec_id"))
      // the retrained centroids are a genuinely new geometry
      assert(cents3.count() > 0 &&
        cents3.collect().map(_.toSeq).toSet != cents2.collect().map(_.toSeq).toSet)
      // append canaries at 1.0 through the retrained serve path
      assertAppendCanaries(Ingest.knnJoinIvfServed(s, dir, l,
        Ingest.DocGen.Retrained(skewThreshold = 0.0), appendSources(s, dir), 10),
        "retrained")
      for (one <- c.single)
        assertSingleCanary(one(Ingest.DocGen.Retrained(skewThreshold = 0.0)),
          "retrained")
    }

    test(s"${c.label} masked append: Masked(t, Appended) serves no retracted vec_id, surviving canaries top-1, ≡ Purged") {
      val s = spark
      val dir = TestSpark.Sf0001
      val l = c.layout(s, dir)
      val qs = appendSources(s, dir)
      // the first half of the delta-only append copies plus the stored
      // canary twins, as a supplied doc_id frame
      val copies = qs.orderBy("q_id").limit(Ingest.NumCanaries / 2)
        .select((col("q_id") + lit(Ingest.AppendOffset)).as("doc_id"))
      val ids = copies.unionByName(
        Ingest.ensureVecForgetSet(s, dir).select(col("vec_id").as("doc_id")))
      def idsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
      val stored = Ingest.ensureVecForgetSet(s, dir)
      for ((t, dead) <- Seq(Ingest.Tombstones.Stored -> idsOf(stored),
          Ingest.Tombstones.Supplied(ids) -> idsOf(ids))) {
        def serve(g: Ingest.DocGen) = Ingest.knnJoinIvfServed(s, dir, l, g, qs, 10)
        val masked = serve(Ingest.DocGen.Masked(t, Ingest.DocGen.Appended)).localCheckpoint()
        assert(masked.filter(col("vec_id").isin(dead.toSeq: _*)).isEmpty,
          s"a retracted vec_id surfaced through Masked($t, Appended)")
        // every append source whose copy survives still finds it: an
        // exact copy, cosine 1.0, so its query's rank 1
        val surviving = idsOf(qs.select("q_id"))
          .filterNot(q => dead.contains(q + Ingest.AppendOffset))
        val hits = masked.filter(col("vec_id") === col("q_id") + lit(Ingest.AppendOffset))
          .select("q_id", "rnk").collect()
        assert(surviving.nonEmpty && hits.map(_.getLong(0)).toSet == surviving,
          s"surviving append canaries missing from Masked($t, Appended): ${hits.toSeq}")
        assert(hits.forall(_.getInt(1) == 1),
          s"a surviving append canary is not its query's top-1: ${hits.toSeq}")
        assert(rowsOf(masked, "q_id", "rnk") ==
          rowsOf(serve(Ingest.DocGen.Purged(t, Ingest.DocGen.Appended)), "q_id", "rnk"),
          s"Purged($t, Appended) must serve Masked's rows")
      }
    }

    test(s"${c.label} purge: purged generation == base minus the tombstones, none served") {
      val s = spark
      val dir = TestSpark.Sf0001
      val l = c.layout(s, dir)
      val (_, base) = l.base(s, dir)
      val purged = Ingest.ivfServed(s, dir, l,
        Ingest.DocGen.Purged(Ingest.Tombstones.Stored)).sides.head
      val dead = Ingest.ensureVecForgetSet(s, dir)
      // the tombstones are really in the base (the check discriminates)
      assert(base.join(dead, "vec_id").count() == dead.count() && dead.count() > 0)
      assert(rowsOf(purged, "vec_id") ==
        rowsOf(base.join(dead, Seq("vec_id"), "left_anti"), "vec_id"))
      assert(purged.join(dead, "vec_id").isEmpty,
        "a tombstoned vec_id survived the purge")
    }
  }

  test("batched IVF-PQ kNN: compacted generation == appended path, row for row") {
    val s = spark
    val dir = TestSpark.Sf0001
    val emb = Tables.embeddings(s, dir)
    val qs = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val l = Ingest.IvfLayout.pq(s, dir)
    val appended = canon(Ingest.knnJoinIvfServed(s, dir, l, Ingest.DocGen.Appended, qs, 5))
    val compacted = canon(Ingest.knnJoinIvfServed(s, dir, l, Ingest.DocGen.Compacted, qs, 5))
    assert(appended == compacted && appended.nonEmpty)
  }

  test("concurrent cold retrains serialize on the centroid gate: one gen3, live rows once each") {
    // a fresh scratch root, so both branches reach every artifact cold
    val root = java.nio.file.Files.createTempDirectory("graft_retrain_race")
    val s = spark.newSession()
    s.conf.set("graft.scratch", root.toString)
    val dir = TestSpark.Sf0001
    try {
      val l = Ingest.IvfLayout.sq8(s, dir)
      val Seq(a, b) = graft.Par.run(s.sparkContext, Seq.fill(2)(() => {
        val (_, gen3, retrained) = Ingest.ivfRetrained(s, dir, l, skewThreshold = 0.0)
        assert(retrained, "threshold 0 must force the drift response")
        rowsOf(gen3, "vec_id")
      }))
      assert(a == b, "the two cold callers returned different gen3 generations")
      val live = Tables.embeddings(s, dir).count() + 2L * Ingest.NumCanaries
      assert(a.length == live, s"gen3 holds ${a.length} rows, live corpus $live")
      val ids = a.map(_.head)
      assert(ids.distinct.length == ids.length, "a vec_id appears twice in gen3")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("retrain-on-drift: skew trips the trigger, canary 1.0 on the new generation") {
    import testImplicits._
    val rnd = new scala.util.Random(20260813L)
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    // served centroids trained on YESTERDAY's uniform corpus
    val oldCorpus = (0 until 500).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val servedCents = Similarity.kmeansCentroids(oldCorpus, 16, iters = 2)
      .localCheckpoint()
    // TODAY's corpus drifted: 90% of vectors cluster around one new
    // direction the old centroids never saw → one hot cell
    val drift = Array.fill(dim)(rnd.nextFloat() + 1.0f)
    val mass = (0 until 1800).map { i =>
      (i.toLong, Array.tabulate(dim)(d => drift(d) + 0.1f * (rnd.nextFloat() - 0.5f)))
    }
    val tail = (1800 until 2000).map(i => (i.toLong, vec()))
    val twin = Seq((100000L, mass.head._2.clone())) // exact copy of min-id row
    val live = (mass ++ tail ++ twin).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val (newCents, newAssign, retrained) =
      graft.operators.Ingest.retrainOnDrift(live, servedCents, skewThreshold = 4.0)
    assert(retrained, "drifted corpus must trip the skew trigger")
    assert(newAssign.count() == 2001)
    // the retrained geometry spreads the mass back out: skew under the
    // new centroids must drop below the trigger
    val occ = newAssign.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).cast("double").as("c"), sum("n").cast("double").as("v"),
        max("n").cast("double").as("m")).head()
    assert(occ.getDouble(2) * occ.getDouble(0) / occ.getDouble(1) <= 4.0,
      "retraining must dissolve the hot cell")
    // canary: the exact twin of the min-id query surfaces at cosine 1.0
    // through the NEW generation's probe
    val n = 2001L
    val probe = Similarity.ivfNumProbe(n, Similarity.ivfNumCells(n), 10)
    val hit = Similarity.ivfTopKFrom(live, newCents, 10, probe)
      .filter(col("vec_id") === 100000L).collect()
    assert(hit.length == 1, "twin canary missing from retrained top-10")
    assert(math.abs(hit.head.getAs[Double]("score") - 1.0) < 1e-6)
    // control: the un-drifted corpus under its own centroids stays put
    val (sameCents, _, again) =
      graft.operators.Ingest.retrainOnDrift(oldCorpus, servedCents, skewThreshold = 8.0)
    assert(!again && (sameCents eq servedCents),
      "no drift → no retrain, serve the old generation")
  }

  // --- SemDeDup (cosinePairs kernel + operator) -------------------------

  private def pairEntries(rows: Seq[(Long, Array[Float])]) = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    new GenericArrayData(rows.map { case (id, v) =>
      new GenericInternalRow(Array[Any](id, new GenericArrayData(v)))
    }.toArray)
  }

  private def bruteCosPairs(rows: Seq[(Long, Array[Float])], tau: Double) = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if rows(i)._1 != rows(j)._1 && cos(rows(i)._2, rows(j)._2) >= tau
    } yield (math.min(rows(i)._1, rows(j)._1),
      math.max(rows(i)._1, rows(j)._1))).toSet
  }

  private def kernelPairs(got: org.apache.spark.sql.catalyst.util.GenericArrayData) =
    (0 until got.numElements()).map { k =>
      val r = got.getStruct(k, 3); (r.getLong(0), r.getLong(1))
    }.toSet

  test("cosinePairs kernel == brute-force enumeration (property)") {
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 0 until 30) {
      val n = 2 + rnd.nextInt(40)
      val dim = 1 + rnd.nextInt(8)
      val tau = Seq(0.3, 0.7, 0.9)(rnd.nextInt(3))
      val rows = (0 until n).map(i =>
        (i.toLong * 3, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      val got = graft.functions.VectorSketchOps.cosinePairs(
        pairEntries(rows), tau)
      assert(kernelPairs(got) == bruteCosPairs(rows, tau))
    }
  }

  test("cosinePairs recursive split: planted twins exact, no false positives") {
    val rnd = new scala.util.Random(7L)
    val dim = 16
    val base = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    // identical-DIRECTION twins (power-of-two scale) for every 4th vector
    val twins = base.collect { case (id, v) if id % 4 == 0 =>
      (id + 1000L, v.map(_ * 2.0f)) }
    val all = base ++ twins
    val truth = bruteCosPairs(all, 0.99)
    assert(twins.forall { case (tid, _) => truth.contains((tid - 1000L, tid)) })
    // maxCluster=2 forces the split path to maximum depth; the split may
    // only LOSE boundary pairs (subset of brute force) and must KEEP
    // every identical-direction twin (bit-identical seed cosines →
    // co-assignment at every level)
    val got = kernelPairs(graft.functions.VectorSketchOps.cosinePairs(
      pairEntries(all), 0.99, 2, 1 << 20))
    assert(got.subsetOf(truth))
    assert(twins.forall { case (tid, _) => got.contains((tid - 1000L, tid)) })
  }

  test("cosinePairs: mass same-direction cluster enumerates under the pair cap") {
    val v = Array(0.6f, 0.8f, 0.0f)
    val rows = (0 until 10).map(i => (i.toLong, v.clone()))
    // no-shrink guard: all members assign to the first seed, so the
    // kernel enumerates directly — C(10,2) pairs when the cap allows
    val ok = kernelPairs(graft.functions.VectorSketchOps.cosinePairs(
      pairEntries(rows), 0.5, 2, 1 << 20))
    assert(ok.size == 45)
    val e = intercept[IllegalStateException] {
      graft.functions.VectorSketchOps.cosinePairs(pairEntries(rows), 0.5, 2, 10)
    }
    assert(e.getMessage.contains("passing pairs"))
  }

  private def pairEntriesSided(rows: Seq[(Long, Array[Float], Int)]) = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    new GenericArrayData(rows.map { case (id, v, side) =>
      new GenericInternalRow(Array[Any](id, new GenericArrayData(v), side))
    }.toArray)
  }

  test("cosinePairsCross: mixed sides emit cross-side pairs only; all-side-0 == cosinePairs") {
    val rnd = new scala.util.Random(31L)
    val rows = (0 until 30).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1), i % 2))
    val got = kernelPairs(graft.functions.VectorSketchOps.cosinePairsCross(
      pairEntriesSided(rows), -1.0))
    // tau = -1 passes every evaluated pair → got is exactly the cross set
    val expect = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._3 != b._3
    } yield (a._1, b._1)).toSet
    assert(got == expect)
    val allZero = kernelPairs(graft.functions.VectorSketchOps.cosinePairsCross(
      pairEntriesSided(rows.map(r => (r._1, r._2, 0))), -1.0))
    val classic = kernelPairs(graft.functions.VectorSketchOps.cosinePairs(
      pairEntries(rows.map(r => (r._1, r._2))), -1.0))
    assert(allZero == classic)
  }

  test("cellPairs: blocked decomposition of a hot cell == single-task enumeration, exactly") {
    import testImplicits._
    val rnd = new scala.util.Random(42L)
    val rows = (0 until 1500).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1), 0L))
    val assigned = rows.toDF("vec_id", "embedding", "cell")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("v1", "v2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // maxCellRows 128 → 12 slices, 78 triangle tasks, ≤ 256-row buffers
    val blocked = canon(Similarity.cellPairs(assigned, 0.9, maxCellRows = 128))
    // cold path: one task, kernel enumerates the whole cell directly
    val unsplit = canon(Similarity.cellPairs(assigned, 0.9, maxCellRows = 1 << 30))
    assert(blocked == unsplit && blocked.nonEmpty,
      s"blocked (${blocked.size}) must equal unsplit (${unsplit.size}) bit-for-bit")
    assert(blocked.map(p => (p._1, p._2)).toSet ==
      bruteCosPairs(rows.map(r => (r._1, r._2)), 0.9))
  }

  test("cellPairs: 1e5-row mega-cluster in ONE cell completes with bounded buffers") {
    import testImplicits._
    val rnd = new scala.util.Random(7L)
    val dim = 8
    val base = Array.fill(dim)(rnd.nextFloat() + 0.5f)
    // one tight direction cluster (organic cosines ≈ 0.97‒0.999, below
    // tau by a ≥100× angle margin — at 5·10⁹ candidate pairs a tighter
    // spread would produce organic passes) + 5 planted exact-twin pairs
    // (cosine 1.0 ≥ tau) — the corpus shape SemDeDup targets, and
    // exactly what used to buffer 100k payloads in one aggregation row
    // before the blocked decomposition
    val mass = (0 until 100000).map { i =>
      val v = Array.tabulate(dim)(d => base(d) + 0.5f * (rnd.nextFloat() - 0.5f))
      (i.toLong, v, 0L)
    }
    val twins = (0 until 5).map(i => (200000L + i, mass(i * 1000)._2.clone(), 0L))
    val assigned = (mass ++ twins).toDF("vec_id", "embedding", "cell")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val pairs = Similarity.cellPairs(assigned, 0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (0 until 5).map(i => (i * 1000L, 200000L + i)).toSet
    assert(pairs == expect,
      s"expected exactly the 5 planted twin pairs, got ${pairs.size}")
  }

  test("stored-index SemDeDup: exactly the canary pairs, at cosine 1") {
    val s = spark
    val dir = TestSpark.Sf0001
    val pairs = graft.operators.Ingest.semDedupPairsStored(s, dir, 0.99)
      .orderBy("v1").collect()
    // the indexed corpus plants 8 bit-identical canaries (+TwinOffset);
    // this synthetic corpus has no organic ≥0.99 pair (the
    // q_near_dup_embedding oracle pins that), so the stored-path dup
    // set is EXACTLY the canary twins, each provably co-assigned
    val off = graft.operators.Ingest.TwinOffset
    val emb = Tables.embeddings(s, dir)
    val expect = emb.orderBy("vec_id").limit(8)
      .collect().map(r => (r.getLong(0), r.getLong(0) + off)).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    assert(pairs.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-9))
    // survivors = the original corpus ids (every canary dropped)
    val surv = graft.operators.Ingest.semDedupSurvivorsStored(s, dir, 0.99)
    assert(surv.count() == emb.count())
    assert(surv.filter(col("vec_id") >= off).count() == 0)
  }

  test("semDedupSurvivors: keep-first representative per planted group") {
    import testImplicits._
    val rnd = new scala.util.Random(99L)
    val dim = 8
    // 3 groups sharing a direction (sizes 3/2/1) + 20 random singletons
    val dirs = (0 until 3).map(_ => Array.fill(dim)(rnd.nextFloat() + 0.1f))
    val groups = Seq(
      Seq(10L, 20L, 30L).map(id => (id, dirs(0))),
      Seq(40L, 50L).map(id => (id, dirs(1))),
      Seq(60L).map(id => (id, dirs(2))))
    val singles = (100 until 120).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val rows = groups.flatten.map { case (id, v) =>
      // per-member power-of-two scale keeps directions identical
      (id, v.map(x => x * (1 << (id % 3).toInt).toFloat))
    } ++ singles
    val emb = rows.toDF("vec_id", "embedding")
    val truth = bruteCosPairs(rows, 0.99)
    val expect = rows.map(_._1).filter(id =>
      !truth.exists { case (_, hi) => hi == id }).sorted
    val got = Similarity.semDedupSurvivors(emb, 0.99, nCells = 4)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    // the planted group minima survive, the rest of each group does not
    assert(Seq(10L, 40L, 60L).forall(got.contains))
    assert(Seq(20L, 30L, 50L).forall(id => !got.contains(id)))
  }

  test("recall envelope negative control: nProbe=1 on a skewed two-cell corpus fails 0.9") {
    // two tight clusters straddling the 45° centroid boundary plus far
    // fillers: the exact top-6 of a 44.9° probe interleaves members of
    // BOTH cells (3 each side), so probing only the query's own cell is
    // structurally capped at recall 0.5 — the failure mode the
    // q_ivf_recall_envelope gate exists to catch, and the proof the
    // envelope discriminates (it is not an always-true gate).
    def v(deg: Double): Array[Float] = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val pts =
      Seq(36.0, 38.0, 40.0, 42.0, 44.0).zipWithIndex
        .map { case (d, i) => (i.toLong, v(d)) } ++
      Seq(46.0, 48.0, 50.0, 52.0, 54.0).zipWithIndex
        .map { case (d, i) => ((i + 10).toLong, v(d)) } ++
      Seq(180.0, 190.0, 200.0, 210.0, 220.0).zipWithIndex
        .map { case (d, i) => ((i + 20).toLong, v(d)) }
    val emb = pts.toDF("vec_id", "embedding")
    val centroids = Seq((0L, v(40.0)), (1L, v(50.0))).toDF("cid", "cvec")
    val assign = Similarity.ivfAssignKernel(emb, centroids)
    val qs = Seq((999L, v(44.9))).toDF("q_id", "q_emb")
    val exact = Similarity.knnJoin(emb, qs, 6).select("q_id", "vec_id")
    def recallAt(nProbe: Int): Double = {
      val approx = graft.operators.Ingest.knnJoinSides(spark,
          TestSpark.Sf0001, Seq(assign), centroids, qs, 6, nProbe)
        .select("q_id", "vec_id")
      approx.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .count().toDouble / 6.0
    }
    assert(recallAt(1) < 0.9,
      "nProbe=1 on the skewed corpus must fail the 0.9 envelope")
    assert(recallAt(2) >= 0.99,
      "probing both straddled cells must recover full recall")
  }

  test("MMR envelope negative control: a starved probe fails the 0.9 pick overlap") {
    // q_mmr_ivf_envelope's discriminance: nProbe=1 hands the rerank a
    // pool missing true top-n candidates and the greedy picks diverge
    // (measured 0.4 at sf0.001); the gate's n-sized default recovers 1.0
    val starved = graft.operators.Ingest.mmrIvfOverlapMeasured(
      spark, TestSpark.Sf0001, nProbe = 1)
    assert(starved < 0.9,
      s"a one-cell pool must fail the overlap envelope: $starved")
    val healthy = graft.operators.Ingest.mmrIvfOverlapMeasured(
      spark, TestSpark.Sf0001)
    assert(healthy >= 0.9,
      s"the n-sized default probe must pass: $healthy")
  }

  test("PQ recall envelope negative control: coarse codebook + starved shortlist fails 0.9") {
    // quantization distortion, isolated from probe pruning by forcing
    // ALL cells: an m=1/kCent=4 codebook collapses the corpus to 4 ADC
    // score classes and expand=1 hands the exact rescore only k rows —
    // true neighbors are dropped before anything can recover them.
    // Same full stored-path machinery as q_ivfpq_recall_envelope, so
    // the gate demonstrably discriminates on the quantizer axis
    // (measured 0.1 at sf0.001). Defaults at the same all-cells probe
    // recover 1.0 — proof the failure is the quantizer, not the probe.
    val coarse = graft.operators.Ingest.ivfPqRecallMeasured(
      spark, TestSpark.Sf0001, 10, nProbe = 9999, 16,
      expand = 1, m = 1, kCent = 4).head()
    assert(coarse.getDouble(1) < 0.9,
      s"m=1/kCent=4/expand=1 must fail the envelope: ${coarse.getDouble(1)}")
    val fine = graft.operators.Ingest.ivfPqRecallMeasured(
      spark, TestSpark.Sf0001, 10, nProbe = 9999, 16).head()
    assert(fine.getDouble(1) >= 0.99,
      s"default m=8/kCent=256/expand=60 at all-cells probe must recover: ${fine.getDouble(1)}")
  }

  test("quantizer-bound envelope: clauses bind for real, measurement moves with the quantizer") {
    // r13 verdict #8 — the gate's own row at the fixture: the coarse
    // m=4 geometry is genuinely lossy AND rescue-recoverable
    val row = graft.operators.Ingest
      .pqDistortionEnvelope(spark, TestSpark.Sf0001).head()
    assert(row.getLong(0) == 16L && row.getBoolean(1) && row.getBoolean(2),
      s"distortion envelope row: $row")
    // the raw quantity behind adc_lossy is mid-band, not vacuously
    // under the 0.75 ceiling (measured 0.575 at sf0.001)
    val adc = graft.operators.Ingest.ivfPqRecallMeasured(
      spark, TestSpark.Sf0001, 10, nProbe = 9999, 16,
      expand = 1, m = 4, kCent = 256).head().getDouble(1)
    assert(adc > 0.3 && adc < 0.7,
      s"m=4 ADC-only recall must sit in the lossy band: $adc")
    // discriminance on the quantizer axis: the garbage geometry
    // measures FAR below the honest point on the IDENTICAL expand=1
    // all-cells harness (0.1 vs 0.575 measured)
    val garbage = graft.operators.Ingest.ivfPqRecallMeasured(
      spark, TestSpark.Sf0001, 10, nProbe = 9999, 16,
      expand = 1, m = 1, kCent = 4).head().getDouble(1)
    assert(garbage < adc - 0.3,
      s"m=1/kCent=4 must measure far below m=4: $garbage vs $adc")
    // and widening the shortlist at the SAME coarse geometry recovers
    // fully at this SF — the loss is ADC ORDERING, not candidates
    val resc = graft.operators.Ingest.ivfPqRecallMeasured(
      spark, TestSpark.Sf0001, 10, nProbe = 9999, 16,
      expand = 16, m = 4, kCent = 256).head().getDouble(1)
    assert(resc >= 0.95,
      s"expand=16 rescore must recover the m=4 loss at sf0.001: $resc")
  }

  test("SQ recall envelope negative control: a too-coarse scalar model fails; the honest one recovers") {
    import testImplicits._
    // the honest SQ8 model (256 levels spanning the real per-dim range)
    // is too accurate for quantization alone to fail the envelope at
    // any SF — so discriminance is proven at the serving kernel with a
    // deliberately mis-scaled model: steps sized for ±1000 while the
    // data sits on the unit circle collapse EVERY vector to one code,
    // the byte ranking becomes pure vec_id tiebreak, and expand=1
    // starves the rescore. Exact neighbors deliberately carry HIGH ids
    // so the tiebreak provably misses them.
    def v(deg: Double): Array[Float] = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // id i sits at angle 36+2i and the query at 56.9°, so the TRUE
    // top-6 are the HIGH ids 9,8,7,6,5,4 — the all-ties vec_id-asc
    // tiebreak serves 0..5 instead, and the miss is structural
    val pts = (0 until 10).map(i => (i.toLong, v(36.0 + 2 * i))) ++
      (0 until 5).map(i => ((i + 20).toLong, v(180.0 + 10 * i)))
    val emb = pts.toDF("vec_id", "embedding")
    val centroids = Seq((0L, v(45.0)), (1L, v(200.0))).toDF("cid", "cvec")
    val sides = Seq(graft.operators.Similarity.ivfAssignKernel(emb, centroids)
      .select(col("vec_id"), col("cell"),
        graft.functions.SqOps.encode(col("embedding"),
          Array(-1000f, -1000f), Array(7.843f, 7.843f)).as("code")))
    val qs = Seq((999L, v(56.9))).toDF("q_id", "q_emb")
    val exact = graft.operators.Similarity.knnJoin(emb, qs, 6)
      .select("q_id", "vec_id")
    def recallWith(mins: Array[Float], steps: Array[Float],
        codedSides: Seq[org.apache.spark.sql.DataFrame]): Double = {
      val approx = graft.operators.Ingest.knnJoinSqSides(spark,
          TestSpark.Sf0001, codedSides, centroids, mins, steps,
          emb, qs, 6, expand = 1, nProbe = 2)
        .select("q_id", "vec_id")
      approx.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .count().toDouble / 6.0
    }
    val coarse = recallWith(Array(-1000f, -1000f), Array(7.843f, 7.843f), sides)
    assert(coarse < 0.9,
      s"the mis-scaled model must fail the 0.9 envelope: $coarse")
    // honest model: per-dim range of the unit-circle data, 256 levels
    val honest = (Array(-1f, -1f), Array(2f / 255f, 2f / 255f))
    val honestSides = Seq(
      graft.operators.Similarity.ivfAssignKernel(emb, centroids)
        .select(col("vec_id"), col("cell"),
          graft.functions.SqOps.encode(col("embedding"),
            honest._1, honest._2).as("code")))
    val fine = recallWith(honest._1, honest._2, honestSides)
    assert(fine >= 0.99,
      s"the honest 256-level model must recover full recall: $fine")
  }
}
