package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps

/** Similarity search over the `embeddings` table (vec_id,
  * embedding `array<float>`, label) — SURVEY.md §2.11.
  *
  * 100 TB design notes:
  *  - Brute-force cosine top-k: the query vector is broadcast (1 row);
  *    scoring is a narrow codegen'd map (graft.functions.VectorOps);
  *    `orderBy(desc).limit(k)` plans as TakeOrderedAndProject —
  *    per-partition top-k then a k-row merge on the driver, never a
  *    global sort. This is the exact-rescore baseline.
  *  - Scale path (ANN): a 64-bit SRP sketch per vector (narrow, computed
  *    in the scan stage) + 4×16-bit LSH banding prefilter — candidates
  *    are vectors sharing ≥1 band with the query, exact-rescored. The
  *    candidate join shuffles only (band_idx, band_val, vec_id) triples,
  *    never the embedding payload; embeddings are re-read only for the
  *    candidate ids (semi-join pushdown).
  *  - Embedding near-dup: the same banding machinery self-joined, with
  *    exact cosine verification per candidate pair — mirrors the
  *    MinHash/SimHash dedup shape (Dedup.scala).
  *  - Everything is deterministic: SRP signs derive from SplitMix64, and
  *    ties in top-k break on vec_id.
  */
object Similarity {

  /** (vec_id, embedding, sketch): narrow projection, sketch computed
    * inside the scan stage. */
  def sketched(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), col("embedding"),
      VectorOps.srp64(col("embedding")).as("sketch"))
  }

  /** The deterministic probe row (min vec_id) used by the top-k queries
    * so they are parameter-free and sf-stable.
    *
    * Collected-and-memoized serving form (optimization r15): the raw
    * derivation is a broadcast-join subplan over the corpus scan, and it
    * rode inside every probe-plan broadcast, crossJoin and rescore —
    * each evaluation a fresh TakeOrdered pass over `embeddings`,
    * measured 1–3 evaluations per serve across ~20 dense gates. The
    * probe row is a bounded input-derived fixture (one id + one vector),
    * so it collects ONCE per (app, source plan) — the embeddingCount
    * memo precedent — and serves as a literal one-row relation: same
    * row, same schema, zero corpus subplans in the serving plan. */
  private[graft] def queryRow(emb: DataFrame): DataFrame =
    localizedBatchFrame(emb.sparkSession,
      collectOneProbe(queryRowDerived(emb)).toArray)

  /** The raw derivation of [[queryRow]] (memo source; spec reference). */
  private[operators] def queryRowDerived(emb: DataFrame): DataFrame =
    emb.join(broadcast(emb.agg(min("vec_id").as("qid"))), col("vec_id") === col("qid"))
      .select(col("embedding").as("q_emb"), col("vec_id").as("q_id"))

  private val probeCache = new PlanMemo[Option[(Long, Array[Float])]]

  /** Collect a ONE-ROW (q_emb, q_id) probe frame, memoized per
    * (application, semantic plan): the frame is a deterministic pure
    * function of its source plan, so the collect runs once per app.
    * An EMPTY probe derivation (e.g. a corpus smaller than the canary
    * offset) yields None — the caller serves an empty literal relation,
    * matching the plan-based form's empty downstream results (ADVICE
    * r15: `.head()` threw NoSuchElementException here). */
  private[graft] def collectOneProbe(q: DataFrame): Option[(Long, Array[Float])] =
    probeCache.getOrElseUpdate(q,
      q.select(col("q_id"), col("q_emb")).head(1).headOption
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))

  private[graft] def localizedBatch(spark: SparkSession,
      rows: Array[(Long, Array[Float])]): DataFrame = localizedBatchFrame(spark, rows)

  private def localizedBatchFrame(spark: SparkSession,
      rows: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toSeq.map(p => (p._2.toSeq, p._1)).toDF("q_emb", "q_id")
      .select(col("q_emb").cast(ArrayType(FloatType)).as("q_emb"),
        col("q_id"))
  }

  /** Over this, a query batch is not a bounded broadcast fixture and
    * stays a distributed plan. */
  private val MaxLocalizedBatch = 64

  private val batchCache = new PlanMemo[Array[(Long, Array[Float])]]

  /** The batched generalization of the [[queryRow]] localization: a
    * BOUNDED (q_id, q_emb) query batch collects once per (application,
    * semantic source plan) and serves as a literal relation — the
    * derived batch subplan (typically a TakeOrdered over the corpus
    * scan) otherwise re-evaluates inside every broadcast that
    * references it (probe plan, candidate match, rescore join).
    * Batches that prove larger than [[MaxLocalizedBatch]] rows are
    * returned UNCHANGED (they are not bounded fixtures; localizing
    * them would be a driver collect of data-sized state). */
  private[graft] def localizedQueryBatch(q: DataFrame): DataFrame = {
    // only the pure (q_id, q_emb) shape localizes — a batch carrying
    // extra columns (labels, weights) must stay the caller's plan
    if (q.columns.sorted.toSeq != Seq("q_emb", "q_id")) return q
    val rows = batchCache.getOrElseUpdate(q,
      q.select(col("q_id"), col("q_emb")).limit(MaxLocalizedBatch + 1)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
    if (rows.length > MaxLocalizedBatch) q
    else localizedBatchFrame(q.sparkSession, rows)
  }

  /** Exact brute-force cosine top-k against the probe vector (excluding
    * the probe itself). */
  def cosineTopK(emb: DataFrame, k: Int): DataFrame = {
    emb.crossJoin(broadcast(queryRow(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), VectorOps.cosine(col("embedding"), col("q_emb")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** (band_idx, band_val) bucket keys from a 64-bit sketch, split into
    * `numBands` contiguous bands (pigeonhole: hamming < numBands ⇒ some
    * band equal; wider bands = higher precision, lower recall). Shared
    * kernel with the SimHash operator (graft.functions.Sketch). */
  private def bandCols(sketch: Column, numBands: Int): Column =
    explode(array(graft.functions.Sketch.bandStructs(sketch, numBands): _*))

  /** ANN top-k: sketch-hamming candidate selection then exact cosine
    * rescoring. Candidates are every vector whose sketch hamming
    * distance to the probe is ≤ the `expand`×k-th smallest — a narrow
    * scan over the 8-byte sketch column (32× less I/O than the
    * embedding payload when sketches are stored), with the cutoff level
    * found by a TakeOrderedAndProject over the hamming column. The
    * cutoff is TIE-INCLUSIVE: a 64-bit sketch yields only 65 distinct
    * hamming values, so as the corpus grows whole tie bands straddle
    * any fixed row-count cutoff and an id-ordered `limit` would drop
    * true neighbors arbitrarily (measured: recall 0.7 at the 20k-vector
    * rehearsal with a hard 1000-row cut; 1.0 tie-inclusive). Including
    * the full cutoff band keeps the rescore bounded by the band
    * occupancy (≈ N·C(64,h)/2⁶⁴-shaped, a corpus statistic, not a
    * cliff) and makes the candidate SET a pure function of the data.
    * Unlike pure LSH bucketing this returns ≥k rows on ANY distribution
    * (bucket LSH finds nothing when the corpus has no true neighbors,
    * e.g. uniform random vectors).
    *
    * The window also carries the N/10 corpus floor [[ivfNumProbe]] uses
    * for the same reason: on a corpus with no true neighbors (top
    * cosine ≈ 0.5 here) the neighbors' hamming sits within noise of the
    * bulk — E[h] = 64θ/π with σ ≈ 3.8 — so recall demands a corpus
    * FRACTION, not a constant count. That is the honest ceiling of a
    * 64-bit-sketch prefilter: it buys its 32× I/O saving on corpora
    * with real neighbor structure; past ~10⁶ undistinguished vectors,
    * IVF/PQ (whose gates derive geometry from N) are the scale path.
    *
    * `corpusRows` ≥ 0 supplies the corpus size for the floor without an
    * action — pass the ingest-time count artifact (the rule every IVF
    * path uses); the `emb.count()` fallback is for ad-hoc frames with no
    * artifact, and costs one extra job per invocation. */
  def annTopK(emb: DataFrame, k: Int, expand: Int = 40,
      corpusRows: Long = -1L): DataFrame = {
    val s = sketched(emb)
    val n = if (corpusRows >= 0) corpusRows else emb.count()
    val window = math.max(expand.toLong * k, n / 10).toInt
    val qs = sketched(queryRow(emb).select(col("q_emb").as("embedding"), col("q_id").as("vec_id")))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sketch").as("q_sketch"))
    val cand = s.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), col("embedding"), col("q_emb"),
        bit_count(col("sketch").bitwiseXOR(col("q_sketch"))).as("hamming"))
    val cutoff = cand.select(col("hamming"))
      .orderBy(asc("hamming")).limit(window)
      .agg(max("hamming").as("h_cut"))
    cand
      .join(broadcast(cutoff), col("hamming") <= col("h_cut"))
      .select(col("vec_id"), VectorOps.cosine(col("embedding"), col("q_emb")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantization scale path:
    * `nCells` deterministic centroids (lowest vec_ids stand in for
    * trained k-means centroids), every vector assigned to its
    * best-cosine cell (at scale this assignment is precomputed at ingest
    * and stored as a partition column), the probe scans only the
    * `nProbe` cells whose centroids are closest to the query, then exact
    * cosine rescoring. All declarative: centroid set and probe-cell set
    * are broadcast; the only wide op is the per-vector argmax cell
    * assignment (one groupBy on vec_id). */
  def ivfTopK(emb: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    ivfTopKFrom(emb, ivfCentroids(emb, nCells), k, nProbe)
  }

  /** IVF probe against a GIVEN centroid table — shared by the
    * deterministic-centroid, k-means-trained, and stored-index paths. */
  def ivfTopKFrom(emb: DataFrame, centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val q = queryRow(emb)
    val probeCells = centroids.crossJoin(broadcast(q))
      .select(col("cid").as("cell"), VectorOps.cosine(col("cvec"), col("q_emb")).as("qsim"))
      .orderBy(desc("qsim"), asc("cell"))
      .limit(nProbe)
      .select("cell")
    ivfAssign(emb, centroids)
      .join(broadcast(probeCells), "cell")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"), VectorOps.cosine(col("embedding"), col("q_emb")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Spherical k-means training for the IVF quantizer: Lloyd iterations
    * with cosine assignment (centroid scale is irrelevant to cosine, so
    * the mean needs no explicit re-normalization) and deterministic
    * lowest-id seeding. Runs a FIXED number of iterations — bounded work,
    * no convergence polling.
    *
    * Per iteration: one broadcast crossJoin + the assignment groupBy
    * (wide), then an element-wise mean via posexplode → groupBy(cell,
    * pos) — the shuffle carries (cell, pos, partial-sum) triples, k×dim
    * rows after combine. At 100 TB the quantizer is trained on a 1-10%
    * SAMPLE at ingest (standard IVF practice — assignment quality, not
    * training set size, is what matters) and the resulting centroid
    * table is stored (Ingest.scala); this full-corpus version is the
    * small-scale path. Empty cells inherit their previous centroid.
    *
    * Float caveat: groupBy avg sums in partition order, so centroid
    * coordinates can wiggle at the last ulp across runs — harmless for
    * the recall gate (assignment flips require two centroids equidistant
    * to ~1e-15) but the reason centroids are STORED, not recomputed, in
    * any reproducibility-critical pipeline. */
  def kmeansCentroids(emb: DataFrame, nCells: Int = 16, iters: Int = 3): DataFrame = graft.BuildTimer.time {
    var centroids = ivfCentroids(emb, nCells)
    var it = 0
    while (it < iters) {
      // kernel assignment: each Lloyd pass is a narrow map over the
      // corpus + one (cell, pos) mean shuffle — the declarative
      // crossJoin+groupBy assignment would add an N×nCells expansion
      // and a full-corpus exchange PER ITERATION
      val members = ivfAssignKernel(emb, centroids)
      val means = members
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(avg(col("v")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cid"),
          expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("cvec"))
      // empty cells keep their old centroid
      centroids = centroids.select(col("cid"), col("cvec").as("old"))
        .join(means.select(col("cid"), col("cvec").as("new")), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("new"), col("old")).as("cvec"))
        .localCheckpoint() // truncate the per-iteration lineage
      it += 1
    }
    centroids
  }

  /** Occupancy-driven IVF geometry (VERDICT r4 #5): nCells ≈ √N — the
    * standard IVF balance point, where probe work (nProbe · N/nCells)
    * and centroid-table scan (nCells) both grow as √N — floored at 16
    * so the tiny verify corpora keep the legacy geometry. At production
    * scale this is the rule the index is ingested with (10⁹ vectors →
    * ~31623 cells of ~31623 vectors). */
  def ivfNumCells(n: Long): Int =
    math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** Occupancy-sized probe width: probe enough cells that the expected
    * candidate scan covers max(50·k, N/10) vectors — the standard 50·k
    * IVF operating rule, plus a 10 % corpus floor that keeps the
    * forced-recall-1.0 gates honest over UNTRAINED seed centroids
    * (trained centroids at production scale would drop the floor and run
    * pure 50·k). Clamped to [1, nCells]; at tiny N this probes most
    * cells — an index over a few hundred vectors legitimately can't
    * prune. */
  def ivfNumProbe(n: Long, nCells: Int, k: Int): Int = {
    val target = math.max(50L * k, n / 10)
    val perCell = math.max(1L, n / nCells)
    math.min(nCells.toLong, math.max(1L, (target + perCell - 1) / perCell)).toInt
  }

  /** Deterministic IVF "centroids": the lowest `nCells` vec_ids stand in
    * for trained k-means centroids (training is out of scope; the probe /
    * assignment machinery is identical). */
  def ivfCentroids(emb: DataFrame, nCells: Int = 16): DataFrame =
    emb.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** Per-vector argmax-cosine cell assignment — (vec_id, cell, embedding).
    * Tie-break: equal cosine to two centroids resolves to the LOWEST cid
    * (max over (csim, -cid)), keeping the assignment identical across
    * partitionings/reruns. This is the ONE wide op in IVF (a groupBy on
    * vec_id carrying the payload); at scale it runs ONCE at ingest and is
    * stored partitioned by cell (Ingest.scala demonstrates that path —
    * query time then touches no assignment shuffle at all). */
  def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        VectorOps.cosine(col("embedding"), col("cvec")).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("embedding")),
        struct(col("csim"), -col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("best.embedding").as("embedding"))

  /** The centroid table as driver-held kernel artifacts: (flat matrix in
    * ascending-cid row order, matching cids, dim). Bounded — nCells ≈ √N
    * rows — the same class of model artifact as the PQ codebook. */
  def centroidArtifact(centroids: DataFrame): (Array[Float], Array[Long], Int) = {
    val rows = centroids.orderBy("cid").collect()
    require(rows.nonEmpty, "centroidArtifact: empty centroid table")
    val cids = rows.map(_.getAs[Long]("cid"))
    val first = rows.head.getAs[scala.collection.Seq[Float]]("cvec")
    val dim = first.length
    val flat = new Array[Float](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      val v = rows(i).getAs[scala.collection.Seq[Float]]("cvec")
      require(v.length == dim, s"centroidArtifact: ragged cvec at row $i")
      var d = 0
      while (d < dim) { flat(i * dim + d) = v(d); d += 1 }
      i += 1
    }
    (flat, cids, dim)
  }

  /** Narrow kernel twin of [[ivfAssign]]: same (vec_id, cell, embedding)
    * output, but assignment is a SHUFFLE-FREE codegen map — the centroid
    * table collapses to a driver-held artifact riding the codegen
    * reference array (graft_ivf_cell), so the N×nCells crossJoin row
    * expansion and the full-corpus groupBy exchange disappear. Identical
    * arithmetic and tie-break (see [[graft.functions.IvfOps]];
    * SimilaritySpec pins kernel ≡ declarative on the corpus). This is
    * the ingest-path form — at 100 TB the only exchange left in index
    * build is the partitionBy(cell) write — and the one the streaming
    * delta ingest (IvfStream) shares. */
  def ivfAssignKernel(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val (flat, cids, dim) = centroidArtifact(centroids)
    emb.select(col("vec_id"),
      graft.functions.IvfOps.cell(col("embedding"), flat, cids, dim).as("cell"),
      col("embedding"))
  }

  /** Batched kNN join: exact top-k neighbors for EVERY query vector in a
    * (small, broadcast) query set — the production retrieval shape, where
    * q_cosine_topk's single probe is the degenerate |Q|=1 case.
    *
    * Two-phase per-group top-k: scoring is a narrow broadcast
    * nested-loop (corpus × |Q| fixed-width (q_id, vec_id, score) rows,
    * never a shuffled cross product), then a LOCAL top-k per (query,
    * input-partition) — the window keys include the scan partition id,
    * so the first exchange spreads each query's candidates over the
    * whole cluster instead of funneling |corpus| rows into |Q|
    * partitions (the single-phase window's skew collapse: at 100 TB and
    * |Q|=8, 8 reducers would each sort the corpus). The global top-k
    * then ranks the surviving ≤ partitions×k rows per query — tiny.
    *
    * Both phases rank over (round(score, 6) DESC, vec_id): the rounding
    * absorbs last-ulp float divergence between engines (same rule as
    * q_tfidf_terms) and vec_id makes the order total, so the phase-1
    * prune keeps a superset of the global top-k by construction. */
  def knnJoin(emb: DataFrame, queriesDf0: DataFrame, k: Int): DataFrame = {
    // bounded batch → literal relation (localizedQueryBatch doc);
    // over-bound batches pass through unchanged
    val queriesDf = localizedQueryBatch(queriesDf0)
    val scored = emb.crossJoin(broadcast(queriesDf))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("q_emb")), 6).as("score"))
    topKPerQuery(scored, k)
  }

  /** Two-phase per-query top-k over (q_id, vec_id, score) rows: local
    * rank keyed by the scan partition id (skew-proof), then the global
    * rank over ≤ partitions×k survivors per query. Shared by the exact
    * and IVF kNN joins. */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded-heap top-k per query (plans/TopK): partial heaps inside
    // each input partition, ONE q_id exchange, final heaps — replacing
    // the two-phase window form, whose pid-local rank cost a second
    // exchange and two full sorts of the scored stream. The rank column
    // is then a window over the ALREADY k-bounded, already q_id-
    // clustered result (≤ k rows per key, no further exchange).
    val global = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc("vec_id"))
    graft.plans.TopK.topKPerKey(scored,
        Seq(col("q_id")), Seq(desc("score"), asc("vec_id")), k)
      .withColumn("rnk", row_number().over(global))
      .select(col("q_id"), col("rnk"), col("vec_id"))
  }

  /** kNN label propagation: predict a label for each held-out vector by
    * majority vote of its k nearest LABELED neighbors (exact cosine) —
    * the embedding-space auto-labeling / quality-classifier transfer
    * step of a curation pipeline (label a small seed set by hand,
    * propagate to the corpus by similarity). The held-out slice is the
    * deterministic `vec_id % 5 == 0` fifth; the vote tie-break is
    * (votes DESC, label ASC) — total and engine-exact.
    *
    * Scale shape: scoring + two-phase top-k is [[knnJoin]]'s broadcast
    * pattern (queries broadcast, corpus never shuffled; local top-k
    * keyed by scan partition so no |Q|-reducer collapse); the vote is a
    * groupBy over |Q|·k fixed-width rows — tiny. `maxQueries` BOUNDS the
    * broadcast batch (deterministic lowest-id slice), which keeps one
    * call LINEAR in the corpus: an UNBOUNDED hold-out grows with the
    * corpus and turns the brute pass O(N²) — the sf1 rehearsal measured
    * 42× at 10× data before this budget existed. Pools beyond the
    * budget iterate batches, or walk the batched probe the stored IVF
    * index serves ([[Ingest.knnJoinIvfStored]]). */
  def knnClassify(emb: DataFrame, k: Int, maxQueries: Int = 400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the bounded slice ONCE (≤ maxQueries rows): it feeds
    // both the broadcast scoring side and the true-label join, and
    // without the checkpoint each consumer re-runs the corpus-wide
    // filter + TakeOrderedAndProject (the jaccardPairsExact rule)
    val unlabeled = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .orderBy("vec_id").limit(maxQueries) // TakeOrderedAndProject, not a sort
      .localCheckpoint()
    val labeled = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val scored = labeled
      .crossJoin(broadcast(unlabeled
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
      .select(col("q_id"), col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("q_emb")), 6).as("score"))
    val votes = topKPerQuery(scored, k)
      .join(labeled.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy("q_id").orderBy(desc("n_votes"), asc("label"))
    votes
      .withColumn("rn", row_number().over(byVotes)).filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
      .join(unlabeled.select(col("vec_id").as("q_id"),
        col("label").as("true_label")), "q_id")
      .select(col("q_id").as("vec_id"), col("true_label"), col("pred_label"),
        col("n_votes"), (col("true_label") === col("pred_label")).as("correct"))
  }

  /** Hard-negative mining for contrastive training (the DPR / SimCSE
    * batch-construction step): for each anchor, the k most similar
    * corpus vectors with a DIFFERENT label — the negatives closest to
    * the decision boundary, which carry nearly all the gradient signal
    * in a contrastive loss. Scale shape = [[knnClassify]]'s broadcast
    * pattern: anchors are a bounded deterministic slice (broadcast),
    * the corpus is never shuffled before the (q_id, pid)-keyed local
    * top-k, and the label-mismatch filter runs INSIDE the scoring pass
    * (no same-label pair ever reaches the rank). Scores rounded 6 dp
    * before ranking (the round-before-rank rule). */
  def hardNegatives(emb: DataFrame, k: Int, maxQueries: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
      .orderBy("vec_id").limit(maxQueries) // TakeOrderedAndProject
    val scored = emb
      .crossJoin(broadcast(anchors.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("label").as("q_label"))))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), col("q_emb")), 6).as("score"))
    // bounded-heap top-k per anchor (the topKPerQuery treatment): one
    // q_id exchange instead of the (q_id, pid) + q_id window pair; the
    // heap preserves every carried column, so the label projection
    // rides through unchanged
    val global = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc("vec_id"))
    graft.plans.TopK.topKPerKey(scored,
        Seq(col("q_id")), Seq(desc("score"), asc("vec_id")), k)
      .withColumn("rnk", row_number().over(global))
      .select(col("q_id"), col("q_label"), col("rnk"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): merge ranked
    * retrieval lists by `Σ_lists 1/(c + rank)` — the standard hybrid
    * (sparse ⊕ dense) combiner, robust to incomparable score scales
    * because only RANKS enter the sum. Each input frame carries
    * (id, rank); ties break on id. With L lists the per-id sum has ≤ L
    * addends of the fixed form 1/(c+r) — rounded to 6 dp so the result
    * is engine-exact (the tfidf rule). The inputs are top-k lists (tiny
    * by construction), so fusion is wholly broadcast-scale regardless
    * of corpus size. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    lists.map(df => df.select(col("id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank"))).as("contrib")))
      .reduce(_.unionByName(_))
      .groupBy("id").agg(round(sum("contrib"), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf"), asc("id"))
      .limit(k)
  }

  /** q_id-keyed reciprocal-rank fusion — [[rrfFuse]] generalized to a
    * whole evaluation batch: every input frame carries (q_id, id, rank)
    * top-k rows, fusion groups on (q_id, id), and the fused rank is a
    * per-q_id window. The window partitions on q_id (no single-reducer
    * collapse), and each query's input is ≤ lists×k rows by
    * construction, so the whole fusion stays broadcast-scale per query
    * regardless of corpus size. */
  def rrfFuseBatch(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lists.nonEmpty, "rrfFuseBatch needs at least one ranked list")
    lists.map(df => df.select(col("q_id"), col("id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank"))).as("contrib")))
      .reduce(_.unionByName(_))
      .groupBy("q_id", "id").agg(round(sum("contrib"), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rrf"), asc("id"))))
      .filter(col("rank") <= k)
  }

  /** Per-query nDCG@k — [[ndcgAtK]] generalized to q_id-keyed (q_id,
    * id, rank) frames: graded relevance `k+1 − ideal_rank`, log2
    * discount, one rounded division per q_id. Returns one (q_id,
    * ndcg_at_k) row per query; the caller aggregates the mean. Both
    * inputs are per-query top-k lists, so every aggregation here is
    * over ≤ k rows per q_id. */
  def ndcgAtKBatch(ranked: DataFrame, ideal: DataFrame, k: Int): DataFrame = {
    val rel = ideal.select(col("q_id"), col("id"),
      (lit(k + 1) - col("rank")).cast(DoubleType).as("rel"))
    val dcg = ranked
      .join(broadcast(rel), Seq("q_id", "id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("rel"), lit(0.0)) /
        log2(col("rank").cast(DoubleType) + lit(1.0))).as("dcg"))
    val idcg = ideal.groupBy("q_id")
      .agg(sum((lit(k + 1) - col("rank")).cast(DoubleType) /
        log2(col("rank").cast(DoubleType) + lit(1.0))).as("idcg"))
    dcg.join(idcg, "q_id")
      .select(col("q_id"),
        round(col("dcg") / col("idcg"), 6).as(s"ndcg_at_$k"))
  }

  /** Per-query MRR over q_id-keyed lists: 1 / rank of the FIRST ranked
    * id that appears in the ideal (relevant) list, 0 when no relevant
    * id surfaces in the top-k — the metric that grades "did anything
    * right show up early", complementing nDCG's graded depth. Both
    * inputs are per-query top-k frames, so every step is ≤ k rows per
    * q_id; exact rational rounded 6 dp. */
  def mrrBatch(ranked: DataFrame, ideal: DataFrame): DataFrame = {
    val hits = ranked
      .join(broadcast(ideal.select("q_id", "id")), Seq("q_id", "id"))
      .groupBy("q_id").agg(min("rank").as("first_rel"))
    ideal.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"))
  }

  /** nDCG@k of a retrieval list against an ideal ranking — retrieval
    * EVALUATION as a first-class operator (the metric a pipeline runs
    * after every index build / fusion change). Graded relevance
    * `k+1 − ideal_rank` (0 for ids outside the ideal list), log2
    * positional discount, one rounded division. Both inputs are
    * (id, rank) top-k frames, so the metric is broadcast-scale; the sum
    * has ≤ k addends and rounds to 6 dp (cross-engine ulp rule). */
  def ndcgAtK(ranked: DataFrame, ideal: DataFrame, k: Int): DataFrame = {
    val rel = ideal.select(col("id"),
      (lit(k + 1) - col("rank")).cast(DoubleType).as("rel"))
    val dcg = ranked
      .join(broadcast(rel), Seq("id"), "left")
      .select((coalesce(col("rel"), lit(0.0)) /
        log2(col("rank").cast(DoubleType) + lit(1.0))).as("g"))
      .agg(sum("g").as("dcg"))
    val idcg = ideal
      .select(((lit(k + 1) - col("rank")).cast(DoubleType) /
        log2(col("rank").cast(DoubleType) + lit(1.0))).as("g"))
      .agg(sum("g").as("idcg"))
    dcg.crossJoin(idcg)
      .select(round(col("dcg") / col("idcg"), 6).as(s"ndcg_at_$k"))
  }

  /** Embedding near-dup candidate pairs: SRP band self-join + exact
    * cosine verification. The banding bounds the quadratic rescore step;
    * the caller applies a threshold or takes the top pairs.
    *
    * Band width is the SCALE control: a band's bucket space is
    * 2^(64/numBands), and expected bucket load is N / bucket-space — so
    * 8 bands (8-bit values, 256 buckets) saturate around N ≈ 10⁴ and
    * every bucket goes quadratic (the sf1 rehearsal measured 18× on a
    * 10× corpus). The default is now 4×16-bit bands: 65 536 buckets per
    * band, pigeonhole-guaranteed recall for hamming ≤ 3 (the 0.99-cosine
    * operating point sits at expected hamming ≈ 64·acos(.99)/π ≈ 3), and
    * planted identical twins (hamming 0) are always found. Corpora
    * beyond ~10⁶ vectors should widen the sketch (two seeded 64-bit
    * words → 8×16-bit bands) rather than narrow the bands. */
  def nearDupPairs(emb: DataFrame, numBands: Int = 4): DataFrame = {
    // band self-join ships only (vec_id, band_idx, band_val) triples —
    // never the embedding payload (which would be duplicated 2×numBands
    // through the exchange); payloads join back per candidate id for the
    // exact-cosine verify, mirroring Dedup.verifiedJaccard.
    // localCheckpoint: the band triples feed BOTH sides of the
    // self-join — without materialization the sketch projection runs
    // twice and, worse, AQE's per-side re-planning can lose the
    // exchange reuse and flip the join strategy run to run (the
    // measured 5-20x swings between otherwise identical bench runs);
    // a materialized 3-column frame pins both. Bounded: 24 B × rows ×
    // numBands.
    val b = sketched(emb)
      .select(col("vec_id"), bandCols(col("sketch"), numBands).as("b"))
      .select(col("vec_id"), col("b.band_idx"), col("b.band_val"))
      .localCheckpoint()
    val x = b.as("x"); val y = b.as("y")
    val pairs = x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    pairs
      .join(vecs.select(col("vec_id").as("v1"), col("embedding").as("e1")), "v1")
      .join(vecs.select(col("vec_id").as("v2"), col("embedding").as("e2")), "v2")
      .select(col("v1"), col("v2"), VectorOps.cosine(col("e1"), col("e2")).as("cosine"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus with the IVF coarse quantizer, then emit every WITHIN-cluster
    * pair with exact cosine ≥ `tau`. Returns (v1 < v2, cosine).
    *
    * Plan shape (the 100 TB path): centroid table → driver artifact →
    * shuffle-free argmax-cosine assignment in the scan stage
    * ([[ivfAssignKernel]]), then ONE exchange — the [[cellPairs]] task
    * groupBy that co-locates each cluster (sliced into bounded-buffer
    * triangle tasks when a cell exceeds the kernel threshold) — and the
    * bucket-local pairs kernel enumerates pairs in-memory (only passing
    * pairs materialize, so no C(n,2) straggler task — the lesson the
    * simhash operator learned at sf1). A declarative self-join on cell
    * would ship the corpus twice and pay ~150 ns of row machinery per
    * CANDIDATE pair; the kernel pays ~dim ns per pair and nothing per
    * non-candidate.
    *
    * Semantics note: like SemDeDup itself, pair recall is cluster-local —
    * a near-dup pair split across clusters is missed by design (the
    * paper's trade for tractability at web scale). Identical-DIRECTION
    * duplicates are provably co-clustered (cosine is scale-invariant and
    * assignment ties break deterministically), which is what the planted
    * oracle gate certifies end-to-end. Production pipelines train the
    * quantizer on a sample at ingest (kmeansCentroids / Ingest.scala);
    * the seed-centroid form here keeps the verify corpus parameter-free. */
  def semDedupPairs(emb: DataFrame, tau: Double, nCells: Int): DataFrame =
    cellPairs(ivfAssignKernel(emb, ivfCentroids(emb, nCells)), tau)

  /** Within-cell pair enumeration with BOUNDED aggregation buffers — the
    * shared engine of [[semDedupPairs]] and the stored-index twin
    * (Ingest.semDedupPairsStored). Input: (vec_id, embedding, cell).
    *
    * The naive shape, `groupBy(cell).agg(collect_list(payload))`,
    * buffers an entire cell in ONE aggregation row before any kernel
    * runs — ~97 MB for an average √N cell at N=10⁹/dim=768, unbounded
    * for the skewed mega-cluster SemDeDup exists to catch (VERDICT r5/r6).
    * So cells above `maxCellRows` take a TRIANGLE-BLOCKED decomposition
    * (the classic bounded-memory all-pairs grid):
    *
    *  - rows hash (by vec_id) into k = ⌈n/maxCellRows⌉ slices;
    *  - each unordered slice pair (p ≤ q) is one task; a row in slice s
    *    joins every task with p == s or q == s (k tasks per row);
    *  - a task buffers ≤ 2·maxCellRows rows BY CONSTRUCTION, and the
    *    side-aware kernel ([[graft.functions.VectorSketchOps
    *    .cosinePairsCross]]) emits cross-side pairs only, so each
    *    within-cell pair appears in exactly one task — the union is
    *    EXACTLY the unsplit enumeration, bit-for-bit, no dedup pass.
    *
    * Cost honesty: within-cell all-pairs is inherently O(n²) compare
    * work; blocking keeps the total at ~2× the unsplit count while
    * spreading it over k(k+1)/2 reducers, and ships each row k times
    * (the standard grid-join replication — raise `maxCellRows` to trade
    * per-task memory for replication). Cold cells (k = 1) run the
    * historical single-task path unchanged. A cell needing more than
    * `maxSlices` slices fails loudly: at that occupancy the clustering
    * is degenerate and the honest fix is upstream (exact-dedup first,
    * more cells, retrained centroids), not a 10⁶-task quadratic grind. */
  def cellPairs(assigned: DataFrame, tau: Double,
      maxCellRows: Int = graft.functions.VectorSketchOps.MaxClusterEntries,
      maxSlices: Int = 1024): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    // the hot list is bounded (≤ N/maxCellRows entries), so collect it
    // ONCE and re-broadcast as a literal relation — leaving it lazy
    // would recompute the occupancy aggregate (and the assignment
    // lineage beneath it) a second time inside the join
    val hotRows = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellRows)
      .select(col("cell").cast(LongType),
        ceil(col("n").cast(DoubleType) / maxCellRows).cast(IntegerType).as("k"))
      .collect()
    hotRows.find(_.getInt(1) > maxSlices).foreach { r =>
      throw new IllegalStateException(
        s"cellPairs: cell ${r.get(0)} needs ${r.getInt(1)} slices " +
          s"(> $maxSlices) — degenerate clustering. Run exact dedup " +
          "first, raise the cell count, or retrain centroids.")
    }
    if (hotRows.nonEmpty) // observable engagement (skew rehearsal greps this)
      System.err.println(s"[graft] cellPairs guard engaged: ${hotRows.length} hot " +
        s"cell(s), worst split into ${hotRows.map(_.getInt(1)).max} slices")
    val hot = hotRows.map(r => (r.getLong(0), r.getInt(1))).toSeq
      .toDF("cell", "k")
      .withColumn("cell", col("cell").cast(assigned.schema("cell").dataType))
    val sliced = assigned.join(broadcast(hot), Seq("cell"), "left")
      .withColumn("k", coalesce(col("k"), lit(1)))
      .withColumn("slice", pmod(xxhash64(col("vec_id")), col("k")).cast(IntegerType))
    val tasks = sliced
      .withColumn("j", explode(sequence(lit(0), col("k") - 1)))
      .select(col("cell"),
        least(col("slice"), col("j")).as("p"),
        greatest(col("slice"), col("j")).as("q"),
        struct(col("vec_id"), col("embedding"),
          when(col("slice") <= col("j"), lit(0)).otherwise(lit(1)).as("side"))
          .as("entry"))
    tasks.groupBy("cell", "p", "q")
      .agg(collect_list(col("entry")).as("entries"))
      .select(explode(VectorOps.cosinePairsCross(col("entries"), lit(tau))).as("pr"))
      .select(col("pr.v1").as("v1"), col("pr.v2").as("v2"),
        col("pr.cosine").as("cosine"))
  }

  /** SemDeDup survivor set under the keep-first policy: drop every vector
    * that has a semantic duplicate with a SMALLER vec_id (v2 of some
    * pair), keep everything else — one representative per duplicate
    * group, deterministic, and expressible as a brute-force oracle.
    * The anti-join's build side is the dup list (small by construction —
    * bounded by the true dup count), so at scale this broadcasts. */
  def semDedupSurvivors(emb: DataFrame, tau: Double, nCells: Int): DataFrame = {
    val dropped = semDedupPairs(emb, tau, nCells)
      .select(col("v2").as("vec_id")).distinct()
    emb.select("vec_id").join(broadcast(dropped), Seq("vec_id"), "left_anti")
  }

  // --- MMR diversified reranking ----------------------------------------

  /** Rerank-pool size, selection size, and λ (×10) of the MMR gate. */
  val MmrPoolN: Int = 16
  val MmrK: Int = 5
  val MmrLambdaX10: Long = 7L

  /** Cosine quantized to integer micro-units — the lmScore determinism
    * rule on the similarity axis: one exact-input double, one rounding,
    * then all downstream arithmetic (weighting, penalties, argmax) is
    * integer and order-independent. */
  private[graft] def cosMicro(a: Column, b: Column): Column =
    round(VectorOps.cosine(a, b) * lit(1e6)).cast(org.apache.spark.sql.types.LongType)

  /** Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    * SIGIR'98): greedily select k results trading relevance against
    * redundancy — pick argmax of λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).
    * The pure-relevance top-k around a dense topic returns k
    * paraphrases; MMR is the standard diversification a retrieval stack
    * runs between candidate generation and the consumer.
    *
    * Shape at 100 TB: candidate generation is the only corpus-touching
    * phase (here brute-force cosine; the stored IVF serve produces the
    * same (vec_id, rel) frame) and everything after is bounded by the
    * POOL — n candidates, n·(n−1) pairwise sims, k greedy steps. The
    * greedy recurrence is inherently sequential, so each step is one
    * tiny job over broadcast-scale frames (pool and selection are
    * localCheckpointed: step i's plan reads materialized step i−1, not
    * a 3^k-branch lineage). Arithmetic is integer micro-cosine with
    * λ = 0.7 as the exact weights (7, 3) — no float accumulation, ties
    * break on vec_id, so the DuckDB oracle replays the whole greedy
    * unrolled. */
  def mmrRerank(emb: DataFrame, n: Int = MmrPoolN, k: Int = MmrK): DataFrame = {
    mmrRerankPool(
      emb.crossJoin(broadcast(queryRow(emb)))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("vec_id"), col("embedding"),
          cosMicro(col("embedding"), col("q_emb")).as("rel6"))
        .orderBy(desc("rel6"), asc("vec_id")).limit(n),
      k)
  }

  /** The greedy MMR selection over ANY (vec_id, embedding, rel6)
    * candidate pool — brute-force cosine above, or the stored IVF
    * index's serve frame ([[graft.operators.Ingest]]'s composition
    * gate), which is the production shape: index-backed candidate
    * generation, bounded diversified rerank. */
  def mmrRerankPool(pool0: DataFrame, k: Int = MmrK): DataFrame = {
    // The pool is BOUNDED by construction (top-n candidate generation,
    // n = MmrPoolN) — the n·(n−1) pairwise sims and the k-step greedy
    // recurrence are model-artifact-sized, so they run driver-side off
    // ONE collect of the pool (optimization guide §1.2: the r14 form
    // paid ~7 eager checkpoint jobs — pool, sims, one per greedy step —
    // all over ≤16 rows; measured 1.7–3.6 s of pure job overhead at
    // sf0.1). Arithmetic is replicated exactly: the cosine loop mirrors
    // VectorSketchOps.cosine (float→double per element, dot/na/nb
    // accumulation order), micro-rounding mirrors Spark's round()
    // (BigDecimal HALF_UP — math.round would differ on negative
    // cosines), and everything downstream is the same integer (7, 3)
    // weighting with vec_id tie-breaks, so the served rows are
    // bit-identical to the r14 distributed unroll (same DuckDB oracle).
    val spark = pool0.sparkSession
    val rows = pool0.select(col("vec_id"), col("embedding"), col("rel6"))
      .collect()
    val n = rows.length
    val ids = Array.tabulate(n)(i => rows(i).getLong(0))
    val embs = Array.tabulate(n)(i => rows(i).getSeq[Float](1).toArray)
    val rel6 = Array.tabulate(n)(i => rows(i).getLong(2))
    def cosMicroLocal(a: Array[Float], b: Array[Float]): Long = {
      require(a.length == b.length,
        s"cosine: dimension mismatch (${a.length} vs ${b.length})")
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      java.math.BigDecimal.valueOf(c * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }
    val lam = MmrLambdaX10
    val lam1 = 10L - MmrLambdaX10
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Long)]
    val pickedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (step <- 1 to math.min(k, n)) {
      var best = -1
      var bestMmr = Long.MinValue
      var i = 0
      while (i < n) {
        if (!pickedIdx.contains(i)) {
          val mmr6 =
            if (step == 1) lam * rel6(i)
            else {
              var maxSim = Long.MinValue
              pickedIdx.foreach { j =>
                val s6 = cosMicroLocal(embs(i), embs(j))
                if (s6 > maxSim) maxSim = s6
              }
              lam * rel6(i) - lam1 * maxSim
            }
          if (mmr6 > bestMmr || (mmr6 == bestMmr && best >= 0 && ids(i) < ids(best))) {
            best = i; bestMmr = mmr6
          }
        }
        i += 1
      }
      if (best >= 0) {
        picked += ((ids(best), rel6(best), step, bestMmr))
        pickedIdx += best
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rel6",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pick",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr6",
        org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      picked.toSeq.map(p =>
        org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)).asJava, schema)
      .orderBy("pick")
  }

  // --- product quantization (PQ) ---------------------------------------

  /** Train PQ codebooks: per-sub-space L2 k-means (classic PQ, Jégou et
    * al. 2011) with the same deterministic machinery as
    * [[kmeansCentroids]] — lowest-id seeding, fixed Lloyd iterations,
    * lowest-index tie-break, empty cells keep their previous centroid,
    * lineage truncated per iteration. Returns the flat codebook
    * (`(mi*K + ki)*sub + d` layout) plus (dim, sub).
    *
    * The collect is the MODEL artifact (M×K×sub floats — 4 KB at
    * dim=64): like the LM tables and the stored IVF centroids, a
    * production pipeline trains once on a sample and ships the codebook
    * to every encode/probe job. */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 256,
      iters: Int = 1, sampleCap: Int = 1024): (Array[Float], Int, Int) =
    graft.BuildTimer.time {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val sub = dim / m
    require(m * sub == dim, s"pq: dim=$dim not divisible by m=$m")
    // Standard PQ practice (and the 100 TB posture): the quantizer is
    // trained on a bounded sample — assignment quality, not training-set
    // size, drives recall — so the Lloyd join is sampleCap×K rows per
    // sub-space regardless of corpus size. Deterministic lowest-id
    // sample; at production scale the codebook is trained once at
    // ingest and STORED, like the IVF centroids and the LM tables.
    val train = emb.orderBy("vec_id").limit(sampleCap)
    // (vec_id, mi, sv): one row per vector per sub-space — narrow slice,
    // no shuffle until the assignment groupBy.
    val subvecs = train.select(col("vec_id"),
        explode(array((0 until m).map(mi =>
          struct(lit(mi).as("mi"),
            slice(col("embedding"), mi * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.mi").as("mi"), col("e.sv").as("sv"))
    // seeds: the K lowest vec_ids' sub-vectors (the window runs over the
    // K-row limited frame, not the corpus)
    val seeds = broadcast(train.orderBy("vec_id").limit(k)
      .select(col("vec_id"))
      .withColumn("ki", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1))
    var codebook = subvecs.join(seeds, "vec_id")
      .select(col("mi"), col("ki"), col("sv").as("cvec"))
    var it = 0
    while (it < iters) {
      val assigned = subvecs.join(broadcast(codebook), "mi")
        .select(col("vec_id"), col("mi"), col("ki"), col("sv"),
          VectorOps.l2sq(col("sv"), col("cvec")).as("d2"))
        .groupBy("vec_id", "mi")
        .agg(min_by(struct(col("ki"), col("sv")),
          struct(col("d2"), col("ki"))).as("best"))
        .select(col("mi"), col("best.ki").as("ki"), col("best.sv").as("sv"))
      val means = assigned
        .select(col("mi"), col("ki"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("mi", "ki", "pos")
        .agg(avg(col("v")).as("mn"))
        .groupBy("mi", "ki")
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"))
        .select(col("mi"), col("ki"),
          expr("transform(pm, x -> CAST(x.mn AS FLOAT))").as("cvec"))
      codebook = codebook.select(col("mi"), col("ki"), col("cvec").as("old"))
        .join(means.select(col("mi"), col("ki"), col("cvec").as("new")),
          Seq("mi", "ki"), "left")
        .select(col("mi"), col("ki"), coalesce(col("new"), col("old")).as("cvec"))
      // truncate lineage only when another iteration will build on it —
      // the final iteration flows straight into the collect (one job)
      if (it < iters - 1) codebook = codebook.localCheckpoint()
      it += 1
    }
    val flat = new Array[Float](m * k * sub)
    val rows = codebook.collect()
    rows.foreach { r =>
      val base = (r.getAs[Int]("mi") * k + r.getAs[Int]("ki")) * sub
      val cv = r.getSeq[Float](2)
      var d = 0
      while (d < sub) { flat(base + d) = cv(d); d += 1 }
    }
    // a sample smaller than k seeds only the first n entries; replicate
    // them into the unseeded tail instead of leaving phantom ZERO
    // centroids (a sub-vector near the origin would otherwise encode to
    // a phantom whose ADC dot/norm are 0, silently sinking its vector
    // to the bottom of the ranking). Duplicated centroids are harmless:
    // encode's strict-< tie-break never selects the copy.
    val nSeeded = if (rows.isEmpty) 0 else rows.map(_.getAs[Int]("ki")).max + 1
    require(nSeeded > 0, "pq: empty training sample")
    var mi = 0
    while (mi < m) {
      var ki = nSeeded
      while (ki < k) {
        val src = (mi * k + (ki % nSeeded)) * sub
        val dst = (mi * k + ki) * sub
        System.arraycopy(flat, src, flat, dst, sub)
        ki += 1
      }
      mi += 1
    }
    (flat, dim, sub)
  }

  /** PQ ANN top-k: 8-byte packed codes ranked by asymmetric distance
    * (ADC — per-sub-space dot/norm table lookups against the probe),
    * top `expand`×k candidates exact-rescored. The serving shape at
    * 100 TB: the ADC ranking pass reads ONLY the stored code column
    * (8 B/vector — 32× less I/O than the dim=64 payload, 384× at
    * dim=768), plans as TakeOrderedAndProject, and the embedding
    * payload joins back for the bounded rescore set alone. Encode is a
    * narrow codegen kernel in the scan stage (functions/PqOps.scala);
    * at scale it runs once at ingest and the codes are stored. */
  def pqTopK(emb: DataFrame, k: Int, expand: Int = 20,
      m: Int = 8, kCent: Int = 256, iters: Int = 1): DataFrame = {
    val (cb, dim, _) = pqTrain(emb, m, kCent, iters)
    val (qid, dot, nrm) = adcTables(emb, cb, dim, m, kCent)
    val coded = emb.select(col("vec_id"),
      graft.functions.PqOps.encode(col("embedding"), cb, m, kCent).as("code"))
    pqRescore(emb, pqRank(coded, qid, dot, nrm, m, kCent, expand * k), k)
  }

  /** Driver-built ADC lookup tables for the (single, bounded) probe
    * vector: dot[mi][ki] = q_sub·c and nrm[mi][ki] = |c|². Returns the
    * probe id alongside so rankers can exclude it. */
  /** ADC tables for the default probe row ([[queryRow]]). */
  private[graft] def adcTables(emb: DataFrame, cb: Array[Float],
      dim: Int, m: Int, kCent: Int): (Long, Array[Double], Array[Double]) =
    // the same probe row every other top-k path uses — reusing queryRow
    // keeps the id pqRank excludes and the vector pqRescore scores
    // against from ever diverging
    adcTablesFor(queryRow(emb), cb, dim, m, kCent)

  /** ADC tables for an EXPLICIT (q_id, q_emb) probe frame — the append
    * paths probe with a non-minimum query row. */
  private[graft] def adcTablesFor(q: DataFrame, cb: Array[Float],
      dim: Int, m: Int, kCent: Int): (Long, Array[Double], Array[Double]) = {
    val qr = q.select(col("q_id"), col("q_emb")).head()
    val (dot, nrm) =
      adcTablesRaw(qr.getSeq[Float](1).toArray, cb, dim, m, kCent)
    (qr.getLong(0), dot, nrm)
  }

  /** ADC tables from a raw probe vector — the per-query building block
    * of the batched IVF-PQ kNN (one table pair per query in the
    * broadcast batch). */
  private[graft] def adcTablesRaw(qv: Array[Float], cb: Array[Float],
      dim: Int, m: Int, kCent: Int): (Array[Double], Array[Double]) = {
    val sub = dim / m
    require(qv.length == dim, s"probe dim ${qv.length} != corpus dim $dim")
    val dot = new Array[Double](m * kCent)
    val nrm = new Array[Double](m * kCent)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < kCent) {
        val base = (mi * kCent + ki) * sub
        var sDot = 0.0; var sNrm = 0.0
        var d = 0
        while (d < sub) {
          val c = cb(base + d).toDouble
          sDot += qv(mi * sub + d).toDouble * c
          sNrm += c * c
          d += 1
        }
        dot(mi * kCent + ki) = sDot
        nrm(mi * kCent + ki) = sNrm
        ki += 1
      }
      mi += 1
    }
    (dot, nrm)
  }

  /** ADC candidate ranking over a (vec_id, code) frame — the pass that
    * reads ONLY 16 B/row (stored codes on the warm path), planned as
    * TakeOrderedAndProject. */
  private[graft] def pqRank(coded: DataFrame, qid: Long,
      dot: Array[Double], nrm: Array[Double], m: Int, kCent: Int,
      limit: Int): DataFrame =
    coded.filter(col("vec_id") =!= lit(qid))
      .select(col("vec_id"),
        graft.functions.PqOps.adc(col("code"), dot, nrm, m, kCent).as("adc"))
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(limit)

  /** Exact-cosine rescore of a bounded candidate id set: the embedding
    * payload is touched only here. */
  private[graft] def pqRescore(emb: DataFrame, cand: DataFrame,
      k: Int): DataFrame =
    pqRescoreFor(emb, cand, k, queryRow(emb))

  /** Rescore against an EXPLICIT probe frame (see [[adcTablesFor]]). */
  private[graft] def pqRescoreFor(emb: DataFrame, cand: DataFrame,
      k: Int, q: DataFrame): DataFrame =
    cand
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        VectorOps.cosine(col("embedding"), col("q_emb")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
}
