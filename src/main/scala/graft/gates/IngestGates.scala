package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.{documents, embeddings}
import graft.operators.Ingest._
import graft.operators._

/** The gates over [[graft.operators.Ingest]]: one `Gate` row each. */
object IngestGates {

  /** The hybrid evaluation suite's two lists — fused (RRF over dense ⊕
    * batched stored-index BM25) and dense ideal — shared by the nDCG
    * and MRR gates so both metrics always judge the SAME ranking.
    * dense: q_id = probe vec_id through the kNN join (self-exclusion
    * stays vec_id ≠ probe), relabeled 1..8 by vec_id rank to align with
    * the sparse q_ids (an 8-row window); checkpointed — three consumers
    * (fusion + relevance + idcg/rel-set). */
  private def hybridRankedLists(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val emb = embeddings(s, dir)
    // bounded probe batch → literal relation (collected once per app):
    // qmap's window and every broadcast referencing the probes otherwise
    // re-evaluate the TakeOrdered corpus subplan per consumer
    val probes = Similarity.localizedQueryBatch(
      emb.orderBy("vec_id").limit(NdcgBatchProbes)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val qmap = probes.select(col("q_id"),
      row_number().over(Window.orderBy("q_id")).cast(LongType).as("eq"))
    // the dense (exact kNN) and sparse (stored-index BM25) arms are
    // independent — construct AND materialize each on a pool thread
    // (guide §2.6; BuildTimer interval-union + buildGate make the
    // sparse arm's ensureTermIndex concurrent-safe, optimization r16)
    val Seq(dense, sparse) = graft.Par.run(s.sparkContext, Seq(
      () => Similarity.knnJoin(emb, probes, NdcgBatchK)
        .join(broadcast(qmap), "q_id")
        .select(col("eq").as("q_id"), col("vec_id").as("id"),
          col("rnk").as("rank")).localCheckpoint(),
      () => bm25TopKBatch(s, dir,
          NdcgBatchTerms.toDF("q_id", "term"), NdcgBatchK)
        .select(col("q_id"), col("doc_id").as("id"), col("rnk").as("rank"))
        .localCheckpoint()))
    val ranked = Similarity.rrfFuseBatch(Seq(dense, sparse), NdcgBatchK)
      .select("q_id", "id", "rank")
    (ranked, dense)
  }

  /** q_id-keyed BM25 oracle CTE chain (q → toks → tf → stats → qtf →
    * dfreq → scored), parameterized by the probe term list so the
    * VALUES block is GENERATED from the same Scala constant the Spark
    * side consumes — one string, two gates (q_bm25_batch /
    * q_ndcg_batch; the Bm25CtesSql rule), and no hand-copied term list
    * that could drift. */
  private def bm25BatchCtesSql(ts: Seq[(Long, String)]): String =
    s"""q AS (
      |  SELECT CAST(q_id AS BIGINT) AS q_id, term FROM (VALUES
      |    ${ts.map { case (q, t) => s"($q,'$t')" }.mkString(",")}) t(q_id, term)),
      |toks AS (
      |  SELECT doc_id,
      |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      |       WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS dl_total FROM toks),
      |qtf AS (SELECT q.q_id, tf.doc_id, tf.term, tf.tf, tf.dl
      |        FROM q JOIN tf USING (term)),
      |dfreq AS (SELECT q_id, term, count(*) AS df FROM qtf GROUP BY 1, 2),
      |scored AS (
      |  SELECT q_id, doc_id, round(sum(s), 6) AS score FROM (
      |    SELECT qtf.q_id, qtf.doc_id,
      |           ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
      |           (qtf.tf * (1.2 + 1.0)) /
      |           (qtf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * qtf.dl /
      |              (CAST(stats.dl_total AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)))) AS s
      |    FROM qtf JOIN dfreq d USING (q_id, term), stats)
      |  GROUP BY 1, 2)""".stripMargin

  /** The full hybrid-retrieval ranking replay (sparse BM25 top-k +
    * dense exact-kNN top-k + RRF fusion) for the batched evaluation
    * gates — ONE generated chain ending in `dense` (the ideal list) and
    * `ranked` (the fused list), shared by q_ndcg_batch and q_mrr_batch
    * so the two metrics can never disagree about what was ranked. */
  private def hybridRankedCtesSql: String =
    s"""${bm25BatchCtesSql(NdcgBatchTerms)},
      |sparse AS (
      |  SELECT q_id, doc_id AS id,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY score DESC, doc_id) AS rank
      |  FROM scored QUALIFY rank <= $NdcgBatchK),
      |probes AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS eq,
      |         vec_id, embedding
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        ORDER BY vec_id LIMIT $NdcgBatchProbes)),
      |dense AS (
      |  SELECT q_id, id, rank FROM (
      |    SELECT p.eq AS q_id, e.vec_id AS id,
      |           row_number() OVER (PARTITION BY p.eq ORDER BY
      |             round(list_cosine_similarity(e.embedding, p.embedding), 6) DESC,
      |             e.vec_id) AS rank
      |    FROM embeddings e, probes p WHERE e.vec_id <> p.vec_id)
      |  WHERE rank <= $NdcgBatchK),
      |fused AS (
      |  SELECT q_id, id,
      |         CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank) AS contrib
      |  FROM dense
      |  UNION ALL
      |  SELECT q_id, id,
      |         CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank) AS contrib
      |  FROM sparse),
      |ranked AS (
      |  SELECT q_id, id,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY rrf DESC, id) AS rank
      |  FROM (SELECT q_id, id, round(sum(contrib), 6) AS rrf
      |        FROM fused GROUP BY 1, 2)
      |  QUALIFY rank <= $NdcgBatchK)""".stripMargin

  /** Expected dense/quantized fingerprint row count: |Q|·k where
    * |Q| = min(probe cap, retracted docs that have embeddings) — derived
    * on the oracle side so a smaller SF (or a changed ForgetMod) shrinks
    * the expectation with the fixture instead of reddening the gate on a
    * stale literal. Full k=10 survivor backfill per probe stays pinned
    * deliberately: an under-filled top-k after masking IS a bug. */
  private val TakedownDenseRowsSql: String =
    s"""CAST((SELECT LEAST($TakedownDenseProbes, count(*)) * 10
       |       FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |       WHERE d.doc_id % $ForgetMod = $ForgetRem) AS BIGINT)""".stripMargin

  /** The composed-takedown oracle: every verifiable axis's fingerprint
    * computed FROM the per-axis reduced-corpus replay strings shared as
    * subqueries (one formula per axis, two gates each); the dense /
    * quantized axes pin the canary outcome (|Q|·k survivors, zero
    * retracted ids served) — the Spark side measures both for real. */
  private val TakedownE2eOracleSql: String =
    s"""SELECT 'bm25' AS axis, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS key_sum,
       |       CAST(coalesce(sum(CAST(round(score * 1e6) AS BIGINT)), 0) AS BIGINT) AS val_sum
       |FROM (${TextAnalysisGates.bm25Oracle(Corpus.Reduced)})
       |UNION ALL
       |SELECT 'cms', CAST(count(*) AS BIGINT),
       |       CAST(0 AS BIGINT),
       |       CAST(coalesce(sum(tf_est), 0) AS BIGINT)
       |FROM (${Lifecycle.Cms.oracle(Corpus.Reduced)})
       |UNION ALL
       |SELECT 'dense', $TakedownDenseRowsSql, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT 'media', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(keep_id), 0) AS BIGINT),
       |       CAST(coalesce(sum(id_sum), 0) AS BIGINT)
       |FROM (${MultimodalGates.imageDedupOracle(
      s" AND NOT (doc_id % $ForgetMod = $ForgetRem)")})
       |UNION ALL
       |SELECT 'model', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(bucket), 0) AS BIGINT),
       |       CAST(coalesce(sum(w_micro), 0) AS BIGINT)
       |FROM (${CurationGates.nbRetractedModelOracleSql})
       |UNION ALL
       |SELECT 'phrase', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(phrase_id * 1000000 + doc_id), 0) AS BIGINT),
       |       CAST(coalesce(sum(n_hits), 0) AS BIGINT)
       |FROM (${Lifecycle.Phrase.oracle(Corpus.Reduced)})
       |UNION ALL
       |SELECT 'quantized_pq', $TakedownDenseRowsSql, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT 'quantized_sq', $TakedownDenseRowsSql, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT 'sketch', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(doc1 + doc2), 0) AS BIGINT),
       |       CAST(coalesce(sum(CAST(round(jaccard * 1e6) AS BIGINT)), 0) AS BIGINT)
       |FROM (${DedupGates.nearDupOracle(Corpus.Reduced)})
       |ORDER BY axis""".stripMargin

  /** The policy gate's oracle: BOTH arms must serve the identical
    * reduced-corpus ranking (one shared CTE block — the q_bm25_purge
    * convention extended to the trigger), and the pinned booleans are
    * the policy decision itself: 'mask' must come from the sub-θ arm,
    * 'purge' from the tripped one. */
  private val Bm25PolicyOracleSql: String =
    s"""WITH ${Corpus.over(TextAnalysisGates.Bm25CtesSql, ")", Corpus.Reduced)},
       |res AS (SELECT doc_id, score FROM bm)
       |SELECT arm, purged_serving, doc_id, score
       |FROM res CROSS JOIN (VALUES ('mask', FALSE), ('purge', TRUE))
       |  AS arms(arm, purged_serving)
       |ORDER BY arm, score DESC, doc_id""".stripMargin

  /** Number of probes in the batched evaluation gate. */
  private val NdcgBatchProbes: Int = 8

  /** Evaluation depth of the batched-nDCG gate — interpolated into BOTH
    * the Spark chain and the oracle SQL (generate-from-constants rule:
    * tuning the depth may not silently desynchronize the two sides). */
  private val NdcgBatchK: Int = 10

  val all: Seq[Gate] = Seq(
    // the ingest step itself: materialize both stored layouts, report
    // row counts (oracle-checked). In the sorted bench order this runs
    // before the *_stored queries, so they measure the WARM path.
    // ivf_assign = corpus + the 8 planted canary rows (see TwinOffset)
    Gate("q_ingest_sketches",
      """SELECT 'docs_sketched' AS stored_table, count(*) AS n_rows FROM documents
        |UNION ALL
        |SELECT 'ivf_assign', count(*) + 8 FROM embeddings
        |ORDER BY stored_table""".stripMargin,
      (s, dir) => {
        import s.implicits._
        val nDocs = ensureSketchedDocs(s, dir).count()
        val nVecs = ensureIvfIndex(s, dir)._2.count()
        Seq(("docs_sketched", nDocs), ("ivf_assign", nVecs))
          .toDF("stored_table", "n_rows")
          .orderBy("stored_table")
      }),

    // TIME TRAVEL / snapshot isolation made observable: the compacted
    // gen2 (base ∪ append) is FORCED to exist first, then the query
    // serves the ORIGINAL generation and must still hash-match the
    // plain base-corpus oracle (shared verbatim with q_bm25_topk_stored)
    // — later generations never leak into an older snapshot's serve, so
    // a reader pinned to gen1 reproduces its results forever (the
    // reproducibility contract a training run depends on).
    Gate("q_bm25_asof", TextAnalysisGates.bm25Oracle(Corpus.Base), (s, dir) => {
      termServed(s, dir, DocGen.Compacted) // gen2 committed before the gen1 read
      bm25TopKStored(s, dir, Seq("table", "scan", "join"), 10)
    }),

    // the tombstone-fraction PURGE TRIGGER, both arms in one gate: the
    // fixture's dead fraction is 1/13 ≈ 7.7%, so θ=0.5 must keep the
    // masked snapshot and θ=0.02 must trip the generation rewrite. The
    // two arms share one reduced-corpus oracle (serving equivalence),
    // and the purged_serving booleans — pinned FALSE for the mask arm,
    // TRUE for the purge arm — are the decision itself, so a policy
    // that never fires (or always fires) goes red even though both
    // serving paths agree on rows.
    Gate("q_forget_policy", Bm25PolicyOracleSql, (s, dir) => {
      val terms = Seq("table", "scan", "join")
      def policy(theta: Double) =
        bm25PolicyServed(s, dir, Tombstones.Stored, terms, 10, theta)
      val (lo, loPurged) = policy(0.5)
      val (hi, hiPurged) = policy(0.02)
      lo.withColumn("arm", lit("mask"))
        .withColumn("purged_serving", lit(loPurged))
        .unionByName(hi.withColumn("arm", lit("purge"))
          .withColumn("purged_serving", lit(hiPurged)))
        .select("arm", "purged_serving", "doc_id", "score")
        .orderBy(col("arm"), desc("score"), col("doc_id"))
    }),

    // ONE takedown request propagated through EVERY serving axis at
    // once (bm25, phrase, dense, quantized ×2, sketch, stats) — the
    // deletion sibling of the three e2e pipelines; per-axis fingerprint
    // rows share the per-axis reduced-corpus replays as subqueries
    Gate("q_takedown_e2e", TakedownE2eOracleSql, (s, dir) => takedownE2e(s, dir)),

    // span-level ADMISSION against the stored block index: 50 probes,
    // each = the first 10 tokens of a stored doc (its stored block 0 —
    // must be DROPPED) + 10 novel tokens (must SURVIVE); probes whose
    // source doc has <10 tokens form a mixed first block that matches
    // nothing and survives whole — deterministic either way, and the
    // oracle replays the same construction.
    // brute-force twin of ensureBlockIndex + paragraphAdmit: corpus
    // blocks → distinct digests; probes rebuilt by the same keep-first
    // + anti-membership rules (q_dedup_paragraph's CTE shapes)
    Gate("q_dedup_paragraph_stored",
      {
        val L = Dedup.ParaBlockLen
        s"""WITH toks AS (
         |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
         |  FROM documents),
         |cb AS (
         |  SELECT unnest(list_transform(range(CAST((len(t) + ${L - 1}) // $L AS INT)),
         |         i -> array_to_string(t[i*$L+1:i*$L+$L], ' '))) AS blk
         |  FROM toks),
         |stored AS (SELECT DISTINCT substr(md5(blk), 1, 16) AS w FROM cb),
         |probe AS (
         |  SELECT doc_id + 10000000 AS doc_id,
         |         array_to_string(t[1:$L], ' ') || ' ' ||
         |         array_to_string(list_transform(range(1, ${L + 1}),
         |           i -> 'nv' || (doc_id + 10000000) || 'x' || i), ' ') AS text
         |  FROM toks
         |  WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 50)),
         |pbase AS (
         |  SELECT doc_id,
         |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t,
         |         CAST((len(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) + ${L - 1}) // $L AS INT) AS nb
         |  FROM probe),
         |pblocks AS (
         |  SELECT doc_id, unnest(range(nb)) AS pos,
         |         unnest(list_transform(range(nb),
         |                i -> array_to_string(t[i*$L+1:i*$L+$L], ' '))) AS blk
         |  FROM pbase),
         |kept AS (
         |  SELECT f.doc_id AS doc_id, f.pos AS pos, blk FROM (
         |    SELECT min(struct_pack(doc_id := doc_id, pos := pos)) AS f, blk
         |    FROM pblocks GROUP BY blk)
         |  WHERE substr(md5(blk), 1, 16) NOT IN (SELECT w FROM stored)),
         |rebuilt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(blk, ' ' ORDER BY pos) AS admit_text
         |  FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.nb AS BIGINT) AS n_blocks,
         |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
         |       COALESCE(r.admit_text, '') AS admit_text
         |FROM pbase b LEFT JOIN rebuilt r USING (doc_id) ORDER BY b.doc_id""".stripMargin
      },
      (s, dir) => {
        val toks = graft.operators.Curation.gramToks(col("text"))
        val probes = documents(s, dir).orderBy("doc_id").limit(50)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat(
              array_join(slice(toks, 1, Dedup.ParaBlockLen), " "), lit(" "),
              // lateral column alias: this doc_id is the RE-ID'D probe id
              // from the first projection (Spark 3.4+ resolution order)
              array_join(transform(sequence(lit(1), lit(Dedup.ParaBlockLen)),
                i => concat(lit("nv"), col("doc_id").cast(StringType),
                  lit("x"), i.cast(StringType))), " ")).as("text"))
        paragraphAdmit(s, dir, probes).orderBy("doc_id")
      }),

    // batched BM25 serving: the whole 4-query probe frame (incl. one
    // term absent from the corpus — the zero-postings edge) answered in
    // ONE pass over the pruned postings; per-query top-5 via the
    // two-phase scan-pid rank.
    // batched BM25: per-query replay of the shared formula — tf/df per
    // (q_id, term), the same (N, Σdl) stats, rounded scores, per-query
    // row_number rank. q_id cast BIGINT (Spark lit(1L)); the absent
    // term 'state' matches no postings and silently contributes 0.
    Gate("q_bm25_batch",
      s"""WITH ${bm25BatchCtesSql(BatchQueryTerms)}
        |SELECT q_id, rnk, doc_id FROM (
        |  SELECT q_id, doc_id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
      (s, dir) => {
        import s.implicits._
        bm25TopKBatch(s, dir, BatchQueryTerms.toDF("q_id", "term"), 5)
          .orderBy("q_id", "rnk")
      }),

    // BATCHED retrieval evaluation (ADVICE r9 #5): mean nDCG@10 over 8
    // probes, each probe = RRF fusion of its dense (exact kNN) and
    // sparse (stored-index batched BM25) top-10 lists, evaluated
    // against the dense ideal — the q_ndcg_rrf pipeline generalized to
    // q_id-keyed frames so a whole evaluation suite runs as ONE batch
    // (one corpus pass per side) instead of |Q| single-query jobs.
    // MRR over the SAME hybrid suite (shared list construction AND
    // shared oracle CTE chain with q_ndcg_batch — the two metrics can
    // never judge different rankings).
    // batched evaluation: per-query fusion + metric + mean in ONE
    // statement — sparse = the SHARED q_id-keyed BM25 CTE chain (the
    // Bm25CtesSql rule), dense = the q_knn_join oracle's rounded
    // ranking relabeled 1..8 by probe vec_id rank, RRF and nDCG
    // arithmetic identical to q_rrf_fusion / q_ndcg_rrf, DOUBLE-cast.
    // same CTE chain as q_ndcg_batch through `ranked`/`dense`; MRR =
    // 1/min rank of a relevant hit, 0 on a miss, mean over queries.
    Gate("q_mrr_batch",
      s"""WITH $hybridRankedCtesSql,
        |hits AS (
        |  SELECT ranked.q_id, min(ranked.rank) AS first_rel
        |  FROM ranked JOIN dense USING (q_id, id) GROUP BY 1),
        |perq AS (
        |  SELECT q.q_id,
        |         round(COALESCE(CAST(1.0 AS DOUBLE) / h.first_rel,
        |                        CAST(0.0 AS DOUBLE)), 6) AS mrr
        |  FROM (SELECT DISTINCT q_id FROM dense) q
        |  LEFT JOIN hits h USING (q_id)),
        |m AS (SELECT round(avg(mrr), 6) AS mean_mrr FROM perq)
        |SELECT q_id, mrr, mean_mrr FROM perq, m ORDER BY q_id""".stripMargin,
      (s, dir) => {
        val (ranked, dense) = hybridRankedLists(s, dir)
        val perQ = Similarity.mrrBatch(ranked, dense).localCheckpoint()
        perQ.crossJoin(broadcast(
            perQ.agg(round(avg("mrr"), 6).as("mean_mrr"))))
          .orderBy("q_id")
      }),

    Gate("q_ndcg_batch",
      s"""WITH $hybridRankedCtesSql,
        |rel AS (SELECT q_id, id,
        |        CAST(${NdcgBatchK + 1} - rank AS DOUBLE) AS rel FROM dense),
        |dcg AS (
        |  SELECT ranked.q_id,
        |         sum(COALESCE(rel.rel, CAST(0.0 AS DOUBLE)) /
        |             log2(ranked.rank + 1)) AS dcg
        |  FROM ranked LEFT JOIN rel USING (q_id, id) GROUP BY 1),
        |idcg AS (
        |  SELECT q_id,
        |         sum(CAST(${NdcgBatchK + 1} - rank AS DOUBLE) / log2(rank + 1)) AS idcg
        |  FROM dense GROUP BY 1),
        |perq AS (
        |  SELECT q_id, round(dcg.dcg / idcg.idcg, 6) AS ndcg_at_$NdcgBatchK
        |  FROM dcg JOIN idcg USING (q_id)),
        |m AS (SELECT round(avg(ndcg_at_$NdcgBatchK), 6)
        |      AS mean_ndcg_at_$NdcgBatchK FROM perq)
        |SELECT q_id, ndcg_at_$NdcgBatchK, mean_ndcg_at_$NdcgBatchK FROM perq, m
        |ORDER BY q_id""".stripMargin,
      (s, dir) => {
        val (ranked, dense) = hybridRankedLists(s, dir)
        // two consumers (mean + final projection): checkpoint the 8 rows
        val perQ = Similarity.ndcgAtKBatch(ranked, dense, NdcgBatchK)
          .localCheckpoint()
        perQ.crossJoin(broadcast(
            perQ.agg(round(avg(s"ndcg_at_$NdcgBatchK"), 6)
              .as(s"mean_ndcg_at_$NdcgBatchK"))))
          .orderBy("q_id")
      }),

    // MEASURED recall at the serving paths' ACTUAL operating point (the
    // occupancy-sized ivfNumProbe default — 27% of cells at sf0.1,
    // legitimately all cells at a few hundred vectors, per its
    // docstring): 16 fixture-free queries, recall@10 vs the in-engine
    // exact top-10, gated as a >= 0.9 envelope — the accuracy half of
    // the IVF story, complementing the pinned-1.0 canary gates which
    // certify machinery but can't measure the trade (measured: 0.956 at
    // sf0.1's 12-of-45-cell probe). SimilaritySpec carries the negative
    // control: nProbe = 1 on a skewed two-cell corpus fails this
    // envelope, so the gate demonstrably discriminates.
    // envelope convention (q_hll_merge): the oracle pins the PROPERTY
    // (all 16 queries landed hits, measured recall >= 0.9); the Spark
    // side computes the measured quantity for real
    Gate("q_ivf_recall_envelope",
      "SELECT CAST(16 AS BIGINT) AS n_queries, TRUE AS recall_ge_090",
      (s, dir) =>
        ivfRecallEnvelope(s, dir, 10, nProbe = 0, 16, 0.9)),

    // the same measurement through the LOSSY code families at their
    // real defaults (probe width AND quantizer geometry AND expand·k
    // shortlist): the quantization-distortion trade the 1.0-canary
    // gates certify machinery for but cannot measure. SimilaritySpec
    // carries the discriminating negative controls — m=1 / expand=1
    // drop true neighbors and fail the envelope.
    Gate("q_ivfpq_recall_envelope",
      "SELECT CAST(16 AS BIGINT) AS n_queries, TRUE AS recall_ge_090",
      (s, dir) =>
        ivfPqRecallEnvelope(s, dir, 10, nProbe = 0, 16, 0.9)),
    Gate("q_ivfsq_recall_envelope",
      "SELECT CAST(16 AS BIGINT) AS n_queries, TRUE AS recall_ge_090",
      (s, dir) =>
        ivfSqRecallEnvelope(s, dir, 10, nProbe = 0, 16, 0.9)),

    // the QUANTIZER-BOUND regime the 0.956 envelopes never enter: a
    // coarse-m geometry where ADC-only ordering visibly loses the true
    // top-k with EVERY cell probed, and the exact rescore wins a
    // measured chunk back — so the envelope family spans both the
    // probe-bound and the quantizer-bound constraint (r13 verdict #8)
    Gate("q_pq_distortion_envelope",
      "SELECT CAST(16 AS BIGINT) AS n_queries, TRUE AS adc_lossy, TRUE AS rescore_recovers",
      (s, dir) =>
        pqDistortionEnvelope(s, dir)),

    // warm-path IVF-PQ: both prunings composed (DPP cell pruning + ADC
    // over stored codes) plus the bounded rescore, certified by the
    // single-query canary: the canary's code is the query's own code
    // (ADC rank ≈ top), it sits in the first-probed cell, and exact
    // rescore scores it 1.0 — losing it anywhere flips the gate.
    Gate("q_ivfpq_topk_stored", "SELECT CAST(1.0 AS DOUBLE) AS recall_at_10", (s, dir) => {
      val emb = embeddings(s, dir)
      ivfPqTopKStored(s, dir, 10)
        .join(broadcast(Similarity.queryRow(emb)),
          col("vec_id") === col("q_id") + lit(TwinOffset))
        .agg(count(lit(1)).cast(DoubleType).as("recall_at_10"))
    }),

    // warm-path PQ: stored codes + stored codebook, same forced-recall
    // gate; a stale or retrained codebook desynchronizing the codes
    // turns the 1.0 red.
    Gate("q_pq_topk_stored", "SELECT CAST(1.0 AS DOUBLE) AS recall_at_10", (s, dir) => {
      val emb = embeddings(s, dir)
      pqTopKStored(s, dir, 10).select("vec_id")
        .join(Similarity.cosineTopK(emb, 10).select("vec_id"), "vec_id")
        .agg((count(lit(1)).cast(DoubleType) / 10.0).as("recall_at_10"))
    }),

    // SQ8 stored-index serving: approximate-cosine ranking over the
    // byte-per-dim code table + bounded exact rescore, recall@10 vs the
    // in-engine brute force (itself hash-verified by q_cosine_topk),
    // oracle pins the literal 1.0 — any encode/score/model bug that
    // perturbs the candidate window turns the gate red. The rank-10/11
    // cosine gap at the verify SFs (>1e-3) dwarfs SQ8's reconstruction
    // error (~1e-4), so 1.0 is the deterministic outcome, not luck.
    Gate("q_sq_topk_stored", "SELECT CAST(1.0 AS DOUBLE) AS recall_at_10", (s, dir) => {
      val emb = embeddings(s, dir)
      sqTopKStored(s, dir, 10).select("vec_id")
        .join(Similarity.cosineTopK(emb, 10).select("vec_id"), "vec_id")
        .agg((count(lit(1)).cast(DoubleType) / 10.0).as("recall_at_10"))
    }),

    // SemDeDup from the STORED index: survivors of the keep-first
    // policy over the indexed corpus (embeddings ∪ the 8 exact-copy
    // canaries). The canaries are bit-identical to their sources, so
    // their cosines to every centroid match bit-for-bit and the stored
    // cell assignment provably co-locates each (source, canary) pair —
    // recall 1.0 by construction — while the kernel's exact in-cluster
    // verification admits nothing else (non-twin pairs ≤ 0.61 on this
    // corpus). The DuckDB oracle brute-forces the same keep-first
    // survivor set from scratch, certifying that dedup riding a stored
    // index ≡ dedup computed fresh.
    Gate("q_semdedup_stored",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000, embedding FROM (
        |    SELECT vec_id, embedding FROM embeddings
        |    ORDER BY vec_id LIMIT 8)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99)
        |SELECT vec_id FROM corpus
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
      (s, dir) =>
        semDedupSurvivorsStored(s, dir, 0.99).orderBy("vec_id")),

    // IVF from the STORED index, single-query canary gate: the probe
    // runs at the derived geometry with real pruning, and the planted
    // exact copy of the query must surface in the top-10 (oracle pins
    // 1.0; a probe miss or DPP mistake turns the gate red).
    Gate("q_ivf_topk_stored", "SELECT CAST(1.0 AS DOUBLE) AS recall_at_10", (s, dir) => {
      val emb = embeddings(s, dir)
      ivfTopKStored(s, dir, 10)
        .join(broadcast(Similarity.queryRow(emb)),
          col("vec_id") === col("q_id") + lit(TwinOffset))
        .agg(count(lit(1)).cast(DoubleType).as("recall_at_10"))
    }),

    // diversified serving COMPOSED over the stored IVF index (full
    // probe, the forced-parameter convention): shares q_mmr_rerank's
    // oracle verbatim — index-served ≡ brute-force-served diversified
    // top-k, pinned by one hash.
    Gate("q_mmr_ivf", SimilarityGates.MmrOracle, (s, dir) => mmrTopKStored(s, dir)),

    // the approximate regime of the same composition: diversified
    // serving from the DEFAULT pruned probe's pool, set-overlap vs the
    // exact-pool picks gated >= 0.9 (q_ivf_recall_envelope convention;
    // q_mmr_ivf above stays the hash-exact pin)
    Gate("q_mmr_ivf_envelope",
      "SELECT CAST(5 AS BIGINT) AS n_picks, TRUE AS overlap_ge_090",
      (s, dir) => mmrIvfEnvelope(s, dir)),
  )
}
