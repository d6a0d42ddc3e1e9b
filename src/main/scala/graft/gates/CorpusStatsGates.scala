package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Ingest.Tombstones
import graft.operators.CorpusStats._

/** The gates over [[graft.operators.CorpusStats]]: one `Gate` row each. */
object CorpusStatsGates {

  private val TokCte =
    """SELECT doc_id,
      |       unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
      |FROM documents""".stripMargin

  /** Policy oracle — the forget body served through both arms with the
    * decision booleans as literals (mask below θ, purge above). */
  private val CmsPolicyOracle: String =
    s"""WITH ${Lifecycle.CmsForgetCtes}
       |SELECT arm, purged_serving, term, tf_est FROM (
       |  SELECT 'mask' AS arm, FALSE AS purged_serving, term, tf_est FROM est
       |  UNION ALL
       |  SELECT 'purge' AS arm, TRUE AS purged_serving, term, tf_est FROM est)
       |ORDER BY arm, term""".stripMargin

  val all: Seq[Gate] = Seq(
    // heavy hitters through the sketch: exact top-10 terms with their
    // exact counts AND their CMS estimates. The estimate of every probe
    // is a min over bucket sums that include every colliding term in
    // the corpus, so the gate pins the whole sketch construction (hash,
    // fold, cell sums), not just the probe rows.
    Gate("q_heavy_hitters",
      s"""WITH tok AS ($TokCte),
         |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |cms AS (
         |  SELECT r, ${cmsBucketSql("r", "term")} AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM cnt CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u
         |  GROUP BY 1, 2),
         |probe AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT $CmsTopK),
         |cells AS (
         |  SELECT p.term, p.c, u.r, ${cmsBucketSql("u.r", "p.term")} AS b
         |  FROM probe p CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u)
         |SELECT cells.term, CAST(max(cells.c) AS BIGINT) AS tf_exact,
         |       min(cms.cnt) AS tf_est
         |FROM cells JOIN cms ON cells.r = cms.r AND cells.b = cms.b
         |GROUP BY 1 ORDER BY term""".stripMargin,
      (s, dir) => {
        val cnt = termCounts(documents(s, dir))
          .localCheckpoint() // two consumers: sketch build + probe top-k
        val probes = cnt.orderBy(desc("c"), asc("term")).limit(CmsTopK)
        cmsEstimate(cmsBuild(cnt), probes)
          .select(col("term"), col("c").as("tf_exact"), col("tf_est"))
          .orderBy("term")
      }),

    // the purge TRIGGER on the stats axis, both arms in one gate (the
    // q_forget_policy convention): dead token mass ≈ 1/13 of the corpus,
    // so θ=0.5 must keep the subtracted serve and θ=0.02 must trip the
    // purge rewrite; the pinned decision booleans catch a policy that
    // never (or always) fires even though both arms agree on rows.
    Gate("q_cms_policy", CmsPolicyOracle, (s, dir) => {
      val (lo, loPurged) = cmsPolicyServed(s, dir, Tombstones.Stored, theta = 0.5)
      val (hi, hiPurged) = cmsPolicyServed(s, dir, Tombstones.Stored, theta = 0.02)
      lo.withColumn("arm", lit("mask"))
        .withColumn("purged_serving", lit(loPurged))
        .unionByName(hi.withColumn("arm", lit("purge"))
          .withColumn("purged_serving", lit(hiPurged)))
        .select("arm", "purged_serving", "term", "tf_est")
        .orderBy("arm", "term")
    }),

    // cardinality-axis LSM: per-lang distinct-vocabulary estimate of
    // base ∪ append batch from the STORED HLL sketches (one union-agg
    // over bounded binary rows); gate = exact count both engines + 5%
    // integer envelope on the merged estimate (the q_hll_distinct
    // convention — the estimate is implementation-specific, the
    // envelope is not).
    // exact per-lang distinct vocabulary over the augmented corpus,
    // plus the 5%-error band of DuckDB's OWN HLL
    // (approx_count_distinct) — each engine independently computes its
    // estimator's band (both 0 = both within 5 %), so the oracle
    // asserts a quantity it computed, not a constant
    Gate("q_hll_merge",
      """WITH doc2 AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL
        |  SELECT lang, text FROM documents WHERE doc_id % 101 = 0),
        |tok AS (
        |  SELECT lang,
        |         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM doc2)
        |SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS exact_terms,
        |       CAST(floor(abs(CAST(approx_count_distinct(term) AS DOUBLE)
        |                      - count(DISTINCT term)) * 20
        |                  / count(DISTINCT term)) AS BIGINT) AS err_band_5pct
        |FROM tok GROUP BY 1 ORDER BY lang""".stripMargin,
      (s, dir) => hllMergeServe(s, dir)),

    // the data card: per-lang docs/tokens/mean-length/vocab (exact +
    // HLL-in-envelope)/median-length-bucket in one frame — the summary
    // a dataset release ships, composed from the gated generators.
    // per-lang card replay: exact counts, DuckDB's own HLL error band
    // (the two-sided q_hll_merge convention), median bucket by the
    // same integer coverage cut
    Gate("q_lang_card",
      s"""WITH tok AS (
         |  SELECT lang,
         |         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
         |  FROM documents),
         |base AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY 1),
         |voc AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT term) AS BIGINT) AS distinct_terms,
         |         approx_count_distinct(term) AS est
         |  FROM tok GROUP BY 1),
         |h AS (
         |  SELECT lang, CAST(n_chars // $HistBucketWidth AS BIGINT) AS bucket,
         |         count(*) AS n
         |  FROM documents GROUP BY 1, 2),
         |c AS (
         |  SELECT lang, bucket,
         |         CAST(sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum_n,
         |         CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total_n
         |  FROM h),
         |med AS (
         |  SELECT lang, CAST(min(bucket) * $HistBucketWidth AS BIGINT) AS p50_chars_lo
         |  FROM c WHERE cum_n * 2 >= total_n GROUP BY 1)
         |SELECT b.lang, b.n_docs, v.n_tokens,
         |       CAST(b.sum_chars // b.n_docs AS BIGINT) AS mean_chars,
         |       v.distinct_terms,
         |       CAST(floor(abs(CAST(v.est AS DOUBLE) - v.distinct_terms) * 20
         |                  / v.distinct_terms) AS BIGINT) AS vocab_err_band_5pct,
         |       m.p50_chars_lo
         |FROM base b JOIN voc v USING (lang) JOIN med m USING (lang)
         |ORDER BY b.lang""".stripMargin,
      (s, dir) => dataCard(s, dir)),

    // document-level PMI: for term pairs co-occurring in a majority of
    // documents (integer cut 2·df_ab ≥ N), the pointwise mutual
    // information ln(N·df_ab / (df_a·df_b)), rounded 6 dp before the
    // hash compare (the round-before-rank convention).
    Gate("q_pmi_pairs",
      s"""WITH tok0 AS ($TokCte),
         |tok AS (
         |  SELECT doc_id, term FROM (
         |    SELECT DISTINCT doc_id, term FROM tok0)
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY term)
         |          <= $PmiMaxDocTerms),
         |dfc AS (SELECT term, count(*) AS df FROM tok GROUP BY 1),
         |p AS (
         |  SELECT a.term AS t1, b.term AS t2, count(*) AS df_ab
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT p.t1, p.t2, p.df_ab,
         |       round(ln(CAST(n.n_docs * p.df_ab AS DOUBLE) /
         |                CAST(da.df * db.df AS DOUBLE)), 6) AS pmi
         |FROM p
         |JOIN dfc da ON da.term = p.t1
         |JOIN dfc db ON db.term = p.t2
         |CROSS JOIN n
         |WHERE 2 * p.df_ab >= n.n_docs
         |ORDER BY t1, t2""".stripMargin,
      (s, dir) => {
        val docs = documents(s, dir)
        val terms = docs
          .select(col("doc_id"),
            explode(slice(array_sort(array_distinct(toks(col("text")))),
              1, PmiMaxDocTerms)).as("term"))
          .localCheckpoint() // three consumers: df + both pair sides
        val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
        val pairs = terms.as("x")
          .join(terms.as("y"),
            col("x.doc_id") === col("y.doc_id") && col("x.term") < col("y.term"))
          .groupBy(col("x.term").as("t1"), col("y.term").as("t2"))
          .agg(count(lit(1)).as("df_ab"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        pairs.crossJoin(broadcast(n))
          .filter(col("df_ab") * 2 >= col("n_docs"))
          .join(df.withColumnRenamed("term", "t1").withColumnRenamed("df", "df_a"), "t1")
          .join(df.withColumnRenamed("term", "t2").withColumnRenamed("df", "df_b"), "t2")
          .select(col("t1"), col("t2"), col("df_ab"),
            round(log((col("n_docs") * col("df_ab")).cast(DoubleType) /
              (col("df_a") * col("df_b")).cast(DoubleType)), 6).as("pmi"))
          .orderBy("t1", "t2")
      }),
  )
}
