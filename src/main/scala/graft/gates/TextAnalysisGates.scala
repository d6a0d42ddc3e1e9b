package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.TextAnalysis._
import graft.operators._

/** The gates over [[graft.operators.TextAnalysis]]: one `Gate` row each. */
object TextAnalysisGates {

  /** Shared DuckDB oracle for q_lm_perplexity AND q_lm_stateless:
    * re-derives the whole train+score pipeline in SQL (same caps, same
    * tie order, same micro-nat quantization — see lmScore). */
  private val LmOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |alltoks AS (SELECT unnest(t) AS w FROM toks),
      |uni AS (SELECT w, count(*) AS c1 FROM alltoks
      |        GROUP BY 1 ORDER BY c1 DESC, w LIMIT 1000),
      |pairs AS (
      |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM toks WHERE len(t) >= 2),
      |bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs
      |       GROUP BY 1, 2 ORDER BY c12 DESC, w1, w2 LIMIT 5000),
      |terms AS (
      |  SELECT p.doc_id,
      |         CAST(round(-ln(CAST(COALESCE(b.c12, 0) + 1 AS DOUBLE) /
      |                        CAST(COALESCE(u.c1, 0) + 1001 AS DOUBLE))
      |                    * 1000000.0) AS BIGINT) AS nll
      |  FROM pairs p
      |  LEFT JOIN uni u ON p.w1 = u.w
      |  LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(nll) AS s
      |        FROM terms GROUP BY 1)
      |SELECT d.doc_id,
      |       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(COALESCE(a.s, 0) AS BIGINT) AS nll_micro_sum,
      |       CAST(CASE WHEN COALESCE(a.n_bigrams, 0) > 0
      |            THEN round(CAST(a.s AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE))
      |            ELSE 0 END AS BIGINT) AS mean_nll_micro
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The ONE BM25 oracle pipeline (CTE block `toks…bm`), shared verbatim
    * by q_bm25_topk and Similarity's q_rrf_fusion (the LmOracleSql
    * precedent): a formula or tokenization fix edits exactly one string.
    * `bm` ends as the rounded, totally-ordered top-10 list. */
  val Bm25CtesSql: String =
    """toks AS (
      |  SELECT doc_id,
      |         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      |       WHERE term IN ('table', 'scan', 'join') GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS dl_total FROM toks),
      |bm AS (
      |  SELECT doc_id, round(sum(s), 6) AS score FROM (
      |    SELECT tf.doc_id,
      |           ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
      |           (tf.tf * (1.2 + 1.0)) /
      |           (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl /
      |              (CAST(stats.dl_total AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)))) AS s
      |    FROM tf JOIN dfreq d USING (term), stats)
      |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10)""".stripMargin

  /** The DSIR train+score replay over a caller-chosen corpus source —
    * shared by q_dsir_weights and q_takedown_dsir so the gates cannot
    * drift on anything but the corpus predicate. */
  private def dsirOracleSql(docsSrc: String, prefix: String = ""): String =
      s"""WITH ${prefix}toks AS (
        |  SELECT doc_id, lang,
        |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
        |  FROM $docsSrc),
        |pairs AS (
        |  SELECT doc_id, lang, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |uni_r AS (SELECT w, count(*) AS c1
        |          FROM (SELECT unnest(t) AS w FROM toks)
        |          GROUP BY 1 ORDER BY c1 DESC, w LIMIT 1000),
        |bi_r AS (SELECT w1, w2, count(*) AS c12 FROM pairs
        |         GROUP BY 1, 2 ORDER BY c12 DESC, w1, w2 LIMIT 5000),
        |uni_t AS (SELECT w, count(*) AS c1
        |          FROM (SELECT unnest(t) AS w FROM toks WHERE lang = 'en')
        |          GROUP BY 1 ORDER BY c1 DESC, w LIMIT 1000),
        |bi_t AS (SELECT w1, w2, count(*) AS c12 FROM pairs WHERE lang = 'en'
        |         GROUP BY 1, 2 ORDER BY c12 DESC, w1, w2 LIMIT 5000),
        |terms AS (
        |  SELECT p.doc_id,
        |         CAST(round(-ln(CAST(COALESCE(br.c12, 0) + 1 AS DOUBLE) /
        |                        CAST(COALESCE(ur.c1, 0) + 1001 AS DOUBLE))
        |                    * 1000000.0) AS BIGINT) AS nll_r,
        |         CAST(round(-ln(CAST(COALESCE(bt.c12, 0) + 1 AS DOUBLE) /
        |                        CAST(COALESCE(ut.c1, 0) + 1001 AS DOUBLE))
        |                    * 1000000.0) AS BIGINT) AS nll_t
        |  FROM pairs p
        |  LEFT JOIN uni_r ur ON p.w1 = ur.w
        |  LEFT JOIN bi_r br ON p.w1 = br.w1 AND p.w2 = br.w2
        |  LEFT JOIN uni_t ut ON p.w1 = ut.w
        |  LEFT JOIN bi_t bt ON p.w1 = bt.w1 AND p.w2 = bt.w2),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |               sum(nll_r) AS sr, sum(nll_t) AS st
        |        FROM terms GROUP BY 1),
        |perdoc AS (
        |  SELECT d.doc_id, d.lang,
        |         CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |         CAST(COALESCE(a.sr, 0) AS BIGINT) AS nll_raw_micro,
        |         CAST(COALESCE(a.st, 0) AS BIGINT) AS nll_tgt_micro,
        |         CAST(COALESCE(a.sr, 0) - COALESCE(a.st, 0) AS BIGINT) AS w_micro
        |  FROM $docsSrc d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, lang, n_bigrams, nll_raw_micro, nll_tgt_micro, w_micro,
        |       (w_micro * (SELECT count(*) FROM perdoc)
        |          > (SELECT sum(w_micro) FROM perdoc)) AS selected
        |FROM perdoc
        |ORDER BY doc_id""".stripMargin

  /** Fresh BM25 top-10 over `c` — the fresh gate's oracle, and the
    * stored index's through every generation ([[Lifecycle.Bm25]]). */
  def bm25Oracle(c: Corpus): String =
    s"""WITH ${Corpus.over(Bm25CtesSql, ")", c)}
      |SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id""".stripMargin

  val all: Seq[Gate] = Seq(
    // per-language corpus stats: counts + whitespace tokenization.
    // CAST(sum(...) AS BIGINT): DuckDB's sum over integers is HUGEINT,
    // which the driver's pandas conversion floats ('3549.0' vs Spark's
    // int64 '3549') — same lesson as the DECIMAL rule in Parity.
    Gate("q_text_stats",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("chars"),
            sum(wsTokens(col("text"))).as("tokens"))
          .orderBy("lang")),

    // BPE-ish token counting per source.
    Gate("q_token_count",
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(bpeTokens(col("text"))).as("bpe_tokens"))
          .orderBy("source")),

    // per-doc quality signals (deterministic doubles: one division each).
    Gate("q_quality_score",
      """WITH toks AS (
        |  SELECT doc_id, text,
        |         string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents)
        |SELECT doc_id, length(text) AS len,
        |       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |       CASE WHEN length(text) > 0
        |            THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE)
        |            ELSE 0.0 END AS punct_ratio,
        |       CASE WHEN len(t) > 0
        |            THEN CAST(len(list_filter(t, x -> list_contains(
        |                   ['the','a','an','and','or','of','to','in','is','it',
        |                    'that','for','on','with','as'], x))) AS DOUBLE)
        |                 / CAST(len(t) AS DOUBLE)
        |            ELSE 0.0 END AS stopword_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("len"),
            punctCount(col("text")).as("n_punct"),
            punctRatio(col("text")).as("punct_ratio"),
            stopwordRatio(col("text")).as("stopword_ratio"))
          .orderBy("doc_id")),

    // language-ID confusion matrix against the labeled lang column.
    // (On this synthetic corpus the text is English-ish pseudo-prose for
    // EVERY lang label, so absolute accuracy is bounded by label noise —
    // the oracle pins the heuristic's exact semantics, not accuracy.)
    Gate("q_lang_id",
      """WITH g AS (
        |  SELECT lang,
        |         CASE WHEN strpos(t, ' och ') > 0 OR strpos(t, ' att ') > 0 OR strpos(t, ' är ') > 0 THEN 'sv'
        |              WHEN strpos(t, ' und ') > 0 OR strpos(t, ' der ') > 0 OR strpos(t, ' ist ') > 0 THEN 'de'
        |              WHEN strpos(t, ' the ') > 0 OR strpos(t, ' and ') > 0 OR strpos(t, ' is ') > 0 THEN 'en'
        |              WHEN strpos(t, ' le ') > 0 OR strpos(t, ' la ') > 0 OR strpos(t, ' est ') > 0 THEN 'fr'
        |              ELSE 'und' END AS guess
        |  FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents))
        |SELECT lang, guess, count(*) AS cnt FROM g GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("lang"), langGuess(col("text")).as("guess"))
          .groupBy("lang", "guess").agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "guess")),

    // per-source DATA CARD: the one-page corpus report a training-data
    // pipeline publishes per source (docs, chars, BPE tokens, language
    // spread + dominant language, exact-dup rate, median length).
    // Shape at 100 TB: THREE separate partial-aggregating passes joined
    // on the tiny source key — deliberately NOT one agg with multiple
    // COUNT(DISTINCT)s, which Spark plans as an Expand that multiplies
    // every corpus row ×3 before the exchange. n_distinct (dup rate) is
    // a two-level groupBy over the uniform digest; top_lang ranks the
    // (source × lang) grouped frame (tiny) with a deterministic
    // lowest-lang tie-break; median_chars uses the exact percentile
    // aggregate, whose buffer is O(#distinct lengths) per source — the
    // value RANGE of doc lengths, not the corpus size.
    // median via quantile_cont: n_chars is integral, so the 0.5 quantile
    // is an int or an int midpoint — exactly representable, bit-equal to
    // Spark's exact percentile. Casts per the HUGEINT/BIGINT rule.
    Gate("q_data_card",
      """WITH base AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |         CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS bpe_tokens,
        |         quantile_cont(n_chars, 0.5) AS median_chars
        |  FROM documents GROUP BY 1),
        |pl AS (
        |  SELECT source, lang, count(*) AS c,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY count(*) DESC, lang) AS rn
        |  FROM documents GROUP BY source, lang),
        |langs AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
        |         max(CASE WHEN rn = 1 THEN lang END) AS top_lang
        |  FROM pl GROUP BY 1),
        |dups AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct FROM (
        |    SELECT source, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |    FROM documents GROUP BY 1, 2) GROUP BY 1)
        |SELECT b.source, b.n_docs, b.total_chars, b.bpe_tokens,
        |       l.n_langs, l.top_lang,
        |       1.0 - CAST(d.n_distinct AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS dup_rate,
        |       b.median_chars
        |FROM base b JOIN langs l USING (source) JOIN dups d USING (source)
        |ORDER BY source""".stripMargin,
      (s, dir) => {
        val d = documents(s, dir)
        val base = d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum(bpeTokens(col("text"))).as("bpe_tokens"),
          expr("percentile(n_chars, 0.5)").as("median_chars"))
        val perLang = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        val langW = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(desc("c"), asc("lang"))
        val langs = perLang
          .withColumn("rn", row_number().over(langW))
          .groupBy("source").agg(
            count(lit(1)).as("n_langs"),
            max(when(col("rn") === 1, col("lang"))).as("top_lang"))
        val dups = d.groupBy(col("source"), fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("c"))
          .groupBy("source").agg(count(lit(1)).as("n_distinct"))
        base.join(langs, "source").join(dups, "source")
          .select(col("source"), col("n_docs"), col("total_chars"),
            col("bpe_tokens"), col("n_langs"), col("top_lang"),
            (lit(1.0) - col("n_distinct").cast(DoubleType) /
              col("n_docs").cast(DoubleType)).as("dup_rate"),
            col("median_chars"))
          .orderBy("source")
      }),

    // canonical-form fingerprint per doc.
    Gate("q_fingerprint",
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")),

    // bigram-LM perplexity scores per doc (micro-nat integer sums — see
    // lmScore for the cross-engine determinism argument).
    // mirrors lmScore exactly: same tokenization, same deterministic
    // top-V/top-B caps (count desc, token asc — binary string order in
    // both engines), same integer Laplace ratio, same micro-nat
    // quantization before the (integer, order-independent) sum.
    // q_lm_stateless shares the oracle verbatim: the stateless scorer is
    // DEFINED to reproduce lmScore bit-for-bit from the trained tables.
    Gate("q_lm_perplexity", LmOracleSql, (s, dir) =>
      lmScore(documents(s, dir)).orderBy("doc_id")),

    // the SERVING shape of the same filter: train once (lmTables), then
    // score statelessly against the shipped model — zero joins, zero
    // shuffles in the scoring pass. Must be row-identical to
    // q_lm_perplexity (same oracle SQL), which certifies the
    // train-once/score-anywhere split loses nothing.
    Gate("q_lm_stateless", LmOracleSql, (s, dir) => {
      val docs = documents(s, dir)
      val (uni, bi) = lmTables(docs)
      lmScoreStateless(docs, uni, bi).orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    // language, rank documents by their LM score and cut into
    // head/middle/tail tertiles — the classic quality stratification a
    // pretraining pipeline keeps (head), downsamples (middle), or drops
    // (tail). Scoring is the stateless kernel (lang rides the same
    // projection, no join-back); the ntile window shuffles once keyed by
    // lang — skew bounded by the largest language; a production corpus
    // range-partitions within each language instead, same semantics.
    // CCNet buckets: the LM oracle's train+score pipeline, then the
    // same per-lang tertile window (ntile group sizing is SQL-standard
    // ceil-then-floor in both engines).
    Gate("q_ppl_buckets",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |alltoks AS (SELECT unnest(t) AS w FROM toks),
        |uni AS (SELECT w, count(*) AS c1 FROM alltoks
        |        GROUP BY 1 ORDER BY c1 DESC, w LIMIT 1000),
        |pairs AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs
        |       GROUP BY 1, 2 ORDER BY c12 DESC, w1, w2 LIMIT 5000),
        |terms AS (
        |  SELECT p.doc_id,
        |         CAST(round(-ln(CAST(COALESCE(b.c12, 0) + 1 AS DOUBLE) /
        |                        CAST(COALESCE(u.c1, 0) + 1001 AS DOUBLE))
        |                    * 1000000.0) AS BIGINT) AS nll
        |  FROM pairs p
        |  LEFT JOIN uni u ON p.w1 = u.w
        |  LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(nll) AS s
        |        FROM terms GROUP BY 1),
        |m AS (
        |  SELECT d.doc_id, d.lang,
        |         CAST(CASE WHEN COALESCE(a.n_bigrams, 0) > 0
        |              THEN round(CAST(a.s AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE))
        |              ELSE 0 END AS BIGINT) AS mean_nll_micro
        |  FROM documents d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, lang, mean_nll_micro,
        |       CAST(ntile(3) OVER (PARTITION BY lang
        |                           ORDER BY mean_nll_micro, doc_id) AS INT) AS bucket
        |FROM m ORDER BY doc_id""".stripMargin,
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, dir)
        val (uni, bi) = lmTables(docs)
        val r = graft.functions.LmModel.lmNll(lmToks(col("text")), uni, bi)
        val scored = docs.select(col("doc_id"), col("lang"), r.as("r"))
          .select(col("doc_id"), col("lang"),
            when(col("r.n_bigrams") > 0,
              round(col("r.nll_micro_sum").cast(DoubleType) /
                col("r.n_bigrams").cast(DoubleType)).cast(LongType))
              .otherwise(lit(0L)).as("mean_nll_micro"))
        val byLang = Window.partitionBy("lang")
          .orderBy(col("mean_nll_micro"), col("doc_id"))
        scored
          .withColumn("bucket", ntile(3).over(byLang)) // 1=head … 3=tail
          .orderBy("doc_id")
      }),

    // BM25 top-10 for a fixed term query — sparse lexical retrieval
    // beside the dense ANN family; corpus work is one narrow
    // explode+filter, the rest is broadcast-sized.
    // BM25: identical tokenization, identical +1-idf formula, identical
    // literal arithmetic ((1.2 + 1.0), (1.0 - 0.75) — same IEEE ops both
    // engines); round-6 absorbs libm ln ulp differences (the tfidf rule).
    Gate("q_bm25_topk", bm25Oracle(Corpus.Base),
      (s, dir) =>
        bm25TopK(documents(s, dir), Seq("table", "scan", "join"), 10)),

    // query expansion: the 3 strongest co-occurring terms join the query
    // at exactly half weight; the oracle re-derives the expansion set
    // from raw text, so a wrong candidate, cap, tiebreak, or weight
    // flips the ranking hash.
    // expansion replay: sorted-distinct capped doc terms → query-doc
    // semi-join → top-m co-occurrence candidates → weighted BM25 with
    // the exact 0.5 CASE
    Gate("q_bm25_expanded",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
         |  FROM documents),
         |dt AS (SELECT doc_id, unnest(list_sort(list_distinct(t))[1:64]) AS term
         |       FROM toks),
         |qd AS (SELECT DISTINCT doc_id FROM dt
         |       WHERE term IN ('table', 'scan', 'join')),
         |exp AS (SELECT dt.term FROM dt JOIN qd USING (doc_id)
         |        WHERE dt.term NOT IN ('table', 'scan', 'join')
         |        GROUP BY 1 ORDER BY count(*) DESC, term LIMIT $ExpTermCount),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
         |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         |       WHERE term IN ('table', 'scan', 'join')
         |          OR term IN (SELECT term FROM exp)
         |       GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs,
         |                 CAST(sum(len(t)) AS BIGINT) AS dl_total FROM toks),
         |bm AS (
         |  SELECT doc_id, round(sum(s), 6) AS score FROM (
         |    SELECT tf.doc_id,
         |           ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
         |           (tf.tf * (1.2 + 1.0)) /
         |           (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl /
         |              (CAST(stats.dl_total AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))
         |           * CASE WHEN tf.term IN ('table', 'scan', 'join')
         |                  THEN 1.0 ELSE 0.5 END AS s
         |    FROM tf JOIN dfreq d USING (term), stats)
         |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id""".stripMargin,
      (s, dir) =>
        bm25TopKExpanded(documents(s, dir), Seq("table", "scan", "join"), 10)),

    // DSIR importance weights: target = the English slice, raw = the
    // whole corpus; w_micro = nll_raw − nll_target in integer micro-nats
    // (order-independent), selected = looks more target-like than the
    // corpus average. Training is two bounded lmTables passes; scoring
    // is one shuffle-free projection running both kernels.
    // DSIR: the LM oracle's train+score pipeline run TWICE — raw model
    // over every document, target model over the lang='en' slice — with
    // the same caps, tie order and micro-nat quantization; the weight
    // and selection flag are integer comparisons of the two sums.
    Gate("q_dsir_weights", dsirOracleSql("documents"), (s, dir) => {
      val docs = documents(s, dir)
      val (rawU, rawB, tgtU, tgtB) = lmTablesDual(docs, col("lang") === "en")
      dsirWeights(docs, rawU, rawB, tgtU, tgtB).orderBy("doc_id")
    }),

    // DSIR under takedown (r14 verdict #2, the model-axis family): the
    // capped LM vocabularies are NOT linear in documents (dropping a
    // doc can change which terms make the top-K cut), so unlike the NB
    // axis there is no exact CDC subtraction — the honest retraction is
    // a retrain of the two bounded model artifacts over the survivors
    // (one pass each; at 100 TB the LM trains on a bounded sample
    // anyway, per the lmTables contract). The oracle replays the same
    // from scratch: no retracted doc influences vocabulary, counts,
    // weights, or the selection mean.
    // the identical replay over the surviving corpus: vocabulary caps,
    // counts, quantization and the selection mean all re-derived with
    // the retraction excluded (the engine retrains its bounded models
    // over the same survivors — see the gate comment for why the capped
    // vocab rules out an exact CDC subtraction here).
    Gate("q_takedown_dsir",
      dsirOracleSql("surv",
        s"""surv AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE NOT (doc_id % ${Retention.ForgetMod} = ${Retention.ForgetRem})),
         |""".stripMargin),
      (s, dir) =>
        dsirWeightsRetracted(s, dir, Ingest.Tombstones.Stored)),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    // per-doc top-word count, duplicate-word and duplicate-2-gram counts,
    // plus the derived "repetitive" flag (top word > 20% of tokens) via
    // integer cross-multiplication — no float thresholds anywhere. The
    // kernel (functions/Sketch.RepetitionStats) is a single narrow pass
    // per document inside the scan stage; the SQL-equivalent
    // unnest+GROUP BY formulation — which the DuckDB oracle runs — would
    // shuffle the entire token stream at 100 TB.
    Gate("q_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2),
        |ws AS (
        |  SELECT doc_id, CAST(sum(c) AS INT) AS total_tokens,
        |         CAST(count(*) AS INT) AS distinct_tokens,
        |         CAST(max(c) AS INT) AS top_count
        |  FROM wc GROUP BY 1),
        |bs AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS total_bigrams,
        |         CAST(count(DISTINCT bg) AS INT) AS distinct_bigrams
        |  FROM (SELECT doc_id,
        |               unnest(list_transform(range(1, len(toks)),
        |                      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |        FROM t)
        |  GROUP BY 1)
        |SELECT ws.doc_id, ws.total_tokens, ws.distinct_tokens, ws.top_count,
        |       coalesce(bs.total_bigrams, 0) AS total_bigrams,
        |       coalesce(bs.distinct_bigrams, 0) AS distinct_bigrams,
        |       (ws.top_count * 5 > ws.total_tokens) AS repetitive
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        |ORDER BY ws.doc_id""".stripMargin,
      (s, dir) => {
        documents(s, dir)
          .select(col("doc_id"),
            graft.functions.Sketch.repetitionStats(
              split(lower(trim(col("text"))), "\\s+")).as("r"))
          .select(col("doc_id"),
            col("r.total_tokens").as("total_tokens"),
            col("r.distinct_tokens").as("distinct_tokens"),
            col("r.top_count").as("top_count"),
            col("r.total_bigrams").as("total_bigrams"),
            col("r.distinct_bigrams").as("distinct_bigrams"),
            (col("r.top_count") * 5 > col("r.total_tokens")).as("repetitive"))
          .orderBy("doc_id")
      }),

    // vocabulary statistics: top-20 terms by document frequency — the
    // one text operator that IS explode-shaped (a corpus-wide token
    // stream into a groupBy). Scale notes: partial aggregation combines
    // per-partition counts before the exchange, so the shuffle carries
    // one (term, tf, df-partial) row per distinct term per partition,
    // not the token stream; the top-20 is TakeOrderedAndProject. Total
    // order (df desc, tf desc, term) is tie-free because term is unique.
    Gate("q_term_stats",
      """SELECT term, tf, df FROM (
        |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (
        |    SELECT doc_id,
        |           unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1
        |  ORDER BY df DESC, tf DESC, term LIMIT 20)
        |ORDER BY term""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .orderBy(desc("df"), desc("tf"), asc("term"))
          .limit(20)
          .orderBy("term")),

    // per-doc top-3 characteristic terms by tf·idf (probed on doc_id<40
    // to bound output; tf/df are corpus-wide). Ranking is over the
    // ROUNDED score in BOTH engines, so a last-ulp ln() divergence can't
    // flip rank order; ties break on term. N arrives as a broadcast
    // 1-row frame (never a global window — that would serialize the
    // corpus through one partition at 100 TB); tf⋈df shuffles on term
    // with two-phase aggs on both inputs.
    Gate("q_tfidf_terms",
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS score
        |  FROM tfc t JOIN dfc d USING (term), n
        |  WHERE t.doc_id < 40)
        |SELECT doc_id, term, tf, df, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin,
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tf = documents(s, dir)
          .select(col("doc_id"),
            explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val byDoc = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        tf.filter(col("doc_id") < 40)
          .join(df, "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("score",
            round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6))
          .withColumn("rn", row_number().over(byDoc))
          .filter(col("rn") <= 3)
          .select("doc_id", "term", "tf", "df", "score")
          .orderBy("doc_id", "term")
      }),
  )
}
