package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents

/** Text-analysis operators over the `documents` table (doc_id, text, lang,
  * source, n_chars) — the training-data-pipeline surface (SURVEY.md §2.11).
  *
  * All narrow, codegen'd column expressions; the only shuffles are the
  * final groupBy aggregations. At 100 TB these scale linearly: no
  * explode-heavy paths in the default queries (token counts use
  * regexp_count-style length arithmetic, not explode+groupBy), no driver
  * work, no UDFs.
  */
object TextAnalysis {

  /** Whitespace token count. Identical semantics on the DuckDB side via
    * len(string_split_regex(...)). */
  def wsTokens(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: word runs plus single non-word-non-space
    * symbols — the standard pre-tokenizer regex, ASCII \w on both Java
    * and RE2 regex engines. */
  def bpeTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Punctuation count via length difference (no explode). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Quality score: punctuation density + mean token length, both as
    * single deterministic double divisions (bit-identical across
    * engines; no order-dependent double sums). */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      punctCount(text).cast(DoubleType) / length(text).cast(DoubleType))
      .otherwise(lit(0.0))

  /** English stopword list used by the quality signal (fixed, tiny —
    * mirrored literally in the DuckDB oracle). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as")

  /** Stopword ratio: fraction of whitespace tokens that are stopwords —
    * the classic fluency/quality signal (high ≈ natural prose, near-zero
    * ≈ boilerplate/code/tables). One deterministic division. */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = size(filter(toks, t => t.isInCollection(Stopwords)))
    when(size(toks) > 0,
      hits.cast(DoubleType) / size(toks).cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** Stopword-hit language ID heuristic (n-gram-lite): fixed-order CASE
    * over high-frequency function words. Deterministic and expressible
    * identically in SQL. */
  def langGuess(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    when(instr(t, " och ") > 0 || instr(t, " att ") > 0 || instr(t, " är ") > 0, "sv")
      .when(instr(t, " und ") > 0 || instr(t, " der ") > 0 || instr(t, " ist ") > 0, "de")
      .when(instr(t, " the ") > 0 || instr(t, " and ") > 0 || instr(t, " is ") > 0, "en")
      .when(instr(t, " le ") > 0 || instr(t, " la ") > 0 || instr(t, " est ") > 0, "fr")
      .otherwise("und")
  }

  /** Document fingerprint: md5 over case-folded, whitespace-collapsed
    * text — the canonical-form hash used as the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // --- n-gram language-model scoring (perplexity quality filter) -------

  /** Vocab / bigram-table caps. Capping is the 100 TB design point: the
    * trained tables stay SMALL (top-V by frequency, deterministic
    * count-then-token tiebreak) so scoring broadcasts them and the token
    * stream is never shuffled against a huge model. */
  val LmVocab = 1000
  val LmBigramTable = 5000

  /** NUL counts as whitespace: the stateless model's bigram key is
    * w1 ++ NUL ++ w2 (see [[lmTables]]), so tokens must be NUL-free BY
    * CONSTRUCTION for fresh and stateless scoring to agree on any
    * corpus — not just corpora that happen to contain no NUL bytes
    * (ADVICE r4). LmModel additionally rejects a NUL-carrying key
    * loudly at model-compile time. */
  private def lmToks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "[\\s\\x00]+", " ")), " ")

  /** CCNet-style bigram-LM negative-log-likelihood per document — the
    * classic perplexity quality filter for pretraining corpora, here
    * self-trained on the scored corpus (a production pipeline trains the
    * same two count tables ONCE on a clean reference corpus and ships
    * them as broadcast variables to every scoring job).
    *
    * Shape at scale: training = two uniform-key shuffles (unigram and
    * bigram counts) capped by TakeOrdered; scoring = explode + two
    * BROADCAST joins + one partial-aggregated shuffle keyed by doc_id
    * (ships one row per doc). No UDFs, no driver-side model object.
    *
    * Determinism across engines (the oracle gate): each bigram's
    * Laplace probability is a ratio of exact integers — identical
    * doubles everywhere — and its -ln() is QUANTIZED to integer
    * micro-nats before summing, so the per-doc sum is an integer sum
    * (order-independent, bit-exact) rather than a float sum whose last
    * ULPs depend on partial-aggregation order. */
  def lmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), lmToks(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .orderBy(desc("c1"), asc("w")).limit(LmVocab)
    val pairs = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .orderBy(desc("c12"), asc("w1"), asc("w2")).limit(LmBigramTable)
    // Laplace over (vocab + OOV bucket): P = (c12 + 1) / (c1 + V + 1)
    val scored = pairs
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"), "left")
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .select(col("doc_id"),
        ((coalesce(col("c12"), lit(0L)) + lit(1L)).cast(DoubleType) /
          (coalesce(col("c1"), lit(0L)) + lit(LmVocab + 1L)).cast(DoubleType)).as("p"))
      .select(col("doc_id"),
        round(-log(col("p")) * lit(1e6)).cast(LongType).as("nll"))
    docs.select("doc_id")
      .join(scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("nll_micro_sum")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro_sum"), lit(0L)).as("nll_micro_sum"),
        // mean stays in integer micro-nats: a fractional rounding grid
        // (round(x, 6)) diverges across engines when the true mean lands
        // exactly on a half step — Spark rounds the decimal shortest
        // repr, DuckDB the binary double. At integer scale the half step
        // IS exactly representable, so both engines see the same value.
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          round(col("nll_micro_sum").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).cast(LongType))
          .otherwise(lit(0L)).as("mean_nll_micro"))
  }

  /** Train the capped LM count tables and collect them — the MODEL
    * artifact a production pipeline materializes once per refresh. The
    * bigram key is w1 ++ NUL ++ w2: NUL cannot appear inside a token
    * (tokens come whitespace-split from NUL-free text), and because NUL
    * sorts below every token character, ordering the concatenated keys
    * is EXACTLY the (w1, w2) pair order — so the top-B cap cuts the
    * same tie boundary as [[lmScore]]'s (c12 desc, w1, w2) and the
    * DuckDB oracle. A space separator would break that whenever one
    * token is a prefix of another alongside sub-space characters. */
  def lmTables(docs: DataFrame): (Map[String, Long], Map[String, Long]) = {
    // One scan: tokenization is cached across the two aggregations and
    // both capped tables come back in a single union job / one collect.
    // (At 100 TB the input here is the sampled training corpus, so the
    // persist is bounded by the sample, not the corpus.)
    val toks = docs.select(lmToks(col("text")).as("t")).persist()
    try {
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w")).limit(LmVocab)
        .select(lit("u").as("kind"), col("w").as("key"), col("c"))
      val bi = toks.filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat(element_at(col("t"), i), lit("\u0000"),
            element_at(col("t"), i + 1)))).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("b")).limit(LmBigramTable)
        .select(lit("b").as("kind"), col("b").as("key"), col("c"))
      val rows = uni.unionAll(bi).collect()
      def table(kind: String) = rows.iterator
        .filter(_.getString(0) == kind)
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      (table("u"), table("b"))
    } finally { toks.unpersist(); () }
  }

  /** Stateless LM scoring against a PRE-TRAINED model: the capped count
    * tables compile into [[graft.functions.LmModel]] — one shared hash
    * table per task, shipped through the codegen reference array — and
    * the whole per-doc score is a single narrow kernel call: no join, no
    * explode, no shuffle, no state, O(1) exact lookups per bigram. (The
    * pure-builtin alternative, `element_at` over `typedlit` map
    * literals, plans as GetMapValue — a LINEAR scan per lookup, O(V)
    * string compares per token; measured 3× the joined scorer at sf0.1
    * before this kernel replaced it.) This is the STREAMING-compatible
    * form (LmStream scores a document stream with it, stateless, so
    * `Trigger.AvailableNow` ≡ batch), and the zero-shuffle scoring
    * shape for a 100 TB corpus when the model is already trained. Same
    * arithmetic as [[lmScore]] term for term; TextAnalysisSpec pins
    * batch ≡ stateless row-for-row and EventStreamSpec pins
    * streaming ≡ batch. */
  def lmScoreStateless(docs: DataFrame,
      uniMap: Map[String, Long], biMap: Map[String, Long]): DataFrame = {
    require(graft.functions.LmModel.Denom == LmVocab + 1L,
      "kernel Laplace denominator must track LmVocab")
    val r = graft.functions.LmModel.lmNll(lmToks(col("text")), uniMap, biMap)
    docs.select(col("doc_id"), r.as("r"))
      .select(col("doc_id"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.nll_micro_sum").as("nll_micro_sum"))
      .withColumn("mean_nll_micro",
        when(col("n_bigrams") > 0,
          round(col("nll_micro_sum").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).cast(LongType))
          .otherwise(lit(0L)))
  }

  /** Train the RAW (whole-corpus) and TARGET (domain-slice) LM tables in
    * ONE tokenize + aggregate pass: each gram's target-side count is a
    * conditional sum in the same aggregation that produces its raw
    * count, and the four capped tables (raw/target × uni/bi) cut on
    * their own count order — bit-identical to calling [[lmTables]] twice
    * (a conditional sum over the slice IS the slice's count, and the
    * (count DESC, key ASC) cap order is per-model), at half the corpus
    * work: one scan, one tokenization, two aggregations instead of two
    * of each. The four capped frames come back in a single union job. */
  def lmTablesDual(docs: DataFrame, isTarget: Column):
      (Map[String, Long], Map[String, Long], Map[String, Long], Map[String, Long]) = {
    val toks = docs.select(lmToks(col("text")).as("t"), isTarget.as("tgt")).persist()
    try {
      val uni = toks.select(explode(col("t")).as("w"), col("tgt"))
        .groupBy("w").agg(count(lit(1)).as("c"),
          sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
      val bi = toks.filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat(element_at(col("t"), i), lit("\u0000"),
            element_at(col("t"), i + 1)))).as("b"), col("tgt"))
        .groupBy("b").agg(count(lit(1)).as("c"),
          sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
      def cap(df: DataFrame, key: String, cnt: String, kind: String, n: Int) =
        df.filter(col(cnt) > 0)
          .orderBy(desc(cnt), asc(key)).limit(n)
          .select(lit(kind).as("kind"), col(key).as("key"), col(cnt).as("c"))
      val rows = cap(uni, "w", "c", "ur", LmVocab)
        .unionAll(cap(uni, "w", "ct", "ut", LmVocab))
        .unionAll(cap(bi, "b", "c", "br", LmBigramTable))
        .unionAll(cap(bi, "b", "ct", "bt", LmBigramTable))
        .collect()
      def table(kind: String) = rows.iterator
        .filter(_.getString(0) == kind)
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      (table("ur"), table("br"), table("ut"), table("bt"))
    } finally { toks.unpersist(); () }
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * under TWO bigram LMs — a TARGET model trained on the domain the
    * pipeline wants more of, and a RAW model trained on the whole
    * corpus — and weight by the log-likelihood ratio
    * `w = log p_target(x) − log p_raw(x) = nll_raw − nll_target`.
    * Documents that look more like the target than the corpus average
    * get w > 0 and survive selection. (DSIR hashes its n-gram features;
    * at these vocab caps the capped exact tables are the same bounded
    * model artifact, and keep the DuckDB oracle exact.)
    *
    * Selection keeps documents whose weight beats the CORPUS MEAN
    * weight (DSIR resamples by weight rank; a fixed w > 0 cut is
    * degenerate here because the target model, trained on a strict
    * slice, has thinner bigram coverage and so scores EVERY document
    * worse than the raw model — observed: all-negative weights, en
    * least negative). The mean test is pure integer cross-
    * multiplication `w·N > Σw` — exact, order-independent, and safe in
    * Long far past this corpus (|w| ≤ ~3·10⁷ micro-nats/doc keeps
    * `w·N` under 2⁶³ through N ≈ 10¹⁰ docs).
    *
    * Shape at 100 TB: both models are capped broadcast artifacts
    * ([[lmTables]] trains each in one pass over its training slice);
    * scoring is TWO stateless kernel calls in one narrow projection —
    * zero joins, zero shuffles, no per-row state — plus one broadcast
    * join against a single-row (N, Σw) aggregate. */
  /** The scoring projection alone — both kernels in one narrow pass,
    * zero joins/shuffles (PlanSpec pins this shape). */
  def dsirScore(docs: DataFrame,
      rawUni: Map[String, Long], rawBi: Map[String, Long],
      tgtUni: Map[String, Long], tgtBi: Map[String, Long]): DataFrame = {
    val raw = graft.functions.LmModel.lmNll(lmToks(col("text")), rawUni, rawBi)
    val tgt = graft.functions.LmModel.lmNll(lmToks(col("text")), tgtUni, tgtBi)
    docs
      .select(col("doc_id"), col("lang"), raw.as("r"), tgt.as("t"))
      .select(col("doc_id"), col("lang"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.nll_micro_sum").as("nll_raw_micro"),
        col("t.nll_micro_sum").as("nll_tgt_micro"),
        (col("r.nll_micro_sum") - col("t.nll_micro_sum")).as("w_micro"))
  }

  /** [[dsirWeights]] with the retraction excluded from BOTH training
    * and scoring — the takedown posture of the DSIR artifact (see
    * q_takedown_dsir for why this retrains rather than subtracts). */
  def dsirWeightsRetracted(s: SparkSession, dir: String,
      t: Ingest.Tombstones): DataFrame = {
    val surv = Ingest.minus(documents(s, dir), t.ids(s, dir))
    val (rawU, rawB, tgtU, tgtB) = lmTablesDual(surv, col("lang") === "en")
    dsirWeights(surv, rawU, rawB, tgtU, tgtB).orderBy("doc_id")
  }

  def dsirWeights(docs: DataFrame,
      rawUni: Map[String, Long], rawBi: Map[String, Long],
      tgtUni: Map[String, Long], tgtBi: Map[String, Long]): DataFrame = {
    // score ONCE: the scored frame feeds both the (N, Σw) aggregate and
    // the output projection — without the checkpoint the text scan and
    // BOTH kernels re-run per consumer (same rule as jaccardPairsExact's
    // feature checkpoint); the checkpointed frame is 6 fixed-width
    // columns per doc, far narrower than the corpus
    val scored = dsirScore(docs, rawUni, rawBi, tgtUni, tgtBi).localCheckpoint()
    val tot = scored.agg(count(lit(1)).as("n_total"), sum("w_micro").as("w_total"))
    scored.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("nll_raw_micro"), col("nll_tgt_micro"), col("w_micro"),
        (col("w_micro") * col("n_total") > col("w_total")).as("selected"))
  }

  /** BM25 top-k lexical retrieval (Robertson-Walker, Lucene's +1 idf
    * form; k1 = 1.2, b = 0.75) — the sparse-retrieval complement of the
    * dense ANN family: given a term-set query, rank documents by
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Shape at 100 TB: tokens are FILTERED to the query's terms before
    * any aggregation, so the tf pass is a narrow explode+filter inside
    * the scan stage shipping one row per (matching doc × query term),
    * df is tiny, and the final top-k is TakeOrderedAndProject. The
    * (N, Σdl) corpus statistics are a CORPUS CONSTANT independent of
    * the query: pass the stored artifact via `corpusStats` to keep a
    * query to ONE corpus pass (the lmTables/pqCodebook
    * materialize-once rule); with None the operator derives them in a
    * second scan-and-tokenize aggregate — fine for ad-hoc use,
    * documented cost at scale. (A production engine would additionally
    * serve repeated queries from a stored inverted index — the
    * stored-sketch ingest pattern.) Scores are rounded to 6 dp on both
    * engines (the tfidf rule) so libm ulp differences in ln cannot
    * flip a rank; ties break on doc_id. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      corpusStats: Option[(Long, Long)] = None): DataFrame = {
    corpusStats match {
      case Some((n, dlTotal)) =>
        val toks = docs.select(col("doc_id"), bm25Toks(col("text")).as("t"))
        // dl rides along the exploded token stream (constant per doc,
        // max() re-extracts it) so no corpus-sized doc-length join is
        // ever needed
        val tf = toks
          .select(col("doc_id"), size(col("t")).as("dl"),
            explode(col("t")).as("term"))
          .filter(col("term").isInCollection(queryTerms))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
        val stats = docs.sparkSession.range(1)
          .select(lit(n).as("n_docs"), lit(dlTotal).as("dl_total"))
        bm25Rank(tf, stats, k, k1, b)
      case None =>
        // the (N, Σdl) stats and the query-term tf come out of ONE
        // tokenize pass: a per-doc (dl, matching-tokens) projection is
        // checkpointed (tiny — ≤ the doc's query-term occurrences per
        // row) and feeds both consumers; the old shape re-tokenized the
        // whole corpus for the 1-row stats frame (optimization r16)
        bm25Rank2(bm25ScoreBase(docs, queryTerms), k, k1, b)
    }
  }

  /** (doc_id, dl, qt): one narrow tokenize pass keeping each doc's
    * length and ONLY its query-term occurrences, checkpointed — the
    * shared base of the fresh BM25 paths' tf and stats consumers. */
  private def bm25ScoreBase(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"), bm25Toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("dl"),
        filter(col("t"), t => t.isInCollection(terms)).as("qt"))
      .localCheckpoint()

  /** [[bm25Rank]] over a [[bm25ScoreBase]] frame: tf from the exploded
    * kept tokens, (N, Σdl) from the same checkpointed rows. */
  private def bm25Rank2(base: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qt")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_total"))
    bm25Rank(tf, stats, k, k1, b)
  }

  /** Expansion-term count of the query-expansion gate. */
  val ExpTermCount: Int = 3

  /** Association-based query expansion + weighted BM25 — the
    * co-occurrence-thesaurus form of pseudo-relevance feedback (Qiu &
    * Frei, SIGIR'93; the Rocchio/RM3 family's deterministic cousin):
    * the [[ExpTermCount]] terms that co-occur (doc-level, distinct,
    * PMI's 64-term cap) with the query in the most documents join the
    * query at HALF weight, recovering documents that discuss the topic
    * without using the exact query vocabulary.
    *
    * Determinism: expansion selection is an integer count with a term
    * tiebreak; the down-weight is exactly 0.5 — a power of two, so the
    * scaling is EXACT in binary floating point and adds no new rounding
    * surface to the 6-dp-rounded score sum. The expansion set is a
    * bounded model artifact (m strings) collected once — the lmTables
    * rule — and the oracle re-derives it from raw text, trusting
    * nothing.
    *
    * Shape at 100 TB: candidate mining is one distinct-term explode
    * (capped per doc) + a semi-join on the query-doc set + one
    * map-side-combined count; serving is the standard filtered-scan
    * BM25 with the weight as a literal CASE on the term. */
  def bm25TopKExpanded(docs: DataFrame, queryTerms: Seq[String], k: Int,
      m: Int = ExpTermCount, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val dt = docs.select(col("doc_id"),
      explode(slice(array_sort(array_distinct(bm25Toks(col("text")))),
        1, 64)).as("term"))
      .localCheckpoint() // 2 consumers: query-doc set + candidate count
    val qDocs = dt.filter(col("term").isInCollection(queryTerms))
      .select("doc_id").distinct()
    val exp = dt.join(qDocs, "doc_id")
      .filter(!col("term").isInCollection(queryTerms))
      .groupBy("term").agg(count(lit(1)).as("df_q"))
      .orderBy(desc("df_q"), asc("term")).limit(m)
      .collect().map(_.getString(0)).toSeq
    // one tokenize pass for tf AND stats (the bm25ScoreBase treatment —
    // expansion above already cost its own pass; this was a third)
    val base = bm25ScoreBase(docs, queryTerms ++ exp)
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qt")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_total"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (bm25TermScore(k1, b) *
          when(col("term").isInCollection(queryTerms), lit(1.0))
            .otherwise(lit(0.5))).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The ONE BM25 tokenizer, shared by the fresh scan path, the stored
    * inverted-index build (Ingest.ensureTermIndex), and the streaming
    * scorer — one expression, so a tokenization change cannot
    * de-correlate the index from the query side (the bands()-derivation
    * rule). */
  private[graft] def bm25Toks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  /** The ONE per-(doc, term) BM25 addend over columns
    * (tf, df, dl, n_docs, dl_total) — shared by the fresh, stored and
    * batched rankers so the formula cannot drift between paths. */
  private[graft] def bm25TermScore(k1: Double, b: Double): Column =
    log((col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
        (col("dl_total").cast(DoubleType) / col("n_docs").cast(DoubleType))))

  /** Rank the top-k documents from a (doc_id, term, tf, dl) frame —
    * fresh (filtered scan) or stored (pruned postings) — plus the 1-row
    * (n_docs, dl_total) stats frame. df per term falls out of the tf
    * frame itself (one row per matching (doc, term) ⇒ count = document
    * frequency); both df and stats broadcast; top-k is
    * TakeOrderedAndProject. */
  private[graft] def bm25Rank(tf: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25TermScore(k1, b).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-language corpus stats: counts + whitespace tokenization.
    "q_text_stats" -> ((s, dir) =>
      documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          sum(wsTokens(col("text"))).as("tokens"))
        .orderBy("lang")),

    // BPE-ish token counting per source.
    "q_token_count" -> ((s, dir) =>
      documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(bpeTokens(col("text"))).as("bpe_tokens"))
        .orderBy("source")),

    // per-doc quality signals (deterministic doubles: one division each).
    "q_quality_score" -> ((s, dir) =>
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
    "q_lang_id" -> ((s, dir) =>
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
    "q_data_card" -> ((s, dir) => {
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
    "q_fingerprint" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // bigram-LM perplexity scores per doc (micro-nat integer sums — see
    // lmScore for the cross-engine determinism argument).
    "q_lm_perplexity" -> ((s, dir) =>
      lmScore(documents(s, dir)).orderBy("doc_id")),

    // the SERVING shape of the same filter: train once (lmTables), then
    // score statelessly against the shipped model — zero joins, zero
    // shuffles in the scoring pass. Must be row-identical to
    // q_lm_perplexity (same oracle SQL), which certifies the
    // train-once/score-anywhere split loses nothing.
    "q_lm_stateless" -> ((s, dir) => {
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
    "q_ppl_buckets" -> ((s, dir) => {
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
    "q_bm25_topk" -> ((s, dir) =>
      bm25TopK(documents(s, dir), Seq("table", "scan", "join"), 10)),

    // query expansion: the 3 strongest co-occurring terms join the query
    // at exactly half weight; the oracle re-derives the expansion set
    // from raw text, so a wrong candidate, cap, tiebreak, or weight
    // flips the ranking hash.
    "q_bm25_expanded" -> ((s, dir) =>
      bm25TopKExpanded(documents(s, dir), Seq("table", "scan", "join"), 10)),

    // DSIR importance weights: target = the English slice, raw = the
    // whole corpus; w_micro = nll_raw − nll_target in integer micro-nats
    // (order-independent), selected = looks more target-like than the
    // corpus average. Training is two bounded lmTables passes; scoring
    // is one shuffle-free projection running both kernels.
    "q_dsir_weights" -> ((s, dir) => {
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
    "q_takedown_dsir" -> ((s, dir) =>
      dsirWeightsRetracted(s, dir, Ingest.Tombstones.Stored)),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    // per-doc top-word count, duplicate-word and duplicate-2-gram counts,
    // plus the derived "repetitive" flag (top word > 20% of tokens) via
    // integer cross-multiplication — no float thresholds anywhere. The
    // kernel (functions/Sketch.RepetitionStats) is a single narrow pass
    // per document inside the scan stage; the SQL-equivalent
    // unnest+GROUP BY formulation — which the DuckDB oracle runs — would
    // shuffle the entire token stream at 100 TB.
    "q_repetition" -> ((s, dir) => {
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
    "q_term_stats" -> ((s, dir) =>
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
    "q_tfidf_terms" -> ((s, dir) => {
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
    })
  )

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

  val oracles: Map[String, String] = Map(
    // CAST(sum(...) AS BIGINT): DuckDB's sum over integers is HUGEINT,
    // which the driver's pandas conversion floats ('3549.0' vs Spark's
    // int64 '3549') — same lesson as the DECIMAL rule in Parity.
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_token_count" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q_quality_score" ->
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
    "q_lang_id" ->
      """WITH g AS (
        |  SELECT lang,
        |         CASE WHEN strpos(t, ' och ') > 0 OR strpos(t, ' att ') > 0 OR strpos(t, ' är ') > 0 THEN 'sv'
        |              WHEN strpos(t, ' und ') > 0 OR strpos(t, ' der ') > 0 OR strpos(t, ' ist ') > 0 THEN 'de'
        |              WHEN strpos(t, ' the ') > 0 OR strpos(t, ' and ') > 0 OR strpos(t, ' is ') > 0 THEN 'en'
        |              WHEN strpos(t, ' le ') > 0 OR strpos(t, ' la ') > 0 OR strpos(t, ' est ') > 0 THEN 'fr'
        |              ELSE 'und' END AS guess
        |  FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents))
        |SELECT lang, guess, count(*) AS cnt FROM g GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // median via quantile_cont: n_chars is integral, so the 0.5 quantile
    // is an int or an int midpoint — exactly representable, bit-equal to
    // Spark's exact percentile. Casts per the HUGEINT/BIGINT rule.
    "q_data_card" ->
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
    "q_repetition" ->
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
    "q_term_stats" ->
      """SELECT term, tf, df FROM (
        |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (
        |    SELECT doc_id,
        |           unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1
        |  ORDER BY df DESC, tf DESC, term LIMIT 20)
        |ORDER BY term""".stripMargin,
    // mirrors lmScore exactly: same tokenization, same deterministic
    // top-V/top-B caps (count desc, token asc — binary string order in
    // both engines), same integer Laplace ratio, same micro-nat
    // quantization before the (integer, order-independent) sum.
    // q_lm_stateless shares the oracle verbatim: the stateless scorer is
    // DEFINED to reproduce lmScore bit-for-bit from the trained tables.
    "q_lm_perplexity" -> LmOracleSql,
    "q_lm_stateless" -> LmOracleSql,
    "q_tfidf_terms" ->
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

    // CCNet buckets: the LM oracle's train+score pipeline, then the
    // same per-lang tertile window (ntile group sizing is SQL-standard
    // ceil-then-floor in both engines).
    "q_ppl_buckets" ->
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

    // BM25: identical tokenization, identical +1-idf formula, identical
    // literal arithmetic ((1.2 + 1.0), (1.0 - 0.75) — same IEEE ops both
    // engines); round-6 absorbs libm ln ulp differences (the tfidf rule).
    "q_bm25_topk" ->
      s"""WITH $Bm25CtesSql
        |SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id""".stripMargin,

    // expansion replay: sorted-distinct capped doc terms → query-doc
    // semi-join → top-m co-occurrence candidates → weighted BM25 with
    // the exact 0.5 CASE
    "q_bm25_expanded" ->
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

    // DSIR: the LM oracle's train+score pipeline run TWICE — raw model
    // over every document, target model over the lang='en' slice — with
    // the same caps, tie order and micro-nat quantization; the weight
    // and selection flag are integer comparisons of the two sums.
    "q_dsir_weights" -> dsirOracleSql("documents"),

    // the identical replay over the surviving corpus: vocabulary caps,
    // counts, quantization and the selection mean all re-derived with
    // the retraction excluded (the engine retrains its bounded models
    // over the same survivors — see the gate comment for why the capped
    // vocab rules out an exact CDC subtraction here).
    "q_takedown_dsir" -> dsirOracleSql("surv",
      s"""surv AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE NOT (doc_id % ${Retention.ForgetMod} = ${Retention.ForgetRem})),
         |""".stripMargin),
  )

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
}
