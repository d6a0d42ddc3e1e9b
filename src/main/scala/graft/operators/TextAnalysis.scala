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
  private[graft] def lmToks(text: Column): Column =
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
}
