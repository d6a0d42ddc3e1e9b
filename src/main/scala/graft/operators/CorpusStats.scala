package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Artifacts.{scratch, storedTable}
import graft.operators.Ingest.{DocGen, Tombstones}

/** Corpus-frequency analytics (SURVEY.md §2.11): a mergeable Count-Min
  * sketch for heavy-hitter queries, and document-level PMI co-occurrence
  * — the association statistics an embedding / phrase pipeline computes
  * before training.
  *
  * 100 TB design notes:
  *  - The CMS is built from per-term partial counts (one map-side
  *    combined groupBy), then folded to D×W = [[CmsDepth]]·[[CmsWidth]]
  *    rows — a bounded broadcast artifact no matter the corpus size,
  *    and MERGEABLE: sketches of two corpora add cell-wise, so shards /
  *    days / crawls combine without re-reading tokens. Point estimates
  *    are a ≤D-row lookup each.
  *  - All CMS arithmetic is integer (bucket = exact base-16 fold of an
  *    md5 prefix, estimate = min of BIGINT sums) — bit-identical on any
  *    executor count, and replayable by the SQL oracle.
  *  - PMI expands per-document DISTINCT-term pairs. The expansion is
  *    quadratic in per-doc vocabulary, NOT corpus vocabulary — bounded
  *    by [[PmiMaxDocTerms]] (drop-excess, loud in the doc count) so a
  *    pathological mega-doc cannot blow the join; the pair groupBy is
  *    map-side combined and the majority-support cut is an integer
  *    cross-multiplication (2·df_ab ≥ N), never a float threshold.
  */
object CorpusStats {

  /** Count-Min geometry: depth = independent hash rows, width = 256
    * buckets so one md5 hex byte IS the bucket (exact fold, no modulo
    * bias, identical in any engine). */
  val CmsDepth: Int = 4
  val CmsWidth: Int = 256

  /** Heavy-hitter probes reported by the gate. */
  val CmsTopK: Int = 10

  /** Per-document distinct-term cap for the PMI pair expansion. */
  val PmiMaxDocTerms: Int = 64

  /** The corpus tokenizer — same whitespace normalization as the BM25 /
    * term-stats family so frequency surfaces agree across operators. */
  private[graft] def toks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  /** Row-r CMS bucket of a term: the first md5 hex byte of
    * `r || '#' || term`, folded to 0..255 exactly (two base-16
    * digits — [[CmsWidth]] is 16², so the fold IS the bucket). */
  def cmsBucket(r: Column, term: Column): Column =
    conv(substring(md5(concat(r.cast(StringType), lit("#"), term)), 1, 2), 16, 10)
      .cast(IntegerType)

  /** DuckDB twin of [[cmsBucket]] (exact integer digit fold — DuckDB
    * has no conv()). */
  def cmsBucketSql(r: String, term: String): String =
    s"""list_sum(list_transform(range(2),
       |  i -> (strpos('0123456789abcdef',
       |          substr(md5(CAST($r AS VARCHAR) || '#' || $term),
       |                 CAST(i + 1 AS INT), 1)) - 1)
       |       * (CAST(1 AS BIGINT) << CAST(4 * (1 - i) AS INT))))""".stripMargin

  /** Build the D×W sketch from a (term, c) count table: explode each
    * term into its [[CmsDepth]] (row, bucket) cells and sum — at most
    * D·W output rows regardless of vocabulary. */
  def cmsBuild(termCounts: DataFrame): DataFrame =
    termCounts
      .select(explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"),
        col("term"), col("c"))
      .select(col("r"), cmsBucket(col("r"), col("term")).as("b"), col("c"))
      .groupBy("r", "b").agg(sum("c").as("cnt"))

  /** Point-estimate each probe term against the sketch: min over the
    * term's D cells. Estimates are ≥ the true count by construction
    * (collisions only add). */
  def cmsEstimate(cms: DataFrame, probes: DataFrame): DataFrame =
    probes
      .select(col("term"), col("c"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("term"), col("c"), col("r"),
        cmsBucket(col("r"), col("term")).as("b"))
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy("term", "c")
      .agg(min("cnt").as("tf_est"))

  // --- stored sketch maintenance (the LSM posture on the stats axis) ---

  /** Fixed probe list for the stored-sketch serving gate — template
    * vocabulary present at every SF, plus one certainly-absent term so
    * the empty-cell edge (a probe whose cell has no stored row) is
    * pinned cross-engine. A literal list, NOT a derived top-k: the warm
    * serving path must touch no corpus-derived frame at all. */
  val CmsProbeTerms: Seq[String] =
    Seq("agg", "column", "join", "merge", "query", "scan", "window",
      "zzz_absent_probe")

  /** THE base/delta pair of a stored sketch: `<stem>_base` over
    * `documents` and `<stem>_delta` over the append batch
    * ([[Ingest.appendedDocs]] — the copied rows as they are, since a
    * corpus sketch needs no new identity). Each build is one
    * map-side-combined aggregation and each artifact is bounded no
    * matter the corpus size (≤ D·W CMS cells, ≤ shards·buckets
    * histogram cells, ≤ |langs| HLL rows). The base is NEVER rebuilt
    * on append — at 100 TB that is the whole point: per-shard /
    * per-crawl sketches are built once by the ingest that produced the
    * shard, and every later reader pays only the merge. */
  def ensureSketchPair(s: SparkSession, dir: String, stem: String,
      build: DataFrame => DataFrame): (DataFrame, DataFrame) =
    (storedTable(s, scratch(s, dir, s"${stem}_base"))(build(documents(s, dir))),
      storedTable(s, scratch(s, dir, s"${stem}_delta"))(build(Ingest.appendedDocs(s, dir))))

  /** (term, c) counts of a document frame under the corpus tokenizer. */
  private[graft] def termCounts(docs: DataFrame): DataFrame = docs
    .select(explode(toks(col("text"))).as("term"))
    .groupBy("term").agg(count(lit(1)).as("c"))

  /** A LINEAR cell sketch: rows are (keys…, mass) cells and the sketch
    * of A ∪ B is the cell-wise SUM of the two, so cells(A) − cells(R) =
    * cells(A \ R) for any R ⊆ A, per cell, in exact integers. An append
    * is a positive side, a retraction a NEGATED one, and every served
    * generation is a list of signed sides ([[sketchCells]]). HLL is not
    * one: its registers merge by MAX, which is not invertible — the
    * deletion verb on the cardinality axis is a rebuild, not a
    * subtraction, so it keeps only the pair. */
  sealed abstract class CellSketch(val stem: String, val keys: Seq[String],
      val mass: String) {
    /** The sketch of a `documents`-shaped frame. */
    def build(docs: DataFrame): DataFrame
  }

  object CellSketch {
    /** Count-Min cells (r, b) → cnt. */
    case object Cms extends CellSketch("cms", Seq("r", "b"), "cnt") {
      def build(docs: DataFrame): DataFrame = cmsBuild(termCounts(docs))
    }
    /** Per-shard length histogram cells (shard, bucket) → n; the shard
      * axis survives every rewrite, so a purged artifact stays
      * mergeable. */
    case object Hist extends CellSketch("hist", Seq("shard", "bucket"), "n") {
      def build(docs: DataFrame): DataFrame = histBuild(docs)
    }
  }

  /** THE served-generation accessor of the cell sketches: the signed
    * cell sides a generation sums to. Every post-scan frame is ≤ 2×
    * the sketch's cell bound.
    *
    *  - Base: the base sketch. Appended: base and delta (sum is
    *    associative, so merged-from-parts IS the fresh sketch over
    *    base ∪ batch — the merge gates' oracles replay the fresh build
    *    over the augmented corpus).
    *  - Masked(t, over): `over`'s sides and the NEGATED retraction
    *    sketch of `t` — the stored sides are untouched (readers keep
    *    their snapshot; the takedown is effective the instant the
    *    retraction commits). The retraction tokenizes ONLY the retracted
    *    documents, never the corpus — every copy the chain holds under
    *    the retracted ids ([[Tombstones.docsIn]]): stored as
    *    `<stem>_retract` for [[Tombstones.Stored]] on the base chain,
    *    built at serve time otherwise. The forget gates' oracles replay
    *    a fresh sketch over the reduced corpus, so their hashes ARE the
    *    linearity proof.
    *  - Purged(t, over): one side — Masked's merged non-zero cells
    *    written as a new generation from STORED CELLS alone (zero corpus
    *    I/O: the cheapest purge in the engine, which is what linearity
    *    buys). The purge gates share the forget oracles verbatim, so
    *    masked ≡ purged is pinned by one hash.
    *  - Compacted, Retrained: rejected — a sketch pair is already one
    *    bounded table per generation. */
  def sketchCells(s: SparkSession, dir: String, sk: CellSketch,
      gen: DocGen): Seq[DataFrame] = {
    lazy val (base, delta) = ensureSketchPair(s, dir, sk.stem, sk.build)
    gen match {
      case DocGen.Base => Seq(base)
      case DocGen.Appended => Seq(base, delta)
      case DocGen.Masked(t, over) =>
        sketchCells(s, dir, sk, over) :+ retraction(s, dir, sk, t, over)
          .select(sk.keys.map(col) :+ (-col(sk.mass)).as(sk.mass): _*)
      case DocGen.Purged(t, over) =>
        Seq(storedTable(s, scratch(s, dir,
            s"${sk.stem}${DocGen.purgedSuffix(s, dir, t, over)}"))(
          merged(sk, sketchCells(s, dir, sk, DocGen.Masked(t, over)))))
      case _ => throw new IllegalArgumentException(
        s"the ${sk.stem} sketch has no $gen generation")
    }
  }

  /** The sketch of `t`'s retracted rows of chain `over` (the corpus,
    * plus the append batch as it is once the chain has it). */
  private def retraction(s: SparkSession, dir: String, sk: CellSketch,
      t: Tombstones, over: DocGen): DataFrame = (t, over) match {
    case (Tombstones.Stored, DocGen.Base) =>
      storedTable(s, scratch(s, dir, s"${sk.stem}_retract"))(sk.build(t.docs(s, dir)))
    case _ => sk.build(t.docsIn(s, dir, over,
      documents(s, dir).unionByName(Ingest.appendedDocs(s, dir))))
  }

  /** Signed sides summed cell-wise — one bounded groupBy. Cells whose
    * whole mass was retracted drop out (a fresh build over the reduced
    * corpus has no such row either, and the serves read absent as 0). */
  private def merged(sk: CellSketch, sides: Seq[DataFrame]): DataFrame =
    sides.reduce(_.unionByName(_))
      .groupBy(sk.keys.map(col): _*).agg(sum(sk.mass).as(sk.mass))
      .filter(col(sk.mass) =!= 0)

  /** Warm heavy-hitter estimates through one served CMS generation:
    * the sides cell-merged (when there is more than one), then a
    * min-over-depth point estimate per probe. Absent cells count 0
    * (LEFT join + coalesce): a probe term the corpus never saw
    * estimates as its true collision mass, not as a dropped row.
    * Everything after the stored scans is ≤ 2·D·W rows — broadcast-
    * scale at any corpus size. */
  def cmsServed(s: SparkSession, dir: String, gen: DocGen,
      probeTerms: Seq[String] = CmsProbeTerms): DataFrame = {
    import s.implicits._
    val sides = sketchCells(s, dir, CellSketch.Cms, gen)
    val cells = if (sides.size == 1) sides.head else merged(CellSketch.Cms, sides)
    probeTerms.toDF("term")
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("term"), col("r"),
        cmsBucket(col("r"), col("term")).as("b"))
      .join(broadcast(cells), Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("tf_est"))
      .orderBy("term")
  }

  // bounded stats-artifact readout, once per (app, committed artifact)
  // — the bm25PolicyServed dead-fraction memo shape (optimization r16)
  private val massMemo = new PlanMemo[Long]

  /** Tombstone-fraction PURGE TRIGGER on the stats axis — the
    * [[Ingest.bm25PolicyServed]] policy: below θ keep serving Masked
    * (snapshot untouched), at/above θ pay the Purged rewrite (which
    * here costs only a ≤ 2·D·W-row job — linearity makes the stats
    * axis the cheapest purge in the engine, so its θ can sit far lower
    * than an index's). The dead fraction comes from STORED CELLS alone:
    * every token lands in exactly one bucket per depth row, so row 0's
    * cell sum IS the token mass, and retracted over live mass is two
    * ≤ W-row reads. Returns the served frame plus the decision so the
    * gate pins WHICH arm ran. */
  def cmsPolicyServed(s: SparkSession, dir: String, t: Tombstones,
      theta: Double, probeTerms: Seq[String] = CmsProbeTerms): (DataFrame, Boolean) = {
    val sk = CellSketch.Cms
    // sum over an EMPTY slice (no retractions yet, or an all-zero r=0
    // row) is NULL, not 0 — coalesce so the fraction is 0.0, not an NPE
    def mass(df: DataFrame): Long = {
      val row0 = df.filter(col("r") === 0)
      massMemo.getOrElseUpdate(row0,
        row0.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0))
    }
    val live = mass(ensureSketchPair(s, dir, sk.stem, sk.build)._1)
    val dead = mass(retraction(s, dir, sk, t, DocGen.Base))
    val purge = (if (live == 0L) 0.0 else dead.toDouble / live) >= theta
    (cmsServed(s, dir, if (purge) DocGen.Purged(t) else DocGen.Masked(t),
      probeTerms), purge)
  }

  // --- mergeable histogram quantiles (the CMS posture, quantile axis) --

  /** Histogram geometry: fixed-width integer buckets over `n_chars`,
    * built PER SHARD — the artifact any ingest job can emit for its own
    * shard and any reader can merge, giving corpus quantiles with no
    * global sort and no full re-scan. */
  val HistBucketWidth: Int = 16
  val HistShards: Int = 8

  /** Percentiles the quantile gate reports. */
  val QuantilePcts: Seq[Int] = Seq(25, 50, 75, 90, 99)

  /** Per-shard fixed-width histogram of a (doc_id, n_chars) frame — one
    * map-side-combined groupBy; ≤ shards · buckets output rows no
    * matter the corpus size. */
  def histBuild(docs: DataFrame): DataFrame = docs
    .select((col("doc_id") % HistShards).cast(IntegerType).as("shard"),
      expr(s"n_chars div $HistBucketWidth").cast(LongType).as("bucket"))
    .groupBy("shard", "bucket").agg(count(lit(1)).as("n"))

  /** Exact histogram quantiles through one served generation: the
    * signed sides folded over the shard axis in one bounded groupBy
    * (zero buckets dropped), a cumulative window over ≤ buckets rows,
    * then for each percentile the smallest bucket whose cumulative
    * count covers it (integer cross-multiplication — no float
    * boundary). Quantiles over 100 TB with no sort of the corpus and no
    * re-read. The bucket answer is exact FOR THE HISTOGRAM (value
    * resolution = [[HistBucketWidth]]), which is the trade every
    * production quantile sketch makes — made honest here by reporting
    * the bucket bounds, not an interpolated point. */
  def histServed(s: SparkSession, dir: String, gen: DocGen): DataFrame = {
    import s.implicits._
    val buckets = sketchCells(s, dir, CellSketch.Hist, gen).reduce(_.unionByName(_))
      .groupBy("bucket").agg(sum("n").as("n"))
      .filter(col("n") =!= 0)
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = buckets
      .withColumn("cum_n", sum("n").over(w).cast(LongType))
      .crossJoin(broadcast(
        buckets.agg(sum("n").cast(LongType).as("total_n"))))
    QuantilePcts.toDF("q_pct")
      .join(cum, col("cum_n") * 100 >= col("q_pct") * col("total_n"))
      .groupBy("q_pct", "total_n")
      .agg(min(struct(col("bucket"), col("cum_n"))).as("f"))
      .select(col("q_pct"),
        col("f.bucket").as("bucket"),
        (col("f.bucket") * HistBucketWidth).cast(LongType).as("lo_chars"),
        col("f.cum_n").as("cum_n"),
        col("total_n"))
      .orderBy("q_pct")
  }

  // --- mergeable HLL cardinality artifacts (the CMS posture, ---------
  // --- distinct axis) -------------------------------------------------

  /** lgConfigK of the stored HLL sketches: 2¹² registers ⇒ ~1.6 % rse,
    * ≤ a few KB per sketch row. */
  val HllLgK: Int = 12

  /** Per-lang Datasketches-HLL sketch of the distinct TERM vocabulary —
    * one map-side-combined aggregation, ≤ |langs| bounded binary rows.
    * The vocabulary-size-per-language surface every data card wants,
    * in the shape any shard job can emit and any reader can merge. */
  def hllBuild(docs: DataFrame): DataFrame = docs
    .select(col("lang"), explode(toks(col("text"))).as("term"))
    .groupBy("lang")
    .agg(hll_sketch_agg(col("term"), HllLgK).as("sk"))

  /** Distinct-vocabulary estimate of the GROWN corpus served from the
    * stored `hll` sketch pair alone (one union-agg over ≤ 2·|langs|
    * rows; registers merge by per-register MAX — commutative and
    * idempotent, so generations combine in any order). Gate
    * shape (r13, replacing the constant-true envelope): the EXACT
    * distinct count plus the estimator's 5%-ERROR BAND
    * `floor(|est − exact|·20 / exact)` — 0 means within 5 %, and any
    * drift shows its actual band in the diff instead of a bare false.
    * The oracle computes the SAME band from DuckDB's own HLL
    * (`approx_count_distinct`), so each engine independently asserts
    * its estimator's accuracy — the oracle no longer contains a column
    * it did not compute. Deterministic for fixed data: Datasketches
    * HLL has no run-time randomness. */
  def hllMergeServe(s: SparkSession, dir: String): DataFrame = {
    val (base, delta) = ensureSketchPair(s, dir, "hll", hllBuild)
    val est = base.unionByName(delta)
      .groupBy("lang").agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("lang"), hll_sketch_estimate(col("sk")).as("est"))
    val doc2 = documents(s, dir).select("lang", "text")
      .unionByName(Ingest.appendedDocs(s, dir).select("lang", "text"))
    doc2
      .select(col("lang"), explode(toks(col("text"))).as("term"))
      .groupBy("lang").agg(countDistinct(col("term")).as("exact_terms"))
      .join(broadcast(est), "lang")
      .select(col("lang"), col("exact_terms"),
        floor(abs(col("est") - col("exact_terms")) * 20 /
          col("exact_terms")).cast(LongType).as("err_band_5pct"))
      .orderBy("lang")
  }

  /** One-frame DATA CARD — the per-language summary a dataset release
    * ships (docs, token mass, vocabulary, length profile), composed
    * from the same generators the individual stats gates pin: exact
    * counts, the HLL estimate inside its 5% envelope (the
    * q_hll_distinct convention — the estimate is implementation-
    * specific, the envelope is not), the median length bucket by the
    * histogram coverage cut, and integer mean chars. Everything after
    * the two corpus scans (doc stats + token explode) is ≤
    * |langs|·buckets rows; the per-lang cumulative window is over that
    * bounded frame, never the corpus. */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val base = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("sum_chars"))
    val tok = docs.select(col("lang"), explode(toks(col("text"))).as("term"))
    val vocab = tok.groupBy("lang").agg(
      count(lit(1)).as("n_tokens"),
      countDistinct("term").as("distinct_terms"),
      hll_sketch_estimate(hll_sketch_agg(col("term"), HllLgK)).as("est"))
    val hist = docs.select(col("lang"),
      expr(s"n_chars div $HistBucketWidth").cast(LongType).as("bucket"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val med = hist
      .withColumn("cum_n", sum("n").over(w).cast(LongType))
      .join(hist.groupBy("lang").agg(sum("n").as("total_n")), "lang")
      .filter(col("cum_n") * 2 >= col("total_n"))
      .groupBy("lang")
      .agg((min("bucket") * HistBucketWidth).cast(LongType).as("p50_chars_lo"))
    base.join(vocab, "lang").join(med, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("sum_chars div n_docs").as("mean_chars"),
        col("distinct_terms"),
        floor(abs(col("est") - col("distinct_terms")) * 20 /
          col("distinct_terms")).cast(LongType).as("vocab_err_band_5pct"),
        col("p50_chars_lo"))
      .orderBy("lang")
  }

  /** Deletion surface this module contributes to the composed takedown
    * (TakedownSpec derives the expected axis set from these). */
  val takedownAxes: Seq[String] = Seq("cms")
}
