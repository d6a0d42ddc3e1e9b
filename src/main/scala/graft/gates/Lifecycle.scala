package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.queries.Tables.embeddings
import graft.operators.CorpusStats.{CmsDepth, CmsProbeTerms, HistBucketWidth,
  QuantilePcts, cmsBucketSql, cmsServed, histServed}
import graft.operators.Ingest._
import graft.operators.Multimodal.{MediaForgetMod, audioDedup, imageDedup,
  mediaServed, videoDedup}

/** The corpus a served generation holds, and so the one its oracle
  * replays. The generation picks it, so every gate served through the
  * same family and corpus shares ONE oracle string by construction:
  *  - Base: the built index; its gates share the fresh twin's oracle
  *    verbatim, so one hash pins stored-index serving ≡ fresh compute.
  *  - Augmented: base ∪ the `% 101` append batch, served Appended
  *    (base ∪ delta, the base never re-indexed) or Compacted (one merged
  *    generation) — merged ≡ union ≡ DuckDB pinned by one hash.
  *  - Reduced: base minus the tombstoned docs, served Masked (anti-join
  *    at serve time, stats corrected) or Purged (the rewritten
  *    generation, no mask left in the plan) — masked ≡ purged ≡ DuckDB
  *    pinned by one hash. */
sealed trait Corpus
object Corpus {
  case object Base extends Corpus
  case object Augmented extends Corpus
  case object Reduced extends Corpus

  def of(g: DocGen): Corpus = g match {
    case DocGen.Base => Base
    case DocGen.Appended | DocGen.Compacted | DocGen.Retrained(_) => Augmented
    case DocGen.Masked(_, _) | DocGen.Purged(_, _) => Reduced
  }

  /** The (doc_id, text) source a text replay reads: the append batch and
    * the retraction predicate are generated from the same Scala
    * constants the Spark delta and tombstone builds use. */
  def from(c: Corpus): String = c match {
    case Base => "FROM documents"
    case Augmented =>
      s"""FROM (SELECT doc_id, text FROM documents
         |        UNION ALL
         |        SELECT doc_id + $DocAppendOffset AS doc_id, text
         |        FROM documents WHERE doc_id % 101 = 0)""".stripMargin
    case Reduced =>
      s"""FROM (SELECT doc_id, text FROM documents
         |        WHERE NOT (doc_id % $ForgetMod = $ForgetRem))""".stripMargin
  }

  /** `ctes` with its toks source (`FROM documents` + `tail`) rewritten
    * to `c` — the formula, tokenization, rounding and tie order stay the
    * ONE shared CTE string. */
  def over(ctes: String, tail: String, c: Corpus): String = {
    val src = "FROM documents" + tail
    require(ctes.contains(src), "CTE chain drifted: toks source not found")
    ctes.replace(src, from(c) + tail)
  }

  /** A `doc2` CTE body over `cols` for the sketch replays. */
  def doc2(cols: String, c: Corpus): String = c match {
    case Base => s"  SELECT $cols FROM documents"
    case Augmented =>
      s"""  SELECT $cols FROM documents
         |  UNION ALL
         |  SELECT $cols FROM documents WHERE doc_id % 101 = 0""".stripMargin
    case Reduced =>
      s"""  SELECT $cols FROM documents
         |  WHERE NOT (doc_id % $ForgetMod = $ForgetRem)""".stripMargin
  }
}

/** A stored document family: its serve through one generation and its
  * oracle for each corpus it is gated on. */
final case class Family(serve: (SparkSession, String, DocGen) => DataFrame,
    oracle: Corpus => String)

/** An IVF family: its layout, and its serve of one generation over the
  * gate's query batch (the single-query serves read their own query row
  * and ignore the batch). */
final case class Ivf(layout: (SparkSession, String) => IvfLayout,
    serve: (SparkSession, String, IvfLayout, DataFrame) => DocGen => DataFrame)

/** The stored-index lifecycle gates as ONE family × generation matrix:
  * each row is (gate name, family, generation), its query the family's
  * serve through that generation and its oracle the family's oracle for
  * the generation's [[Corpus]] (documents) or the generation's constant
  * outcome (IVF). Names are irregular, so each row spells its own. */
object Lifecycle {

  private val Terms = Seq("table", "scan", "join")

  /** Near-dup pairs from the stored sketch index (no tokenization, no
    * sketch expressions, no text I/O at serve time) vs the brute-force
    * all-pairs Jaccard replay. */
  val NearDup = Family(nearDupServed, DedupGates.nearDupOracle)

  /** BM25 top-10 from the stored inverted index (only the query terms'
    * bucket directories read) vs fresh BM25 over the corpus: N, Σdl and
    * every df move with it, so a stale statistic shifts every score. */
  val Bm25 = Family((s, dir, g) => bm25Served(s, dir, g, Terms, 10),
    TextAnalysisGates.bm25Oracle)

  /** Batched exact phrase search from the stored positional index
    * (adjacency votes keyed by (doc, start)) vs the same adjacency
    * algorithm over the same tokenizer; the spec VALUES are generated
    * from PhraseBatch, and `generate_subscripts` is 1-based where
    * posexplode is 0-based (`start` shifts by a constant, grouping-only). */
  val Phrase = Family(
    (s, dir, g) => phraseMatchServed(s, dir, g, PhraseBatch)
      .orderBy("phrase_id", "doc_id"), c => {
      val spec = PhraseBatch.flatMap { case (pid, toks) =>
        toks.zipWithIndex.map { case (t, i) => s"($pid, '$t', $i)" } }
        .mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
         |  ${Corpus.from(c)}),
         |pos AS (SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos FROM toks),
         |spec(phrase_id, term, off) AS (VALUES $spec),
         |lens AS (SELECT phrase_id, count(*) AS n_off FROM spec GROUP BY 1),
         |starts AS (
         |  SELECT phrase_id, doc_id, pos - off AS start,
         |         count(DISTINCT off) AS got
         |  FROM pos JOIN spec USING (term) GROUP BY 1, 2, 3)
         |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
         |       CAST(count(*) AS BIGINT) AS n_hits
         |FROM starts JOIN lens USING (phrase_id)
         |WHERE got = n_off
         |GROUP BY 1, 2 ORDER BY phrase_id, doc_id""".stripMargin
    })

  /** A fresh count-min sketch over a `doc2` text source, probed with the
    * fixed list, through the per-probe `cells`. */
  private def cmsCtes(c: Corpus): String =
    s"""doc2 AS (
       |${Corpus.doc2("text", c)}),
       |tok AS (
       |  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
       |  FROM doc2),
       |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
       |cms AS (
       |  SELECT r, ${cmsBucketSql("r", "term")} AS b,
       |         CAST(sum(c) AS BIGINT) AS cnt
       |  FROM cnt CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u
       |  GROUP BY 1, 2),
       |probe AS (SELECT unnest([${CmsProbeTerms.map("'" + _ + "'").mkString(", ")}]) AS term),
       |cells AS (
       |  SELECT p.term, u.r, ${cmsBucketSql("u.r", "p.term")} AS b
       |  FROM probe p CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u)""".stripMargin

  /** The reduced-corpus sketch estimates as an `est` CTE — shared with
    * the purge-trigger gate, whose two arms serve it. */
  val CmsForgetCtes: String =
    s"""${cmsCtes(Corpus.Reduced)},
       |est AS (
       |  SELECT cells.term,
       |         CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS tf_est
       |  FROM cells LEFT JOIN cms ON cells.r = cms.r AND cells.b = cms.b
       |  GROUP BY 1)""".stripMargin

  /** Heavy-hitter estimates from the stored sketches — cell-wise merge
    * of base and delta, or the retraction sketch subtracted from base —
    * vs a FRESH sketch over the corpus: sketch linearity made observable
    * (merged-from-parts ≡ fresh-over-union; subtraction exact), plus the
    * absent-probe zero-cell edge. */
  val Cms = Family(cmsServed(_, _, _), Map(
    Corpus.Augmented ->
      s"""WITH ${cmsCtes(Corpus.Augmented)}
         |SELECT cells.term,
         |       CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS tf_est
         |FROM cells LEFT JOIN cms ON cells.r = cms.r AND cells.b = cms.b
         |GROUP BY 1 ORDER BY term""".stripMargin,
    Corpus.Reduced ->
      s"WITH $CmsForgetCtes\nSELECT term, tf_est FROM est ORDER BY term"))

  /** Exact histogram quantiles from the stored per-shard artifacts
    * (cell-wise merge or per-(shard, bucket) subtraction, integer
    * coverage cut) vs a fresh histogram with no shard axis at all. */
  val Hist = Family(histServed, c =>
    s"""WITH doc2 AS (
       |${Corpus.doc2("n_chars", c)}),
       |h AS (
       |  SELECT CAST(n_chars // $HistBucketWidth AS BIGINT) AS bucket,
       |         count(*) AS n
       |  FROM doc2 GROUP BY 1),
       |c AS (
       |  SELECT bucket, n,
       |         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
       |         CAST((SELECT sum(n) FROM h) AS BIGINT) AS total_n
       |  FROM h),
       |q AS (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS q_pct)
       |SELECT CAST(q.q_pct AS INT) AS q_pct,
       |       min(c.bucket) AS bucket,
       |       CAST(min(c.bucket) * $HistBucketWidth AS BIGINT) AS lo_chars,
       |       CAST(min_by(c.cum_n, c.bucket) AS BIGINT) AS cum_n,
       |       max(c.total_n) AS total_n
       |FROM q JOIN c ON c.cum_n * 100 >= q.q_pct * c.total_n
       |GROUP BY 1 ORDER BY q_pct""".stripMargin)

  /** The media takedown predicate: a takedown is doc-keyed and masks by
    * SOURCE, so a retracted doc's re-encodes fall with it. */
  private val MediaKept = s"NOT (doc_id % $MediaForgetMod = 0)"

  /** The three dedup surfaces served from the stored media hash index —
    * no payload read, no decode at serve time (only the arriving delta
    * bytes were ever decoded, once) — vs the formula replays, which
    * never see a container, so one hash pins stored-index serving ≡
    * decode-and-hash end to end. */
  val Image = Family((s, dir, g) => imageDedup(mediaServed(s, dir, g)), Map(
    Corpus.Base -> MultimodalGates.imageDedupOracle(""),
    Corpus.Augmented -> MultimodalGates.ImageDedupAppendOracle,
    Corpus.Reduced ->
      MultimodalGates.imageDedupOracle(s" AND doc_id % $MediaForgetMod <> 0")))
  val Video = Family((s, dir, g) => videoDedup(mediaServed(s, dir, g)), Map(
    Corpus.Base -> MultimodalGates.videoDedupOracle("TRUE"),
    Corpus.Augmented -> MultimodalGates.videoDedupOracle("TRUE", withDelta = true),
    Corpus.Reduced -> MultimodalGates.videoDedupOracle(MediaKept)))
  val Audio = Family((s, dir, g) => audioDedup(mediaServed(s, dir, g)), Map(
    Corpus.Base -> MultimodalGates.audioDedupOracle("TRUE"),
    Corpus.Augmented -> MultimodalGates.audioDedupOracle("TRUE", withDelta = true),
    Corpus.Reduced -> MultimodalGates.audioDedupOracle(MediaKept)))

  /** Batched kNN through a stored IVF layout: one probe plan for the
    * whole batch, per-side DPP on every generation's scan, the code
    * families' shortlist + exact rescore, per-query two-phase top-k. */
  private def knn(layout: (SparkSession, String) => IvfLayout) =
    Ivf(layout, (s, dir, l, qs) => knnJoinIvfServed(s, dir, l, _, qs, 10))
  val KnnFlat = knn((_, _) => IvfLayout.Flat)
  val KnnSq8 = knn(IvfLayout.sq8(_, _))
  val KnnPq = knn(IvfLayout.pq(_, _))
  /** The single-query warm paths (flat; PQ with ADC + bounded rescore). */
  val TopKFlat = Ivf((_, _) => IvfLayout.Flat,
    (s, dir, _, _) => ivfTopKServed(s, dir, _, 10))
  val TopKPq = Ivf(IvfLayout.pq(_, _),
    (s, dir, _, _) => ivfPqTopKServed(s, dir, _, 10))

  /** The 8 base-canary sources as a (q_id, q_emb) batch: each query's
    * exact-copy twin rides the base at +[[TwinOffset]]. */
  private def canaryQueries(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).orderBy("vec_id").limit(NumCanaries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** The 8 append sources as a batch: each query's exact copy lives ONLY
    * in the delta, at +[[AppendOffset]]. */
  private def appendQueries(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).orderBy("vec_id").offset(NumCanaries).limit(NumCanaries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** recall_at_10 of the base canaries: each query's twin provably sits
    * in its FIRST-probed cell with cosine 1.0, so it is in the top-10 at
    * any probe width and a probe-planning, DPP, shortlist or top-k
    * mistake flips the pinned 1.0 — with most of the corpus UNSCANNED
    * (geometry and probe width derive from corpus size). */
  private def canaryRecall(served: DataFrame): DataFrame =
    served.filter(col("vec_id") === col("q_id") + lit(TwinOffset))
      .agg((count(lit(1)).cast(DoubleType) / NumCanaries.toDouble)
        .as("recall_at_10"))

  /** The forget/purge gates' outcome over a [[canaryQueries]] serve with
    * the first half's twins tombstoned: a retracted twin was its query's
    * guaranteed top-1, so n_retracted_served == 0 pins the mask (or the
    * purge) across probe/DPP/shortlist/top-k, and the surviving half's
    * recall 1.0 pins that deletion removed nothing else. */
  private def forgetOutcome(s: SparkSession, dir: String,
      served: DataFrame): DataFrame = {
    val dead = ensureVecForgetSet(s, dir)
      .select(col("vec_id").as("dead_id"))
    served
      .join(broadcast(dead), col("vec_id") === col("dead_id"), "left_outer")
      .agg(
        (count(when(col("vec_id") === col("q_id") + lit(TwinOffset),
          lit(1))).cast(DoubleType) / (NumCanaries / 2).toDouble)
          .as("recall_surviving"),
        count(col("dead_id")).as("n_retracted_served"))
  }

  /** recall_at_10 of the delta-only append canaries: a batched serve
    * (q_id per row, over [[appendQueries]]) must hold each query's
    * +AppendOffset copy; a single-query serve must hold the
    * [[appendQueryRow]]'s. Pinned 1.0, it proves the frozen-centroid
    * assignment, the delta's cell layout and the generation's pruned
    * scans — without rebuilding or touching the base index files. */
  private def appendRecall(s: SparkSession, dir: String,
      served: DataFrame): DataFrame =
    if (served.columns.contains("q_id"))
      served.filter(col("vec_id") === col("q_id") + lit(AppendOffset))
        .agg((count(lit(1)).cast(DoubleType) / NumCanaries.toDouble)
          .as("recall_at_10"))
    else
      served.join(broadcast(appendQueryRow(embeddings(s, dir))),
          col("vec_id") === col("q_id") + lit(AppendOffset))
        .agg(count(lit(1)).cast(DoubleType).as("recall_at_10"))

  /** The compact gates: the appended and the compacted serve, each
    * constructed AND materialized on a pool thread (guide §2.6 — both
    * are bounded, k rows per query, so the differential reads two tiny
    * checkpoints instead of re-executing each serve in both exceptAll
    * directions), compared row-for-row (n_diverging pinned 0: payloads
    * merge verbatim, so any re-encode or layout bug diverges), plus the
    * append canary recall through the compacted generation. */
  private def compactDifferential(s: SparkSession, dir: String,
      serve: DocGen => DataFrame): DataFrame = {
    val Seq(appended, compacted) = graft.Par.run(s.sparkContext, Seq(
      () => serve(DocGen.Appended).localCheckpoint(),
      () => serve(DocGen.Compacted).localCheckpoint()))
    val diverging = appended.exceptAll(compacted)
      .unionByName(compacted.exceptAll(appended))
    appendRecall(s, dir, compacted)
      .crossJoin(diverging.agg(count(lit(1)).cast(LongType)
        .as("n_diverging")))
  }

  /** The retrain gates: skewThreshold = 0 forces the drift response
    * deterministically (occupancy skew is ≥ 1 by construction), so a
    * COLD run exercises the full retrain — k-means on the live sample,
    * gen3 under the NEW centroids, codes re-derived with the FROZEN
    * model — and warm runs serve the monotone gen3. Pinned every run:
    * per-vec_id gen3 codes ≡ the served base ∪ delta codes
    * (n_code_diverging 0) and the append canaries surface through the
    * retrained geometry. The serve and the corpus-sized differential are
    * independent and overlap (guide §2.6), checkpointing only the two
    * 1-row aggregates — the code tables never enter the block manager. */
  private def retrainCheck(s: SparkSession, dir: String, l: IvfLayout,
      forced: DocGen.Retrained, serve: DocGen => DataFrame): DataFrame = {
    val (_, gen3, _) = ivfRetrained(s, dir, l, forced.skewThreshold)
    val (_, base, delta) = ivfDelta(s, dir, l)
    val served = base.drop("cell").unionByName(delta.drop("cell"))
    val g3 = gen3.drop("cell")
    val diverging = g3.exceptAll(served).unionByName(served.exceptAll(g3))
    val Seq(recall, nDiv) = graft.Par.run(s.sparkContext, Seq(
      () => appendRecall(s, dir, serve(forced)).localCheckpoint(),
      () => diverging.agg(count(lit(1)).cast(LongType)
        .as("n_code_diverging")).localCheckpoint()))
    recall.crossJoin(nDiv)
  }

  private val Recall = "SELECT CAST(1.0 AS DOUBLE) AS recall_at_10"

  /** One IVF generation column: its constant oracle and the outcome it
    * wraps the generation's serve in. */
  private def ivfColumn(g: DocGen)
      : (String, (SparkSession, String, IvfLayout, DocGen => DataFrame) => DataFrame) =
    g match {
      case DocGen.Base => (Recall, (_, _, _, serve) => canaryRecall(serve(g)))
      case DocGen.Appended =>
        (Recall, (s, dir, _, serve) => appendRecall(s, dir, serve(g)))
      case DocGen.Compacted =>
        (s"$Recall, CAST(0 AS BIGINT) AS n_diverging",
          (s, dir, _, serve) => compactDifferential(s, dir, serve))
      case r: DocGen.Retrained =>
        (s"$Recall, CAST(0 AS BIGINT) AS n_code_diverging",
          (s, dir, l, serve) => retrainCheck(s, dir, l, r, serve))
      case _ =>
        ("SELECT CAST(1.0 AS DOUBLE) AS recall_surviving, " +
          "CAST(0 AS BIGINT) AS n_retracted_served",
          (s, dir, _, serve) => forgetOutcome(s, dir, serve(g)))
    }

  private def row(name: String, f: Family, g: DocGen): Gate =
    Gate(name, f.oracle(Corpus.of(g)), (s, dir) => f.serve(s, dir, g))

  /** The canary batch serves the base and the deletions (a retracted
    * twin was its query's top-1); the append batch every grown corpus. */
  private def row(name: String, f: Ivf, g: DocGen): Gate = {
    val (oracle, outcome) = ivfColumn(g)
    Gate(name, oracle, (s, dir) => {
      val l = f.layout(s, dir)
      val qs = if (Corpus.of(g) == Corpus.Augmented) appendQueries(s, dir)
        else canaryQueries(s, dir)
      outcome(s, dir, l, f.serve(s, dir, l, qs))
    })
  }

  private val Masked = DocGen.Masked(Tombstones.Stored)
  private val Purged = DocGen.Purged(Tombstones.Stored)
  import DocGen.{Appended, Base, Compacted}

  val all: Seq[Gate] = Seq(
    row("q_near_dup_minhash_stored", NearDup, Base),
    row("q_near_dup_append", NearDup, Appended),
    row("q_near_dup_compact", NearDup, Compacted),
    row("q_near_dup_forget", NearDup, Masked),
    row("q_near_dup_purge", NearDup, Purged),
    row("q_bm25_topk_stored", Bm25, Base),
    row("q_bm25_append", Bm25, Appended),
    row("q_bm25_compact", Bm25, Compacted),
    row("q_bm25_forget", Bm25, Masked),
    row("q_bm25_purge", Bm25, Purged),
    row("q_phrase_search", Phrase, Base),
    row("q_phrase_forget", Phrase, Masked),
    row("q_phrase_purge", Phrase, Purged),
    row("q_cms_merge", Cms, Appended),
    row("q_cms_forget", Cms, Masked),
    row("q_cms_purge", Cms, Purged),
    row("q_quantile_merge", Hist, Appended),
    row("q_quantile_forget", Hist, Masked),
    row("q_quantile_purge", Hist, Purged),
    row("q_image_dedup_stored", Image, Base),
    row("q_image_dedup_append", Image, Appended),
    row("q_image_dedup_compact", Image, Compacted),
    row("q_multimodal_forget", Image, Masked),
    row("q_multimodal_purge", Image, Purged),
    row("q_video_dedup_stored", Video, Base),
    row("q_video_dedup_append", Video, Appended),
    row("q_video_dedup_compact", Video, Compacted),
    row("q_video_dedup_forget", Video, Masked),
    row("q_video_dedup_purge", Video, Purged),
    row("q_audio_dedup_stored", Audio, Base),
    row("q_audio_dedup_append", Audio, Appended),
    row("q_audio_dedup_compact", Audio, Compacted),
    row("q_audio_dedup_forget", Audio, Masked),
    row("q_audio_dedup_purge", Audio, Purged),
    row("q_knn_ivf_stored", KnnFlat, Base),
    row("q_knn_ivf_append", KnnFlat, Appended),
    row("q_knn_ivf_compact", KnnFlat, Compacted),
    row("q_knn_ivf_forget", KnnFlat, Masked),
    row("q_ivf_purge", KnnFlat, Purged),
    row("q_knn_ivfsq_stored", KnnSq8, Base),
    row("q_knn_ivfsq_append", KnnSq8, Appended),
    row("q_knn_ivfsq_compact", KnnSq8, Compacted),
    row("q_ivfsq_retrain", KnnSq8, DocGen.Retrained(skewThreshold = 0.0)),
    row("q_knn_ivfsq_forget", KnnSq8, Masked),
    row("q_ivfsq_purge", KnnSq8, Purged),
    row("q_knn_ivfpq_stored", KnnPq, Base),
    row("q_knn_ivfpq_append", KnnPq, Appended),
    row("q_knn_ivfpq_forget", KnnPq, Masked),
    row("q_ivfpq_purge", KnnPq, Purged),
    row("q_ivf_append", TopKFlat, Appended),
    row("q_ivf_compact", TopKFlat, Compacted),
    row("q_ivfpq_append", TopKPq, Appended),
    row("q_ivfpq_compact", TopKPq, Compacted),
    row("q_ivfpq_retrain", TopKPq, DocGen.Retrained(skewThreshold = 0.0)),
  )
}
