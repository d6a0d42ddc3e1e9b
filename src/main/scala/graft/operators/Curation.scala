package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Artifacts.{buildGate, readCommitted, scratch}
import graft.operators.Ingest.Tombstones

/** Dataset-curation operators (SURVEY.md §2.11): the reproducibility
  * layer of a training-data pipeline — deterministic splits, PII
  * redaction, duplicate-cluster resolution, stratified sampling. Every
  * operator here is hash- or arithmetic-deterministic (NO RNG): rerunning
  * on a 1000-executor cluster, or in a different engine entirely,
  * reproduces byte-identical output — which is what lets DuckDB serve as
  * a full oracle for all four.
  *
  * 100 TB design notes:
  *  - Split/sample/redact are all NARROW per-row transforms (window
  *    functions partition by stratum for sampling) — they pipeline inside
  *    the scan stage or one bounded shuffle per stratum.
  *  - Connected components materializes the (tiny) near-dup edge list
  *    once, then runs alternating large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14) over it: per round two groupBy+join passes on the EDGE
  *    list (≪ corpus), rounds growing with log(diameter) — so an
  *    adversarially long near-dup chain (crawl boilerplate drift)
  *    cannot blow the iteration cap the way O(diameter) min-label
  *    propagation would.
  *  - Lineage is truncated every iteration (localCheckpoint; at cluster
  *    scale, checkpoint to the shared FS) so plan depth stays O(1).
  */
object Curation {

  /** Hash-prefix split on md5(doc_id): the first hex nibble buckets
    * 16 ways — 12/16 train, 2/16 valid, 2/16 test. String-prefix
    * bucketing (not modulo over a float) is exactly reproducible in any
    * engine with md5, and keying on the ID (not the text) keeps
    * exact-duplicate documents from leaking the SAME text across splits
    * only when ids differ — dedup first (q_dedup_*), then split. */
  def splitColumn(id: Column): Column = {
    val nibble = substring(md5(id.cast(StringType)), 1, 1)
    when(nibble.isin("c", "d"), "valid")
      .when(nibble.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Cross-split near-duplicate LEAKAGE check — the audit every
    * benchmark-bearing corpus needs after splitting: a near-duplicate
    * pair straddling train/valid/test inflates eval scores without any
    * training bug. Pairs come from the EXACT prefix-filter join
    * ([[Dedup.jaccardPairsExact]], recall 1.0 by theorem — an audit
    * must not hedge on banding probability), splits are the pure
    * [[splitColumn]] function of each endpoint (no join: the split is
    * derivable in the same projection), and only straddling pairs
    * survive. Output order (doc1, doc2) total. */
  def splitLeakage(docs: DataFrame, tauP: Int = 4, tauQ: Int = 5): DataFrame =
    Dedup.jaccardPairsExact(docs, tauP, tauQ)
      .select(col("doc1"), col("doc2"),
        splitColumn(col("doc1")).as("split1"),
        splitColumn(col("doc2")).as("split2"),
        col("jaccard"))
      .filter(col("split1") =!= col("split2"))
      .orderBy("doc1", "doc2")

  /** ASCII-safe PII patterns — identical semantics under Java regex and
    * RE2 (no \w/\s dialect divergence; see the verify-skill notes). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Connected components over an undirected edge list (doc1, doc2) via
    * ALTERNATING LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Returns (doc_id,
    * cluster_id = min id reachable); only nodes that appear in an edge
    * are returned.
    *
    * Why not min-label propagation: that converges in O(graph diameter)
    * rounds, and crawl-data near-dup graphs contain long chains — a
    * 1000-hop chain would blow any practical iteration cap. Star
    * contraction halves long paths every round (each round rewires every
    * node toward its neighborhood minimum), so rounds grow with
    * log(diameter) — CurationSpec pins a planted 1000-node chain to
    * ≤ 2·log₂(n) rounds.
    *
    * Per round, each step is one groupBy + one join over the EDGE list
    * (≪ corpus), and the edge set only shrinks toward the star forest.
    * Convergence is a VERIFIED fixpoint (next round's edge set equals
    * the current one): at a fixpoint the edges form min-centered stars —
    * a leaf with two centers or a center chain is provably rewired by
    * the next small-star, so it cannot survive the equality check. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsImpl(edges, maxIter)._1

  /** Implementation that also reports rounds used (spec hook for the
    * logarithmic-convergence bound). */
  private[graft] def connectedComponentsImpl(
      edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // canonical strict (u > v) edge set, materialized once: iterations
    // must not re-run the (expensive) edge-producing lineage
    var e = edges.select(
        greatest(col("doc1"), col("doc2")).as("u"),
        least(col("doc1"), col("doc2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // cheap per-round fixpoint SIGNATURE: row count + order-independent
    // XOR of per-edge hashes, both computed in ONE narrow job over the
    // just-checkpointed partitions (no shuffle). The signature only
    // decides when to ATTEMPT the full set-equality proof — converged
    // still requires the proof itself to pass, so a (≈2⁻⁶⁴) signature
    // collision costs one wasted proof job, never a wrong answer. This
    // matters for chain-shaped graphs, where the edge COUNT stabilizes
    // rounds before the edge SET does: a count-only gate would run the
    // shuffle proof every round.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var rounds = 0
    var eSig = sig(e)
    var converged = eSig._1 == 0L
    while (!converged && rounds < maxIter) {
      // LARGE-STAR: every strictly-larger neighbor of n re-links to
      // m = min(N(n) ∪ {n}) — preserves connectivity, shortcuts paths.
      //
      // ROUND 1 ONLY (ADVICE r15): the per-n minimum is a WINDOW
      // aggregate — one exchange of adj hashed by n replaces the
      // groupBy+join's three — and the window key's group size is the
      // ORIGINAL node degree, which the banded candidate generator
      // bounds upstream (Sketch.MaxIdPairsBucket fails loudly far below
      // any window-task limit), so no unbounded single-key partition
      // can form. That degree bound holds only for round-1 adjacency:
      // after a contraction round, edges concentrate on each
      // component's minimum node, so a window partitioned by n/u could
      // grow to COMPONENT size on a single task (WindowExec buffers the
      // whole partition). Rounds ≥ 2 therefore use the groupBy+join
      // form, whose partial (map-side) aggregation never materializes a
      // key's whole group on one task. The intermediate ls keeps
      // duplicates in round 1 (a node re-linked via two neighbors):
      // min() is insensitive and `next` is distinct()ed.
      val adj = e.select(col("u").as("n"), col("v").as("nb"))
        .unionByName(e.select(col("v").as("n"), col("u").as("nb")))
      val next = (if (rounds == 0) {
        val wN = Window.partitionBy("n")
        val ls = adj
          .select(col("n"), col("nb"),
            least(col("n"), min("nb").over(wN)).as("m"))
          .filter(col("nb") > col("n"))
          .select(col("nb").as("u"), col("m").as("v"))
        // SMALL-STAR: key = the larger endpoint u of each (u > v) edge;
        // its smaller neighbors and u itself re-link to m = min(N_≤(u))
        val wU = Window.partitionBy("u")
        val ss = ls.select(col("u"), col("v"), min("v").over(wU).as("m"))
        ss.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ss.select(col("u"), col("m").as("v")))
      } else {
        val lsm = adj.groupBy("n").agg(min("nb").as("mn"))
          .select(col("n"), least(col("n"), col("mn")).as("m"))
        val ls = adj.join(lsm, "n")
          .filter(col("nb") > col("n"))
          .select(col("nb").as("u"), col("m").as("v"))
          .distinct()
        val ssm = ls.groupBy("u").agg(min("v").as("m"))
        ls.join(ssm, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssm.select(col("u"), col("m").as("v")))
      })
        .distinct()
        .localCheckpoint()
      // verified fixpoint, signature-gated: mid-convergence rounds pay
      // one narrow signature job; the real set-equality proof (union →
      // count==1 groups ⟺ symmetric difference non-empty) runs only
      // when the signature matches — in practice exactly once, at the
      // true fixpoint — and remains the sole termination authority.
      val nextSig = sig(next)
      converged = nextSig == eSig &&
        next.unionByName(e)
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") === 1)
          .isEmpty
      e = next
      eSig = nextSig
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    val labels = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    (labels, rounds)
  }

  /** Distinct word-n-gram array per doc (whole-doc fallback below n
    * tokens) — the decontamination unit. n = 8 is the standard
    * benchmark-decontamination window: long enough that shared grams mean
    * copied text, not shared phrasing (3-grams flag 100% of this corpus;
    * 8-grams flag exactly the planted cross-split duplicates). */
  /** The ONE gram tokenization (lowered, whitespace-collapsed, split):
    * shared by the exact decontamination, the Bloom build, and the
    * streaming Bloom probe — the filter builder and every prober MUST
    * hash identical grams or Bloom's no-false-negative guarantee breaks
    * silently. */
  def gramToks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  def wordGrams(text: Column, n: Int): Column = {
    val toks = gramToks(text)
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " "))))
  }

  /** 16-way shard from the first md5 nibble of the id — the scale-out
    * unit for sequence packing: each shard is an independent token
    * stream, so packing parallelizes with ONE bounded shuffle (the
    * per-shard window) and no global order. */
  def shardColumn(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 1), 16, 10).cast(IntegerType)

  /** Per-source mixing weight (epochs). Exogenous config in a real
    * pipeline; a fixed literal here, mirrored in the oracle CASE. */
  def mixWeight(source: Column): Column =
    when(source === "src0", 3.0)
      .when(source === "src1", 2.5)
      .when(source === "src2", 0.5)
      .when(source === "src3", 0.25)
      .otherwise(1.0)

  /** Realized-vs-target MIX DIVERGENCE — the drift diagnostic a
    * data-mixing pipeline runs every refresh: per-source KL
    * contribution n_i · ln(p_i/q_i) of the realized document share p
    * against the target share q implied by [[mixWeight]] (whose weights
    * are exact quarters, so ×4 makes them integers and the log ratio is
    * a ratio of exact integers — the lmScore micro-nat rule; each
    * term quantizes once, then everything is integer multiplication
    * and the total is an order-independent sum). A contribution > 0
    * means the source is over-represented vs target; Σ ≥ 0 within
    * quantization. One map-side-combined groupBy + a 1-row broadcast —
    * nothing here scales with the corpus beyond the first count. */
  def mixDivergence(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w4", (mixWeight(col("source")) * 4).cast(LongType))
    val tot = per.agg(sum("n_docs").as("n_total"), sum("w4").as("w4_total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w4"),
        (col("n_docs") *
          round(log((col("n_docs") * col("w4_total")).cast(DoubleType) /
            (col("n_total") * col("w4")).cast(DoubleType)) * lit(1e6))
            .cast(LongType)).as("kl_contrib_micro"))
      .orderBy("source")
  }

  /** UniMax-style token-budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): given a total training-token budget and
    * a per-source epoch cap, allocate the budget by WATERFILLING — every
    * source gets the uniform fair share `t` unless its cap is below `t`,
    * in which case it is capped and its leftover raises everyone else's
    * share. The closed form over caps sorted ascending: source i is
    * capped iff `prefix(i) + (k−i)·cap_i ≤ B` (pure integer arithmetic —
    * exact and engine-portable), and the fair share is
    * `t = (B − Σ capped caps) / (#uncapped)` — the allocation's ONLY
    * float, one deterministic division rounded to 6 dp.
    *
    * Shape at scale: one partial-aggregated shuffle builds the
    * per-source token counts; everything after runs on the #sources-row
    * frame, so the unpartitioned windows sort tens of rows, not the
    * corpus. The per-source epoch cap is exogenous config in a real
    * pipeline; here `1 + (source# mod 4)` — varied, so both the capped
    * and uncapped branches stay exercised on a near-uniform corpus. */
  def mixBudget(docs: DataFrame, budgetFactor: Int = 2): DataFrame = {
    val srcs = docs.groupBy("source")
      .agg(sum(TextAnalysis.bpeTokens(col("text"))).as("n_tokens"))
      // digit-less source names AND digit runs past Int range (a
      // date-stamped crawl like 'dump20240101000000') fall back to cap
      // group 0 (max_epochs 1) instead of poisoning the closed form:
      // an unguarded cast throws under ANSI mode (empty string OR
      // overflow), and a null cap would be treated as uncapped while
      // contributing nothing to the prefix sums. try_cast + coalesce
      // mirrors the oracle's COALESCE(TRY_CAST(...), 0) exactly, so
      // the engines agree on every pathological source name (ADVICE r8).
      .withColumn("max_epochs",
        lit(1) + pmod(coalesce(
          expr("try_cast(regexp_extract(source, '(\\\\d+)', 1) as int)"),
          lit(0)), lit(4)))
      .withColumn("cap_tokens", col("max_epochs").cast(LongType) * col("n_tokens"))
    val ord = Window.orderBy(col("cap_tokens"), col("source"))
    val all = Window.partitionBy() // whole frame = #sources rows (tiny)
    srcs
      .withColumn("i", row_number().over(ord))
      .withColumn("prefix", sum("cap_tokens").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("budget", lit(budgetFactor.toLong) * sum("n_tokens").over(all))
      .withColumn("capped",
        col("prefix") + (col("k") - col("i")) * col("cap_tokens") <= col("budget"))
      .withColumn("m", sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      .withColumn("prefix_m",
        sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).over(all))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens").cast(DoubleType))
          .otherwise(round((col("budget") - col("prefix_m")).cast(DoubleType) /
            (col("k") - col("m")).cast(DoubleType), 6)))
      .withColumn("epochs",
        round(col("alloc_tokens") / col("n_tokens").cast(DoubleType), 6))
      .select(col("source"), col("n_tokens"), col("max_epochs"),
        col("cap_tokens"), col("capped"), col("alloc_tokens"), col("epochs"))
  }

  /** Deterministic 10% stratified sample: within each stratum, rank by
    * md5(doc_id) (a reproducible pseudo-random order) and keep the first
    * ceil(n/10) — integer arithmetic, no float boundary. */
  def stratifiedSample(docs: DataFrame, stratum: String): DataFrame = {
    val byHash = Window.partitionBy(stratum)
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    val whole = Window.partitionBy(stratum)
    docs
      .withColumn("rn", row_number().over(byHash))
      .withColumn("n", count(lit(1)).over(whole))
      .filter(expr("rn <= (n + 9) div 10"))
      .select(col("doc_id"), col(stratum))
  }

  /** Deterministic uniform in (0,1) from an id: Knuth multiplicative
    * scramble in EXACT BIGINT arithmetic (mod-before-multiply keeps
    * every intermediate < 2⁶³, so ANSI mode can't overflow and any SQL
    * engine replays it bit-for-bit — the QualityWeights rule). The +0.5
    * keeps u strictly inside (0,1) so ln(u) is finite. Production
    * pipelines that don't need cross-engine replay would plug xxhash64
    * here; the operator takes any uniform column. */
  private[operators] def unitHash(id: Column): Column =
    (((id % 1048573L) * 2654435761L + 12345L) % 2147483648L + lit(0.5)) /
      lit(2147483648.0)

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spiliotis 2006):
    * keep the k docs with the largest priority u^(1/w) — equivalently
    * the largest ln(u)/w, the "exponential race" form — so a doc's
    * inclusion probability is proportional to its weight and the whole
    * draw is one deterministic ranking, not a sequential scan. The
    * curation use: token-budget sampling (w = document length) or
    * quality-proportional sampling (w = classifier score) over a corpus
    * far larger than the target budget.
    *
    * Priorities are rounded to 12 dp BEFORE ranking (the repo's
    * cross-engine rank rule: both engines' only libm call is ln, which
    * agrees to ~1 ulp ≪ the rounding grid) and tie-broken by doc_id.
    *
    * 100 TB shape: the narrow priority projection feeds a global top-k
    * — TakeOrderedAndProject, a per-partition k-heap plus a driver
    * merge of k rows per partition; no shuffle of the corpus, no
    * window. */
  def weightedSample(docs: DataFrame, k: Int, weight: Column): DataFrame =
    docs
      .select(col("doc_id"), weight.as("w"),
        round(log(unitHash(col("doc_id"))) / weight, 12).as("pri"))
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(k)

  /** KMV sketch size: 128 minima estimate a distinct count with
    * ~1/√(k−2) ≈ 9 % standard error — the overlap-audit accuracy class;
    * part of the gate's identity. */
  val KmvK: Int = 128

  /** KMV (k-minimum-values, Bar-Yossef et al. 2002) corpus OVERLAP
    * estimation: how many distinct documents two corpora share, from
    * two k-hash sketches instead of a corpus×corpus join — the audit a
    * 100 TB pipeline runs before merging crawls or checking a new dump
    * against training data, where the exact intersect is a full
    * shuffle of both sides. Input is pre-fingerprinted membership rows
    * (h = fixed-width lowercase hex fingerprint, whose LEXICOGRAPHIC
    * order is its numeric order; a/b = membership flags); k smallest
    * distinct h per side, union sketch U; D̂(U) = (k−1)/u_k and
    * overlap ≈ ρ/k · D̂(U) with ρ = |U ∩ A_k ∩ B_k|. When the union
    * sketch is not full the sketches ARE the sets and both estimates
    * collapse to exact counts. Everything is deterministic: the only
    * float work is the final two divisions over integer-exact inputs,
    * rounded 6 dp.
    *
    * 100 TB shape: ONE uniform-digest groupBy collapses the corpus to
    * distinct fingerprints (map-side combined); each sketch is a k-row
    * TakeOrdered; every join after that is k×k broadcast work. */
  def kmvOverlapEstimate(fps: DataFrame, k: Int = KmvK): DataFrame = {
    // two sketch consumers of the dedup'd fingerprints: one shuffle
    val dedup = fps.groupBy("h").agg(max("a").as("a"), max("b").as("b"))
      .localCheckpoint()
    val skA = dedup.filter(col("a") === 1).select("h").orderBy("h").limit(k)
    val skB = dedup.filter(col("b") === 1).select("h").orderBy("h").limit(k)
    // three consumers of the tiny union sketch
    val skU = skA.unionByName(skB).distinct().orderBy("h").limit(k)
      .localCheckpoint()
    val kth = skU
      .select(conv(col("h"), 16, 10).cast(LongType).as("hv"))
      .agg(count(lit(1)).as("ku"), max("hv").as("hk"))
    val rho = skU.join(skA, Seq("h")).join(skB, Seq("h"))
      .agg(count(lit(1)).as("rho"))
    val dU = lit((k - 1).toDouble) * lit(4503599627370496.0) / col("hk")
    kth.crossJoin(rho).select(
      col("ku"), col("hk"), col("rho"),
      round(when(col("ku") < k, col("ku").cast(DoubleType)).otherwise(dU), 6)
        .as("est_union"),
      round(when(col("ku") < k, col("rho").cast(DoubleType))
        .otherwise(col("rho").cast(DoubleType) / k * dU), 6)
        .as("est_overlap"))
  }

  /** Hash-bucket count of the quality classifier — part of the model's
    * identity (the NumTermBuckets rule). */
  val QualityDim: Int = 1024

  /** The gate's deterministic synthetic model: bucket j's weight is a
    * pure formula (±1.0 in micro-units), so the DuckDB oracle REBUILDS
    * the identical weight vector from j instead of trusting a file —
    * the operator itself takes any weight array (a trained model is the
    * same bounded artifact, just with learned values). */
  lazy val QualityWeights: Array[Long] =
    Array.tabulate(QualityDim)(j =>
      (j.toLong * 2654435761L + 12345L) % 2000001L - 1000000L)

  /** Gate bias (micro-units): +0.05 logits. */
  val QualityBiasMicro: Long = 50000L

  /** Quality-classifier INFERENCE (the CCNet / fastText serving shape,
    * Wenzek et al. 2020): hashed unigram+bigram features, linear score,
    * sigmoid probability, keep-cut at p ≥ 0.5. The weight vector is a
    * bounded broadcast artifact (QualityDim longs) compiled into the
    * [[graft.functions.QualityModel]] kernel — ONE narrow pass over the
    * corpus, zero joins, zero shuffles (PlanSpec pins the shape).
    *
    * Exactness: the kernel returns integer (n_features, sum_micro); the
    * keep decision is the cross-multiplied form `sum + bias·n ≥ 0`
    * (⟺ sigmoid ≥ 0.5 for n > 0 — the dsirWeights mean-cut rule, no
    * float boundary), and only the REPORTED probability touches
    * floating point, rounded to 6 dp on both engines. Tokenization is
    * the shared [[TextAnalysis.bm25Toks]]. */
  def qualityClassify(docs: DataFrame, wMicro: Array[Long],
      biasMicro: Long): DataFrame = {
    docs
      .select(col("doc_id"), col("lang"),
        graft.functions.QualityModel.qualityScore(
          TextAnalysis.bm25Toks(col("text")), wMicro).as("f"))
      .select(col("doc_id"), col("lang"),
        col("f.n_features").as("n_features"),
        col("f.sum_micro").as("sum_micro"))
      .withColumn("score",
        sigmoidScore(col("n_features"), col("sum_micro"), biasMicro))
      .withColumn("kept",
        when(col("n_features") > 0,
          col("sum_micro") + lit(biasMicro) * col("n_features") >= 0)
          .otherwise(lit(biasMicro >= 0L)))
  }

  /** Reported probability from the kernel's integer outputs — factored
    * so the stored-artifact serving path and the fresh inference path
    * share ONE sigmoid (drift between them would break the incremental
    * gate's stored≡fresh equality). */
  private def sigmoidScore(nf: Column, sm: Column, biasMicro: Long): Column =
    round(lit(1.0) / (lit(1.0) + exp(-(lit(biasMicro.toDouble) +
      when(nf > 0, sm.cast(DoubleType) / nf).otherwise(lit(0.0))) / lit(1e6))), 6)

  // --- in-engine classifier TRAINING (hashed multinomial NB) -----------

  /** Hashed feature space of the trained quality classifier — the
    * fastText hashing trick (Joulin et al. 2016): every token maps to
    * one of [[NbBuckets]] buckets, so the MODEL is a fixed-size table
    * no matter the vocabulary — at 100 TB still 4096 rows, broadcast to
    * every scorer. 16³ buckets = three md5 hex digits, an exact fold
    * with no modulo bias (the [[CorpusStats.cmsBucket]] construction,
    * one digit wider). */
  val NbBuckets: Int = 4096

  /** Salted so the classifier's feature space is independent of the
    * CMS rows (same trick, different hash family). */
  def nbBucket(term: Column): Column =
    conv(substring(md5(concat(lit("nb#"), term)), 1, 3), 16, 10)
      .cast(IntegerType)

  /** The classifier's tokenizer — the corpus-stats whitespace split, so
    * trained frequencies agree with every other frequency surface. */
  private def nbToks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  /** TRAIN a seed-set quality classifier in-engine — the CCNet / GPT-3
    * curation posture (Wenzek et al. 2020; Brown et al. 2020): label a
    * seed corpus as target (here the DSIR fixture, `lang = 'en'`),
    * everything else as background, and learn which tokens separate
    * them. The model is multinomial Naive Bayes with add-one smoothing
    * over the HASHED bucket space — training is pure counting, so the
    * learned weights are exactly reproducible in any engine (the gate
    * hash-pins the whole training computation, not a convergence
    * approximation), and inference is a linear scorer like
    * [[qualityClassify]]'s kernel, just with learned weights.
    *
    * Shape at 100 TB: ONE map-side-combined groupBy over hashed buckets
    * (the explode never leaves the scan stage; ≤ [[NbBuckets]] keys), a
    * 1-row totals broadcast, and a ≤ 4096-row model frame. No driver
    * loop, no gradient iterations, no float accumulation: per-class
    * log-likelihoods are QUANTIZED to integer micro-nats per bucket
    * (the [[TextAnalysis.lmScore]] determinism rule) and the per-bucket
    * weight is their integer difference.
    *
    * Returns (bucket, c_t, c_b, w_micro) for OCCUPIED buckets — empty
    * buckets score via the closed-form OOV constant in
    * [[nbClassify]]. */
  def nbTrainModel(docs: DataFrame, isTarget: Column): DataFrame =
    nbWeights(nbCounts(docs, isTarget))

  /** The model's SUFFICIENT STATISTICS: per-bucket per-class token
    * counts — one map-side-combined groupBy, ≤ [[NbBuckets]] rows.
    * Counts are LINEAR in documents (they add and subtract), which is
    * what makes the model incrementally maintainable under CDC
    * ([[nbModelIncremental]]) — the weights are a nonlinear readout,
    * but they are recomputed exactly from the merged counts. */
  private def nbCounts(docs: DataFrame, isTarget: Column): DataFrame = docs
    .select(isTarget.as("y"), explode(nbToks(col("text"))).as("term"))
    .select(col("y"), nbBucket(col("term")).as("bucket"))
    .groupBy("bucket")
    .agg(sum(when(col("y"), 1L).otherwise(0L)).as("c_t"),
      sum(when(col("y"), 0L).otherwise(1L)).as("c_b"))

  /** Weight readout from a counts frame (fresh, stored, or merged).
    * The counts are materialized once (≤ [[NbBuckets]] rows): two
    * consumers below — the totals aggregate and the output projection —
    * would otherwise re-run the whole tokenize subtree (the
    * dsirWeights checkpoint rule). */
  private def nbWeights(cnt0: DataFrame): DataFrame = {
    val cnt = cnt0.localCheckpoint()
    val tot = cnt.agg(sum("c_t").as("ct_total"), sum("c_b").as("cb_total"))
    cnt.crossJoin(broadcast(tot))
      .select(col("bucket"), col("c_t"), col("c_b"),
        (nbMicroNat(col("c_t"), col("ct_total")) -
          nbMicroNat(col("c_b"), col("cb_total"))).as("w_micro"))
  }

  /** Laplace log-likelihood of one bucket in integer micro-nats:
    * round(ln((c+1)/(C+B))·1e6). The ratio is ONE division of exact
    * integers — the same double in any engine — so its quantized log
    * is engine-independent (the lmScore rule). */
  private def nbMicroNat(c: Column, total: Column): Column =
    round(log((c + lit(1L)).cast(DoubleType) /
      (total + lit(NbBuckets.toLong)).cast(DoubleType)) * lit(1e6))
      .cast(LongType)

  /** Score every document with the trained model: hashed tokens
    * broadcast-join the ≤ 4096-row model, per-doc score is an INTEGER
    * sum of micro-nat weights (order-independent — no float
    * accumulation across the shuffle), unseen buckets take the
    * closed-form OOV weight (both smoothed counts are 1), and the
    * class prior enters as one bias constant. `pred_target` is the NB
    * decision `score > 0` ⟺ P(target|doc) > P(background|doc). */
  def nbClassify(docs: DataFrame, isTarget: Column): DataFrame = {
    val model = nbTrainModel(docs, isTarget).localCheckpoint() // 2 consumers: totals + join
    val tot = model
      .agg(sum("c_t").as("ct_total"), sum("c_b").as("cb_total"),
        (nbMicroNat(lit(0L), sum("c_t")) -
          nbMicroNat(lit(0L), sum("c_b"))).as("w_oov"))
    val prior = docs
      .agg((nbPriorMicro(sum(when(isTarget, 1L).otherwise(0L)),
        sum(when(isTarget, 0L).otherwise(1L)))).as("bias_micro"))
    // No doc_id backfill join: the whitespace tokenizer emits ≥ 1 token
    // for every non-null text (even "" → [""]), so the scored frame
    // already covers the corpus — the per-doc aggregate is the ONLY
    // corpus-sized shuffle in inference.
    docs
      .select(col("doc_id"), explode(nbToks(col("text"))).as("term"))
      .select(col("doc_id"), nbBucket(col("term")).as("bucket"))
      .join(broadcast(model.select("bucket", "w_micro")), Seq("bucket"), "left")
      .crossJoin(broadcast(tot.select("w_oov")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("w_micro"), col("w_oov"))).as("s"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_toks"),
        (col("s") + col("bias_micro")).as("score_micro"),
        ((col("s") + col("bias_micro")) > 0).as("pred_target"))
      .orderBy("doc_id")
  }

  /** Class-prior bias ln(N_t/N_b) in micro-nats — one exact-integer
    * ratio, quantized once. */
  private def nbPriorMicro(nT: Column, nB: Column): Column =
    round(log(nT.cast(DoubleType) / nB.cast(DoubleType)) * lit(1e6))
      .cast(LongType)

  /** Per-language PERCENTILE normalization of classifier scores — the
    * step a cross-lingual mixer needs before comparing quality across
    * corpora (raw scores are not comparable between languages; rank
    * positions are). pct_micro = rank_within_lang · 10⁶ div (n_lang−1),
    * all integer.
    *
    * Shape at 100 TB — grouped ranks WITHOUT a per-group window: a
    * window `PARTITION BY lang` ships an entire language (billions of
    * rows) to one reducer — the r5/r6 straggler rule. Instead: ONE
    * global two-phase prefix rank over (lang, score, doc_id)
    * ([[ScalePatterns.prefixSums]] — range partition + bounded totals
    * collect), minus the language's start offset, where the offsets
    * are a ≤|langs|-row bounded artifact (cumulative language counts).
    * The oracle is free to use the window form — equality of the two
    * formulations is the point of the gate. */
  def scorePercentile(docs: DataFrame, isTarget: Column): DataFrame = {
    val (wmap, wOov, bias) = nbFrozenModel(docs, isTarget)
    scorePercentileWith(docs, wmap, wOov, bias)
  }

  /** [[scorePercentile]] served from the STORED model artifact — the
    * production posture: normalization ranks shift with every arriving
    * batch, the classifier does not, so only the rank phase should pay
    * corpus I/O. Shares the retrain-from-scratch oracle verbatim. */
  def scorePercentileStored(s: SparkSession, dir: String): DataFrame = {
    val (wmap, wOov, bias) = nbFrozenModelStored(s, dir)
    scorePercentileWith(documents(s, dir), wmap, wOov, bias)
  }

  /** The rank machinery under ANY frozen model (trained in-query, or
    * read from the stored artifact). */
  def scorePercentileWith(docs: DataFrame, wmap: Map[Int, Long],
      wOov: Long, bias: Long): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"),
      nbScoreExpr(col("text"), wmap, wOov, bias).as("score_micro"))
      .localCheckpoint() // 3 consumers: rank, totals, output
    val ranked = ScalePatterns.prefixSums(scored,
      Seq(col("lang").asc, col("score_micro").asc, col("doc_id").asc),
      lit(1L), "grk")
    // per-lang start offsets: cumulative counts over the bounded
    // language list (collected — the lmTables bounded-artifact rule)
    // offsets must accumulate in EXACTLY the order the prefix rank
    // sorts `lang` — Spark's UTF8String binary order is unsigned
    // UTF-8 BYTE order, which diverges from String's UTF-16 code-unit
    // order for non-ASCII codes (e.g. supplementary-plane surrogates),
    // so sort the collected totals by UTF-8 bytes, not by String
    val totals = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))(
        Ordering.comparatorToOrdering(
          java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])))
    var acc = 0L
    val offRows = totals.map { case (l, n) =>
      val off = acc; acc += n; (l, n, off)
    }.toSeq
    val offDf = docs.sparkSession.createDataFrame(offRows)
      .toDF("lang", "n_lang", "off")
    ranked.join(broadcast(offDf), "lang")
      .select(col("doc_id"), col("lang"), col("score_micro"),
        when(col("n_lang") > 1,
          expr("(grk - off) * 1000000L div (n_lang - 1)"))
          .otherwise(lit(0L)).as("pct_micro"))
      .orderBy("doc_id")
  }

  /** FREEZE the trained model for stateless serving: the ≤ [[NbBuckets]]
    * weight rows collect into one map literal (the lmTables
    * bounded-model-artifact convention) along with the closed-form OOV
    * weight and the prior bias. */
  def nbFrozenModel(docs: DataFrame, isTarget: Column): (Map[Int, Long], Long, Long) = {
    val rows = nbTrainModel(docs, isTarget)
      .select("bucket", "c_t", "c_b", "w_micro").collect()
    val wmap = rows.map(r => r.getInt(0) -> r.getLong(3)).toMap
    val (ctT, cbT) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    def micro(c: Long, tot: Long): Long =
      math.round(math.log((c + 1).toDouble / (tot + NbBuckets).toDouble) * 1e6)
    val wOov = micro(0L, ctT) - micro(0L, cbT)
    val pr = docs.agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("n_t"),
      sum(when(isTarget, 0L).otherwise(1L)).as("n_b")).head()
    val bias = math.round(
      math.log(pr.getLong(0).toDouble / pr.getLong(1).toDouble) * 1e6)
    (wmap, wOov, bias)
  }

  /** Frozen-model NB scoring as ONE stateless projection — no explode,
    * no join, no shuffle: per-token map lookup + integer fold inside
    * the scan stage, so the same expression scores a batch corpus or an
    * arriving micro-batch ([[graft.streaming.NbStream]]); the
    * lmScoreStateless serving shape on the classifier axis. Equality
    * with the trained path holds because Column `round` (HALF_UP) and
    * `math.round` (floor(x+0.5)) agree wherever ln(ratio)·1e6 is not an
    * exact .5 — impossible for logs of rational ratios ≠ 1, and ratio 1
    * yields exact 0 on both. */
  def nbScoreStateless(docs: DataFrame, wmap: Map[Int, Long],
      wOov: Long, biasMicro: Long): DataFrame =
    docs.select(col("doc_id"),
      size(nbToks(col("text"))).cast(LongType).as("n_toks"),
      nbScoreExpr(col("text"), wmap, wOov, biasMicro).as("score_micro"))
      .withColumn("pred_target", col("score_micro") > 0)

  /** The frozen-model score as a single Column — per-token map lookup
    * folded with the prior bias as the seed; composable into any
    * projection (batch, stream, or the e2e curation pipeline) without
    * forcing a fixed output schema. */
  def nbScoreExpr(text: Column, wmap: Map[Int, Long],
      wOov: Long, biasMicro: Long): Column = {
    val m = typedLit(wmap)
    aggregate(nbToks(text), lit(biasMicro),
      (acc, t) => acc + coalesce(m(nbBucket(t)), lit(wOov)))
  }

  /** Stored v1 sufficient statistics of the trained classifier — the
    * model-maintenance artifact (marker-committed, ≤ [[NbBuckets]]
    * rows), built ONCE over the v1 corpus. */
  def ensureNbCounts(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val path = scratch(s, dir, "nb_counts_v1")
    buildGate(s, path) {
      nbCounts(documents(s, dir), col("lang") === "en")
        .write.mode("overwrite").parquet(path)
    }
    readCommitted(s, path)
  }

  /** Stored MODEL artifact (r12 verdict #4): the ≤ [[NbBuckets]]-row
    * weight table (readout of the stored counts) plus a 1-row
    * prior/meta frame (class doc counts — the bias's sufficient
    * statistic, which the counts table cannot supply), both
    * marker-committed like every other stored generation. Serving
    * gates freeze from THIS — training is paid once at ingest, never
    * per query (at 100 TB the per-query retrain q_nb_classify used to
    * run re-tokenizes the corpus on every serve). */
  def ensureNbModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = graft.BuildTimer.time {
    val wPath = scratch(s, dir, "nb_model_v1")
    val mPath = scratch(s, dir, "nb_model_meta_v1")
    buildGate(s, wPath) {
      nbWeights(ensureNbCounts(s, dir))
        .write.mode("overwrite").parquet(wPath)
    }
    buildGate(s, mPath) {
      documents(s, dir).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("n_b"))
        .write.mode("overwrite").parquet(mPath)
    }
    (readCommitted(s, wPath), readCommitted(s, mPath))
  }

  /** Freeze the classifier from the STORED artifact — ≤ [[NbBuckets]]
    * stored rows + 1 meta row, ZERO corpus I/O (the [[nbFrozenModel]]
    * readout, minus its training scan). */
  def nbFrozenModelStored(s: SparkSession, dir: String): (Map[Int, Long], Long, Long) = {
    val (w, meta) = ensureNbModel(s, dir)
    val rows = w.select("bucket", "c_t", "c_b", "w_micro").collect()
    val wmap = rows.map(r => r.getInt(0) -> r.getLong(3)).toMap
    val (ctT, cbT) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    def micro(c: Long, tot: Long): Long =
      math.round(math.log((c + 1).toDouble / (tot + NbBuckets).toDouble) * 1e6)
    val wOov = micro(0L, ctT) - micro(0L, cbT)
    val pr = meta.head()
    val bias = math.round(
      math.log(pr.getLong(0).toDouble / pr.getLong(1).toDouble) * 1e6)
    (wmap, wOov, bias)
  }

  /** Classifier inference served from the STORED model: one stateless
    * projection over the corpus (the [[nbScoreStateless]] fold — no
    * explode, no join, no aggregation), the model riding as a
    * broadcast-sized map literal. Shares q_nb_classify's from-scratch
    * retraining oracle verbatim, so the hash pins stored-model serving
    * ≡ train-then-score. */
  def nbClassifyStored(s: SparkSession, dir: String): DataFrame = {
    val (wmap, wOov, bias) = nbFrozenModelStored(s, dir)
    nbScoreStateless(documents(s, dir), wmap, wOov, bias).orderBy("doc_id")
  }

  /** INCREMENTAL model maintenance across the corpus CDC (v1 → v2 of
    * [[corpusV2]]): because the sufficient statistics are linear,
    * the retrained model is stored_v1_counts + counts(diff) — tokenize
    * ONLY the touched documents (deletes' old text and edits' old text
    * negative; edits' new text and additions' text positive), merge
    * per bucket, recompute the weight readout. The IVM-on-the-MODEL
    * twin of [[incrementalScores]]: that gate maintains scores under a
    * fixed model, this one maintains the model itself. The oracle
    * retrains FROM SCRATCH over the v2 corpus, so the hash pins that
    * delta-maintained ≡ fresh-retrained exactly — at 100 TB the fresh
    * side re-tokenizes everything, the incremental side only the diff
    * (bounded by the CDC size) plus a ≤ 4096-row stored scan. */
  def nbModelIncremental(s: SparkSession, dir: String): DataFrame =
    nbWeights(nbCountsIncremental(s, dir))

  /** The delta-merged sufficient statistics (pre-readout) — exposed for
    * the plan spec, which pins that the only text scans here are the
    * bounded diff frames. */
  private[graft] def nbCountsIncremental(s: SparkSession, dir: String): DataFrame = {
    val v1 = ensureNbCounts(s, dir)
    v1.unionByName(nbDiffCounts(s, dir))
      .groupBy("bucket")
      .agg(sum("c_t").as("c_t"), sum("c_b").as("c_b"))
      .filter(col("c_t") =!= 0 || col("c_b") =!= 0)
  }

  /** The CDC's signed bucket counts — tokenizes ONLY the touched
    * documents (bounded by the diff size), never the corpus. */
  private[graft] def nbDiffCounts(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val en = col("lang") === "en"
    // old text leaving the corpus: every deleted doc, plus every edited
    // survivor (its v1 text is replaced) — one predicate, counted once
    val neg = nbCounts(d.filter(
      col("doc_id") % V2DeleteEvery === 0 ||
        col("doc_id") % V2EditEvery === 0), en)
      .select(col("bucket"), (-col("c_t")).as("c_t"), (-col("c_b")).as("c_b"))
    // new text entering: edited survivors with their v2 text, and the
    // added copies (which carry v2 text of their source; ids are
    // irrelevant to token counts)
    val editedNew = d
      .filter(col("doc_id") % V2DeleteEvery =!= 0 &&
        col("doc_id") % V2EditEvery === 0)
      .select(col("lang"),
        concat(col("text"), lit(V2RevisionSuffix)).as("text"))
    val addedNew = corpusV2Frame(d)
      .filter(col("doc_id") >= Ingest.DocAppendOffset)
      .select(col("lang"), col("text"))
    val pos = nbCounts(editedNew.unionByName(addedNew), en)
    neg.unionByName(pos)
  }

  /** Model-drift fraction from STORED stats + the bounded CDC alone:
    * touched token mass (|leaving| + |entering|, the diff's signed
    * counts in absolute value) over the stored v1 token mass — the
    * classifier axis's analog of the bm25PolicyServed and
    * cmsPolicyServed dead fractions, the quantity a refresh θ-policy
    * triggers on. No corpus scan. */
  def nbDriftFraction(s: SparkSession, dir: String): Double = {
    val live = ensureNbCounts(s, dir)
      .agg(coalesce(sum(col("c_t") + col("c_b")), lit(0L)))
      .head().getLong(0)
    val touched = nbDiffCounts(s, dir)
      .agg(coalesce(sum(abs(col("c_t")) + abs(col("c_b"))), lit(0L)))
      .head().getLong(0)
    if (live == 0L) 0.0 else touched.toDouble / live.toDouble
  }

  /** The refreshed model GENERATION — the CDC-merged counts' weight
    * readout persisted as nb_model_v2 (marker-committed), the artifact
    * the θ-policy's refresh arm serves. Delta-maintained, so the write
    * costs the bounded diff tokenize + a ≤ [[NbBuckets]]-row job. */
  def ensureNbModelV2(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val path = scratch(s, dir, "nb_model_v2")
    buildGate(s, path) {
      nbModelIncremental(s, dir).write.mode("overwrite").parquet(path)
    }
    readCommitted(s, path)
  }

  /** Drift-triggered MODEL REFRESH policy (the q_cms_policy convention
    * on the classifier axis — verdict r12 #4): below θ keep serving the
    * stored v1 model (a classifier does not go stale with every edited
    * document), at/above θ pay the delta-maintained nb_model_v2 rewrite
    * and serve that. Returns the served weight table plus the decision
    * so the gate pins WHICH arm ran. */
  def nbModelPolicyServed(s: SparkSession, dir: String,
      theta: Double): (DataFrame, Boolean) =
    nbModelPolicyServedAt(s, dir, nbDriftFraction(s, dir), theta)

  /** The policy decision at a PRE-MEASURED drift — the gate probes two
    * thetas against one measurement instead of re-running the
    * stored-counts aggregate and the CDC diff tokenize per arm. */
  def nbModelPolicyServedAt(s: SparkSession, dir: String,
      drift: Double, theta: Double): (DataFrame, Boolean) = {
    val refresh = drift >= theta
    (if (refresh) ensureNbModelV2(s, dir)
     else ensureNbModel(s, dir)._1, refresh)
  }

  // --- takedown on the MODEL axis (VERDICT r14 #2) ----------------------
  // q_takedown_e2e masks eight SERVING axes, but a retracted document's
  // influence also lives in trained artifacts: the NB classifier's
  // sufficient statistics, the percentile offsets, the DSIR models.
  // These close the loop: the engine subtracts the retraction from the
  // stored statistics (bounded work — tokenize only the tombstoned
  // docs), the oracle retrains FROM SCRATCH over the surviving corpus,
  // and the hash pins CDC-subtracted ≡ fresh-retrained exactly.

  /** The RETRACTED model generation: stored v1 counts minus the
    * retraction's signed NEGATIVE counts, weight readout recomputed.
    * The negative half tokenizes ONLY the retracted documents (bounded
    * by the tombstone size, never a corpus re-scan; the deletion twin
    * of [[nbDiffCounts]]'s leaving half). Counts are linear, so this
    * equals a from-scratch retrain over the surviving corpus exactly —
    * the ninth takedown axis: after this, a retracted doc's tokens
    * influence NO weight in the serving model. */
  def nbModelRetracted(s: SparkSession, dir: String,
      t: Tombstones): DataFrame =
    nbWeights(ensureNbCounts(s, dir)
      .unionByName(nbCounts(t.docs(s, dir), col("lang") === "en")
        .select(col("bucket"), (-col("c_t")).as("c_t"), (-col("c_b")).as("c_b")))
      .groupBy("bucket")
      .agg(sum("c_t").as("c_t"), sum("c_b").as("c_b"))
      .filter(col("c_t") =!= 0 || col("c_b") =!= 0))

  private val retractedModelCache = new PlanMemo[(Map[Int, Long], Long, Long)]

  /** Freeze the retracted model for stateless serving — the
    * [[nbFrozenModelStored]] readout over the subtracted statistics,
    * with the prior's class counts corrected by the retraction's own
    * class counts (all halves bounded: ≤ [[NbBuckets]] weight rows, one
    * meta row, one aggregate over the tombstoned docs). Memoized per
    * (application, tombstone id plan) — the lmTables bounded-model-
    * artifact convention: q_takedown_model, q_takedown_percentile and
    * the composed takedown's model axis all freeze the SAME retracted
    * generation, and re-deriving it per gate re-ran the dead-doc
    * tokenize + three bounded collects each time (optimization r16). */
  def nbFrozenModelRetracted(s: SparkSession, dir: String,
      t: Tombstones): (Map[Int, Long], Long, Long) =
    retractedModelCache.getOrElseUpdate(t.ids(s, dir), {
      val rows = nbModelRetracted(s, dir, t)
        .select("bucket", "c_t", "c_b", "w_micro").collect()
      val wmap = rows.map(r => r.getInt(0) -> r.getLong(3)).toMap
      val (ctT, cbT) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
      def micro(c: Long, tot: Long): Long =
        math.round(math.log((c + 1).toDouble / (tot + NbBuckets).toDouble) * 1e6)
      val wOov = micro(0L, ctT) - micro(0L, cbT)
      val en = col("lang") === "en"
      val deadPrior = t.docs(s, dir)
        .agg(coalesce(sum(when(en, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(en, 0L).otherwise(1L)), lit(0L))).head()
      val meta = ensureNbModel(s, dir)._2.head()
      val bias = math.round(math.log(
        (meta.getLong(0) - deadPrior.getLong(0)).toDouble /
          (meta.getLong(1) - deadPrior.getLong(1)).toDouble) * 1e6)
      (wmap, wOov, bias)
    })

  /** Classification over the survivors from the RETRACTED model — the
    * stateless fold, zero corpus retrain; the oracle retrains from
    * scratch over the surviving corpus and scores the same docs. */
  def nbClassifyRetracted(s: SparkSession, dir: String,
      t: Tombstones): DataFrame = {
    val (wmap, wOov, bias) = nbFrozenModelRetracted(s, dir, t)
    nbScoreStateless(Ingest.minus(documents(s, dir), t.ids(s, dir)),
      wmap, wOov, bias).orderBy("doc_id")
  }

  /** Percentile normalization over the survivors under the RETRACTED
    * model: the per-lang rank offsets are recomputed from the surviving
    * corpus (a retracted doc must stop shifting every other doc's
    * percentile), the classifier is the subtracted artifact. */
  def scorePercentileRetracted(s: SparkSession, dir: String,
      t: Tombstones): DataFrame = {
    val (wmap, wOov, bias) = nbFrozenModelRetracted(s, dir, t)
    scorePercentileWith(Ingest.minus(documents(s, dir), t.ids(s, dir)),
      wmap, wOov, bias)
  }

  // --- incremental score maintenance (IVM over a corpus snapshot) ------

  /** Snapshot-v2 mutation rates — every `% V2EditEvery`-th doc is edited
    * in place, every `% V2DeleteEvery`-th removed, every
    * `% V2AddEvery`-th (surviving) doc re-appears as a new document at
    * +[[Ingest.DocAppendOffset]]. Pure doc_id predicates, so the DuckDB
    * oracle rebuilds the identical snapshot from the same constants. */
  val V2EditEvery: Long = 97L
  val V2DeleteEvery: Long = 89L
  val V2AddEvery: Long = 101L
  val V2RevisionSuffix: String = " v2 revision"

  /** Corpus snapshot v2: deletes, in-place edits, additions — the shape
    * of a re-crawl. Edits happen BEFORE the additions are copied, so an
    * added doc carries the v2 text of its source. */
  def corpusV2(s: SparkSession, dir: String): DataFrame =
    corpusV2Frame(documents(s, dir))

  /** [[corpusV2]] over any (doc_id, lang, text) frame — streaming-safe
    * (filters + a self-union, no state), so the stream twin can apply
    * the same snapshot to arriving files. */
  def corpusV2Frame(docs: DataFrame): DataFrame = {
    val v2base = docs
      .filter(col("doc_id") % V2DeleteEvery =!= 0)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % V2EditEvery === 0,
          concat(col("text"), lit(V2RevisionSuffix))).otherwise(col("text"))
          .as("text"))
    v2base.unionByName(
      v2base.filter(col("doc_id") % V2AddEvery === 0)
        .select((col("doc_id") + lit(Ingest.DocAppendOffset)).as("doc_id"),
          col("lang"), col("text")))
  }

  /** Stored inference artifact over snapshot v1: (doc_id, digest,
    * n_features, sum_micro) in ONE narrow kernel pass — the INTEGER
    * kernel outputs are stored (the expensive tokenize+hash+dot), the
    * 2-flop sigmoid is recomputed at serve time, so the artifact is
    * engine-exact and the serving score can never drift from a stale
    * stored float. Commit-marker-gated like every stored index. */
  def ensureScoreArtifact(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val path = scratch(s, dir, "doc_scores")
    buildGate(s, path) {
      documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("digest"),
          graft.functions.QualityModel.qualityScore(
            TextAnalysis.bm25Toks(col("text")), QualityWeights).as("f"))
        .select(col("doc_id"), col("digest"),
          col("f.n_features").as("n_features"),
          col("f.sum_micro").as("sum_micro"))
        .write.mode("overwrite").parquet(path)
    }
    readCommitted(s, path)
  }

  /** Change-data-capture report between corpus snapshots: FULL OUTER
    * digest-diff of v1 × v2, classed added / removed / changed /
    * unchanged, aggregated with id sums so a single misclassified
    * document flips the gate. One doc_id-keyed join — at 100 TB this
    * is the report that sizes the incremental work BEFORE committing
    * to it (the [[incrementalScores]] planning twin), and the id-sum
    * binding means the gate pins membership, not just counts. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("d1"))
    val v2 = corpusV2(s, dir)
      .select(col("doc_id"), md5(col("text")).as("d2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("d1").isNull, "added")
          .when(col("d2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged").as("class"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
      .orderBy("class")
  }

  /** Incremental view maintenance of per-doc quality scores across a
    * corpus snapshot: digest-diff v2 against the stored v1 artifact,
    * run the inference kernel ONLY over changed/new documents, serve
    * everything else from the stored integers, drop deletions (they
    * simply have no v2 row). The output carries provenance (`src` =
    * stored | fresh), so the DuckDB oracle — a FULL fresh replay over
    * v2 plus the closed-form provenance predicate — pins not just the
    * scores but WHICH docs were served without recomputation. At 100 TB
    * the v2 scan + digest is unavoidable (change detection must read
    * the snapshot), but the expensive model pass shrinks from |corpus|
    * to |diff| — the entire point of IVM on a petabyte corpus. */
  def incrementalScores(s: SparkSession, dir: String): DataFrame =
    incrementalScoresBody(corpusV2(s, dir), ensureScoreArtifact(s, dir))
      .orderBy("doc_id")

  /** The diff/serve body over any v2 frame — shared verbatim with the
    * streaming twin ([[graft.streaming.ScoreStream]]), so streamed ≡
    * batch is structural. Batch callers get the one-join-pass
    * localCheckpoint (two consumers); a streaming v2 keeps the lazy
    * plan (checkpointing a stream is illegal, and the micro-batch plans
    * the join once per trigger anyway). Unordered — batch gates sort. */
  private[graft] def incrementalScoresBody(v2: DataFrame,
      storedArtifact: DataFrame): DataFrame = {
    val stored = storedArtifact.withColumnRenamed("digest", "old_digest")
    val changed = col("old_digest").isNull || col("old_digest") =!= col("digest")
    val joined0 = v2
      .withColumn("digest", md5(col("text")))
      .join(stored, Seq("doc_id"), "left")
      // null out unchanged rows' text BEFORE the checkpoint: the held
      // state shrinks from |corpus|·text to |diff|·text + metadata —
      // at 100 TB the difference between materializing the snapshot
      // and materializing the diff
      .withColumn("text", when(changed, col("text")))
    val joined = if (joined0.isStreaming) joined0 else joined0.localCheckpoint()
    val unchanged = joined
      .filter(col("old_digest") === col("digest"))
      .select(col("doc_id"),
        sigmoidScore(col("n_features"), col("sum_micro"), QualityBiasMicro)
          .as("score"),
        lit("stored").as("src"))
    val fresh = qualityClassify(
        joined.filter(changed).select("doc_id", "lang", "text"),
        QualityWeights, QualityBiasMicro)
      .select(col("doc_id"), col("score"), lit("fresh").as("src"))
    unchanged.unionByName(fresh)
  }

  /** Deterministic HTML wrapper for the extraction gate: the corpus has
    * no markup, so each doc is wrapped in a fixed page skeleton — head
    * (title + style), a link-only nav line, a script line, the body
    * text as a `<p>` (with `<b>` tags around 'the' and an `&amp;`
    * entity replacing bare 'a' tokens, so tag-stripping and
    * entity-decoding are actually exercised), and a link-heavy footer.
    * Head and script sections are single lines by construction, keeping
    * the section-strip regexes line-local on both engines. */
  private[graft] def htmlWrap(docId: Column, text: Column): Column =
    concat(
      lit("<html><head><title>doc "), docId,
      lit("</title><style>p{margin:0}</style></head><body>\n" +
        "<div class=\"nav\"><a href=\"/\">home</a> <a href=\"/about\">about</a> <a href=\"/contact\">contact</a></div>\n" +
        "<script>var page = "), docId, lit(";</script>\n<p>"),
      replace(replace(text, lit(" the "), lit(" <b>the</b> ")),
        lit(" a "), lit(" &amp; ")),
      lit("</p>\n<div class=\"footer\"><a href=\"/terms\">terms</a> | <a href=\"/privacy\">privacy</a></div>\n</body></html>"))

  /** Crawl-corpus text extraction — the stage every web-scale pipeline
    * runs before any quality/dedup work (trafilatura/resiliparse class,
    * rule-based): strip head and script sections, drop boilerplate lines
    * by LINK DENSITY (a line whose anchor text is ≥ half its visible
    * text is navigation/footer chrome — the jusText/trafilatura core
    * heuristic), strip the remaining tags, decode HTML entities, and
    * normalize whitespace. Returns (extracted, n_boilerplate_lines).
    *
    * 100 TB shape: every step is a NARROW per-row projection of
    * codegen'd string functions (regexp_replace / filter-lambda /
    * array_join) — zero shuffles, no UDFs; the operator composes into
    * any scan stage. */
  def extractHtmlText(html: Column): Column = {
    val sections = regexp_replace(
      regexp_replace(html, "<head>[^\\n]*</head>", ""),
      "<script>[^\\n]*</script>", "")
    val lines = split(sections, "\n")
    // Catalyst does no common-subexpression elimination inside
    // higher-order-function lambdas, so each tag-strip variant is
    // computed ONCE per line here and reused through the struct —
    // plain = visible text, noa = visible text minus anchor elements.
    val scored = transform(lines, line => struct(
      regexp_replace(line, "<[^>]*>", "").as("plain"),
      regexp_replace(regexp_replace(line, "<a [^>]*>[^<]*</a>", ""),
        "<[^>]*>", "").as("noa")))
    val kept = filter(scored, s =>
      (length(trim(s.getField("plain"))) > 0) &&
        ((length(s.getField("plain")) - length(s.getField("noa"))) * 2 <
          length(s.getField("plain"))))
    // tags never span lines, so joining the per-line plains IS the
    // tag-strip of the joined kept lines — no third regex pass
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(array_join(transform(kept, s => s.getField("plain")), " ")) {
        case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
      }
    struct(
      trim(regexp_replace(decoded, " +", " ")).as("extracted"),
      (size(scored) - size(kept)).cast(LongType).as("n_boilerplate_lines"))
  }

  /** Deletion surface this module contributes to the composed takedown
    * (TakedownSpec derives the expected axis set from these). */
  val takedownAxes: Seq[String] = Seq("model")
}
