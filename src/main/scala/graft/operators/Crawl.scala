package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents

/** Crawl-corpus curation operators (SURVEY.md §2.11): the web-specific
  * layer of a training-data pipeline — URL canonicalization (the
  * cheapest dedup signal a crawl has), registrable-domain caps (corpus
  * balance / anti-spam), anchor-text aggregation (the classic link-text
  * corpus), and link-graph centrality (PageRank as a quality prior).
  *
  * The CORPUS is synthetic — `documents` carries no URL column, so
  * [[syntheticUrl]] renders a deterministic messy URL per doc_id
  * (scheme/WWW case noise, default ports, trailing slashes, tracking
  * params in shuffled order, fragments) from the constants below; the
  * DuckDB oracles replay the same formulas, which is what lets the hash
  * gate certify every canonicalization rule byte-for-byte. The
  * OPERATORS, though, consume only the URL STRING column — point
  * [[canonicalizeUrl]] at a real crawl table and nothing changes.
  *
  * 100 TB design notes:
  *  - Canonicalization is a NARROW per-row expression chain (regexp +
  *    array ops, all codegen'd builtins — no UDF), so it pipelines
  *    inside the scan stage; the dedup groupBy shuffles the (short)
  *    canonical string, not the document.
  *  - Domain caps partition by registrable domain — the natural skew
  *    key of a crawl. The rank window shuffles (domain) once;
  *    production-skew domains (a single host with 10⁹ pages) are
  *    exactly the rows the cap DISCARDS, so the window's per-key state
  *    is bounded by the cap after the first spill — and the same
  *    two-phase pre-filter used by the top-k operators applies if a
  *    single domain outgrows a partition.
  *  - PageRank keeps integer micro-unit ranks (BIGINT, no floats):
  *    addition is order-independent, so a 1000-executor shuffle
  *    reduces to the same bits in any order — byte-identical reruns,
  *    and DuckDB replays it exactly. Each iteration is one
  *    join + one groupBy over the EDGE list; lineage is truncated
  *    per round (localCheckpoint) so plan depth stays O(1).
  */
object Crawl {

  // --- deterministic corpus synthesis (doc_id → messy URL) -------------
  // Formulas are mirrored in the DuckDB oracles via `CrawlGates.urlSql`;
  // change BOTH or neither.

  /** TLD by doc_id % 5 — index 3 is a two-level public suffix, so the
    * registrable-domain rule has a real multi-suffix case to hit. */
  val Tlds: Array[String] = Array(".com", ".org", ".net", ".co.uk", ".io")

  /** Two-level public suffixes for registrable-domain extraction (a
    * bounded broadcast artifact standing in for the full PSL). */
  val MultiSuffixes: Set[String] = Set("co.uk", "org.uk", "com.au", "co.jp")

  /** Anchor-text vocabulary for the synthetic link graph. */
  val Anchors: Array[String] =
    Array("home", "news", "docs", "about", "read more", "next page")

  /** Per-domain document cap for [[q_domain_cap]]. */
  val DomainCap: Int = 5

  /** PageRank constants: ranks in integer micro-units, 3 fixed
    * iterations, damping 85/100. Out-degree is NEVER a constant — it is
    * derived per node from the edge list inside [[pageRank]]. */
  val RankScale: Long = 1000000L
  val Damping: (Int, Int) = (85, 100)
  val RankIters: Int = 3

  /** Maximum synthetic out-degree (the fixture j-range 0..MaxOutDegree-1
    * is filtered down per doc by [[outDegree]]). */
  val MaxOutDegree: Int = 5

  /** Messy-but-valid URL from doc_id: upper/lower scheme, optional WWW.,
    * mixed-case host, explicit default port, trailing slash, tracking
    * params in doc-dependent order, optional fragment. Docs congruent
    * mod 200 canonicalize to the SAME URL (scheme d%2, site d%40 ⊇ tld
    * d%5, path d%25, id d%50) — the planted dup structure the dedup
    * gate pins. */
  def syntheticUrl(d: Column): Column = {
    val scheme = when(d % 2 === 0, "HTTP").otherwise("https")
    val www = when(d % 3 === 0, "WWW.").otherwise("")
    val site = concat(when(d % 5 === 0, "Site").otherwise("site"),
      (d % 40).cast(StringType))
    val tld = element_at(lit(Tlds), (d % 5).cast(IntegerType) + 1)
    val port = when(d % 7 === 0,
      when(d % 2 === 0, ":80").otherwise(":443")).otherwise("")
    val path = concat(lit("/page/"), (d % 25).cast(StringType),
      when(d % 4 === 0, "/").otherwise(""))
    val params = filter(array(
      when(d % 2 === 0, concat(lit("utm_source=feed"), (d % 9).cast(StringType))),
      concat(lit("id="), (d % 50).cast(StringType)),
      when(d % 3 === 1, lit("ref=rss")),
      when(d % 5 < 2, lit("sort=asc"))), p => p.isNotNull)
    val qs = array_join(when(d % 2 === 1, reverse(params)).otherwise(params), "&")
    val frag = when(d % 6 === 0, concat(lit("#sec"), (d % 3).cast(StringType)))
      .otherwise("")
    concat(scheme, lit("://"), www, site, tld, port, path, lit("?"), qs, frag)
  }

  /** Docs per synthesized WARC file (file = unit of read parallelism). */
  val WarcDocsPerFile: Long = 50L

  /** Priority decay divisor for unchanged documents in the recrawl
    * schedule (integer — replayed by the oracle). */
  val RecrawlDecay: Int = 4

  /** The crawl-archive corpus written ONCE per (app, corpus): each doc's
    * page (the SAME htmlWrap derivation q_html_extract pins) wrapped in
    * an HTTP/1.1 response inside a real per-record-gzipped WARC file,
    * [[WarcDocsPerFile]] records per file — the CommonCrawl layout where
    * Spark parallelism is across archive files. */
  def ensureWarcFiles(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
    val path = s"$root/${s.sparkContext.applicationId}/warc_" +
      dir.replaceAll("[^0-9a-zA-Z]", "_")
    import s.implicits._
    documents(s, dir)
      .select(col("doc_id"),
        syntheticUrl(col("doc_id")).as("url"),
        Curation.htmlWrap(col("doc_id"), col("text")).as("html"))
      .withColumn("file_id", expr(s"doc_id div $WarcDocsPerFile"))
      .groupBy("file_id")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("url"),
        col("html")))).as("recs"))
      .as[(Long, Seq[(Long, String, String)])]
      .map { case (fid, recs) =>
        (fid, graft.sources.WarcFile.encodeWarcGz(recs.map { case (d, u, h) =>
          graft.sources.WarcFile.WarcRecord(u, s"urn:graft:doc-$d", 200, h)
        }))
      }.toDF("file_id", "warc")
      .write.mode("ignore").parquet(path)
    s.read.parquet(path)
  }

  // --- the operators (URL-string in, no knowledge of the synthesis) ----

  /** RFC-3986-flavored canonicalization: drop fragment; lowercase
    * scheme + host; strip a leading `www.`; strip the scheme's DEFAULT
    * port only (`:80` ⇔ http, `:443` ⇔ https — a non-default port is
    * load-bearing and kept); strip trailing slashes (root `/` survives;
    * empty path becomes `/`); drop `utm_*` / `ref=` tracking params;
    * sort surviving params bytewise. Served by the single-pass codegen
    * kernel ([[graft.functions.UrlKernel]]) — one character scan per
    * row instead of the ~10 regex scans of the declarative chain, the
    * difference between the two being pure CPU on a 100 TB crawl. */
  def canonicalizeUrl(url: Column): Column =
    graft.functions.UrlOps.canonicalUrlCol(url)

  /** The declarative regexp/array formulation the kernel replaced —
    * kept as the spec's independent REFERENCE implementation
    * (CrawlSpec property-checks kernel ≡ chain on generated messy
    * URLs), and as the form an engine without the extension jar would
    * use. */
  private[graft] def canonicalizeUrlRef(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val rest = regexp_replace(noFrag, "^[^:/?#]+://[^/?#]*", "")
    val noWww = regexp_replace(hostPort, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .otherwise(noWww)
    val rawPath = regexp_extract(rest, "^([^?]*)", 1)
    val trimmed = regexp_replace(rawPath, "/+$", "")
    val path = when(trimmed === "", "/").otherwise(trimmed)
    val rawQ = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = array_join(array_sort(filter(split(rawQ, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("ref=") || p === ""))), "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", "").otherwise(concat(lit("?"), kept)))
  }

  /** Registrable domain from a canonical URL's host: label + public
    * suffix, where the suffix is the last label unless the last TWO
    * labels are a known multi-level suffix ([[MultiSuffixes]]). */
  def registrableDomain(url: Column): Column = {
    val host = regexp_extract(url, "^[^:/?#]+://([^/?#]*)", 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = concat(element_at(labels, -2), lit("."), element_at(labels, -1))
    when(n >= 3 && lastTwo.isin(MultiSuffixes.toSeq: _*),
      concat(element_at(labels, -3), lit("."), lastTwo))
      .otherwise(lastTwo)
  }

  /** Synthetic per-doc out-degree: HETEROGENEOUS by construction so no
    * constant can masquerade as the real degree — docs ≡ 0 (mod 7) are
    * DANGLING (zero outlinks), the rest fan out 1 + d%5 ∈ 1..5. */
  def outDegree(d: Column): Column =
    when(d % 7 === 0, lit(0L)).otherwise(d % 5 + 1)

  /** Synthetic outlink targets: [[outDegree]] links per doc (0..5,
    * degree-varying, with dangling nodes), target = another doc id
    * modulo corpus size (ids are contiguous from 0, so every target
    * exists — TESTDATA.md). */
  def outlinks(docs: DataFrame): DataFrame = {
    val n = PlanMemo.countOnce(docs)
    docs.select(col("doc_id").as("src"),
        explode(sequence(lit(0), lit(MaxOutDegree - 1))).as("j"))
      .filter(col("j") < outDegree(col("src")))
      .select(col("src"), col("j"),
        ((col("src") * 53 + col("j") * 179 + 7) % n).as("dst"))
  }

  /** Integer-micro-unit PageRank, [[RankIters]] fixed iterations.
    * rank₀ = [[RankScale]];
    * rankᵢ₊₁(v) = scale·(1−d) + d·(Σ_{u→v} rankᵢ(u)/out(u) + dangling/N)
    * with d = 85/100, out(u) the node's REAL out-degree (derived from
    * the edge list itself, never assumed), `dangling` the total rank
    * sitting on zero-out-degree nodes (redistributed uniformly — the
    * standard dangling-mass term), and every division an integer
    * floor — all addends are BIGINTs, so the shuffle order can never
    * change a bit.
    *
    * 100 TB: the degree join is edge-keyed (src) and computed once
    * outside the loop; the dangling term is a 1-row aggregate broadcast
    * (never a driver value); each iteration is one join + one groupBy
    * over the edge list with lineage truncated per round. */
  def pageRank(docs: DataFrame, edges: DataFrame): DataFrame = {
    val base = RankScale * (Damping._2 - Damping._1) / Damping._2
    val nDocs = PlanMemo.countOnce(docs)
    // empty graph: no iteration can change anything, and the dangling
    // share's `div nDocs` would be an ANSI divide-by-zero
    if (nDocs == 0)
      return docs.select(col("doc_id"), lit(RankScale).as("rank_micro"))
    val e = edges.select("src", "dst").localCheckpoint(eager = false)
    // real per-src out-degree, carried on the edge (one join, reused by
    // every iteration); lazy checkpoints — computed once inside the
    // first consuming job, persisted for the remaining rounds
    val deg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val eDeg = e.join(deg, "src").localCheckpoint(eager = false)
    val srcSet = deg.select(col("src").as("doc_id"))
      .localCheckpoint(eager = false)
    var ranks = docs.select(col("doc_id"), lit(RankScale).as("rank_micro"))
    for (_ <- 1 to RankIters) {
      val contrib = eDeg.join(ranks, eDeg("src") === ranks("doc_id"))
        .select(col("dst"), expr("rank_micro div out_deg").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      // dangling mass: rank held by nodes with no outgoing edge, shared
      // uniformly (integer floor) across all N nodes
      val share = ranks.join(srcSet, Seq("doc_id"), "left_anti")
        .agg(expr(s"coalesce(sum(rank_micro), 0L) div ${nDocs}L")
          .as("dangling_share"))
      ranks = docs.select(col("doc_id"))
        .join(contrib, docs("doc_id") === contrib("dst"), "left")
        .crossJoin(broadcast(share))
        .select(col("doc_id"),
          (lit(base) + expr(
            s"(coalesce(inflow, 0L) + dangling_share) * ${Damping._1}" +
              s" div ${Damping._2}"))
            .as("rank_micro"))
        // LAZY lineage truncation (guide §1.2 "remove passes"): plan
        // depth still resets every round, but the three rounds execute
        // inside the ONE consuming job instead of paying a separate
        // materialization job per round (the checkpointed partitions are
        // persisted on first compute exactly as in the eager form)
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** Disjoint seed fixture of the label-propagation gate: every
    * `% TrustSeedMod`-th doc at remainder 1 is a TRUSTED seed, at
    * remainder 2 a SPAM seed — pure id predicates, oracle-replayable. */
  val TrustSeedMod: Long = 23L
  val TrustedRem: Long = 1L
  val SpamRem: Long = 2L

  /** Semi-supervised label propagation over the link graph — the
    * TrustRank/Anti-TrustRank posture (Gyöngyi et al., VLDB'04): a
    * small editorial seed set (trusted hosts, known-spam hosts) and the
    * structure of the graph label everything else. Each round, every
    * non-seed node's per-label mass is the out-degree-normalized inflow
    * of that label; SEEDS CLAMP to their own label each round (the
    * standard clamped-seed iteration of Zhu & Ghahramani '02) so the
    * seed signal cannot wash out. Both masses propagate in ONE frame —
    * one join + one groupBy per round over the edge list, the pageRank
    * loop shape — and all arithmetic is integer micro-mass with floor
    * division by the REAL out-degree, so shuffle order can never move
    * a bit and the DuckDB oracle replays every round. The readout is
    * the argmax label ('none' where no seed mass arrives — ties
    * included, the conservative call for a spam filter). */
  def labelPropagate(docs: DataFrame, edges: DataFrame): DataFrame = {
    val isT = col("doc_id") % TrustSeedMod === TrustedRem
    val isS = col("doc_id") % TrustSeedMod === SpamRem
    val e = edges.select("src", "dst").localCheckpoint(eager = false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val eDeg = e.join(deg, "src").localCheckpoint(eager = false)
    var m = docs.select(col("doc_id"),
      when(isT, lit(RankScale)).otherwise(lit(0L)).as("t_micro"),
      when(isS, lit(RankScale)).otherwise(lit(0L)).as("s_micro"))
    for (_ <- 1 to RankIters) {
      val inflow = eDeg.join(m, eDeg("src") === m("doc_id"))
        .select(col("dst"),
          expr("t_micro div out_deg").as("ti"),
          expr("s_micro div out_deg").as("si"))
        .groupBy("dst").agg(sum("ti").as("t_in"), sum("si").as("s_in"))
      m = docs.select(col("doc_id"))
        .join(inflow, docs("doc_id") === inflow("dst"), "left")
        .select(col("doc_id"),
          when(isT, lit(RankScale)).when(isS, lit(0L))
            .otherwise(coalesce(col("t_in"), lit(0L))).as("t_micro"),
          when(isS, lit(RankScale)).when(isT, lit(0L))
            .otherwise(coalesce(col("s_in"), lit(0L))).as("s_micro"))
        .localCheckpoint(eager = false) // one consuming job, as in pageRank
    }
    m.select(col("doc_id"), col("t_micro"), col("s_micro"),
      when(col("t_micro") > col("s_micro"), lit("trusted"))
        .when(col("s_micro") > col("t_micro"), lit("spam"))
        .otherwise(lit("none")).as("label"))
  }

  /** Frontier wave depth: the next fetches scheduled per domain. */
  val FrontierDepth: Int = 8

  /** Site indexes (of the 40 synthetic sites) that carry a robots
    * disallow rule — every third site, prefix `/page/<i % 7>`. */
  val RobotsRuleSites: Seq[Int] = (0 until 40).filter(_ % 3 == 0)

  /** The parsed robots.txt rule table, (registrable domain, disallowed
    * path prefix) — generated from the same constants the oracle
    * interpolates. A real crawl loads its parsed robots corpus as
    * exactly this bounded broadcast frame; the OPERATOR below consumes
    * only the two columns. */
  def robotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    RobotsRuleSites
      .map(i => (s"site$i${Tlds(i % 5)}", s"/page/${i % 7}"))
      .toDF("domain", "prefix")
  }

  /** URL-level admission of a landing batch against a stored canonical
    * index: canonicalize once (localCheckpoint — two consumers),
    * keep-first WITHIN the batch via groupBy+min (aggregate, never a
    * window over a mass-duplicate key — the r5/r6 straggler rule), then
    * anti-join the stored canon set. The cheapest dedup signal a crawl
    * has: no text is read, only the URL column. */
  def urlAdmit(batch: DataFrame, storedCanon: DataFrame): DataFrame = {
    val canon = batch
      .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
      .localCheckpoint()
    val keepFirst = canon.groupBy("canon_url").agg(min("doc_id").as("doc_id"))
    canon.join(keepFirst, Seq("canon_url", "doc_id"))
      .join(storedCanon.select("canon_url"), Seq("canon_url"), "left_anti")
      .select("doc_id", "canon_url")
  }

  /** The full crawl-to-training-batch spine as ONE declarative plan —
    * every stage is an operator its own gate already pins, composed
    * with nothing recomputed between stages:
    *
    *   WARC decode → HTML extract + URL canonicalization (narrow, one
    *   pass over the archive scan) → URL-canonical dedup (keep-first BY
    *   AGGREGATE: the payload rides the min-struct, no join-back) →
    *   per-domain cap through the custom bounded-heap top-k operator →
    *   quality-classifier admission (narrow kernel, integer keep-cut)
    *   → paragraph dedup (keep-first aggregate + positional rebuild;
    *   docs that lose every block drop out — this stage REWRITES the
    *   corpus) → BPE token count under the frozen merges (narrow).
    *
    * Exactly four exchanges end to end (canon_url, domain, blk,
    * doc_id — PlanSpec counts them): everything else pipelines inside
    * scan stages. Returns (doc_id, n_units) — the admitted, deduped,
    * tokenized corpus ready for batching. */
  def crawlPipelineDocs(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val recs = ensureWarcFiles(s, dir)
      .select("warc").as[Array[Byte]]
      .flatMap(bytes => graft.sources.WarcFile.decodeWarcGz(bytes).map(r =>
        (r.recordId.stripPrefix("urn:graft:doc-").toLong, r.targetUri, r.body)))
      .toDF("doc_id", "uri", "html")
    val extracted = recs.select(col("doc_id"),
      canonicalizeUrl(col("uri")).as("canon_url"),
      Curation.extractHtmlText(col("html")).getField("extracted")
        .as("extracted"))
    val urlDeduped = extracted
      .groupBy("canon_url")
      .agg(min(struct(col("doc_id"), col("extracted"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("canon_url"),
        col("f.extracted").as("extracted"))
    val withDomain = urlDeduped.select(col("doc_id"),
      registrableDomain(col("canon_url")).as("domain"),
      col("extracted"), length(col("extracted")).as("x_len"))
    val capped = graft.plans.TopK.topKPerKey(withDomain, Seq(col("domain")),
      Seq(col("x_len").desc, col("doc_id").asc), DomainCap)
    val bias = Curation.QualityBiasMicro
    val admitted = capped
      .withColumn("f", graft.functions.QualityModel.qualityScore(
        TextAnalysis.bm25Toks(col("extracted")), Curation.QualityWeights))
      .filter(when(col("f.n_features") > 0,
        col("f.sum_micro") + lit(bias) * col("f.n_features") >= 0)
        .otherwise(lit(bias >= 0L)))
      .select(col("doc_id"), col("extracted").as("text"))
    val base = Dedup.blockBase(admitted, Dedup.ParaBlockLen)
    val kept = Dedup.blockFrame(base, Dedup.ParaBlockLen)
      .groupBy("blk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.pos").as("pos"),
        col("blk"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("blk")))),
        pb => pb.getField("blk")), " ").as("dedup_text"))
    rebuilt.select(col("doc_id"),
      size(Bpe.encodeAllUnits(Curation.gramToks(col("dedup_text")),
        Bpe.PinnedMerges))
        .cast(LongType).as("n_units"))
  }
}
