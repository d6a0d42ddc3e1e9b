package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  // Formulas are mirrored in the DuckDB oracles via [[urlSql]]; change
  // BOTH or neither.

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

  /** The same synthesis as DuckDB SQL, generated from the SAME Scala
    * constants (the bm25BatchCtesSql / Bpe.encodeSqlExpr convention). */
  def urlSql(d: String): String = {
    val tldCase = Tlds.zipWithIndex.map { case (t, i) =>
      s"WHEN $i THEN '$t'"
    }.mkString(" ")
    s"""CASE WHEN $d % 2 = 0 THEN 'HTTP' ELSE 'https' END ||
       |'://' || CASE WHEN $d % 3 = 0 THEN 'WWW.' ELSE '' END ||
       |CASE WHEN $d % 5 = 0 THEN 'Site' ELSE 'site' END || ($d % 40) ||
       |CASE $d % 5 $tldCase END ||
       |CASE WHEN $d % 7 = 0 THEN
       |  CASE WHEN $d % 2 = 0 THEN ':80' ELSE ':443' END ELSE '' END ||
       |'/page/' || ($d % 25) || CASE WHEN $d % 4 = 0 THEN '/' ELSE '' END ||
       |'?' ||
       |array_to_string(
       |  CASE WHEN $d % 2 = 1 THEN list_reverse(pl.params) ELSE pl.params END,
       |  '&') ||
       |CASE WHEN $d % 6 = 0 THEN '#sec' || ($d % 3) ELSE '' END""".stripMargin
  }

  /** The params-list CTE fragment shared by [[urlSql]] callers: DuckDB
    * needs the filtered list built once (lateral alias rules differ from
    * Spark's). */
  def paramsSql(d: String): String =
    s"""list_filter([
       |  CASE WHEN $d % 2 = 0 THEN 'utm_source=feed' || ($d % 9) END,
       |  'id=' || ($d % 50),
       |  CASE WHEN $d % 3 = 1 THEN 'ref=rss' END,
       |  CASE WHEN $d % 5 < 2 THEN 'sort=asc' END],
       |  p -> p IS NOT NULL) AS params""".stripMargin

  /** Docs per synthesized WARC file (file = unit of read parallelism). */
  val WarcDocsPerFile: Long = 50L

  /** The lifted raw-URL CTE pair shared by every oracle that replays
    * the synthesis: `pl(params)` then `raw(carry…, url)`. `src` is any
    * CTE/table exposing `doc_id` (the classifyCtesSql source-param
    * convention) — the recrawl gate points it at the v2 snapshot. */
  def rawUrlCtesSql(carry: Seq[String], src: String = "documents"): String = {
    val cs = carry.map(_ + ", ").mkString
    s"""pl AS (SELECT $cs${paramsSql("doc_id")} FROM $src),
       |raw AS (SELECT $cs${urlSql("doc_id")} AS url FROM pl)""".stripMargin
  }

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

  /** The same canonicalization for DuckDB (oracle side) as a CTE chain:
    * `src` must expose a column `url` plus the `carry` columns; the
    * final CTE is `canon(carry…, canon_url)`. DuckDB's regexp_replace is
    * first-match-only without the 'g' flag; every pattern here is
    * anchored, so single-match semantics are identical on both
    * engines. */
  def canonicalCtesSql(src: String, carry: Seq[String]): String = {
    val cs = carry.map(_ + ", ").mkString
    s"""_nf AS (SELECT ${cs}regexp_replace(url, '#.*$$', '') AS nf FROM $src),
       |_sc AS (SELECT $cs
       |        lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
       |        regexp_replace(lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)),
       |                       '^www\\.', '') AS hp,
       |        regexp_replace(nf, '^[^:/?#]+://[^/?#]*', '') AS rest
       |      FROM _nf),
       |_pq AS (SELECT $cs sch,
       |        CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$$', '')
       |             WHEN sch = 'https' THEN regexp_replace(hp, ':443$$', '')
       |             ELSE hp END AS host,
       |        regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '') AS tp,
       |        array_to_string(list_sort(list_filter(
       |          string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
       |          q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'ref=')
       |                    OR q = ''))), '&') AS kq
       |      FROM _sc),
       |canon AS (SELECT $cs sch || '://' || host ||
       |       CASE WHEN tp = '' THEN '/' ELSE tp END ||
       |       CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canon_url
       |FROM _pq)""".stripMargin
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

  /** DuckDB twin of [[registrableDomain]] as a CTE pair over `src`
    * (must expose `canon_url` + the carry columns); final CTE is
    * `dom(carry…, domain)`. Generated from the same suffix set. */
  def registrableDomainCtesSql(src: String, carry: Seq[String]): String = {
    val cs = carry.map(_ + ", ").mkString
    val suffixes = MultiSuffixes.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""_ls AS (SELECT ${cs}string_split(
       |        regexp_extract(canon_url, '^[^:/?#]+://([^/?#]*)', 1), '.') AS ls
       |      FROM $src),
       |dom AS (SELECT ${cs}CASE WHEN len(ls) >= 3 AND
       |              (ls[-2] || '.' || ls[-1]) IN ($suffixes)
       |            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       |            ELSE ls[-2] || '.' || ls[-1] END AS domain
       |FROM _ls)""".stripMargin
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

  /** The label-propagation replay as a CTE chain ending in
    * `l{RankIters}` — shares [[edgeCtesSql]] with the PageRank chain. */
  def labelPropCtesSql: String = {
    def iter(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % $TrustSeedMod = $TrustedRem THEN CAST($RankScale AS BIGINT)
         |         WHEN d.doc_id % $TrustSeedMod = $SpamRem THEN CAST(0 AS BIGINT)
         |         ELSE CAST(COALESCE(f.t_in, 0) AS BIGINT) END AS t_micro,
         |    CASE WHEN d.doc_id % $TrustSeedMod = $SpamRem THEN CAST($RankScale AS BIGINT)
         |         WHEN d.doc_id % $TrustSeedMod = $TrustedRem THEN CAST(0 AS BIGINT)
         |         ELSE CAST(COALESCE(f.s_in, 0) AS BIGINT) END AS s_micro
         |  FROM documents d
         |  LEFT JOIN (
         |    SELECT e2.dst AS doc_id,
         |           sum(l.t_micro // e2.out_deg) AS t_in,
         |           sum(l.s_micro // e2.out_deg) AS s_in
         |    FROM ed e2 JOIN $prev l ON e2.src = l.doc_id
         |    GROUP BY 1) f USING (doc_id))""".stripMargin
    val iters = (1 to RankIters)
      .map(i => iter(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""$edgeCtesSql,
       |l0 AS (SELECT doc_id,
       |         CAST(CASE WHEN doc_id % $TrustSeedMod = $TrustedRem
       |                   THEN $RankScale ELSE 0 END AS BIGINT) AS t_micro,
       |         CAST(CASE WHEN doc_id % $TrustSeedMod = $SpamRem
       |                   THEN $RankScale ELSE 0 END AS BIGINT) AS s_micro
       |       FROM documents),
       |$iters""".stripMargin
  }

  /** The integer PageRank replay as ONE reusable CTE chain — edge
    * synthesis with heterogeneous degrees, real per-src out-degree,
    * dangling share, [[RankIters]] iterations — ending in
    * `r{RankIters}(doc_id, rank_micro)`. Shared verbatim by q_link_rank
    * and q_frontier_schedule (the Bm25CtesSql rule). */
  def linkRankCtesSql: String = {
    val base = RankScale * (Damping._2 - Damping._1) / Damping._2
    // each iteration replays the Spark formula exactly: per-src REAL
    // out-degree division, dangling-mass share, integer floors
    def iter(prev: String, next: String): String =
      s"""d$next AS (
         |  SELECT COALESCE(sum(r.rank_micro), 0) // (SELECT c FROM n)
         |           AS share
         |  FROM $prev r LEFT JOIN deg ON r.doc_id = deg.src
         |  WHERE deg.src IS NULL),
         |$next AS (
         |  SELECT d.doc_id,
         |         $base + (COALESCE(f.inflow, 0) + (SELECT share FROM d$next))
         |           * ${Damping._1} // ${Damping._2} AS rank_micro
         |  FROM documents d
         |  LEFT JOIN (
         |    SELECT e2.dst AS doc_id,
         |           sum(r.rank_micro // e2.out_deg) AS inflow
         |    FROM ed e2 JOIN $prev r ON e2.src = r.doc_id
         |    GROUP BY 1) f USING (doc_id))""".stripMargin
    val iters = (1 to RankIters)
      .map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""$edgeCtesSql,
       |r0 AS (SELECT doc_id,
       |         CAST($RankScale AS BIGINT) AS rank_micro FROM documents),
       |$iters""".stripMargin
  }

  /** The synthetic edge list + real out-degree as CTEs (`e`, `deg`,
    * `ed`, `n`) — one string shared by the PageRank chain and the
    * label-propagation chain (the Bm25CtesSql rule). */
  def edgeCtesSql: String = {
    val js = (0 until MaxOutDegree).mkString(", ")
    s"""n AS (SELECT count(*) AS c FROM documents),
       |e AS (
       |  SELECT doc_id AS src,
       |         (doc_id * 53 + j * 179 + 7) % (SELECT c FROM n) AS dst
       |  FROM documents
       |  CROSS JOIN (SELECT unnest([$js]) AS j) u
       |  WHERE j < CASE WHEN doc_id % 7 = 0 THEN 0
       |                 ELSE doc_id % 5 + 1 END),
       |deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, deg.out_deg
       |       FROM e JOIN deg USING (src))""".stripMargin
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

  // --- query surface ----------------------------------------------------

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 11

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // URL dedup by canonical form: 200 planted collision classes (docs
    // ≡ mod 200 share a canonical URL). The canonical STRING is in the
    // output, so any rule slip — a kept fragment, an unsorted param, a
    // surviving default port — flips the hash, not just the counts.
    "q_url_canonical" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          canonicalizeUrl(syntheticUrl(col("doc_id"))).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          sum("doc_id").as("sum_docs"))
        .orderBy("canon_url")),

    // per-registrable-domain cap: keep each domain's top-N docs by
    // length (quality stand-in), deterministic tiebreak. The window
    // shuffles the natural crawl skew key once; output pins exact
    // membership per domain.
    "q_domain_cap" -> ((s, dir) => {
      val withDomain = documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          registrableDomain(
            canonicalizeUrl(syntheticUrl(col("doc_id")))).as("domain"))
      val w = Window.partitionBy("domain")
        .orderBy(desc("n_chars"), asc("doc_id"))
      withDomain
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= DomainCap)
        .select("domain", "doc_id", "n_chars")
        .orderBy("domain", "doc_id")
    }),

    // the SAME domain cap through the custom bounded-heap operator
    // (graft.plans.TopK: LogicalPlan + Strategy + two-phase physical
    // exec) instead of the window — the oracle is shared VERBATIM with
    // q_domain_cap, so the hash equality proves the custom operator
    // row-for-row against both the window form and DuckDB.
    "q_domain_cap_topk" -> ((s, dir) => {
      val withDomain = documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          registrableDomain(
            canonicalizeUrl(syntheticUrl(col("doc_id")))).as("domain"))
      graft.plans.TopK.topKPerKey(withDomain, Seq(col("domain")),
          Seq(col("n_chars").desc, col("doc_id").asc), DomainCap)
        .select("domain", "doc_id", "n_chars")
        .orderBy("domain", "doc_id")
    }),

    // anchor-text corpus: per target domain, in-degree, distinct
    // sources, and the sorted distinct anchor texts — the link-text
    // aggregation every web pretraining corpus builds.
    "q_anchor_text" -> ((s, dir) => {
      val d = col("src")
      val edges = documents(s, dir)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0), lit(2))).as("j"))
        .select(d, col("j"),
          concat(lit("site"), ((d * 7 + col("j") * 13 + 3) % 40).cast(StringType),
            element_at(lit(Tlds),
              (((d * 7 + col("j") * 13 + 3) % 40) % 5).cast(IntegerType) + 1))
            .as("target"),
          element_at(lit(Anchors),
            ((d + col("j") * 2) % 6).cast(IntegerType) + 1).as("anchor"))
      val deg = edges.groupBy("target")
        .agg(count(lit(1)).as("in_degree"),
          countDistinct("src").as("n_sources"))
      val texts = edges.select("target", "anchor").distinct()
        .groupBy("target")
        .agg(array_join(array_sort(collect_list("anchor")), "|").as("anchors"))
      deg.join(texts, "target").orderBy("target")
    }),

    // link-graph centrality: 3 integer-exact PageRank iterations over
    // the synthetic doc→doc graph. Emits every doc's final rank — one
    // wrong integer division anywhere in the 3 rounds flips that row.
    "q_link_rank" -> ((s, dir) => {
      val docs = documents(s, dir)
      pageRank(docs, outlinks(docs)).orderBy("doc_id")
    }),

    // semi-supervised trust/spam propagation over the same link graph:
    // clamped seeds, out-degree-normalized integer inflow per label,
    // argmax readout. Every doc's masses AND label ride the hash, so a
    // wrong clamp, a washed-out seed, or one integer division error
    // anywhere in the rounds flips a row.
    "q_label_prop" -> ((s, dir) => {
      val docs = documents(s, dir)
      labelPropagate(docs, outlinks(docs)).orderBy("doc_id")
    }),

    // robots-rule audit: every distinct canonical URL flagged against
    // the per-domain disallow table (broadcast — the rule set is
    // bounded by the domain count, never the corpus). A crawl runs this
    // filter BEFORE fetching; the per-URL blocked flag rides the hash.
    "q_robots_filter" -> ((s, dir) => {
      val canon = documents(s, dir)
        .select(col("doc_id"),
          canonicalizeUrl(syntheticUrl(col("doc_id"))).as("canon_url"))
        .groupBy("canon_url").agg(min("doc_id").as("first_doc"))
      val withPath = canon.select(col("canon_url"), col("first_doc"),
        registrableDomain(col("canon_url")).as("domain"),
        regexp_extract(col("canon_url"),
          "^[^:/?#]+://[^/?#]*([^?]*)", 1).as("path"))
      withPath.join(broadcast(robotsRules(s)), Seq("domain"), "left")
        .groupBy(col("domain"), col("canon_url"), col("first_doc"))
        .agg(coalesce(bool_or(col("path").startsWith(col("prefix"))),
          lit(false)).as("blocked"))
        .orderBy("domain", "canon_url")
    }),

    // frontier scheduling: per registrable domain, the NEXT
    // [[FrontierDepth]] fetches ordered by PageRank priority with a
    // politeness budget of ONE fetch per domain per tick — fetch_tick
    // is the URL's position in its domain's queue. Scale shape: the
    // custom bounded-heap top-k CAPS each domain's wave first (the
    // shuffle carries ≤ domains·depth rows, a billion-page domain
    // contributes depth rows, not its corpus), and only then does the
    // tick window run — over ≤ depth rows per key by construction.
    // Rank and domain reuse the exact derivations their own gates pin.
    "q_frontier_schedule" -> ((s, dir) => {
      val docs = documents(s, dir)
      val ranks = pageRank(docs, outlinks(docs))
      val dom = docs.select(col("doc_id"),
        registrableDomain(
          canonicalizeUrl(syntheticUrl(col("doc_id")))).as("domain"))
      val wave = graft.plans.TopK.topKPerKey(ranks.join(dom, "doc_id"),
        Seq(col("domain")),
        Seq(col("rank_micro").desc, col("doc_id").asc), FrontierDepth)
      val w = Window.partitionBy("domain")
        .orderBy(desc("rank_micro"), asc("doc_id"))
      wave
        .withColumn("fetch_tick", row_number().over(w).cast(LongType))
        .select("domain", "fetch_tick", "doc_id", "rank_micro")
        .orderBy("domain", "fetch_tick")
    }),

    // recrawl scheduling: the CDC → crawl loop closed. Snapshot-v2
    // docs classified (added / changed / unchanged — deleted docs have
    // nothing to recrawl), prioritized by PageRank with class policy
    // (changed → full rank, added → fresh-page default, unchanged →
    // rank/decay), then the same capped politeness wave as
    // q_frontier_schedule. Three established derivations compose:
    // corpusV2's mutation classes, the link-graph rank, the URL→domain
    // chain — each already pinned by its own gate, the hash here pins
    // their COMPOSITION.
    "q_recrawl_priority" -> ((s, dir) => {
      val docs = documents(s, dir)
      val ranks = pageRank(docs, outlinks(docs))
      val off = graft.operators.Ingest.DocAppendOffset
      val cls = Curation.corpusV2(s, dir).select(col("doc_id"))
        .withColumn("change_class",
          when(col("doc_id") >= off, "added")
            .when(col("doc_id") % Curation.V2EditEvery === 0, "changed")
            .otherwise("unchanged"))
        .withColumn("domain", registrableDomain(
          canonicalizeUrl(syntheticUrl(col("doc_id")))))
      val pri = cls.join(ranks, Seq("doc_id"), "left")
        .withColumn("priority_micro",
          when(col("change_class") === "added", lit(RankScale))
            .when(col("change_class") === "changed", col("rank_micro"))
            .otherwise(expr(s"rank_micro div $RecrawlDecay")))
        .select("doc_id", "domain", "change_class", "priority_micro")
      val wave = graft.plans.TopK.topKPerKey(pri, Seq(col("domain")),
        Seq(col("priority_micro").desc, col("doc_id").asc), FrontierDepth)
      val w = Window.partitionBy("domain")
        .orderBy(desc("priority_micro"), asc("doc_id"))
      wave
        .withColumn("fetch_tick", row_number().over(w).cast(LongType))
        .select("domain", "fetch_tick", "doc_id", "change_class",
          "priority_micro")
        .orderBy("domain", "fetch_tick")
    }),

    // WARC ingestion: the stored .warc.gz archives (real gzip members,
    // real record framing, real HTTP messages) re-framed in a narrow
    // mapPartitions pass, then the SAME canonicalization and extraction
    // chains the other gates pin. The oracle never sees WARC — it
    // replays URL + page formulas straight from `documents` — so the
    // hash equality certifies the whole container round-trip: gzip
    // member boundaries, Content-Length framing, header parse, HTTP
    // status/body split.
    "q_warc_extract" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val recs = ensureWarcFiles(s, dir)
        .select("warc").as[Array[Byte]]
        .flatMap(bytes => graft.sources.WarcFile.decodeWarcGz(bytes).map(r =>
          (r.recordId.stripPrefix("urn:graft:doc-").toLong,
            r.targetUri, r.status, r.body)))
        .toDF("doc_id", "uri", "status", "html")
      recs.select(col("doc_id"), col("status"),
          canonicalizeUrl(col("uri")).as("canon_url"),
          Curation.extractHtmlText(col("html")).as("x"))
        .select(col("doc_id"), col("status"), col("canon_url"),
          col("x.extracted").as("extracted"),
          col("x.n_boilerplate_lines").as("n_boilerplate_lines"))
        .orderBy("doc_id")
    }),

    // END-TO-END crawl pipeline: WARC → extract → URL dedup → domain
    // cap (custom top-k operator) → quality admit → paragraph dedup →
    // BPE count → length-batched packing, one declarative plan. The
    // oracle chains the SAME pinned CTE generators the per-stage gates
    // use (rawUrl/canonical/HtmlExtract/registrableDomain/classify/
    // paragraph + the frozen-merge encode expression) in one statement,
    // so the hash certifies the COMPOSITION: batch membership (sum_ids)
    // and padding arithmetic shift if any stage drops, admits, or
    // tokenizes one doc differently anywhere in the chain.
    "q_crawl_pipeline_e2e" -> ((s, dir) =>
      graft.operators.ScalePatterns.prefixSums(
        crawlPipelineDocs(s, dir),
        Seq(col("n_units").asc, col("doc_id").asc), lit(1L), "rk")
        .select(col("doc_id"), col("n_units"),
          expr(s"rk div ${graft.operators.ScalePatterns.LengthBatchSize}")
            .as("batch_id"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("sum_ids"),
          max("n_units").as("max_units"),
          sum("n_units").as("sum_units"))
        .withColumn("padding_waste",
          col("n_docs") * col("max_units") - col("sum_units"))
        .orderBy("batch_id"))
  )

  /** One oracle, two gates: the window form (q_domain_cap) and the
    * custom bounded-heap operator (q_domain_cap_topk) must both hash
    * to this QUALIFY replay. */
  val DomainCapOracleSql: String =
    s"""WITH ${rawUrlCtesSql(Seq("doc_id", "n_chars"))},
       |${canonicalCtesSql("raw", Seq("doc_id", "n_chars"))},
       |${registrableDomainCtesSql("canon", Seq("doc_id", "n_chars"))}
       |SELECT domain, doc_id, n_chars FROM dom
       |QUALIFY row_number() OVER (PARTITION BY domain
       |  ORDER BY n_chars DESC, doc_id) <= $DomainCap
       |ORDER BY domain, doc_id""".stripMargin

  val oracles: Map[String, String] = {
    Map(
      "q_url_canonical" ->
        s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
           |${canonicalCtesSql("raw", Seq("doc_id"))}
           |SELECT canon_url, count(*) AS n_docs,
           |       min(doc_id) AS first_doc,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_docs
           |FROM canon GROUP BY 1 ORDER BY canon_url""".stripMargin,
      "q_domain_cap" -> DomainCapOracleSql,
      // shared VERBATIM: hash equality = custom operator ≡ window form
      "q_domain_cap_topk" -> DomainCapOracleSql,
      "q_anchor_text" -> {
        val tldCase = Tlds.zipWithIndex.map { case (t, i) =>
          s"WHEN $i THEN '$t'"
        }.mkString(" ")
        val anchorCase = Anchors.zipWithIndex.map { case (a, i) =>
          s"WHEN $i THEN '$a'"
        }.mkString(" ")
        s"""WITH e AS (
           |  SELECT doc_id AS src,
           |         'site' || ((doc_id * 7 + j * 13 + 3) % 40) ||
           |           CASE ((doc_id * 7 + j * 13 + 3) % 40) % 5 $tldCase END AS target,
           |         CASE (doc_id + j * 2) % 6 $anchorCase END AS anchor
           |  FROM documents
           |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) u),
           |deg AS (
           |  SELECT target, count(*) AS in_degree,
           |         count(DISTINCT src) AS n_sources
           |  FROM e GROUP BY 1),
           |txt AS (
           |  SELECT target, string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
           |  FROM e GROUP BY 1)
           |SELECT deg.target, deg.in_degree, deg.n_sources, txt.anchors
           |FROM deg JOIN txt USING (target)
           |ORDER BY target""".stripMargin
      },
      "q_warc_extract" ->
        s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
           |${canonicalCtesSql("raw", Seq("doc_id"))},
           |${graft.operators.Curation.HtmlExtractCtesSql}
           |SELECT xt.doc_id, 200 AS status, canon.canon_url,
           |       xt.extracted, xt.n_boilerplate_lines
           |FROM xt JOIN canon USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      // the composed pipeline, replayed as ONE statement from the SAME
      // generators each stage gate uses — nothing re-derived, nothing
      // trusted from the Spark side
      "q_crawl_pipeline_e2e" -> {
        val bias = Curation.QualityBiasMicro
        val bs = graft.operators.ScalePatterns.LengthBatchSize
        s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
           |${canonicalCtesSql("raw", Seq("doc_id"))},
           |${Curation.HtmlExtractCtesSql},
           |u AS (SELECT canon_url, min(doc_id) AS doc_id FROM canon GROUP BY 1),
           |t0 AS (SELECT u.doc_id, u.canon_url, xt.extracted
           |       FROM u JOIN xt USING (doc_id)),
           |${registrableDomainCtesSql("t0", Seq("doc_id", "extracted"))},
           |capped AS (
           |  SELECT doc_id, domain, extracted FROM dom
           |  QUALIFY row_number() OVER (PARTITION BY domain
           |    ORDER BY len(extracted) DESC, doc_id) <= $DomainCap),
           |${Curation.classifyCtesSql(
              "(SELECT doc_id, 'x' AS lang, extracted AS text FROM capped)")},
           |admitted AS (
           |  SELECT c.doc_id, c.extracted AS text
           |  FROM capped c JOIN scored s USING (doc_id)
           |  WHERE CASE WHEN s.n_features > 0
           |             THEN s.sum_micro + $bias * s.n_features >= 0
           |             ELSE $bias >= 0 END),
           |${Dedup.paragraphCtesSql("admitted", "pd_")},
           |enc AS (
           |  SELECT doc_id,
           |         flatten(list_transform(
           |           string_split(lower(regexp_replace(trim(dedup_text), '\\s+', ' ', 'g')), ' '),
           |           w -> CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
           |                     ELSE ${graft.operators.Bpe.encodeSqlExpr("w",
                                  graft.operators.Bpe.PinnedMerges)} END)) AS units
           |  FROM pd_rebuilt),
           |r AS (
           |  SELECT doc_id, CAST(len(units) AS BIGINT) AS n_units,
           |         (row_number() OVER (ORDER BY len(units), doc_id) - 1) // $bs
           |           AS batch_id
           |  FROM enc)
           |SELECT CAST(batch_id AS BIGINT) AS batch_id,
           |       count(*) AS n_docs,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           |       CAST(max(n_units) AS BIGINT) AS max_units,
           |       CAST(sum(n_units) AS BIGINT) AS sum_units,
           |       CAST(count(*) * max(n_units) - sum(n_units) AS BIGINT)
           |         AS padding_waste
           |FROM r GROUP BY 1 ORDER BY batch_id""".stripMargin
      },
      "q_link_rank" ->
        s"""WITH $linkRankCtesSql
           |SELECT doc_id, CAST(rank_micro AS BIGINT) AS rank_micro
           |FROM r$RankIters
           |ORDER BY doc_id""".stripMargin,

      "q_label_prop" ->
        s"""WITH $labelPropCtesSql
           |SELECT doc_id, t_micro, s_micro,
           |       CASE WHEN t_micro > s_micro THEN 'trusted'
           |            WHEN s_micro > t_micro THEN 'spam'
           |            ELSE 'none' END AS label
           |FROM l$RankIters
           |ORDER BY doc_id""".stripMargin,

      // robots disallow audit: distinct canonical URLs joined against
      // the rules table rebuilt from the SAME constants; the per-URL
      // blocked flag is in the hash, so one wrong prefix match or
      // domain attribution flips a row.
      "q_robots_filter" -> {
        val rules = RobotsRuleSites
          .map(i => s"($i, 'site$i${Tlds(i % 5)}', '/page/${i % 7}')")
          .mkString(", ")
        s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
           |${canonicalCtesSql("raw", Seq("doc_id"))},
           |u AS (SELECT canon_url, min(doc_id) AS first_doc
           |      FROM canon GROUP BY 1),
           |${registrableDomainCtesSql("u", Seq("canon_url", "first_doc"))},
           |wp AS (SELECT canon_url, first_doc, domain,
           |         regexp_extract(canon_url,
           |           '^[^:/?#]+://[^/?#]*([^?]*)', 1) AS path
           |       FROM dom),
           |rules(site_i, domain, prefix) AS (VALUES $rules)
           |SELECT wp.domain, wp.canon_url,
           |       CAST(wp.first_doc AS BIGINT) AS first_doc,
           |       COALESCE(bool_or(starts_with(wp.path, rules.prefix)), false)
           |         AS blocked
           |FROM wp LEFT JOIN rules ON wp.domain = rules.domain
           |GROUP BY 1, 2, 3
           |ORDER BY wp.domain, wp.canon_url""".stripMargin
      },

      // the CDC → crawl loop: v2 CTE (shared with the snapshot gates) +
      // rank chain (shared with q_link_rank) + URL/domain chain over the
      // v2 ids, class policy and capped wave replayed.
      "q_recrawl_priority" ->
        s"""WITH ${Curation.corpusV2CteSql},
           |$linkRankCtesSql,
           |cls AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id >= ${graft.operators.Ingest.DocAppendOffset}
           |                THEN 'added'
           |              WHEN doc_id % ${Curation.V2EditEvery} = 0
           |                THEN 'changed'
           |              ELSE 'unchanged' END AS change_class
           |  FROM v2),
           |${rawUrlCtesSql(Seq("doc_id"), "v2")},
           |${canonicalCtesSql("raw", Seq("doc_id"))},
           |${registrableDomainCtesSql("canon", Seq("doc_id"))},
           |pri AS (
           |  SELECT c.doc_id, d.domain, c.change_class,
           |         CASE c.change_class
           |           WHEN 'added' THEN $RankScale
           |           WHEN 'changed' THEN r.rank_micro
           |           ELSE r.rank_micro // $RecrawlDecay END AS priority_micro
           |  FROM cls c
           |  JOIN dom d USING (doc_id)
           |  LEFT JOIN r$RankIters r USING (doc_id))
           |SELECT domain,
           |       CAST(row_number() OVER (PARTITION BY domain
           |         ORDER BY priority_micro DESC, doc_id) AS BIGINT)
           |         AS fetch_tick,
           |       doc_id, change_class,
           |       CAST(priority_micro AS BIGINT) AS priority_micro
           |FROM pri
           |QUALIFY row_number() OVER (PARTITION BY domain
           |  ORDER BY priority_micro DESC, doc_id) <= $FrontierDepth
           |ORDER BY domain, fetch_tick""".stripMargin,

      // frontier schedule: the rank CTE chain (shared verbatim with
      // q_link_rank) joined to the domain derivation, politeness
      // replayed as the same per-domain row_number.
      "q_frontier_schedule" ->
        s"""WITH $linkRankCtesSql,
           |${rawUrlCtesSql(Seq("doc_id"))},
           |${canonicalCtesSql("raw", Seq("doc_id"))},
           |${registrableDomainCtesSql("canon", Seq("doc_id"))}
           |SELECT d.domain,
           |       CAST(row_number() OVER (PARTITION BY d.domain
           |         ORDER BY r.rank_micro DESC, r.doc_id) AS BIGINT)
           |         AS fetch_tick,
           |       r.doc_id, CAST(r.rank_micro AS BIGINT) AS rank_micro
           |FROM r$RankIters r JOIN dom d USING (doc_id)
           |QUALIFY row_number() OVER (PARTITION BY d.domain
           |  ORDER BY r.rank_micro DESC, r.doc_id) <= $FrontierDepth
           |ORDER BY domain, fetch_tick""".stripMargin
    )
  }
}
