package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Crawl._
import graft.operators._

/** The gates over [[graft.operators.Crawl]]: one `Gate` row each. */
object CrawlGates {

  /** The same synthesis as DuckDB SQL, generated from the SAME Scala
    * constants (the bm25BatchCtesSql / BpeGates.encodeSqlExpr convention). */
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

  /** The lifted raw-URL CTE pair shared by every oracle that replays
    * the synthesis: `pl(params)` then `raw(carry…, url)`. `src` is any
    * CTE/table exposing `doc_id` (the classifyCtesSql source-param
    * convention) — the recrawl gate points it at the v2 snapshot. */
  def rawUrlCtesSql(carry: Seq[String], src: String = "documents"): String = {
    val cs = carry.map(_ + ", ").mkString
    s"""pl AS (SELECT $cs${paramsSql("doc_id")} FROM $src),
       |raw AS (SELECT $cs${urlSql("doc_id")} AS url FROM pl)""".stripMargin
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

  val all: Seq[Gate] = Seq(
    // URL dedup by canonical form: 200 planted collision classes (docs
    // ≡ mod 200 share a canonical URL). The canonical STRING is in the
    // output, so any rule slip — a kept fragment, an unsorted param, a
    // surviving default port — flips the hash, not just the counts.
    Gate("q_url_canonical",
      s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
         |${canonicalCtesSql("raw", Seq("doc_id"))}
         |SELECT canon_url, count(*) AS n_docs,
         |       min(doc_id) AS first_doc,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_docs
         |FROM canon GROUP BY 1 ORDER BY canon_url""".stripMargin,
      (s, dir) =>
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
    Gate("q_domain_cap", DomainCapOracleSql, (s, dir) => {
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
    // shared VERBATIM: hash equality = custom operator ≡ window form
    Gate("q_domain_cap_topk", DomainCapOracleSql, (s, dir) => {
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
    Gate("q_anchor_text",
      {
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
      (s, dir) => {
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
    Gate("q_link_rank",
      s"""WITH $linkRankCtesSql
         |SELECT doc_id, CAST(rank_micro AS BIGINT) AS rank_micro
         |FROM r$RankIters
         |ORDER BY doc_id""".stripMargin,
      (s, dir) => {
        val docs = documents(s, dir)
        pageRank(docs, outlinks(docs)).orderBy("doc_id")
      }),

    // semi-supervised trust/spam propagation over the same link graph:
    // clamped seeds, out-degree-normalized integer inflow per label,
    // argmax readout. Every doc's masses AND label ride the hash, so a
    // wrong clamp, a washed-out seed, or one integer division error
    // anywhere in the rounds flips a row.
    Gate("q_label_prop",
      s"""WITH $labelPropCtesSql
         |SELECT doc_id, t_micro, s_micro,
         |       CASE WHEN t_micro > s_micro THEN 'trusted'
         |            WHEN s_micro > t_micro THEN 'spam'
         |            ELSE 'none' END AS label
         |FROM l$RankIters
         |ORDER BY doc_id""".stripMargin,
      (s, dir) => {
        val docs = documents(s, dir)
        labelPropagate(docs, outlinks(docs)).orderBy("doc_id")
      }),

    // robots-rule audit: every distinct canonical URL flagged against
    // the per-domain disallow table (broadcast — the rule set is
    // bounded by the domain count, never the corpus). A crawl runs this
    // filter BEFORE fetching; the per-URL blocked flag rides the hash.
    // robots disallow audit: distinct canonical URLs joined against
    // the rules table rebuilt from the SAME constants; the per-URL
    // blocked flag is in the hash, so one wrong prefix match or
    // domain attribution flips a row.
    Gate("q_robots_filter",
      {
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
      (s, dir) => {
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
    // frontier schedule: the rank CTE chain (shared verbatim with
    // q_link_rank) joined to the domain derivation, politeness
    // replayed as the same per-domain row_number.
    Gate("q_frontier_schedule",
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
         |ORDER BY domain, fetch_tick""".stripMargin,
      (s, dir) => {
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
    // the CDC → crawl loop: v2 CTE (shared with the snapshot gates) +
    // rank chain (shared with q_link_rank) + URL/domain chain over the
    // v2 ids, class policy and capped wave replayed.
    Gate("q_recrawl_priority",
      s"""WITH ${CurationGates.corpusV2CteSql},
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
      (s, dir) => {
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
    Gate("q_warc_extract",
      s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
         |${canonicalCtesSql("raw", Seq("doc_id"))},
         |${CurationGates.HtmlExtractCtesSql}
         |SELECT xt.doc_id, 200 AS status, canon.canon_url,
         |       xt.extracted, xt.n_boilerplate_lines
         |FROM xt JOIN canon USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
      (s, dir) => {
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
    // the composed pipeline, replayed as ONE statement from the SAME
    // generators each stage gate uses — nothing re-derived, nothing
    // trusted from the Spark side
    Gate("q_crawl_pipeline_e2e",
      {
        val bias = Curation.QualityBiasMicro
        val bs = graft.operators.ScalePatterns.LengthBatchSize
        s"""WITH ${rawUrlCtesSql(Seq("doc_id"))},
         |${canonicalCtesSql("raw", Seq("doc_id"))},
         |${CurationGates.HtmlExtractCtesSql},
         |u AS (SELECT canon_url, min(doc_id) AS doc_id FROM canon GROUP BY 1),
         |t0 AS (SELECT u.doc_id, u.canon_url, xt.extracted
         |       FROM u JOIN xt USING (doc_id)),
         |${registrableDomainCtesSql("t0", Seq("doc_id", "extracted"))},
         |capped AS (
         |  SELECT doc_id, domain, extracted FROM dom
         |  QUALIFY row_number() OVER (PARTITION BY domain
         |    ORDER BY len(extracted) DESC, doc_id) <= $DomainCap),
         |${CurationGates.classifyCtesSql(
            "(SELECT doc_id, 'x' AS lang, extracted AS text FROM capped)")},
         |admitted AS (
         |  SELECT c.doc_id, c.extracted AS text
         |  FROM capped c JOIN scored s USING (doc_id)
         |  WHERE CASE WHEN s.n_features > 0
         |             THEN s.sum_micro + $bias * s.n_features >= 0
         |             ELSE $bias >= 0 END),
         |${DedupGates.paragraphCtesSql("admitted", "pd_")},
         |enc AS (
         |  SELECT doc_id,
         |         flatten(list_transform(
         |           string_split(lower(regexp_replace(trim(dedup_text), '\\s+', ' ', 'g')), ' '),
         |           w -> CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
         |                     ELSE ${BpeGates.encodeSqlExpr("w",
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
      (s, dir) =>
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
          .orderBy("batch_id")),
  )
}
