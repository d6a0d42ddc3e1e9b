package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Ingest.Tombstones
import graft.operators.Curation._
import graft.operators._

/** The gates over [[graft.operators.Curation]]: one `Gate` row each. */
object CurationGates {

  /** DuckDB twin of [[nbBucket]] — exact base-16 digit fold. */
  def nbBucketSql(term: String): String =
    s"""CAST(list_sum(list_transform(range(3),
       |  i -> (strpos('0123456789abcdef',
       |          substr(md5('nb#' || $term),
       |                 CAST(i + 1 AS INT), 1)) - 1)
       |       * (CAST(1 AS BIGINT) << CAST(4 * (2 - i) AS INT)))) AS INT)""".stripMargin

  /** Shared oracle CTE block — the brute-force twin of htmlWrap +
    * extractHtmlText (same page skeleton built with ||, same regex
    * chain with RE2 'g' ≡ Java global, same lambda link-density filter,
    * same entity replace order with &amp; decoded LAST so injected
    * entities never double-decode). Ends in
    * `xt(doc_id, extracted, n_boilerplate_lines)`; spliced into
    * q_html_extract and Crawl's q_warc_extract (the Bm25CtesSql rule:
    * one string, every gate that replays the extraction). */
  val HtmlExtractCtesSql: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html><head><title>doc ' || doc_id || '</title><style>p{margin:0}</style></head><body>' || chr(10) ||
      |    '<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></div>' || chr(10) ||
      |    '<script>var page = ' || doc_id || ';</script>' || chr(10) ||
      |    '<p>' || replace(replace(text, ' the ', ' <b>the</b> '), ' a ', ' &amp; ') || '</p>' || chr(10) ||
      |    '<div class="footer"><a href="/terms">terms</a> | <a href="/privacy">privacy</a></div>' || chr(10) ||
      |    '</body></html>' AS html
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(regexp_replace(html,
      |           '<head>[^\n]*</head>', '', 'g'),
      |           '<script>[^\n]*</script>', '', 'g'), chr(10)) AS lines
      |  FROM h),
      |hk AS (
      |  SELECT doc_id, len(lines) AS n_lines,
      |         list_filter(lines, line ->
      |           len(trim(regexp_replace(line, '<[^>]*>', '', 'g'))) > 0 AND
      |           2 * (len(regexp_replace(line, '<[^>]*>', '', 'g')) -
      |                len(regexp_replace(regexp_replace(line, '<a [^>]*>[^<]*</a>', '', 'g'),
      |                    '<[^>]*>', '', 'g')))
      |             < len(regexp_replace(line, '<[^>]*>', '', 'g'))) AS kept
      |  FROM hs),
      |xt AS (
      |  SELECT doc_id,
      |       trim(regexp_replace(
      |         replace(replace(replace(replace(replace(
      |           regexp_replace(array_to_string(kept, ' '), '<[^>]*>', '', 'g'),
      |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
      |         ' +', ' ', 'g')) AS extracted,
      |       CAST(n_lines - len(kept) AS BIGINT) AS n_boilerplate_lines
      |  FROM hk)""".stripMargin

  /** The split CASE over any id expression — ONE string for
    * q_train_test_split and q_split_leakage (mirrors [[splitColumn]]). */
  def splitCaseSql(id: String): String =
    s"""CASE WHEN substr(md5(CAST($id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
       |            WHEN substr(md5(CAST($id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
       |            ELSE 'train' END""".stripMargin

  /** Classifier-replay CTE block over any (doc_id, lang, text) source —
    * shared by q_quality_classify and q_score_incremental (the
    * Bm25CtesSql rule: ONE copy of the tokenize/hash/weight/dot replay,
    * no second formula to drift). Model constants interpolated from the
    * same Scala values the kernel compiles in. */
  def classifyCtesSql(docsSrc: String): String =
    s"""toks AS (
       |  SELECT doc_id, lang,
       |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
       |  FROM $docsSrc),
       |feats AS (
       |  SELECT doc_id, unnest(t) AS f FROM toks
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(len(t) - 1),
       |           i -> t[CAST(i + 1 AS INT)] || '_' || t[CAST(i + 2 AS INT)])) AS f
       |  FROM toks),
       |hashed AS (
       |  SELECT doc_id,
       |         (length(f) * 2654435761 + coalesce(list_sum(
       |            list_transform(range(length(f)),
       |              i -> unicode(substr(f, CAST(i + 1 AS INT), 1)) * (i * i + 7))), 0))
       |           % $QualityDim AS b
       |  FROM feats),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_features,
       |         CAST(sum((b * 2654435761 + 12345) % 2000001 - 1000000) AS BIGINT)
       |           AS sum_micro
       |  FROM hashed GROUP BY 1)""".stripMargin

  /** The reported-probability expression over a `scored` row `s` —
    * shared by both classifier gates (one sigmoid, like the Scala
    * side's [[sigmoidScore]]). */
  private val classifyScoreSql: String =
    s"""round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
       |         exp(-($QualityBiasMicro + CAST(s.sum_micro AS DOUBLE) / s.n_features) /
       |             CAST(1000000.0 AS DOUBLE))), 6)""".stripMargin

  /** Snapshot v2 as two CTEs (`v2base`, `v2`) — generated from the SAME
    * constants [[corpusV2]] uses, the bm25BatchCtesSql rule. */
  def corpusV2CteSql: String =
    s"""v2base AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % $V2EditEvery = 0 THEN text || '$V2RevisionSuffix'
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % $V2DeleteEvery <> 0),
       |v2 AS (
       |  SELECT doc_id, lang, text FROM v2base
       |  UNION ALL
       |  SELECT doc_id + ${Ingest.DocAppendOffset} AS doc_id, lang, text
       |  FROM v2base WHERE doc_id % $V2AddEvery = 0)""".stripMargin

  /** Shared training CTE chain of the NB gates: tokenize → hash →
    * per-class bucket counts → totals → micro-nat weight table. The
    * oracle rebuilds EVERYTHING — the hash fold, the smoothing, the
    * quantization — from the raw text, trusting nothing. `docsSrc`
    * parameterizes the corpus (v1 `documents` for the train gate, the
    * `v2` CDC snapshot for the incremental-maintenance gate). */
  private def nbModelCte(docsSrc: String, sfx: String = ""): String =
    s"""tok$sfx AS (
       |  SELECT doc_id, lang = 'en' AS y,
       |         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
       |  FROM $docsSrc),
       |bkt$sfx AS (SELECT doc_id, y, ${nbBucketSql("term")} AS bucket FROM tok$sfx),
       |cnt$sfx AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_b
       |  FROM bkt$sfx GROUP BY 1),
       |tot$sfx AS (
       |  SELECT CAST(sum(c_t) AS BIGINT) AS ct_total,
       |         CAST(sum(c_b) AS BIGINT) AS cb_total
       |  FROM cnt$sfx),
       |model$sfx AS (
       |  SELECT bucket, c_t, c_b,
       |         CAST(round(ln(CAST(c_t + 1 AS DOUBLE) / CAST(ct_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(round(ln(CAST(c_b + 1 AS DOUBLE) / CAST(cb_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
       |  FROM cnt$sfx CROSS JOIN tot$sfx)""".stripMargin

  /** The surviving-corpus CTE of the model-axis takedown oracles —
    * generated from the SAME Scala constants the tombstone build uses
    * (the Bm25ForgetCtes convention). */
  private def survCteSql: String =
    s"""surv AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE NOT (doc_id % ${Retention.ForgetMod} = ${Retention.ForgetRem}))""".stripMargin

  /** Full train+classify replay over a caller-chosen corpus source —
    * shared by q_nb_classify (full corpus) and q_takedown_model (the
    * surviving corpus), so the two gates can never drift on anything
    * but the corpus predicate. `prefix` injects leading CTEs. */
  private def nbClassifyOracleSql(docsSrc: String,
      prefix: String = ""): String =
    s"""WITH $prefix${nbModelCte(docsSrc)},
       |oov AS (
       |  SELECT CAST(round(ln(CAST(1 AS DOUBLE) / CAST(ct_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(round(ln(CAST(1 AS DOUBLE) / CAST(cb_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT) AS w_oov
       |  FROM tot),
       |bias AS (
       |  SELECT CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6) AS BIGINT) AS bias_micro
       |  FROM (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t,
       |               sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_b
       |        FROM $docsSrc)),
       |sc AS (
       |  SELECT b.doc_id, count(*) AS n_toks,
       |         CAST(sum(COALESCE(m.w_micro, o.w_oov)) AS BIGINT) AS s
       |  FROM bkt b LEFT JOIN model m ON b.bucket = m.bucket CROSS JOIN oov o
       |  GROUP BY 1)
       |SELECT sc.doc_id,
       |       CAST(sc.n_toks AS BIGINT) AS n_toks,
       |       CAST(sc.s + bias.bias_micro AS BIGINT) AS score_micro,
       |       (sc.s + bias.bias_micro) > 0 AS pred_target
       |FROM sc CROSS JOIN bias
       |ORDER BY sc.doc_id""".stripMargin

  /** Window-form replay of the percentile normalization over a
    * caller-chosen corpus source — shared by q_score_percentile and
    * q_takedown_percentile (the nbClassifyOracleSql convention). */
  private def scorePercentileOracleSql(docsSrc: String,
      prefix: String = ""): String =
    s"""WITH $prefix${nbModelCte(docsSrc)},
       |oov AS (
       |  SELECT CAST(round(ln(CAST(1 AS DOUBLE) / CAST(ct_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(round(ln(CAST(1 AS DOUBLE) / CAST(cb_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT) AS w_oov
       |  FROM tot),
       |bias AS (
       |  SELECT CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6) AS BIGINT) AS bias_micro
       |  FROM (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t,
       |               sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_b
       |        FROM $docsSrc)),
       |sc AS (
       |  SELECT b.doc_id, CAST(sum(COALESCE(m.w_micro, o.w_oov)) AS BIGINT) AS s
       |  FROM bkt b LEFT JOIN model m ON b.bucket = m.bucket CROSS JOIN oov o
       |  GROUP BY 1),
       |scored AS (
       |  SELECT sc.doc_id, d.lang,
       |         CAST(sc.s + bias.bias_micro AS BIGINT) AS score_micro
       |  FROM sc CROSS JOIN bias JOIN $docsSrc d ON d.doc_id = sc.doc_id),
       |nl AS (SELECT lang, count(*) AS n_lang FROM scored GROUP BY 1),
       |r AS (SELECT doc_id, lang, score_micro,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY score_micro, doc_id) - 1 AS rk
       |      FROM scored)
       |SELECT r.doc_id, r.lang, r.score_micro,
       |       CAST(CASE WHEN nl.n_lang > 1
       |                 THEN rk * 1000000 // (nl.n_lang - 1)
       |                 ELSE 0 END AS BIGINT) AS pct_micro
       |FROM r JOIN nl USING (lang) ORDER BY r.doc_id""".stripMargin

  /** The retracted-model retrain replay as a bare (bucket, c_t, c_b,
    * w_micro) SELECT — embedded by the composed-takedown oracle
    * (IngestGates.TakedownE2eOracleSql) for the 'model' axis fingerprint. */
  def nbRetractedModelOracleSql: String =
    s"""WITH $survCteSql,
       |${nbModelCte("surv")}
       |SELECT bucket, c_t, c_b, w_micro FROM model""".stripMargin

  val all: Seq[Gate] = Seq(
    // full replay of the classifier: tokenize, build unigram+bigram
    // features, recompute the polynomial hash per feature, REBUILD the
    // weight from the bucket formula, integer dot product, sigmoid
    // rounded 6 dp, cross-multiplied keep-cut — nothing trusted from
    // the Spark side, including the hash function itself.
    Gate("q_quality_classify",
      s"""WITH ${classifyCtesSql("documents")}
        |SELECT s.doc_id, t.lang,
        |       CAST(s.n_features AS BIGINT) AS n_features, s.sum_micro,
        |       $classifyScoreSql AS score,
        |       (s.sum_micro + $QualityBiasMicro * s.n_features >= 0) AS kept
        |FROM scored s JOIN toks t USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
      (s, dir) =>
        qualityClassify(documents(s, dir), QualityWeights, QualityBiasMicro)
          .orderBy("doc_id")),

    // classifier TRAINING in-engine: the learned NB model table over
    // hashed buckets — counting + quantized logs, so the hash pins the
    // entire training computation (counts, smoothing, micro-nat
    // quantization), not an approximate fit. Seed set = the DSIR
    // fixture (lang = 'en').
    Gate("q_nb_train",
      s"""WITH ${nbModelCte("documents")}
         |SELECT bucket, c_t, c_b, w_micro FROM model ORDER BY bucket""".stripMargin,
      (s, dir) =>
        nbTrainModel(documents(s, dir), col("lang") === "en")
          .orderBy("bucket")),

    // trained-classifier inference served from the STORED model
    // artifact (r13): the stateless fold with the ≤4096-entry map
    // literal — no explode, no join, no per-query retrain. The oracle
    // retrains from scratch, so the hash pins stored-serving ≡
    // train-then-score end to end.
    Gate("q_nb_classify", nbClassifyOracleSql("documents"), (s, dir) => nbClassifyStored(s, dir)),

    // IVM on the MODEL: the classifier retrained across the v1→v2 CDC
    // from stored sufficient statistics + diff-only tokenization —
    // counts are linear, so delta-maintained ≡ fresh-retrained exactly.
    // The oracle retrains from scratch over the v2 snapshot.
    // fresh retrain over the v2 snapshot — equality with the
    // delta-maintained model IS the linearity proof on the model axis
    Gate("q_nb_incremental",
      s"""WITH $corpusV2CteSql,
         |${nbModelCte("v2")}
         |SELECT bucket, c_t, c_b, w_micro FROM model ORDER BY bucket""".stripMargin,
      (s, dir) =>
        nbModelIncremental(s, dir).orderBy("bucket")),

    // per-lang percentile normalization: grouped ranks via ONE global
    // two-phase prefix rank minus bounded language offsets — never a
    // window partitioned by a corpus-sized key. The oracle uses the
    // window form; equality of the two formulations is the gate.
    // Served from the STORED model (r13): only the rank phase pays
    // corpus I/O, the classifier is the frozen artifact.
    // window-form replay of the percentile normalization (the Spark
    // side must produce the identical ranks WITHOUT a per-lang window)
    Gate("q_score_percentile", scorePercentileOracleSql("documents"), (s, dir) => scorePercentileStored(s, dir)),

    // MODEL-AXIS TAKEDOWN (r14 verdict #2): classification over the
    // survivors served from the CDC-SUBTRACTED model — stored counts
    // minus the tombstoned docs' counts (bounded tokenize), prior
    // corrected, stateless fold. The oracle retrains from scratch over
    // the surviving corpus: hash equality proves a retracted doc's
    // tokens influence neither the weights nor any served score.
    // retrain from scratch over the SURVIVING corpus + classify — the
    // engine serves the CDC-subtracted model, never re-tokenizing the
    // corpus; hash equality is the no-retracted-influence proof.
    Gate("q_takedown_model", nbClassifyOracleSql("surv", s"$survCteSql,\n"), (s, dir) =>
      nbClassifyRetracted(s, dir, Tombstones.Stored)),

    // the percentile artifact under the same retraction: per-lang rank
    // offsets recomputed over the survivors (a retracted doc must stop
    // shifting every other doc's percentile), model subtracted as above.
    // the same window replay over the SURVIVING corpus — retrain,
    // re-rank, re-derive the per-lang offsets from scratch; the engine
    // serves the subtracted model and the offset recomputation.
    Gate("q_takedown_percentile",
      scorePercentileOracleSql("surv", s"$survCteSql,\n"),
      (s, dir) =>
        scorePercentileRetracted(s, dir, Tombstones.Stored)),

    // drift-triggered MODEL REFRESH θ-policy (the q_cms_policy
    // convention on the classifier axis): both arms in one gate with
    // the decision booleans pinned — the stale arm serves the stored
    // v1 weights verbatim (oracle retrains v1 from scratch), the
    // refresh arm serves the delta-maintained nb_model_v2 generation
    // (oracle retrains over the v2 CDC snapshot). A policy that never
    // or always fires goes red on the pinned booleans.
    // both policy arms replayed from scratch: the stale arm is the v1
    // retrain, the refresh arm the v2 retrain, decisions hardcoded —
    // a policy that fires on the wrong side diverges on the booleans,
    // a generation that leaks across arms diverges on the weights
    Gate("q_nb_policy",
      s"""WITH ${nbModelCte("documents")},
         |$corpusV2CteSql,
         |${nbModelCte("v2", "2")}
         |SELECT 'refresh' AS arm, TRUE AS refreshed_serving,
         |       bucket, c_t, c_b, w_micro FROM model2
         |UNION ALL
         |SELECT 'stale' AS arm, FALSE AS refreshed_serving,
         |       bucket, c_t, c_b, w_micro FROM model
         |ORDER BY arm, bucket""".stripMargin,
      (s, dir) => {
        val drift = nbDriftFraction(s, dir) // one measurement, two thetas
        val (lo, loR) = nbModelPolicyServedAt(s, dir, drift, theta = 0.5)
        val (hi, hiR) = nbModelPolicyServedAt(s, dir, drift, theta = 0.005)
        hi.withColumn("arm", lit("refresh"))
          .withColumn("refreshed_serving", lit(hiR))
          .unionByName(lo.withColumn("arm", lit("stale"))
            .withColumn("refreshed_serving", lit(loR)))
          .select("arm", "refreshed_serving", "bucket", "c_t", "c_b", "w_micro")
          .orderBy("arm", "bucket")
      }),

    // the curation wave composed END TO END as one declarative plan
    // (the q_crawl_pipeline_e2e convention on the curation axis): train
    // the seed-set classifier → frozen-model stateless scoring →
    // above-mean admission (the dsirWeights mean-cut — sign would be
    // degenerate under this fixture's prior) → hash split → 8-gram
    // decontamination of the train split against BOTH eval splits →
    // length-sorted batch packing. Emits per-batch integrity stats
    // (id-sum membership binding), so the hash flips if ANY stage
    // admits, drops, splits, or tokenizes one doc differently.
    // full replay of the curation pipeline, every stage from its own
    // generator: train, score, mean-cut, split, string-gram
    // decontamination, length-sorted packing
    Gate("q_curation_pipeline_e2e",
      s"""WITH ${nbModelCte("documents")},
         |oov AS (
         |  SELECT CAST(round(ln(CAST(1 AS DOUBLE) / CAST(ct_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(round(ln(CAST(1 AS DOUBLE) / CAST(cb_total + $NbBuckets AS DOUBLE)) * 1e6) AS BIGINT) AS w_oov
         |  FROM tot),
         |bias AS (
         |  SELECT CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6) AS BIGINT) AS bias_micro
         |  FROM (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t,
         |               sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_b
         |        FROM documents)),
         |scored AS (
         |  SELECT b.doc_id,
         |         CAST(sum(COALESCE(m.w_micro, o.w_oov)) AS BIGINT)
         |           + max(bias.bias_micro) AS score
         |  FROM bkt b LEFT JOIN model m ON b.bucket = m.bucket
         |  CROSS JOIN oov o CROSS JOIN bias
         |  GROUP BY 1),
         |tot2 AS (SELECT count(*) AS n, sum(score) AS t FROM scored),
         |admitted AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN scored USING (doc_id) CROSS JOIN tot2
         |  WHERE scored.score * tot2.n > tot2.t),
         |sp AS (SELECT doc_id, ${splitCaseSql("doc_id")} AS split FROM admitted),
         |atoks AS (
         |  SELECT doc_id,
         |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
         |  FROM admitted),
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
         |           ELSE list_transform(range(1, len(t) - 6),
         |                               i -> array_to_string(t[i:i+7], ' '))
         |           END) AS sgrams
         |  FROM atoks),
         |grams AS (SELECT sh.doc_id, sp.split, unnest(sh.sgrams) AS g
         |          FROM sh JOIN sp USING (doc_id)),
         |dirty AS (
         |  SELECT DISTINCT doc_id FROM grams
         |  WHERE split = 'train'
         |    AND g IN (SELECT g FROM grams WHERE split <> 'train')),
         |clean AS (
         |  SELECT a.doc_id, CAST(len(t.t) AS BIGINT) AS n_units
         |  FROM admitted a JOIN sp USING (doc_id) JOIN atoks t USING (doc_id)
         |  WHERE sp.split = 'train'
         |    AND a.doc_id NOT IN (SELECT doc_id FROM dirty)),
         |r AS (
         |  SELECT doc_id, n_units,
         |         (row_number() OVER (ORDER BY n_units, doc_id) - 1)
         |           // ${ScalePatterns.LengthBatchSize} AS batch_id
         |  FROM clean)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id,
         |       count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |       CAST(max(n_units) AS BIGINT) AS max_units,
         |       CAST(sum(n_units) AS BIGINT) AS sum_units,
         |       CAST(count(*) * max(n_units) - sum(n_units) AS BIGINT)
         |         AS padding_waste
         |FROM r GROUP BY 1 ORDER BY batch_id""".stripMargin,
      (s, dir) => {
        val docs = documents(s, dir)
        val (wmap, wOov, bias) = nbFrozenModel(docs, col("lang") === "en")
        // stateless projection — scoring twice (mean pass + filter pass)
        // is two narrow scans, cheaper at scale than materializing the
        // corpus text through a checkpoint; the mean ships as ONE row
        def scored = docs.select(col("doc_id"), col("text"),
          nbScoreExpr(col("text"), wmap, wOov, bias).as("score_micro"))
        val tot = scored.agg(count(lit(1)).as("n"), sum("score_micro").as("s"))
        val admitted = scored.crossJoin(broadcast(tot))
          .filter(col("score_micro") * col("n") > col("s"))
          .select(col("doc_id"), col("text"),
            splitColumn(col("doc_id")).as("split"))
          // 3 consumers (train grams, eval grams, packing); LAZY — the
          // first consuming job materializes it once, no barrier job
          .localCheckpoint(eager = false)
        val grams = admitted.select(col("doc_id"), col("split"),
          explode(graft.functions.Sketch.wordGramHashes(
            gramToks(col("text")), 8)).as("g"))
        val dirty = grams.filter(col("split") === "train")
          .join(grams.filter(col("split") =!= "train").select("g").distinct(),
            Seq("g"), "left_semi")
          .select("doc_id").distinct()
        val clean = admitted.filter(col("split") === "train")
          .join(dirty, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            size(gramToks(col("text"))).cast(LongType).as("n_units"))
        ScalePatterns.prefixSums(clean,
          Seq(col("n_units").asc, col("doc_id").asc), lit(1L), "rk")
          .select(col("doc_id"), col("n_units"),
            expr(s"rk div ${ScalePatterns.LengthBatchSize}").as("batch_id"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("sum_ids"),
            max("n_units").as("max_units"),
            sum("n_units").as("sum_units"))
          .withColumn("padding_waste",
            col("n_docs") * col("max_units") - col("sum_units"))
          .orderBy("batch_id")
      }),

    // CDC report v1 → v2: added/removed/changed/unchanged with id-sum
    // membership binding — the sizing pass an incremental pipeline runs
    // before committing to the diff work.
    // the same v2 CTE, full-outer digest diff, identical class rules —
    // md5 never enters (text equality is what digests proxy), so the
    // oracle compares text directly.
    Gate("q_snapshot_diff",
      s"""WITH $corpusV2CteSql,
        |d AS (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text <> b.text THEN 'changed'
        |              ELSE 'unchanged' END AS class
        |  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT class, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM d GROUP BY 1 ORDER BY class""".stripMargin,
      (s, dir) => snapshotDiff(s, dir)),

    // IVM across a corpus snapshot: scores over v2 (deletes + edits +
    // additions) served incrementally — the model kernel runs ONLY on
    // the digest-diff, everything else comes from the stored v1
    // artifact. The oracle replays a FULL fresh classify over v2 plus
    // the closed-form provenance predicate, so the hash pins both the
    // scores AND which docs were never recomputed.
    // full fresh classify over the v2 snapshot CTE (same shared block)
    // + closed-form provenance: stored ⟺ the doc existed in v1 with an
    // unchanged digest ⟺ a base doc that was not edited.
    Gate("q_score_incremental",
      s"""WITH $corpusV2CteSql,
        |${classifyCtesSql("v2")}
        |SELECT s.doc_id,
        |       $classifyScoreSql AS score,
        |       CASE WHEN s.doc_id < ${Ingest.DocAppendOffset}
        |                 AND s.doc_id % $V2EditEvery <> 0 THEN 'stored'
        |            ELSE 'fresh' END AS src
        |FROM scored s ORDER BY s.doc_id""".stripMargin,
      (s, dir) => incrementalScores(s, dir)),

    // cross-split leakage audit: every exact-Jaccard ≥ 0.8 pair that
    // straddles two splits, with both split labels. The oracle replays
    // the shared all-pairs CTE + the shared split CASE — recall-1.0
    // leak detection pinned by the hash.
    // shared all-pairs CTE (recall 1.0 by construction) + shared split
    // CASE; only straddling pairs survive, ordered totally.
    Gate("q_split_leakage",
      s"""WITH ${DedupGates.allPairsJaccardCtes},
        |lp AS (
        |  SELECT doc1, doc2,
        |         ${splitCaseSql("doc1")} AS split1,
        |         ${splitCaseSql("doc2")} AS split2,
        |         ni::DOUBLE / nu::DOUBLE AS jaccard
        |  FROM jpairs WHERE ni * 5 >= nu * 4)
        |SELECT doc1, doc2, split1, split2, jaccard FROM lp
        |WHERE split1 <> split2 ORDER BY doc1, doc2""".stripMargin,
      (s, dir) => splitLeakage(documents(s, dir))),

    // deterministic hash split: membership is bound by sum(doc_id), not
    // just counts, so a single doc landing in the wrong split flips the
    // gate even if totals balance.
    Gate("q_train_test_split",
      s"""SELECT ${splitCaseSql("doc_id")} AS split,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .groupBy(splitColumn(col("doc_id")).as("split"))
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .orderBy("split")),

    // PII redaction: every doc gets a planted email + phone appended (the
    // corpus itself has none), then both patterns are scrubbed. The gate
    // hashes the full redacted text per doc — byte-exact equality of the
    // two engines' regex semantics, anchors, and replacement behavior.
    Gate("q_redact_pii",
      """SELECT doc_id,
        |       md5(regexp_replace(
        |             regexp_replace(
        |               text || ' Contact: user' || doc_id || '@example.com or +1-555-' ||
        |                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            md5(redactPii(concat(col("text"),
              lit(" Contact: user"), col("doc_id"), lit("@example.com or +1-555-"),
              lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))).as("redacted_fp"))
          .orderBy("doc_id")),

    // crawl text extraction: wrap every doc in the deterministic page
    // skeleton, then run the full extraction chain — section strip,
    // link-density boilerplate drop, tag strip, entity decode,
    // whitespace normalize. The gate hashes the extracted text itself,
    // so both engines' regex + replace + lambda-filter semantics must
    // agree byte-for-byte on every doc.
    // brute-force twin of htmlWrap + extractHtmlText: same page
    // skeleton built with ||, same regex chain (RE2 'g' ≡ Java global),
    // same lambda link-density filter, same entity replace order
    // (&amp; decoded LAST so injected entities never double-decode)
    Gate("q_html_extract",
      s"""WITH $HtmlExtractCtesSql
         |SELECT doc_id, extracted, n_boilerplate_lines
         |FROM xt ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        documents(s, dir)
          .select(col("doc_id"),
            extractHtmlText(htmlWrap(col("doc_id"), col("text"))).as("x"))
          .select(col("doc_id"), col("x.extracted").as("extracted"),
            col("x.n_boilerplate_lines").as("n_boilerplate_lines"))
          .orderBy("doc_id")),

    // duplicate-cluster resolution: connected components over the exact
    // J ≥ 0.5 near-dup pair set (the same edge set q_near_dup_minhash
    // proves equal to DuckDB's brute force), cluster id = min member id
    // — the canonical-survivor rule. Oracle recomputes components via a
    // recursive transitive closure.
    Gate("q_dup_clusters",
      s"""WITH RECURSIVE ${DedupGates.allPairsJaccardCtes},
         |edges AS (
         |  SELECT doc1 AS s, doc2 AS d FROM jpairs
         |  UNION ALL
         |  SELECT doc2, doc1 FROM jpairs),
         |reach AS (
         |  SELECT s AS node, s AS r FROM edges
         |  UNION
         |  SELECT e.d AS node, reach.r AS r
         |  FROM reach JOIN edges e ON e.s = reach.node)
         |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,
      (s, dir) => {
        val docs = documents(s, dir)
        // ONE materialized sketch pass feeds candidates AND verification
        // (the q_near_dup_minhash rule) — the previous verifiedOverlap/
        // minhashCandidates pairing re-ran the shingle+minhash kernel
        // over the whole corpus twice
        val f = Dedup.minhashFeatures(docs).localCheckpoint()
        val edges = Dedup
          .verifiedOverlapFromFeatures(f, Dedup.minhashCandidatesFromFeatures(f))
          .filter(col("n_common") * 2 >= col("n_union"))
          .select("doc1", "doc2")
        connectedComponents(edges).orderBy("doc_id")
      }),

    // deterministic stratified 10% sample by language: emits the sampled
    // ids themselves, so the gate pins exact membership.
    Gate("q_stratified_sample",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |WHERE rn <= (n + 9) // 10
        |ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        stratifiedSample(documents(s, dir), "lang")
          .orderBy("doc_id")),

    // corpus overlap from sketches: corpora A (doc_id%3 ∈ {0,1}) and B
    // (doc_id%3 ∈ {1,2}) share the %3==1 third plus any planted
    // cross-stratum exact dups; the gate pins the sketch occupancy,
    // the exact k-th hash integer, the tri-membership count AND both
    // estimates — a single mis-hashed fingerprint anywhere flips it.
    // same sketches, same estimator: hex order IS numeric order for
    // the fixed-width fingerprints, the k-th value parses via an exact
    // integer digit fold (16^12 < 2^63), and the only doubles are the
    // final divisions over identical integers
    Gate("q_overlap_kmv",
      {
        val k = KmvK
        s"""WITH fp AS (
         |  SELECT substr(md5(text), 1, 13) AS h,
         |         max(CASE WHEN doc_id % 3 <= 1 THEN 1 ELSE 0 END) AS a,
         |         max(CASE WHEN doc_id % 3 >= 1 THEN 1 ELSE 0 END) AS b
         |  FROM documents GROUP BY 1),
         |ska AS (SELECT h FROM fp WHERE a = 1 ORDER BY h LIMIT $k),
         |skb AS (SELECT h FROM fp WHERE b = 1 ORDER BY h LIMIT $k),
         |sku AS (SELECT DISTINCT h FROM (
         |          SELECT h FROM ska UNION ALL SELECT h FROM skb)
         |        ORDER BY h LIMIT $k),
         |hv AS (SELECT list_sum(list_transform(range(13),
         |         i -> (strpos('0123456789abcdef', substr(h, CAST(i+1 AS INT), 1)) - 1)
         |              * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS v
         |       FROM sku),
         |kth AS (SELECT CAST(count(*) AS BIGINT) AS ku,
         |               CAST(max(v) AS BIGINT) AS hk FROM hv),
         |rho AS (SELECT CAST(count(*) AS BIGINT) AS rho
         |        FROM sku JOIN ska USING (h) JOIN skb USING (h))
         |SELECT ku, hk, rho,
         |  round(CASE WHEN ku < $k THEN CAST(ku AS DOUBLE)
         |        ELSE CAST(${k - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk END, 6) AS est_union,
         |  round(CASE WHEN ku < $k THEN CAST(rho AS DOUBLE)
         |        ELSE CAST(rho AS DOUBLE) / $k *
         |             (CAST(${k - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk) END, 6) AS est_overlap
         |FROM kth, rho""".stripMargin
      },
      (s, dir) =>
        kmvOverlapEstimate(
          documents(s, dir).select(
            substring(md5(col("text")), 1, 13).as("h"),
            when(col("doc_id") % 3 <= 1, 1).otherwise(0).as("a"),
            when(col("doc_id") % 3 >= 1, 1).otherwise(0).as("b")))),

    // length-weighted sample (token-budget draw): 40 docs with inclusion
    // probability ∝ n_chars. The gate pins exact membership — a single
    // priority computed differently on either engine flips a row.
    // same exponential-race priority: exact-BIGINT scramble, the +0.5
    // added while still DECIMAL (exact for an integer operand) and only
    // THEN cast to DOUBLE, so both engines divide identical doubles;
    // round-12 before the rank per the cross-engine rank rule
    Gate("q_weighted_sample",
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |         round(ln(CAST(((doc_id % 1048573) * 2654435761 + 12345) % 2147483648 + 0.5 AS DOUBLE)
        |                  / CAST(2147483648 AS DOUBLE)) / n_chars, 12) AS pri
        |  FROM documents
        |  ORDER BY pri DESC, doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        weightedSample(documents(s, dir), 40, col("n_chars"))
          .select("doc_id", "w")
          .orderBy("doc_id")),

    // quartile length filter: keep each source's longest quartile — the
    // drop-short-documents curation rule as a per-stratum quantile cut,
    // not a global threshold (per-source corpora have different length
    // regimes; a global cut empties the short-form source). NTILE over
    // a total integer order is engine-exact — no float quantile
    // boundaries anywhere — and the one shuffle is the per-source
    // window; the aggregation reuses its partitioning.
    Gate("q_quartile_filter",
      """SELECT source, count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
        |       min(n_chars) AS len_cutoff
        |FROM (
        |  SELECT source, n_chars,
        |         ntile(4) OVER (PARTITION BY source
        |                        ORDER BY n_chars DESC, doc_id) AS quartile
        |  FROM documents)
        |WHERE quartile = 1
        |GROUP BY source ORDER BY source""".stripMargin,
      (s, dir) => {
        val bySource = Window.partitionBy("source")
          .orderBy(desc("n_chars"), asc("doc_id"))
        documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"),
            ntile(4).over(bySource).as("quartile"))
          .filter(col("quartile") === 1)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum("n_chars").as("chars_kept"),
            min("n_chars").as("len_cutoff"))
          .orderBy("source")
      }),

    // benchmark decontamination: every valid/test doc sharing ≥1 word-
    // 8-gram with ANY train doc — the standard train/eval leakage check.
    // Shape at 100 TB: the gram stream is narrow until the two shuffles
    // that matter — distinct train-gram build and the semi-join — and
    // both shuffle 8-byte xxhash64 gram keys, never gram text (the same
    // fixed-width-through-the-exchange rule as the LSH band joins; a
    // broadcast Bloom filter over train grams is the next pruning step
    // at petabyte scale). Oracle joins the raw gram STRINGS, so the gate
    // also certifies the hashed join ≡ exact join on this corpus (any
    // xxhash64 collision would surface a spurious doc and turn it red).
    Gate("q_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |           ELSE list_transform(range(1, len(t) - 6),
        |                               i -> array_to_string(t[i:i+7], ' '))
        |           END) AS s
        |  FROM toks),
        |sp AS (
        |  SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |                      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |                      ELSE 'train' END AS split
        |  FROM documents),
        |grams AS (SELECT sh.doc_id, sp.split, unnest(sh.s) AS g
        |          FROM sh JOIN sp USING (doc_id)),
        |train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train')
        |SELECT DISTINCT t.doc_id, t.split
        |FROM grams t JOIN train_g USING (g)
        |WHERE t.split <> 'train'
        |ORDER BY t.doc_id""".stripMargin,
      (s, dir) => {
        // gram hashes come from the codegen kernel (no gram-string
        // materialization, no interpreted slice/join HOFs — measured 3.5×
        // on this query at sf0.1, 3.7 s → 1.05 s warm); wordGrams stays the
        // reference formulation and CurationSpec pins kernel ≡ string-gram
        // decisions.
        val toks = gramToks(col("text"))
        val grams = documents(s, dir)
          .select(col("doc_id"), splitColumn(col("doc_id")).as("split"),
            explode(graft.functions.Sketch.wordGramHashes(toks, 8)).as("g"))
        val trainGrams = grams.filter(col("split") === "train")
          .select("g").distinct()
        grams.filter(col("split") =!= "train")
          .join(trainGrams, Seq("g"), "left_semi")
          .select("doc_id", "split").distinct()
          .orderBy("doc_id")
      }),

    // Bloom-filter decontamination — the petabyte-scale pruning step the
    // exact query's comment promises: the raw train grams fold into ONE
    // fixed-size Bloom filter in a shuffle-free map-side aggregation
    // (bitwise-OR construction is commutative, so the filter is
    // deterministic under any partitioning or run), eval grams probe it
    // with might_contain without shuffling, and ONLY the probe survivors
    // enter the exact semi join. Bloom semantics: false positives
    // over-flag harmlessly (bounded by fpp, then removed by the exact
    // join), false negatives are IMPOSSIBLE — which is what makes the
    // probe a sound prune. The certificate is the DuckDB oracle: it
    // recomputes n_exact_flagged independently from gram STRINGS, so a
    // probe bug that dropped a contaminated doc turns the gate red.
    // same gram/split CTEs as q_decontaminate; the bloom-missed count is
    // pinned to the literal 0 (Bloom filters cannot produce false
    // negatives — a red here means the probe pipeline is broken)
    Gate("q_decontaminate_bloom",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |           ELSE list_transform(range(1, len(t) - 6),
        |                               i -> array_to_string(t[i:i+7], ' '))
        |           END) AS s
        |  FROM toks),
        |sp AS (
        |  SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |                      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |                      ELSE 'train' END AS split
        |  FROM documents),
        |grams AS (SELECT sh.doc_id, sp.split, unnest(sh.s) AS g
        |          FROM sh JOIN sp USING (doc_id)),
        |train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
        |flagged AS (SELECT DISTINCT t.doc_id
        |            FROM grams t JOIN train_g USING (g)
        |            WHERE t.split <> 'train')
        |SELECT sp.split, count(*) AS n_docs,
        |       CAST(count(f.doc_id) AS BIGINT) AS n_exact_flagged,
        |       CAST(0 AS BIGINT) AS n_bloom_missed
        |FROM sp LEFT JOIN flagged f ON sp.doc_id = f.doc_id
        |WHERE sp.split <> 'train'
        |GROUP BY 1 ORDER BY split""".stripMargin,
      (s, dir) => {
        val toks = gramToks(col("text"))
        val grams = documents(s, dir)
          .select(col("doc_id"), splitColumn(col("doc_id")).as("split"),
            explode(graft.functions.Sketch.wordGramHashes(toks, 8)).as("g"))
        // the gram stream feeds three consumers (bloom build, bloom probe,
        // and the semi join's train side) — persist it so tokenization
        // and gram hashing run once (same multi-consumer shape as
        // TextAnalysis.lmTables; the cache is fixed-width hashes only),
        // and unpersist it in the finally below once the tiny final frame
        // is materialized (ADVICE r4: the r4 version leaked the cached
        // blocks for the session lifetime)
        val sharedGrams = grams.persist()
        var evalHitsCache: Option[org.apache.spark.sql.DataFrame] = None
        try {
        // the built filter is a bounded model artifact collected once,
        // like the LM tables and the PQ codebook; might_contain requires
        // a constant/scalar-subquery filter anyway. SIZE IT FROM THE
        // CORPUS, not a static guess (same rule as the derived IVF
        // geometry): 8 bits per observed train gram (~2% fp — and
        // over-flagging is the harmless direction, removed by the exact
        // join) with a 64 Kbit floor. The sizing count is one narrow job
        // on the cached grams; a right-sized filter keeps the binary
        // literal that rides every downstream plan proportional to the
        // corpus instead of a fixed megabyte (a 1 MB literal measurably
        // taxes each plan/job at bench scale).
        val trainGramCount = sharedGrams
          .filter(col("split") === "train").count()
        val numBits = math.max(1L << 16, 8L * trainGramCount)
        // Build from the RAW train grams, not the distinct set: Bloom
        // insertion is idempotent, so deduplication buys nothing, and
        // skipping it makes the build pass SHUFFLE-FREE — partial bitmaps
        // per partition, OR-merged at the driver (at 100 TB the filter
        // build is then a single map-side scan).
        val bloomBytes = sharedGrams.filter(col("split") === "train")
          .agg(graft.functions.BloomOps.bloomAgg(col("g"),
            math.max(1024L, trainGramCount), numBits).as("bf"))
          .head().getAs[Array[Byte]](0)
        // the probe PRUNES the exact join, not just the final answer:
        // Bloom false negatives are impossible, so an eval gram that
        // fails might_contain provably has no train match, and only the
        // surviving grams (true hits + ~fpp of the rest) enter the semi
        // join — at 100 TB the join's left side shrinks from the full
        // eval corpus to a sliver. This makes the query's own
        // n_bloom_missed 0 by construction rather than by measurement;
        // the real certificate is the DuckDB oracle, which recomputes
        // n_exact_flagged independently from gram STRINGS — a probe bug
        // dropping a contaminated doc turns the gate red. evalHits is
        // small, so it persists cheaply for its two consumers; the semi
        // join takes the RAW train grams (a semi join needs no distinct
        // right side — one shuffle instead of two).
        val evalHits = sharedGrams.filter(col("split") =!= "train")
          .filter(graft.functions.BloomOps.mightContain(bloomBytes, col("g")))
          .persist()
        evalHitsCache = Some(evalHits)
        val bloomFlag = evalHits
          .select("doc_id").distinct().withColumn("bl", lit(1))
        // exact certification WITHOUT shuffling the train side: the
        // surviving gram keys are small enough to broadcast, so the train
        // grams are probed in one narrow pass (broadcast semi join), and
        // the matched keys — a subset of the broadcast — come back as a
        // second broadcast to flag eval docs. Zero exchanges end to end;
        // the train corpus is read exactly twice (bloom build + this
        // probe), both times map-side only.
        val matchedKeys = sharedGrams.filter(col("split") === "train")
          .select("g")
          .join(broadcast(evalHits.select("g").distinct()),
            Seq("g"), "left_semi")
        val exactFlag = evalHits
          .join(broadcast(matchedKeys), Seq("g"), "left_semi")
          .select("doc_id").distinct().withColumn("ex", lit(1))
        // localCheckpoint materializes the ≤2-row result HERE, so both
        // caches can be dropped before the frame is handed back (the
        // caller's count/write then reads the checkpointed rows)
        documents(s, dir)
          .select(col("doc_id"), splitColumn(col("doc_id")).as("split"))
          .filter(col("split") =!= "train")
          .join(exactFlag, Seq("doc_id"), "left")
          .join(bloomFlag, Seq("doc_id"), "left")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("ex"), lit(0))).cast(LongType).as("n_exact_flagged"),
            sum(when(col("ex") === 1 && col("bl").isNull, 1).otherwise(0))
              .cast(LongType).as("n_bloom_missed"))
          .orderBy("split")
          .localCheckpoint()
        } finally {
          sharedGrams.unpersist()
          evalHitsCache.foreach(_.unpersist())
          ()
        }
      }),

    // sequence packing: concatenate each shard's token stream in doc_id
    // order and chunk it at a 512-token budget — the standard pretraining
    // packing step (docs span chunk boundaries; every token lands in
    // exactly one fixed-size training window). The shard is the scale
    // unit: 16 here, thousands at 100 TB — each shard's running offset is
    // one bounded window over its own partition, so packing 100 TB is
    // embarrassingly parallel across shards (vs. the naive global running
    // sum, which would serialize the corpus through one partition). The
    // gate pins every doc's (shard, chunk) placement, so one token-count
    // or offset divergence between engines flips it red.
    Gate("q_pack_chunks",
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(strpos('0123456789abcdef',
        |                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS shard,
        |         len(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, shard, toks,
        |         sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |                         ROWS UNBOUNDED PRECEDING) AS end_off
        |  FROM d)
        |SELECT doc_id, shard,
        |       unnest(range(CAST((end_off - toks) // 512 AS BIGINT),
        |                    CAST((end_off - 1) // 512 + 1 AS BIGINT))) AS chunk_id
        |FROM o ORDER BY doc_id, chunk_id""".stripMargin,
      (s, dir) => {
        val byShard = Window.partitionBy("shard").orderBy("doc_id")
        documents(s, dir)
          .select(col("doc_id"), shardColumn(col("doc_id")).as("shard"),
            TextAnalysis.wsTokens(col("text")).cast(LongType).as("toks"))
          .withColumn("end_off", sum("toks").over(byShard))
          .select(col("doc_id"), col("shard"),
            explode(sequence(expr("(end_off - toks) div 512"),
              expr("(end_off - 1) div 512"))).as("chunk_id"))
          .orderBy("doc_id", "chunk_id")
      }),

    // sliding-window chunking with overlap — the retrieval/context-prep
    // twin of q_pack_chunks: each doc independently yields windows of
    // 128 tokens at stride 64 (chunk i covers tokens
    // [i*64, min(i*64+128, n))), so long docs produce overlapping
    // chunks and every doc yields at least one. Purely narrow — a
    // per-row explode with no shuffle at all (the ORDER BY here is the
    // gate's total order, not part of the operator) — so it scales as a
    // map over the corpus.
    Gate("q_chunk_overlap",
      """WITH d AS (
        |  SELECT doc_id,
        |         len(string_split_regex(trim(text), '\s+')) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |         greatest(1, CAST(ceil((n_toks - 128) / 64.0) AS INT) + 1) AS nc
        |  FROM d)
        |SELECT doc_id,
        |       CAST(i AS INT) AS chunk_idx,
        |       CAST(i * 64 + 1 AS INT) AS start_tok,
        |       CAST(least(i * 64 + 128, n_toks) - i * 64 AS INT) AS chunk_len
        |FROM c, unnest(range(0, nc)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
      (s, dir) => {
        val size = 128
        val stride = 64
        val n = TextAnalysis.wsTokens(col("text"))
        val nChunks = greatest(lit(1),
          ceil((n - lit(size)).cast(DoubleType) / lit(stride)).cast(IntegerType)
            + lit(1))
        documents(s, dir)
          .select(col("doc_id"), n.as("n_toks"), nChunks.as("nc"))
          .select(col("doc_id"), col("n_toks"),
            explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx"),
            (col("chunk_idx") * stride + 1).as("start_tok"),
            (least(col("chunk_idx") * stride + lit(size), col("n_toks"))
              - col("chunk_idx") * stride).as("chunk_len"))
          .orderBy("doc_id", "chunk_idx")
      }),

    // mix drift: per-source KL contribution of the realized share vs
    // the mixWeight target — term-wise micro-nat quantization, integer
    // multiplication, so the report is bit-stable at any parallelism.
    Gate("q_mix_divergence",
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 10
        |                          WHEN 'src2' THEN 2 WHEN 'src3' THEN 1
        |                          ELSE 4 END AS BIGINT) AS w4
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |               CAST(sum(w4) AS BIGINT) AS w4_total FROM per)
        |SELECT source, n_docs, w4,
        |       CAST(n_docs * CAST(round(ln(
        |           CAST(n_docs * tot.w4_total AS DOUBLE) /
        |           CAST(tot.n_total * w4 AS DOUBLE)) * 1e6) AS BIGINT)
        |         AS BIGINT) AS kl_contrib_micro
        |FROM per CROSS JOIN tot
        |ORDER BY source""".stripMargin,
      (s, dir) => mixDivergence(documents(s, dir))),

    // source mixing: per-source epoch weights (src0×3.0, src1×2.5,
    // src2×0.5, src3×0.25, rest ×1.0) — the Pile/LLaMA-style data-mixing
    // step. Integer epochs replicate via sequence+explode (a NARROW
    // generator — replication never shuffles, it multiplies rows inside
    // the scan stage); the fractional epoch keeps a doc iff a fresh
    // md5(doc_id:epoch) prefix clears the fraction threshold, so
    // up/down-sampling is reproducible row-by-row in any engine with md5
    // — which is exactly what lets DuckDB pin every replication decision.
    Gate("q_source_mix",
      """WITH w AS (
        |  SELECT doc_id, source,
        |         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.5
        |                     WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
        |                     ELSE 1.0 END AS wt
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source,
        |         CAST(floor(wt) AS INT)
        |           + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |                              CAST(CAST(floor(wt) AS INT) + 1 AS VARCHAR)), 1, 2)
        |                       < printf('%02x', CAST((wt - floor(wt)) * 256 AS INT))
        |                  THEN 1 ELSE 0 END AS n_ep
        |  FROM w)
        |SELECT doc_id, source,
        |       CAST(unnest(range(1, CAST(n_ep AS BIGINT) + 1)) AS INT) AS epoch
        |FROM e ORDER BY doc_id, epoch""".stripMargin,
      (s, dir) => {
        val wt = mixWeight(col("source"))
        val full = floor(wt).cast(IntegerType)
        val fracHex = lower(lpad(hex(((wt - floor(wt)) * 256).cast(IntegerType)), 2, "0"))
        val extra = (substring(md5(concat(col("doc_id").cast(StringType), lit(":"),
          (full + 1).cast(StringType))), 1, 2) < fracHex).cast(IntegerType)
        documents(s, dir)
          .select(col("doc_id"), col("source"), (full + extra).as("n_ep"))
          .select(col("doc_id"), col("source"),
            explode(when(col("n_ep") >= 1, sequence(lit(1), col("n_ep")))
              .otherwise(array().cast("array<int>"))).as("epoch"))
          .orderBy("doc_id", "epoch")
      }),

    // UniMax waterfilling of a 2×-corpus token budget under per-source
    // epoch caps: the training-mix PLAN (q_source_mix is the epoch
    // EXECUTION for fixed weights; this derives the weights from a
    // budget).
    // UniMax waterfilling: integer capped-test over caps sorted
    // ascending, one rounded double division for the fair share.
    Gate("q_mix_budget",
      """WITH s AS (
        |  SELECT source,
        |         CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS n_tokens,
        |         1 + (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INT), 0) % 4) AS max_epochs
        |  FROM documents GROUP BY 1),
        |c AS (SELECT source, n_tokens, max_epochs,
        |             CAST(max_epochs AS BIGINT) * n_tokens AS cap_tokens FROM s),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (ORDER BY cap_tokens, source) AS i,
        |         CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
        |         count(*) OVER () AS k,
        |         CAST(2 * sum(n_tokens) OVER () AS BIGINT) AS budget
        |  FROM c),
        |f AS (SELECT *, (prefix + (k - i) * cap_tokens <= budget) AS capped FROM r),
        |g AS (SELECT *,
        |             CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS m,
        |             CAST(sum(CASE WHEN capped THEN cap_tokens ELSE 0 END) OVER () AS BIGINT) AS prefix_m
        |      FROM f),
        |a AS (SELECT *,
        |             CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
        |                  ELSE round(CAST(budget - prefix_m AS DOUBLE) /
        |                             NULLIF(CAST(k - m AS DOUBLE), 0.0), 6) END AS alloc_tokens
        |      FROM g)
        |SELECT source, n_tokens, max_epochs, CAST(cap_tokens AS BIGINT) AS cap_tokens,
        |       capped, alloc_tokens,
        |       round(alloc_tokens / CAST(n_tokens AS DOUBLE), 6) AS epochs
        |FROM a ORDER BY source""".stripMargin,
      (s, dir) =>
        mixBudget(documents(s, dir), budgetFactor = 2).orderBy("source")),

    // the WHOLE curation pipeline as ONE declarative plan — exact-dedup
    // survivors → stopword-ratio quality filter → hash split → 10%
    // stratified sample → per-(split, lang) membership-binding counts.
    // This is the composition story: four pipeline stages cost THREE
    // shuffles total (fp window, split window, final agg — the quality
    // filter and split assignment are narrow and fuse into the adjacent
    // stages), and every stage is hash-deterministic, which is what lets
    // one DuckDB statement replay the full pipeline as the oracle.
    // sum(doc_id) binds exact membership: one doc surviving the wrong
    // stage flips the gate even if counts balance.
    Gate("q_pipeline_e2e",
      """WITH survivors AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |           row_number() OVER (
        |             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |             ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |quality AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'valid'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM (SELECT doc_id, lang,
        |               string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM survivors)
        |  WHERE len(t) > 0
        |    AND CAST(len(list_filter(t, x -> list_contains(
        |          ['the','a','an','and','or','of','to','in','is','it',
        |           'that','for','on','with','as'], x))) AS DOUBLE)
        |        / CAST(len(t) AS DOUBLE) >= 0.10),
        |sampled AS (
        |  SELECT doc_id, lang, split FROM (
        |    SELECT doc_id, lang, split,
        |           row_number() OVER (PARTITION BY split
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS srn,
        |           count(*) OVER (PARTITION BY split) AS n
        |    FROM quality) WHERE srn <= (n + 9) // 10)
        |SELECT split, lang, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM sampled GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
      (s, dir) => {
        val byFp = Window.partitionBy("fp").orderBy("doc_id")
        val survivors = documents(s, dir)
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("rn", row_number().over(byFp))
          .filter(col("rn") === 1)
          .select("doc_id", "text", "lang")
        val quality = survivors
          .filter(TextAnalysis.stopwordRatio(col("text")) >= 0.10)
          .withColumn("split", splitColumn(col("doc_id")))
        val byHash = Window.partitionBy("split")
          .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
        val whole = Window.partitionBy("split")
        quality
          .withColumn("srn", row_number().over(byHash))
          .withColumn("n", count(lit(1)).over(whole))
          .filter(expr("srn <= (n + 9) div 10"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .orderBy("split", "lang")
      }),
  )
}
