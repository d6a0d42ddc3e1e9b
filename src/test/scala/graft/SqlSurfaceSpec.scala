package graft

import org.apache.spark.sql.functions._

import graft.functions.{BpeOps, IvfOps, QualityModel, Sketch, SqOps}

/** The SQL-text surface: every custom expression must be reachable from
  * `spark.sql(...)` — the path a cluster deployment takes via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — and agree with
  * the Column-API route. `GraftExtensions.install` registers the same
  * table the extension injects, so a drifted builder signature, or a
  * table entry no SQL text here calls, fails here. */
class SqlSurfaceSpec extends SparkSpecBase {

  private val coreSql =
    """SELECT graft_simhash(array('a','b','c')) AS sh,
        |       graft_minhash_shingles(array('a','b','c','d')).sig[0] AS mh,
        |       graft_winnow('hello winnowing world') AS wf,
        |       graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |       graft_srp64(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT))) AS srp,
        |       graft_cp1252_decode(graft_cp1252_encode('€ räksmörgås')) AS rt,
        |       graft_repetition(array('a','b','a')).top_count AS top,
        |       size(graft_word_gram_hashes(array('a','b','c','d'), 3)) AS ng,
        |       size(graft_id_pairs(array(3L, 1L, 2L))) AS np,
        |       graft_lm_nll(array('the','cat'), array('the'), array(10L),
        |                    array(concat('the', chr(0), 'cat')),
        |                    array(5L)).n_bigrams AS lm,
        |       graft_pq_adc(graft_pq_encode(
        |           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
        |                 CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |           2, 2),
        |         array(CAST(0.9 AS DOUBLE), CAST(0.1 AS DOUBLE),
        |               CAST(0.2 AS DOUBLE), CAST(0.8 AS DOUBLE)),
        |         array(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |               CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
        |         2, 2) AS pq,
        |       graft_pq_adc_cols(graft_pq_encode(
        |           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
        |                 CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |           2, 2),
        |         array(CAST(0.9 AS DOUBLE), CAST(0.1 AS DOUBLE),
        |               CAST(0.2 AS DOUBLE), CAST(0.8 AS DOUBLE)),
        |         array(CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |               CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
        |         2, 2) AS pqc,
        |       size(graft_cosine_pairs(
        |         array(named_struct('vec_id', 1L, 'embedding',
        |                 array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        |               named_struct('vec_id', 2L, 'embedding',
        |                 array(CAST(0.9 AS FLOAT), CAST(0.1 AS FLOAT))),
        |               named_struct('vec_id', 3L, 'embedding',
        |                 array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))),
        |         CAST(0.9 AS DOUBLE))) AS cp,
        |       size(graft_cosine_pairs_cross(
        |         array(named_struct('vec_id', 1L, 'embedding',
        |                 array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), 'side', 0),
        |               named_struct('vec_id', 2L, 'embedding',
        |                 array(CAST(0.9 AS FLOAT), CAST(0.1 AS FLOAT)), 'side', 1),
        |               named_struct('vec_id', 3L, 'embedding',
        |                 array(CAST(0.95 AS FLOAT), CAST(0.05 AS FLOAT)), 'side', 0)),
        |         CAST(0.9 AS DOUBLE))) AS cpx,
        |       graft_l2sq(array(CAST(3.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT))) AS l2,
        |       size(graft_hamming_pairs(
        |         array(named_struct('doc_id', 1L, 'simhash', 5L),
        |               named_struct('doc_id', 2L, 'simhash', 4L),
        |               named_struct('doc_id', 3L, 'simhash', -1L)), 1)) AS hp,
        |       graft_canonical_url(
        |         'HTTPS://WWW.Ex.COM:443/a/?utm_source=x&b=2&a=1#f') AS cu
        |""".stripMargin

  private val bloomSql =
    """SELECT graft_might_contain(
        |         (SELECT graft_bloom_agg(CAST(id AS BIGINT), 100L, 800L)
        |          FROM range(5)), 3L) AS hit,
        |       graft_might_contain(
        |         (SELECT graft_bloom_agg(CAST(id AS BIGINT), 100L, 800L)
        |          FROM range(5)), 99L) AS miss
        |""".stripMargin

  // model arguments shared by the SQL text and the Column builders below
  private val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
  private val cents = Array(1f, 0f, 0f, 1f)
  private val cids = Array(7L, 9L)
  private val weights = Array(3L, -1L, 4L, 1L, -5L)
  private val mins = Array(-1f, -1f)
  private val steps = Array(0.01f, 0.02f)
  private val alpha = Array(0.5, -0.25)
  private val lin = Array(0.1, 0.2)
  private val quad = Array(0.01, 0.03)

  private def sqlArray(xs: Seq[Any], tpe: String): String =
    xs.map(x => s"CAST($x AS $tpe)").mkString("array(", ", ", ")")
  private val mergesSql = merges
    .map { case (a, b) => s"named_struct('a', '$a', 'b', '$b')" }
    .mkString("array(", ", ", ")")
  private val codeSql =
    s"graft_sq_encode(emb, ${sqlArray(mins, "FLOAT")}, ${sqlArray(steps, "FLOAT")})"

  /** The functions operators once registered lazily, outside the
    * extension's table. */
  private val modelSql =
    s"""SELECT id,
       |       graft_bpe_encode(w, $mergesSql) AS bpe,
       |       graft_bpe_encode_all(toks, $mergesSql) AS bpe_all,
       |       graft_ivf_cell(emb, ${sqlArray(cents, "FLOAT")},
       |                      ${sqlArray(cids, "BIGINT")}, 2) AS cell,
       |       graft_quality_score(toks, ${sqlArray(weights, "BIGINT")}) AS q,
       |       $codeSql AS code,
       |       graft_sq_score($codeSql, ${sqlArray(alpha, "DOUBLE")},
       |                      ${sqlArray(lin, "DOUBLE")}, ${sqlArray(quad, "DOUBLE")},
       |                      CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE)) AS sc,
       |       graft_sq_score_cols($codeSql, alpha, beta,
       |                           ${sqlArray(lin, "DOUBLE")}, ${sqlArray(quad, "DOUBLE")},
       |                           CAST(0.5 AS DOUBLE)) AS scc
       |FROM sql_surface_models ORDER BY id""".stripMargin

  test("the SQL texts here call every GraftExtensions function") {
    val called = "graft_[a-z0-9_]+(?=\\()".r
      .findAllIn(coreSql + bloomSql + modelSql).toSet
    assert(called == GraftExtensions.functions.map(_._1.funcName).toSet)
  }

  test("every GraftExtensions function is invocable from SQL text") {
    GraftExtensions.install(spark)
    val r = spark.sql(coreSql).collect().head
    assert(r.getAs[Double]("cos") == 1.0)
    assert(r.getAs[String]("rt") == "€ räksmörgås")
    assert(r.getSeq[Long](r.fieldIndex("wf")).nonEmpty)
    assert(r.getAs[Int]("top") == 2)
    assert(r.getAs[Int]("ng") == 2)
    assert(r.getAs[Int]("np") == 3)
    assert(r.getAs[Long]("lm") == 1L)
    assert(r.getAs[Double]("l2") == 4.0)
    // only (1,2) is within hamming 1 (5^4=1); pairs with the -1 sketch
    // are 62-63 bits apart
    assert(r.getAs[Int]("hp") == 1)
    assert(r.getAs[String]("cu") == "https://ex.com/a?a=1&b=2")
    // dim-2 vector (1,0) split into 2 sub-spaces of 1 dim; codebook per
    // sub-space is {1.0, 0.0} / {0.0, 1.0} -> codes (0, 0); ADC =
    // (0.9 + 0.2) / sqrt(1 + 1)
    assert(math.abs(r.getAs[Double]("pq") - 1.1 / math.sqrt(2.0)) < 1e-12)
    assert(r.getAs[Double]("pqc") == r.getAs[Double]("pq"))
    // only (1,2) clears tau 0.9; the cross kernel drops same-side (1,3)
    assert(r.getAs[Int]("cp") == 1)
    assert(r.getAs[Int]("cpx") == 2)
  }

  test("Bloom shims: build in SQL, probe via scalar subquery") {
    GraftExtensions.install(spark)
    val r = spark.sql(bloomSql).collect().head
    assert(r.getBoolean(0))   // inserted key: always found
    assert(!r.getBoolean(1))  // absent key at this sizing: not found
  }

  test("SQL-authored row_number()<=k rewrites to the bounded-heap operator") {
    import testImplicits._
    (0L until 2000L).map(i => (s"g${i % 11}", i, (i % 17).toInt))
      .toDF("grp", "id", "v").createOrReplaceTempView("sql_topk_docs")
    // the textbook SQL idiom — subquery + rank predicate, rank dropped
    val df = spark.sql(
      """SELECT grp, id, v FROM (
        |  SELECT grp, id, v,
        |         row_number() OVER (PARTITION BY grp
        |                            ORDER BY v DESC, id) AS rn
        |  FROM sql_topk_docs)
        |WHERE rn <= 3""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2 && !plan.contains("Window"),
      s"the SQL route must reach the same rewrite as the DataFrame route:\n$plan")
    val a = df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(a.nonEmpty && a.count(_._1 == "g0") == 3,
      "rewritten SQL plan must still return exactly k rows per group")
  }

  test("SQL route ≡ Column-API route (same kernels, same results)") {
    GraftExtensions.install(spark)
    import testImplicits._
    val df = Seq("the quick brown fox", "completely different text")
      .toDF("text").select(split(col("text"), " ").as("toks"))
    df.createOrReplaceTempView("sql_surface_docs")
    val viaSql = spark.sql(
      "SELECT graft_simhash(toks) AS sh FROM sql_surface_docs")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(Sketch.simhashTokens(col("toks")).as("sh"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
  }

  test("formerly lazy-only functions: SQL text ≡ Column builder") {
    GraftExtensions.install(spark)
    import testImplicits._
    val df = Seq(
      (1, "lower", Seq("low", "lower", "newer"), Seq(0.9f, 0.1f), 0.2),
      (2, "slow", Seq("slow", "owl"), Seq(-0.3f, 0.8f), -0.4),
      (3, "", Seq.empty[String], Seq(0.0f, 0.0f), 0.0))
      .toDF("id", "w", "toks", "emb", "beta")
      .withColumn("alpha", typedlit(alpha.toSeq))
    df.createOrReplaceTempView("sql_surface_models")
    val code = SqOps.encode(col("emb"), mins, steps)
    val viaCol = df.select(col("id"),
      BpeOps.encode(col("w"), merges).as("bpe"),
      BpeOps.encodeAll(col("toks"), merges).as("bpe_all"),
      IvfOps.cell(col("emb"), cents, cids, 2).as("cell"),
      QualityModel.qualityScore(col("toks"), weights).as("q"),
      code.as("code"),
      SqOps.score(code, alpha, lin, quad, 0.25, 0.5).as("sc"),
      SqOps.scoreCols(code, col("alpha"), col("beta"), lin, quad, 0.5).as("scc"))
      .orderBy("id").collect().toSeq
    val viaSql = spark.sql(modelSql).collect().toSeq
    assert(viaSql == viaCol)
    // and the kernels really ran: merges applied, argmax cells differ
    assert(viaSql.head.getSeq[String](1) == Seq("low", "er"))
    assert(viaSql.take(2).map(_.getLong(3)) == Seq(7L, 9L))
  }
}
