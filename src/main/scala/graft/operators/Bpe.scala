package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.Tables.documents

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the REAL merge-table
  * algorithm, not the whitespace/regex approximation `q_token_count`
  * uses: training learns a ranked list of unit-pair merges from corpus
  * pair frequencies; encoding applies the merges in rank order, one
  * left-to-right non-overlapping pass per rank (the original
  * implementation's `re.sub` semantics — a newly created unit DOES
  * merge with the following occurrence in the same pass: with merge
  * (a,a), "aaaa" → [aa, aa]).
  *
  * Divergence from Sennrich: no end-of-word marker (units never cross
  * word boundaries either way) and merges apply within lowercased
  * whitespace tokens — the corpus has no punctuation to motivate a
  * pre-tokenizer regex.
  *
  * 100 TB shape:
  *  - training collapses the corpus to the word VOCABULARY in ONE
  *    corpus-scale groupBy (the classic trick — pair counting then runs
  *    on distinct words × counts, orders of magnitude smaller), then
  *    each merge iteration is one explode+groupBy aggregation over the
  *    vocab with a 1-row argmax collect (bounded driver artifact) and a
  *    NARROW fold rewriting the unit arrays; localCheckpoint per
  *    iteration truncates the growing lineage (the Lloyd's-iteration
  *    rule);
  *  - encoding is a pure per-row expression — M nested `aggregate`
  *    folds inside the scan stage, zero shuffles, no UDFs — and
  *    composes into any pipeline projection (token counting, packing,
  *    context-length budgeting).
  */
object Bpe {

  /** One left-to-right merge pass: every adjacent (a, b) unit pair
    * becomes the single unit a+b, and the scan continues AFTER the
    * merged unit — so with merge (a,a), "aaaa" → [aa, aa] (the 3rd and
    * 4th tokens form a fresh pair). A merged unit never acts as the
    * LEFT side of another merge within the same pass (`a+b == a` is
    * impossible for non-empty b); later-ranked passes see it. */
  private[operators] def mergeFold(units: Column, a: String, b: String): Column =
    aggregate(units, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
        element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Single-character unit array of a word ('' → empty, not ['']). */
  private[operators] def chars(word: Column): Column =
    when(length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))))

  /** Apply a ranked merge table to one word: chars, then one
    * left-to-right pass per merge in rank order. Served by the compiled
    * kernel ([[graft.functions.BpeOps]]) — the declarative fold below
    * ([[encodeUnitsFold]]) is the reference formulation (one
    * interpreted `aggregate` HOF per merge per word, measured as the
    * dominant crawl-pipeline stage cost at sf0.1); BpeSpec pins
    * kernel ≡ fold on the corpus and on adversarial words. */
  def encodeUnits(word: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeOps.encode(word, merges)

  /** The reference fold formulation of [[encodeUnits]] (spec oracle —
    * not used in any query plan). */
  private[graft] def encodeUnitsFold(word: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(chars(word)) { case (u, (a, b)) => mergeFold(u, a, b) }

  /** Flattened units of a whole token array in ONE kernel call — the
    * `flatten(transform(toks, w => encodeUnits(w)))` shape without the
    * two interpreted HOF layers. */
  def encodeAllUnits(tokens: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeOps.encodeAll(tokens, merges)

  /** Learn `numMerges` merges from the corpus. Each iteration picks the
    * globally most frequent adjacent unit pair (count summed over word
    * frequencies; ties broken lexicographically on (a, b) so training
    * is deterministic on any cluster) and rewrites the vocab with it.
    * Stops early when no word has two units left. */
  def train(docs: DataFrame, numMerges: Int): Seq[(String, String)] = {
    var vocab = docs
      .select(explode(Curation.gramToks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), chars(col("word")).as("u"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 1 to numMerges if !done) {
      val top = vocab
        .select(col("cnt"),
          explode(when(size(col("u")) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(col("u")) - 1),
              i => struct(element_at(col("u"), i).as("a"),
                element_at(col("u"), i + 1).as("b"))))).as("p"))
        .groupBy("p").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("p").asc)
        .limit(1)
        .collect() // bounded: the 1-row argmax pair
      if (top.isEmpty) done = true
      else {
        val r = top.head.getStruct(0)
        val (a, b) = (r.getString(0), r.getString(1))
        out += ((a, b))
        vocab = vocab.withColumn("u", mergeFold(col("u"), a, b))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  /** The gate's merge table: `train(documents @ sf0.001, 24)`, pinned as
    * a constant (the materialize-once corpus-artifact rule) so the
    * DuckDB oracle can replay encoding without replaying the iterative
    * training. BpeSpec re-derives this list from the corpus — a drift
    * here fails the suite, not the gate. */
  val PinnedMerges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("m", "er"),
    ("a", "t"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("d", "ow"),
    ("in", "dow"),
    ("w", "indow"),
    ("d", "er"),
    ("or", "der"),
    ("or", "t"),
    ("s", "ort"))

  // --- oracle SQL generation (bm25BatchCtesSql precedent: the SQL is
  // GENERATED from the same Scala constants the Spark side uses) ------

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB expression computing `encodeUnits` of the word expression:
    * base char split, then one generated list_reduce fold per merge
    * (the seed is the first singleton — same left-to-right semantics
    * as the Spark fold, verified in BpeSpec). */
  def encodeSqlExpr(wordExpr: String, merges: Seq[(String, String)]): String = {
    val base =
      s"list_transform(range(1, len($wordExpr)+1), i -> substr($wordExpr, i, 1))"
    merges.foldLeft(base) { case (e, (a, b)) =>
      s"list_reduce(list_transform($e, t0 -> [t0]), (acc, x) -> " +
        s"CASE WHEN len(acc) > 0 AND acc[-1] = ${q(a)} AND x[1] = ${q(b)} " +
        s"THEN list_slice(acc, 1, len(acc)-1) || [${q(a + b)}] " +
        s"ELSE acc || x END)"
    }
  }

  /** Per-lang word/unit totals of a corpus under the FROZEN pinned
    * merge table — one narrow pass, map-side-combined groupBy over
    * |langs| keys. */
  private def fertilityStats(docs: DataFrame, tag: String): DataFrame = {
    docs
      .select(col("lang"), Curation.gramToks(col("text")).as("t"))
      .select(col("lang"), size(col("t")).cast(LongType).as("nw"),
        size(encodeAllUnits(col("t"), PinnedMerges)).cast(LongType).as("nu"))
      .groupBy("lang")
      .agg(sum("nw").as(s"n_words_$tag"), sum("nu").as(s"n_units_$tag"))
  }

  /** Tokenizer-fertility monitoring across corpus snapshots: per lang,
    * words and BPE units of v1 vs v2 under the SAME frozen merges —
    * the drift check a production pipeline runs on every new crawl (a
    * fertility jump means the tokenizer fits the new data worse: more
    * units per word = longer sequences = higher training cost). All
    * integers; fertility ratios are the consumer's division. */
  def tokenizerDrift(s: SparkSession, dir: String): DataFrame =
    fertilityStats(documents(s, dir), "v1")
      .join(fertilityStats(Curation.corpusV2(s, dir), "v2"), Seq("lang"))
      .orderBy("lang")

  // --- query surface ---------------------------------------------------

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // frozen-tokenizer fertility over v1 vs v2 per lang — exact integer
    // totals; the oracle replays both encodes from the same pinned
    // merge constants and the shared v2 CTE.
    "q_tokenizer_drift" -> ((s, dir) => tokenizerDrift(s, dir)),

    // BPE encoding of every doc with the pinned merge table: the gate
    // hashes the '|'-joined unit sequence of the WHOLE doc, so a single
    // unit boundary differing anywhere flips the row.
    "q_bpe_encode" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), Curation.gramToks(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast(LongType).as("n_words"),
          encodeAllUnits(col("t"), PinnedMerges).as("units"))
        .select(col("doc_id"), col("n_words"),
          size(col("units")).cast(LongType).as("n_units"),
          md5(array_join(col("units"), "|")).as("units_fp"))
        .orderBy("doc_id")
    }))

  /** Per-lang fertility CTE over a docs source (drift-gate twin of
    * [[fertilityStats]], generated from the same merge constants). */
  private def fertilityCteSql(src: String, tag: String): String =
    s"""f_$tag AS (
       |  SELECT lang,
       |         CAST(sum(len(t)) AS BIGINT) AS n_words_$tag,
       |         CAST(sum(len(flatten(list_transform(t, w ->
       |           CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
       |                ELSE ${encodeSqlExpr("w", PinnedMerges)} END)))) AS BIGINT)
       |           AS n_units_$tag
       |  FROM (SELECT lang,
       |          string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
       |        FROM $src)
       |  GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_tokenizer_drift" ->
      s"""WITH ${Curation.corpusV2CteSql},
         |${fertilityCteSql("documents", "v1")},
         |${fertilityCteSql("v2", "v2")}
         |SELECT lang, n_words_v1, n_units_v1, n_words_v2, n_units_v2
         |FROM f_v1 JOIN f_v2 USING (lang) ORDER BY lang""".stripMargin,

    "q_bpe_encode" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
         |  FROM documents),
         |enc AS (
         |  SELECT doc_id, len(t) AS n_words,
         |         flatten(list_transform(t, w ->
         |           CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
         |                ELSE ${encodeSqlExpr("w", PinnedMerges)} END)) AS units
         |  FROM toks)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       CAST(len(units) AS BIGINT) AS n_units,
         |       md5(array_to_string(units, '|')) AS units_fp
         |FROM enc ORDER BY doc_id""".stripMargin)
}

/** Train a merge table on a corpus directory and print it as Scala
  * source — the tool that produced (and re-verifies) [[Bpe.PinnedMerges]].
  * Usage: BpeTrainMain <sfDir> [numMerges]. */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 1) args(1).toInt else 24
    val spark = SparkSession.builder()
      .master(sys.env.get("SPARK_GRAFT_CPUS").fold("local[32]")(c => s"local[$c]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .appName("bpe-train").getOrCreate()
    val merges = Bpe.train(documents(spark, dir), n)
    println(merges.map { case (a, b) => s"""("$a", "$b")""" }
      .mkString("Seq(\n    ", ",\n    ", ")"))
    spark.stop()
  }
}
