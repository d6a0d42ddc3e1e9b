package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.Tables.documents
import graft.operators.Bpe._
import graft.operators._

/** The gates over [[graft.operators.Bpe]]: one `Gate` row each. */
object BpeGates {

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

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  val all: Seq[Gate] = Seq(
    // frozen-tokenizer fertility over v1 vs v2 per lang — exact integer
    // totals; the oracle replays both encodes from the same pinned
    // merge constants and the shared v2 CTE.
    Gate("q_tokenizer_drift",
      s"""WITH ${CurationGates.corpusV2CteSql},
         |${fertilityCteSql("documents", "v1")},
         |${fertilityCteSql("v2", "v2")}
         |SELECT lang, n_words_v1, n_units_v1, n_words_v2, n_units_v2
         |FROM f_v1 JOIN f_v2 USING (lang) ORDER BY lang""".stripMargin,
      (s, dir) => tokenizerDrift(s, dir)),

    // BPE encoding of every doc with the pinned merge table: the gate
    // hashes the '|'-joined unit sequence of the WHOLE doc, so a single
    // unit boundary differing anywhere flips the row.
    Gate("q_bpe_encode",
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
         |FROM enc ORDER BY doc_id""".stripMargin,
      (s, dir) => {
        documents(s, dir)
          .select(col("doc_id"), Curation.gramToks(col("text")).as("t"))
          .select(col("doc_id"), size(col("t")).cast(LongType).as("n_words"),
            encodeAllUnits(col("t"), PinnedMerges).as("units"))
          .select(col("doc_id"), col("n_words"),
            size(col("units")).cast(LongType).as("n_units"),
            md5(array_join(col("units"), "|")).as("units_fp"))
          .orderBy("doc_id")
      }),
  )
}
