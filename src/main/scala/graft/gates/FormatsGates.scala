package graft.gates

import graft.operators.Formats._

/** The gates over [[graft.operators.Formats]]: one `Gate` row each. */
object FormatsGates {

  /** DuckDB twin of [[rowFp]] (no conv() there — exact digit fold). */
  private def rowFpSql: String =
    """list_sum(list_transform(range(8),
      |  i -> (strpos('0123456789abcdef',
      |          substr(md5(lang || '#' || source || '#' || text),
      |                 CAST(i + 1 AS INT), 1)) - 1)
      |       * (CAST(1 AS BIGINT) << CAST(4 * (7 - i) AS INT))))""".stripMargin

  val all: Seq[Gate] = Seq(
    // writer∘reader = identity per landing format, pinned against the
    // ORIGINAL parquet by an order-independent exact fingerprint.
    // the same counts + fingerprint straight off the parquet table,
    // replicated per format label: any escaping/type/null divergence in
    // either engine's idea of the text breaks the BIGINT sum.
    Gate("q_format_roundtrip",
      s"""WITH fp AS (
         |  SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |         CAST(sum($rowFpSql) AS BIGINT) AS sum_fp
         |  FROM documents)
         |SELECT f.format, fp.n_docs, fp.sum_ids, fp.sum_fp
         |FROM (SELECT unnest(['jsonl', 'orc']) AS format) f, fp
         |ORDER BY format""".stripMargin,
      (s, dir) => formatRoundtrip(s, dir)),
  )
}
