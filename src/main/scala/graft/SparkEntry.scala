package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the parity surface (graft.queries.Parity —
  * one named query per reference operator row, SURVEY.md §2) and the
  * large-scale extension operators (dedup / similarity / text analysis /
  * multimodal — SURVEY.md §2.11). Every SQL-expressible query has a
  * DuckDB oracle in `oracleSql` with identical column names and total
  * ordering (the driver's hash compare requires both).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * `saldo_per_konto` — the reference's one verified derived value
    * (account balance, db_test.go:374-386) as an exact decimal aggregation.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_saldo_per_konto")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = graft.queries.Registry.unionDistinct(
      "Parity" -> graft.queries.Parity.queries,
      "Extensions" -> graft.queries.Extensions.queries)
    // every gate must carry an oracle and vice versa — a one-sided key
    // is a silently weaker (or dead) gate, refused at assembly
    graft.queries.Registry.requireAligned(m.keySet, oracleSql.keySet)
    // every entry installs graft's SQL functions and plan rules on its
    // session first, so plan shape never depends on session history
    m.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftExtensions.install(s)
        q(s, dir)
      })
    }
  }

  def oracleSql: Map[String, String] =
    graft.queries.Registry.unionDistinct(
      "Parity" -> graft.queries.Parity.oracles,
      "Extensions" -> graft.queries.Extensions.oracles)
}
