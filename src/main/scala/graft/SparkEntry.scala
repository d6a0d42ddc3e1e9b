package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` and `oracleSql` are the two halves of one gate table,
  * [[graft.gates.Gates.all]]: the parity surface (one named query per
  * reference operator row, SURVEY.md §2) and the large-scale extension
  * operators (dedup / similarity / text analysis / multimodal —
  * SURVEY.md §2.11). Every query has a DuckDB oracle with identical
  * column names and total ordering (the DuckDB hash compare requires
  * both).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * `saldo_per_konto` — the reference's one verified derived value
    * (account balance, db_test.go:374-386) as an exact decimal aggregation.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_saldo_per_konto")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    // every entry installs graft's SQL functions and plan rules on its
    // session first, so plan shape never depends on session history
    graft.gates.Gates.all.map { case (name, g) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftExtensions.install(s)
        g.query(s, dir)
      })
    }

  def oracleSql: Map[String, String] =
    graft.gates.Gates.all.map { case (name, g) => name -> g.oracle }
}
