package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents
import graft.operators.Artifacts.scratch

/** Landing-format matrix (SURVEY.md §2.11): the interchange formats a
  * crawl/ingest pipeline actually receives and emits besides parquet —
  * JSON-lines (the crawl/annotation interchange default) and ORC (the
  * other columnar warehouse format Spark ships a vectorized reader
  * for). The gate writes the corpus through each format's Spark writer,
  * reads it back through the matching reader, and fingerprints the
  * result with an order-independent integer fold; the DuckDB oracle
  * computes the same fingerprint from the ORIGINAL parquet, so the hash
  * pins WRITER ∘ READER = identity per format — field quoting, escaping,
  * null handling, type mapping and all.
  *
  * 100 TB posture: both writers shard per partition (no single-file
  * funnel), the JSON read carries an EXPLICIT schema (inference is a
  * second full pass and can mistype on a 10⁹-line corpus), and the
  * fingerprint is a commutative BIGINT sum so the check itself is one
  * map-side-combined aggregate per format. */
object Formats {

  /** Order-independent per-row fingerprint: exact integer fold of the
    * first 8 md5 hex digits of `lang || '#' || source || '#' || text`
    * (16⁸ < 2³¹·2, summed in BIGINT — overflow-free past 10⁹ rows).
    * Exactly replayable in DuckDB digit arithmetic. */
  private[graft] def rowFp(lang: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("#", lang, source, text)), 1, 8), 16, 10)
      .cast(LongType)

  /** Write documents through each format's writer, read back through
    * its reader, fingerprint. Returns one row per format. */
  def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(s, dir, "fmt_roundtrip")
    val docs = documents(s, dir)
      .select("doc_id", "lang", "source", "text")
    val schema = docs.schema
    docs.write.mode("overwrite").json(s"$root/jsonl")
    docs.write.mode("overwrite").orc(s"$root/orc")
    def fp(df: DataFrame, fmt: String): DataFrame = df
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
        sum(rowFp(col("lang"), col("source"), col("text"))).as("sum_fp"))
      .select(lit(fmt).as("format"), col("n_docs"), col("sum_ids"), col("sum_fp"))
    fp(s.read.schema(schema).json(s"$root/jsonl"), "jsonl")
      .unionByName(fp(s.read.schema(schema).orc(s"$root/orc"), "orc"))
      .orderBy("format")
  }
}
