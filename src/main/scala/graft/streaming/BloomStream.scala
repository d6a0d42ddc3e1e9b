package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BloomOps, Sketch}

/** Ingest-time decontamination: filter an incoming DOCUMENT STREAM
  * against a frozen benchmark-gram Bloom filter — the production
  * direction of the decontamination check (q_decontaminate flags eval
  * docs sharing grams with train; a live pipeline drops INCOMING
  * training docs that leak benchmark text as they land). Stateless:
  * the filter is a bounded frozen artifact (binary literal, like the
  * LM tables and PQ codebook), each document's verdict is a narrow
  * `exists` over its own gram hashes, no shuffle, no state store —
  * `Trigger.AvailableNow` ≡ batch. Bloom false positives over-drop a
  * bounded fraction (the safe direction for leakage); false negatives
  * are impossible, so nothing contaminated survives that exact
  * matching would have caught at the probed gram width. */
object BloomStream {

  /** Per-doc contamination predicate: ANY word-8-gram hash hits the
    * filter. Shared by the stream and its batch twin so the two cannot
    * drift. */
  def contaminated(bloom: Array[Byte]): org.apache.spark.sql.Column =
    exists(
      Sketch.wordGramHashes(graft.operators.Curation.gramToks(col("text")), 8),
      g => BloomOps.mightContain(bloom, g))

  def cleanStream(s: SparkSession, dir: String,
      bloom: Array[Byte]): DataFrame = {
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    // glob trick: see EventStream.readEvents (single-file testdata table)
    s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet")
      .filter(!contaminated(bloom))
      .select("doc_id", "source", "lang")
  }
}
