package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** The COMPOSED ingest gate (ADVICE r9 #8): one `Trigger.AvailableNow`
  * pass over a landing directory of documents-with-embeddings that
  * makes the complete admission decision per document —
  *
  *  1. BM25 relevance tag against a FROZEN (df, N, Σdl) model
  *     ([[Bm25Stream.bm25ScoreCol]] — the relevance-routing shape),
  *  2. near-dup ADMISSION against the stored sketch index
  *     ([[graft.operators.Dedup.admitPairs]] — band probe + exact
  *     Jaccard verify; a verified pair rejects the document),
  *  3. IVF cell assignment against the FROZEN centroids
  *     ([[graft.functions.IvfOps.cell]]) for admitted documents, so
  *     the output lands in the partitionBy("cell")-servable layout.
  *
  * The per-batch body [[gateBatch]] IS the batch operator chain —
  * `foreachBatch` runs it verbatim on each micro-batch (the standard
  * Structured Streaming pattern for multi-step admission). The reject
  * set is the union of TWO pair sources, both bounded batch work
  * inside foreachBatch (no unbounded stream-stream join, no state
  * store): documents with a verified stored duplicate, and the
  * keep-first rule WITHIN the batch — any document with a verified
  * smaller-id duplicate in the same batch is rejected, so two copies
  * arriving together admit exactly one. (Cross-batch novel duplicates
  * are the stored index's job: production folds admitted sketches back
  * into the index between triggers — the IvfStream LSM posture.)
  * EventStreamSpec pins composed-stream ≡ chained-batch on the same
  * landing files.
  *
  * Scale shape: every model input is a frozen broadcast artifact
  * (df map, centroids) or a stored index probed via stream-static
  * joins; each micro-batch is bounded by the trigger's file budget, so
  * the anti-join's right side is ≤ the batch's own pair evidence. */
object IngestGateStream {

  /** The admission chain on ONE (micro-)batch of landing documents
    * (doc_id, text, embedding): score, reject verified near-dups,
    * cell-assign survivors. Shared verbatim between the streaming gate
    * and its batch twin, so streamed ≡ batch is structural. */
  def gateBatch(batch: DataFrame, df: Map[String, Long], nDocs: Long,
      dlTotal: Long, storedFeatures: DataFrame, tau: Double,
      cents: Array[Float], cids: Array[Long], dim: Int): DataFrame = {
    // three consumers (stored probe, intra-batch candidates, verify):
    // one sketch pass, not three (the multi-consumer rule)
    val feats = Dedup.minhashFeatures(batch).localCheckpoint()
    val storedDups = Dedup.admitPairs(storedFeatures, feats, tau)
      .select(col("probe_id").as("doc_id"))
    // keep-first inside the batch: a verified pair rejects its LARGER id
    val intraDups = Dedup.verifiedOverlapFromFeatures(feats,
        Dedup.minhashCandidatesFromFeatures(feats))
      .filter(col("jaccard") >= tau)
      .select(greatest(col("doc1"), col("doc2")).as("doc_id"))
    val dupIds = storedDups.unionByName(intraDups).distinct()
    batch
      .select(col("doc_id"),
        Bm25Stream.bm25ScoreCol(col("text"), df, nDocs, dlTotal).as("score"),
        graft.functions.IvfOps.cell(col("embedding"), cents, cids, dim)
          .as("cell"))
      .join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Run the gate over a landing directory as an AvailableNow stream,
    * writing admitted (doc_id, score, cell) rows under `outDir`. Each
    * micro-batch OVERWRITES its own `batch=<id>` subdirectory — a
    * retried batch (crash between the write and the checkpoint commit)
    * replaces its partial output instead of appending a duplicate copy;
    * foreachBatch is at-least-once, so the sink must be idempotent per
    * batchId. Readers `spark.read.parquet(outDir)` and get `batch` as
    * an extra partition column after the data columns. */
  def gateStream(s: SparkSession, landingGlob: String, schema: StructType,
      outDir: String, ckptDir: String, df: Map[String, Long], nDocs: Long,
      dlTotal: Long, storedFeatures: DataFrame, tau: Double,
      cents: Array[Float], cids: Array[Long], dim: Int): StreamingQuery =
    s.readStream.schema(schema).parquet(landingGlob)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        gateBatch(b, df, nDocs, dlTotal, storedFeatures, tau,
          cents, cids, dim)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
