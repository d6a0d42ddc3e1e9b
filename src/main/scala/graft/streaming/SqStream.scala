package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.SqOps

/** Structured Streaming twin of the SQ8 code ingest
  * (operators/Ingest.ensureSqIndex): vectors arrive as files, the same
  * narrow graft_sq_encode kernel turns each one into its byte-per-dim
  * code per micro-batch — continuous maintenance of the SQ8 index,
  * completing the stream-twin set (Sketch/Pq/Ivf/Lm/Bloom/Dedup).
  * Stateless (no watermark, no shuffle), so `Trigger.AvailableNow`
  * turns the same query into a catch-up batch; the frozen (min, step)
  * model ships into the stream as the codegen-reference arrays exactly
  * as the batch encoder receives them (re-deriving min/max per consumer
  * would fork codes the moment a delta lands outside the trained
  * range — the model is the artifact, clamping handles the overflow). */
object SqStream {

  def codeStream(s: SparkSession, dir: String, mins: Array[Float],
      steps: Array[Float]): DataFrame = {
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    // glob trick: see EventStream.readEvents (single-file testdata table)
    s.readStream.schema(schema).parquet(s"$dir/[e]mbeddings.parquet")
      .select(col("vec_id"),
        SqOps.encode(col("embedding"), mins, steps).as("code"))
  }
}
