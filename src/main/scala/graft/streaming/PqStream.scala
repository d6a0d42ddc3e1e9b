package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.PqOps
import graft.operators.Similarity

/** Structured Streaming twin of the PQ code ingest
  * (operators/Ingest.ensurePqIndex): vectors arrive as files, the same
  * narrow graft_pq_encode kernel packs each one into its 8-byte code
  * per micro-batch, and the sink accumulates the code table —
  * CONTINUOUS index maintenance for the ANN serving path, exactly like
  * SketchStream does for the text sketches. Stateless (no watermark,
  * no shuffle: codes are per-vector), so `Trigger.AvailableNow` turns
  * the same query into a catch-up batch, and the trained codebook
  * ships into the stream as the codegen-reference model the way every
  * scoring job receives it. */
object PqStream {

  /** Encode a vector file-stream against a GIVEN codebook (the stored
    * model artifact — passing it in keeps streaming ≡ batch pinned to
    * the same quantizer; retraining per consumer would let float-sum
    * wiggle fork the codes). */
  def codeStream(s: SparkSession, dir: String, codebook: Array[Float],
      m: Int = 8, kCent: Int = 256): DataFrame = {
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    // glob trick: see EventStream.readEvents (single-file testdata table)
    s.readStream.schema(schema).parquet(s"$dir/[e]mbeddings.parquet")
      .select(col("vec_id"),
        PqOps.encode(col("embedding"), codebook, m, kCent).as("code"))
  }
}
