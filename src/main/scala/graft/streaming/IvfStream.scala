package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.IvfOps

/** Structured Streaming twin of the IVF delta ingest
  * (operators/Ingest.ivfDelta): vectors arrive as files and the
  * same narrow graft_ivf_cell kernel assigns each one to its cell
  * against the FROZEN stored centroids — CONTINUOUS index maintenance
  * for the ANN serving path, the streaming form of the base+delta
  * append posture. Stateless (no watermark, no shuffle: a cell is a
  * per-row function of the vector and the frozen model), so
  * `Trigger.AvailableNow` turns the same query into a catch-up batch,
  * and the centroid matrix ships into the stream as the codegen-
  * reference artifact exactly as the batch path receives it. A
  * partitionBy("cell") file sink then lands delta files straight into
  * the cell layout the DPP-pruned probes read. */
object IvfStream {

  /** Assign a vector file-stream against GIVEN frozen centroid
    * artifacts ([[graft.operators.Similarity.centroidArtifact]] of the
    * stored table — passing them in keeps streaming ≡ batch pinned to
    * the same model; reloading per consumer would let a concurrent
    * retrain fork the assignments). */
  def assignStream(s: SparkSession, dir: String, cents: Array[Float],
      cids: Array[Long], dim: Int): DataFrame = {
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    // glob trick: see EventStream.readEvents (single-file testdata table)
    assignLandingStream(s, s"$dir/[e]mbeddings.parquet", schema, cents, cids, dim)
  }

  /** Assign an arbitrary LANDING-ZONE directory of vector parquet files
    * — the production delta shape: batches of new vectors arrive as
    * files, each is cell-assigned against the frozen centroids as it
    * lands, and a `partitionBy("cell")` file sink writes the delta in
    * the exact layout the DPP-pruned probes
    * ([[graft.operators.Ingest.knnJoinIvfWithDelta]]) read — closing
    * the loop from streamed arrival to served kNN without a batch
    * re-ingest. */
  def assignLandingStream(s: SparkSession, landingGlob: String,
      schema: org.apache.spark.sql.types.StructType, cents: Array[Float],
      cids: Array[Long], dim: Int): DataFrame = {
    s.readStream.schema(schema).parquet(landingGlob)
      .select(col("vec_id"),
        IvfOps.cell(col("embedding"), cents, cids, dim).as("cell"),
        col("embedding"))
  }
}
