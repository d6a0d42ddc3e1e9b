package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Cp1252, Sketch, VectorOps}

/** The `functions` layer alone: rows per second of each column builder
  * over the corpus into a `noop` sink. The documents are repeated
  * twenty times (and every vector paired with fifty others) so a pass
  * is dominated by the kernel rather than by job start-up; each rate is
  * the median of three passes. */
object Kernels {

  def run(spark: SparkSession, data: String): Seq[(String, Double)] = {
    Sketch.register(spark)
    VectorOps.register(spark)
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val text = Seq.fill(20)(docs.select(col("text"))).reduce(_ union _)
    val tokens = split(lower(col("text")), " ")
    val vecs = spark.read.parquet(s"$data/embeddings.parquet")
    val pairs = vecs.select(col("embedding").as("a"))
      .crossJoin(broadcast(vecs.limit(50).select(col("embedding").as("b"))))
    Seq(
      "minhash" -> text.select(Sketch.minhashShingles(tokens)),
      "simhash" -> text.select(Sketch.simhashTokens(tokens)),
      "winnow" -> text.select(Sketch.winnow(col("text"))),
      "cp1252" -> text.select(Cp1252.encodeCol(col("text"))),
      "cosine" -> pairs.select(VectorOps.cosine(col("a"), col("b")))
    ).map { case (name, df) => name -> rate(df) }
  }

  private def rate(df: DataFrame): Double = {
    val n = df.count().toDouble
    val secs = Seq.fill(3) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    n / secs(1)
  }
}
