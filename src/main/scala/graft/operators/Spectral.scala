package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spectral embedding preprocessing (SURVEY.md §2.11): the top principal
  * direction of the embedding cloud via power iteration over a one-pass
  * gramian — the reduction an ANN / whitening / drift-monitoring stage
  * runs before touching 100 TB of vectors.
  *
  * Everything is INTEGER-exact (the q_link_rank convention): embeddings
  * are quantized to milli-units once, the D×D gramian is a sum of
  * BIGINT products (order-independent — bit-identical on any executor
  * count), and each power-iteration step renormalizes to sup-norm
  * [[VecScale]] with truncating integer division — semantics shared by
  * Scala's BigInt `/`, Spark's `div`, and DuckDB's `//`, so the oracle
  * replays all five iterations exactly. The quantization trades ~1e-3
  * per-coordinate precision for cross-engine bit-equality; the
  * OPERATOR pattern (gramian → tiny eigensolve) is unchanged.
  *
  * 100 TB design notes:
  *  - The gramian is the only corpus-wide pass: posexplode to (i, x)
  *    pairs is narrow, and the (i, j) hash aggregate combines map-side
  *    to ≤ D² rows per task before the one shuffle — the classic
  *    distributed X^T X.
  *  - G is D×D = 4096 longs — a bounded driver artifact (the k-means
  *    centroid precedent); the 5-iteration eigensolve is microseconds
  *    and never touches the cluster again.
  *  - Uncentered second moment by design: centering at scale is one
  *    broadcast mean subtraction folded into the same pass; omitting it
  *    keeps every intermediate within BIGINT range without rescaling.
  */
object Spectral {

  /** Embedding coordinate quantization (units of 1/[[MilliScale]]). */
  val MilliScale: Int = 1000

  /** Iteration-vector sup-norm scale. */
  val VecScale: Long = 1000000L

  /** Fixed power-iteration count — part of the operator's identity. */
  val PowerIters: Int = 5

  /** Embedding dimensionality of the corpus (TESTDATA.md). */
  val EmbDim: Int = 64

  /** Milli-quantized (vec_id, i, xm) coordinates. */
  def milliCoords(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        round(col("col").cast(DoubleType) * MilliScale)
          .cast(LongType).as("xm"))

  /** The D×D gramian Σ x xᵀ as (gi, gj, gv) rows — one shuffle, map-side
    * combined to ≤ D² keys per task. */
  def gramian(emb: DataFrame): DataFrame = {
    val xs = milliCoords(emb).localCheckpoint() // both sides of the self-join
    xs.as("a").join(xs.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.i").as("gi"), col("b.i").as("gj"))
      .agg(sum(col("a.xm") * col("b.xm")).as("gv"))
  }

  /** Driver-side eigensolve over the collected gramian: [[PowerIters]]
    * rounds of w = G·v; v ← w·[[VecScale]] / sup|w| (BigInt, truncating
    * division). Returns (component, v_micro, final sup|w|). */
  def powerIterate(g: Map[(Int, Int), Long], dim: Int): (Array[Long], Long) = {
    var v = Array.fill(dim)(BigInt(VecScale))
    var sup = BigInt(0)
    for (_ <- 1 to PowerIters) {
      val w = Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) {
          acc += BigInt(g.getOrElse((i, j), 0L)) * v(j)
          j += 1
        }
        acc
      }
      sup = w.map(_.abs).max
      require(sup > 0, "power iteration on a zero gramian")
      v = w.map(x => x * VecScale / sup)
    }
    (v.map(_.toLong), sup.toLong)
  }
}
