package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** IVF cell-assignment kernel: the centroid table is a bounded model
  * artifact (nCells ≈ √N rows — ~8 MB of floats even at 10⁹ vectors ×
  * dim 64), so assignment does not need a join at all. The flat
  * centroid matrix rides the codegen reference array (the [[PqOps]] /
  * [[LmModel]] pattern) and each vector maps to its argmax-cosine cell
  * in one narrow codegen pass — the declarative
  * `crossJoin(broadcast(centroids)) + groupBy(vec_id)` formulation pays
  * an N×nCells row expansion plus a full-corpus shuffle for the same
  * answer. At 100 TB that turns ingest assignment from the single wide
  * op in IVF into a map over the scan (the only remaining exchange is
  * the partitionBy(cell) write), and it is what makes CONTINUOUS delta
  * ingest streamable (graft.streaming.IvfStream): per-row, stateless,
  * no aggregation state.
  *
  * Arithmetic and tie-break are bit-identical to the declarative path:
  * the per-centroid cosine uses the same left-to-right double
  * accumulation as [[VectorSketchOps.cosine]], and ties resolve to the
  * LOWEST cid (centroids are scanned in ascending-cid order with a
  * strict `>` improvement test), matching `max_by(struct(csim, -cid))`.
  * SimilaritySpec pins kernel ≡ declarative on the full corpus.
  */
object IvfOps {

  /** Argmax-cosine cell id for an `array<float>` embedding. `cents` is
    * the flat centroid matrix (`i*dim + d`, ascending-cid row order),
    * `cids` the matching cid per row. */
  def cell(emb: Column, cents: Array[Float], cids: Array[Long],
      dim: Int): Column =
    Bridge.column(IvfCell(Bridge.expression(emb),
      Bridge.expression(typedlit(cents.toSeq)),
      Bridge.expression(typedlit(cids.toSeq)), Literal(dim)))
}

/** Kernel shared by interpreted eval and generated code. */
object IvfKernels {

  def cell(emb: ArrayData, cents: Array[Float], cids: Array[Long],
      dim: Int): Long = {
    val n = emb.numElements()
    require(n == dim, s"ivf_cell: dimension mismatch ($n vs $dim)")
    require(cents.length == cids.length * dim,
      s"ivf_cell: |cents|=${cents.length} != |cids|·dim=${cids.length * dim}")
    require(cids.length > 0, "ivf_cell: empty centroid table")
    var best = 0
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cids.length) {
      // same accumulation order and zero-norm convention as
      // VectorSketchOps.cosine — assignment must not diverge from the
      // declarative path by an ulp
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val base = i * dim
      var d = 0
      while (d < dim) {
        val x = emb.getFloat(d).toDouble
        val y = cents(base + d).toDouble
        dot += x * y; na += x * x; nb += y * y
        d += 1
      }
      val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      if (sim > bestSim) { bestSim = sim; best = i }
      i += 1
    }
    cids(best)
  }
}

/** `graft_ivf_cell(array<float>, array<float>, array<bigint>, int) ->
  * bigint`. Centroid/cid/dim children must be foldable; they are
  * evaluated once (lazily, per task) and ride the codegen reference
  * array. Null embedding → null cell. */
case class IvfCell(emb: Expression, cents: Expression, cids: Expression,
    dim: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(emb, cents, cids, dim)
  override def dataType: DataType = LongType
  override def nullable: Boolean = emb.nullable
  override def prettyName: String = "graft_ivf_cell"

  @transient private lazy val (centArr, cidArr, dimV) = {
    require(cents.foldable && cids.foldable && dim.foldable,
      "graft_ivf_cell centroids/cids/dim must be literals")
    (cents.eval(null).asInstanceOf[ArrayData].toFloatArray(),
      cids.eval(null).asInstanceOf[ArrayData].toLongArray(),
      dim.eval(null).asInstanceOf[Int])
  }

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    if (e == null) null
    else IvfKernels.cell(e.asInstanceOf[ArrayData], centArr, cidArr, dimV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", centArr, "float[]")
    val idRef = ctx.addReferenceObj("ivfCids", cidArr, "long[]")
    val e = emb.genCode(ctx)
    ev.copy(code = code"""
      ${e.code}
      boolean ${ev.isNull} = ${e.isNull};
      long ${ev.value} = ${ev.isNull}
        ? 0L : graft.functions.IvfKernels.cell(${e.value}, $cRef, $idRef, $dimV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IvfCell =
    IvfCell(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}
