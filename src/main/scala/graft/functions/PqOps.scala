package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Product-quantization kernels for the ANN scale path (SURVEY.md
  * §2.11): M sub-spaces × K centroids per sub-space, one byte per
  * sub-space packed into a single BIGINT code — 8 bytes per vector in
  * place of the dim×4-byte payload (32× less scan I/O at dim=64; 384×
  * at dim=768). The 100 TB shape: encode ONCE at ingest inside the scan
  * stage (narrow, codegen'd, the codebook rides the codegen reference
  * array exactly like [[LmModel]]), store the code column, and serve
  * queries by scanning codes only — asymmetric-distance (ADC) ranking
  * reads 8 bytes per vector and the full embedding payload is touched
  * only for the `expand × k` rescore candidates.
  *
  * Distances: codebooks are trained with L2 per sub-space (classic PQ,
  * Jégou et al. 2011); ADC ranks by approximate COSINE — per-sub-space
  * dot and squared-norm table lookups (dot[m][code_m], nrm[m][code_m])
  * summed and normalized — so the ranking target matches the exact
  * cosine rescore and the brute-force oracle.
  */
object PqOps {

  /** Encode an `array<float>` embedding to its packed PQ code. The flat
    * codebook (`(mi*K + ki)*sub + d` layout) ships as one literal. */
  def encode(emb: Column, codebook: Array[Float], m: Int, k: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(emb),
      Bridge.expression(typedlit(codebook.toSeq)), Literal(m), Literal(k)))

  /** ADC approximate-cosine score of a packed code against per-sub-space
    * dot / squared-norm lookup tables (flat `mi*K + ki` layout, built
    * driver-side from the probe vector and the codebook). */
  def adc(code: Column, dotTable: Array[Double], nrmTable: Array[Double],
      m: Int, k: Int): Column =
    Bridge.column(PqAdc(Bridge.expression(code),
      Bridge.expression(typedlit(dotTable.toSeq)),
      Bridge.expression(typedlit(nrmTable.toSeq)), Literal(m), Literal(k)))

  /** ADC score with the lookup tables taken from COLUMNS (the batched
    * kNN path joins a per-query table frame to the candidates; each row
    * reads its query's tables with M O(1) lookups — no per-row
    * materialization). */
  def adcCols(code: Column, dotTable: Column, nrmTable: Column,
      m: Int, k: Int): Column =
    Bridge.column(PqAdcCols(Bridge.expression(code), Bridge.expression(dotTable),
      Bridge.expression(nrmTable), Literal(m), Literal(k)))
}

/** Kernels shared by interpreted eval and generated code. */
object PqKernels {

  /** Packed-byte code: sub-space mi's centroid index in bits
    * [8·mi, 8·mi+8). Requires m ≤ 8, k ≤ 256. Ties (equal L2) resolve
    * to the LOWEST centroid index — strict `<` keeps the first best —
    * so encoding is partitioning- and run-independent. */
  def encode(emb: ArrayData, cb: Array[Float], m: Int, k: Int): Long = {
    val dim = emb.numElements()
    val sub = dim / m
    require(m * sub == dim && m <= 8 && k <= 256 && cb.length == m * k * sub,
      s"pq_encode: dim=$dim incompatible with m=$m, k=$k, |cb|=${cb.length}")
    var code = 0L
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < k) {
        var dist = 0.0
        val base = (mi * k + ki) * sub
        var d = 0
        while (d < sub) {
          val diff = emb.getFloat(mi * sub + d).toDouble - cb(base + d).toDouble
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = ki }
        ki += 1
      }
      code |= best.toLong << (8 * mi)
      mi += 1
    }
    code
  }

  /** [[adc]] with the tables as ArrayData — per-call cost is M O(1)
    * `getDouble` lookups (UnsafeArrayData random access), so joining a
    * per-query table COLUMN to candidates costs the same per row as the
    * literal-table form; only the table residency differs (broadcast
    * row vs codegen reference). */
  def adcData(code: Long, dot: ArrayData, nrm: ArrayData,
      m: Int, k: Int): Double = {
    require(dot.numElements() == m * k && nrm.numElements() == m * k,
      s"pq_adc_cols: table length ${dot.numElements()} != m*k = ${m * k}")
    var sumDot = 0.0
    var sumNrm = 0.0
    var mi = 0
    while (mi < m) {
      val ki = ((code >>> (8 * mi)) & 0xffL).toInt
      sumDot += dot.getDouble(mi * k + ki)
      sumNrm += nrm.getDouble(mi * k + ki)
      mi += 1
    }
    if (sumNrm <= 0.0) 0.0 else sumDot / math.sqrt(sumNrm)
  }

  /** Σ_m dot[m][code_m] / sqrt(Σ_m nrm[m][code_m]) — the cosine
    * numerator/denominator from M table lookups (the probe's own norm
    * is a rank-invariant constant factor and is omitted). */
  def adc(code: Long, dot: Array[Double], nrm: Array[Double],
      m: Int, k: Int): Double = {
    require(dot.length == m * k && nrm.length == m * k,
      s"pq_adc: table length ${dot.length} != m*k = ${m * k}")
    var sumDot = 0.0
    var sumNrm = 0.0
    var mi = 0
    while (mi < m) {
      val ki = ((code >>> (8 * mi)) & 0xffL).toInt
      sumDot += dot(mi * k + ki)
      sumNrm += nrm(mi * k + ki)
      mi += 1
    }
    if (sumNrm <= 0.0) 0.0 else sumDot / math.sqrt(sumNrm)
  }
}

/** `graft_pq_encode(array<float>, array<float>, int, int) -> bigint`.
  * The codebook/m/k children must be foldable; they are evaluated once
  * (lazily, per task) and the flat codebook rides the codegen reference
  * array. Null embedding → null code. */
case class PqEncode(emb: Expression, codebook: Expression,
    m: Expression, k: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(emb, codebook, m, k)
  override def dataType: DataType = LongType
  override def nullable: Boolean = emb.nullable
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val (cbArr, mV, kV) = {
    require(codebook.foldable && m.foldable && k.foldable,
      "graft_pq_encode codebook/m/k must be literals")
    (codebook.eval(null).asInstanceOf[ArrayData].toFloatArray(),
      m.eval(null).asInstanceOf[Int], k.eval(null).asInstanceOf[Int])
  }

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    if (e == null) null
    else PqKernels.encode(e.asInstanceOf[ArrayData], cbArr, mV, kV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "float[]")
    val e = emb.genCode(ctx)
    ev.copy(code = code"""
      ${e.code}
      boolean ${ev.isNull} = ${e.isNull};
      long ${ev.value} = ${ev.isNull}
        ? 0L : graft.functions.PqKernels.encode(${e.value}, $cbRef, $mV, $kV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqEncode =
    PqEncode(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

/** `graft_pq_adc(bigint, array<double>, array<double>, int, int) ->
  * double`. Table children must be foldable (built driver-side from the
  * probe vector and codebook); null code → null score. */
case class PqAdc(code: Expression, dotTable: Expression, nrmTable: Expression,
    m: Expression, k: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(code, dotTable, nrmTable, m, k)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = code.nullable
  override def prettyName: String = "graft_pq_adc"

  @transient private lazy val (dotArr, nrmArr, mV, kV) = {
    require(dotTable.foldable && nrmTable.foldable && m.foldable && k.foldable,
      "graft_pq_adc tables/m/k must be literals")
    (dotTable.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      nrmTable.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      m.eval(null).asInstanceOf[Int], k.eval(null).asInstanceOf[Int])
  }

  override def eval(input: InternalRow): Any = {
    val c = code.eval(input)
    if (c == null) null
    else PqKernels.adc(c.asInstanceOf[Long], dotArr, nrmArr, mV, kV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dotRef = ctx.addReferenceObj("pqDotTable", dotArr, "double[]")
    val nrmRef = ctx.addReferenceObj("pqNrmTable", nrmArr, "double[]")
    val c = code.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      double ${ev.value} = ${ev.isNull}
        ? 0.0 : graft.functions.PqKernels.adc(${c.value}, $dotRef, $nrmRef, $mV, $kV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqAdc =
    PqAdc(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}

/** `graft_pq_adc_cols(bigint, array<double>, array<double>, int, int) ->
  * double` — [[PqAdc]] with the lookup tables taken from ordinary
  * (usually broadcast-joined per-query) COLUMNS; m/k stay foldable.
  * Null code or table → null score. */
case class PqAdcCols(code: Expression, dotTable: Expression,
    nrmTable: Expression, m: Expression, k: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(code, dotTable, nrmTable, m, k)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    code.nullable || dotTable.nullable || nrmTable.nullable
  override def prettyName: String = "graft_pq_adc_cols"

  @transient private lazy val (mV, kV) = {
    require(m.foldable && k.foldable, "graft_pq_adc_cols m/k must be literals")
    (m.eval(null).asInstanceOf[Int], k.eval(null).asInstanceOf[Int])
  }

  override def eval(input: InternalRow): Any = {
    val c = code.eval(input)
    val d = dotTable.eval(input)
    val n = nrmTable.eval(input)
    if (c == null || d == null || n == null) null
    else PqKernels.adcData(c.asInstanceOf[Long],
      d.asInstanceOf[ArrayData], n.asInstanceOf[ArrayData], mV, kV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = code.genCode(ctx)
    val d = dotTable.genCode(ctx)
    val n = nrmTable.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${d.code}
      ${n.code}
      boolean ${ev.isNull} = ${c.isNull} || ${d.isNull} || ${n.isNull};
      double ${ev.value} = ${ev.isNull}
        ? 0.0 : graft.functions.PqKernels.adcData(
            ${c.value}, ${d.value}, ${n.value}, $mV, $kV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqAdcCols =
    PqAdcCols(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}
