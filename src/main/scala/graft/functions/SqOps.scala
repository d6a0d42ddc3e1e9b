package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Scalar-quantization (SQ8) kernels — the third member of the stored
  * ANN-index family beside PQ and IVF-PQ (SURVEY.md §2.11): one byte
  * per DIMENSION under a per-dimension affine map
  * `v ≈ min_d + code_d · step_d`, `step_d = (max_d − min_d)/255`.
  * 4× less scan I/O than the float payload with far better score
  * fidelity than PQ's 8 B/vector (SQ8's worst-case per-dim error is
  * step/2 ≈ 0.2 % of the value range) — FAISS's `SQ8` flat index, the
  * standard middle rung between exact floats and PQ.
  *
  * The 100 TB shape mirrors PqOps: encode ONCE at ingest inside the
  * scan stage (narrow codegen projection, the model arrays ride the
  * codegen reference array), store the `binary(dim)` code column, and
  * serve by scanning codes only. The probe's contribution is folded
  * driver-side into per-dim tables (alpha = q_d·step_d plus the
  * dequantized-norm accumulators), so the per-row score is one fused
  * loop over dim bytes — approximate cosine against the DEQUANTIZED
  * vector, consistent with the exact-cosine rescore that follows.
  */
object SqOps {

  /** Encode an `array<float>` embedding to one byte per dimension. */
  def encode(emb: Column, mins: Array[Float], steps: Array[Float]): Column =
    Bridge.column(SqEncode(Bridge.expression(emb),
      Bridge.expression(typedlit(mins.toSeq)),
      Bridge.expression(typedlit(steps.toSeq))))

  /** Approximate cosine of a code row against driver-built probe tables
    * (see [[SqKernels.score]] for the algebra). */
  def score(code: Column, alpha: Array[Double], linNrm: Array[Double],
      quadNrm: Array[Double], beta: Double, gamma0: Double): Column =
    Bridge.column(SqScore(Bridge.expression(code),
      Bridge.expression(typedlit(alpha.toSeq)),
      Bridge.expression(typedlit(linNrm.toSeq)),
      Bridge.expression(typedlit(quadNrm.toSeq)), Literal(beta), Literal(gamma0)))

  /** [[score]] with the PER-QUERY half (alpha, beta) taken from COLUMNS
    * — the batched-kNN path broadcasts a per-query table frame and each
    * candidate row reads its query's tables; the MODEL half
    * (lin/quad/gamma0) is query-independent and stays a codegen
    * reference array shared by the whole batch. */
  def scoreCols(code: Column, alpha: Column, beta: Column,
      linNrm: Array[Double], quadNrm: Array[Double], gamma0: Double): Column =
    Bridge.column(SqScoreCols(Bridge.expression(code), Bridge.expression(alpha),
      Bridge.expression(beta), Bridge.expression(typedlit(linNrm.toSeq)),
      Bridge.expression(typedlit(quadNrm.toSeq)), Literal(gamma0)))

  /** Query-independent half of the score tables — from the MODEL alone:
    * |v̂|² = Σ min_d² + Σ (2·min_d·step_d)·c_d + Σ step_d²·c_d²
    *       = gamma0 + Σ lin_d·c_d + Σ quad_d·c_d². */
  def modelTables(mins: Array[Float],
      steps: Array[Float]): (Array[Double], Array[Double], Double) = {
    val dim = mins.length
    require(steps.length == dim, s"sq model dims differ: $dim/${steps.length}")
    val lin = new Array[Double](dim)
    val quad = new Array[Double](dim)
    var gamma0 = 0.0
    var d = 0
    while (d < dim) {
      val mn = mins(d).toDouble
      val st = steps(d).toDouble
      lin(d) = 2.0 * mn * st
      quad(d) = st * st
      gamma0 += mn * mn
      d += 1
    }
    (lin, quad, gamma0)
  }

  /** Per-query half of the score tables:
    * dot(q, v̂) = Σ q_d·min_d + Σ (q_d·step_d)·c_d = beta + Σ alpha_d·c_d. */
  def queryTables(qv: Array[Float], mins: Array[Float],
      steps: Array[Float]): (Array[Double], Double) = {
    val dim = mins.length
    require(qv.length == dim && steps.length == dim,
      s"sq probe dim ${qv.length} != model dim $dim")
    val alpha = new Array[Double](dim)
    var beta = 0.0
    var d = 0
    while (d < dim) {
      alpha(d) = qv(d).toDouble * steps(d).toDouble
      beta += qv(d).toDouble * mins(d).toDouble
      d += 1
    }
    (alpha, beta)
  }

  /** Driver-side fold of probe vector × SQ model into the full score
    * tables ([[queryTables]] + [[modelTables]]). */
  def probeTables(qv: Array[Float], mins: Array[Float],
      steps: Array[Float]): (Array[Double], Array[Double], Array[Double], Double, Double) = {
    val (alpha, beta) = queryTables(qv, mins, steps)
    val (lin, quad, gamma0) = modelTables(mins, steps)
    (alpha, lin, quad, beta, gamma0)
  }
}

/** Kernels shared by interpreted eval and generated code. */
object SqKernels {

  /** Per-dim affine byte code, round-half-up, clamped to [0, 255]
    * (clamping makes out-of-range values — e.g. a delta batch beyond
    * the trained min/max — degrade gracefully instead of wrapping).
    * A zero-range dimension (step 0) encodes as 0 and dequantizes to
    * its constant min. */
  def encode(emb: ArrayData, mins: Array[Float], steps: Array[Float]): Array[Byte] = {
    val dim = emb.numElements()
    require(dim == mins.length && dim == steps.length,
      s"sq_encode: dim=$dim != model dim ${mins.length}")
    val out = new Array[Byte](dim)
    var d = 0
    while (d < dim) {
      val st = steps(d)
      val c =
        if (st <= 0f) 0
        else {
          val r = Math.round((emb.getFloat(d) - mins(d)) / st)
          if (r < 0) 0 else if (r > 255) 255 else r
        }
      out(d) = c.toByte
      d += 1
    }
    out
  }

  /** (beta + Σ alpha_d·c_d) / sqrt(gamma0 + Σ lin_d·c_d + Σ quad_d·c_d²)
    * — approximate cosine against the dequantized vector; the probe's
    * own norm is a rank-invariant constant factor and is omitted (the
    * same convention as [[PqKernels.adc]]). */
  def score(code: Array[Byte], alpha: Array[Double], lin: Array[Double],
      quad: Array[Double], beta: Double, gamma0: Double): Double = {
    val dim = code.length
    require(dim == alpha.length,
      s"sq_score: code dim=$dim != table dim ${alpha.length}")
    var dot = beta
    var nrm = gamma0
    var d = 0
    while (d < dim) {
      val c = (code(d) & 0xff).toDouble
      dot += alpha(d) * c
      nrm += lin(d) * c + quad(d) * c * c
      d += 1
    }
    if (nrm <= 0.0) 0.0 else dot / math.sqrt(nrm)
  }

  /** [[score]] with the per-query (alpha, beta) read from row data
    * (UnsafeArrayData random access — same per-element cost as the
    * reference-array form) and the model half from reference arrays. */
  def scoreData(code: Array[Byte], alpha: ArrayData, beta: Double,
      lin: Array[Double], quad: Array[Double], gamma0: Double): Double = {
    val dim = code.length
    require(alpha.numElements() == dim,
      s"sq_score_cols: code dim=$dim != alpha dim ${alpha.numElements()}")
    var dot = beta
    var nrm = gamma0
    var d = 0
    while (d < dim) {
      val c = (code(d) & 0xff).toDouble
      dot += alpha.getDouble(d) * c
      nrm += lin(d) * c + quad(d) * c * c
      d += 1
    }
    if (nrm <= 0.0) 0.0 else dot / math.sqrt(nrm)
  }
}

/** `graft_sq_encode(array<float>, array<float>, array<float>) -> binary`.
  * Model children must be foldable; they are evaluated once per task and
  * ride the codegen reference array. Null embedding → null code. */
case class SqEncode(emb: Expression, mins: Expression, steps: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(emb, mins, steps)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = emb.nullable
  override def prettyName: String = "graft_sq_encode"

  @transient private lazy val (minArr, stepArr) = {
    require(mins.foldable && steps.foldable,
      "graft_sq_encode model arrays must be literals")
    (mins.eval(null).asInstanceOf[ArrayData].toFloatArray(),
      steps.eval(null).asInstanceOf[ArrayData].toFloatArray())
  }

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    if (e == null) null
    else SqKernels.encode(e.asInstanceOf[ArrayData], minArr, stepArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("sqMins", minArr, "float[]")
    val stRef = ctx.addReferenceObj("sqSteps", stepArr, "float[]")
    val e = emb.genCode(ctx)
    ev.copy(code = code"""
      ${e.code}
      boolean ${ev.isNull} = ${e.isNull};
      byte[] ${ev.value} = ${ev.isNull}
        ? null : graft.functions.SqKernels.encode(${e.value}, $mnRef, $stRef);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SqEncode =
    SqEncode(newChildren(0), newChildren(1), newChildren(2))
}

/** `graft_sq_score(binary, array<double> ×3, double, double) -> double`.
  * Table children must be foldable (driver-built from the probe and the
  * model); null code → null score. */
case class SqScore(code: Expression, alpha: Expression, lin: Expression,
    quad: Expression, beta: Expression, gamma0: Expression)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(code, alpha, lin, quad, beta, gamma0)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = code.nullable
  override def prettyName: String = "graft_sq_score"

  @transient private lazy val (aArr, lArr, qArr, bV, gV) = {
    require(alpha.foldable && lin.foldable && quad.foldable &&
      beta.foldable && gamma0.foldable,
      "graft_sq_score tables must be literals")
    (alpha.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      lin.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      quad.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      beta.eval(null).asInstanceOf[Double],
      gamma0.eval(null).asInstanceOf[Double])
  }

  override def eval(input: InternalRow): Any = {
    val c = code.eval(input)
    if (c == null) null
    else SqKernels.score(c.asInstanceOf[Array[Byte]], aArr, lArr, qArr, bV, gV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("sqAlpha", aArr, "double[]")
    val lRef = ctx.addReferenceObj("sqLin", lArr, "double[]")
    val qRef = ctx.addReferenceObj("sqQuad", qArr, "double[]")
    val c = code.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      double ${ev.value} = ${ev.isNull}
        ? 0.0 : graft.functions.SqKernels.score(
            ${c.value}, $aRef, $lRef, $qRef, $bV, $gV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SqScore =
    SqScore(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5))
}

/** `graft_sq_score_cols(binary, array<double>, double, array<double>,
  * array<double>, double) -> double` — [[SqScore]] with the per-query
  * (alpha, beta) taken from ordinary (usually broadcast-joined)
  * COLUMNS; the model half (lin/quad/gamma0) stays foldable. Null code
  * or table → null score. */
case class SqScoreCols(code: Expression, alpha: Expression, beta: Expression,
    lin: Expression, quad: Expression, gamma0: Expression)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(code, alpha, beta, lin, quad, gamma0)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    code.nullable || alpha.nullable || beta.nullable
  override def prettyName: String = "graft_sq_score_cols"

  @transient private lazy val (lArr, qArr, gV) = {
    require(lin.foldable && quad.foldable && gamma0.foldable,
      "graft_sq_score_cols model tables must be literals")
    (lin.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      quad.eval(null).asInstanceOf[ArrayData].toDoubleArray(),
      gamma0.eval(null).asInstanceOf[Double])
  }

  override def eval(input: InternalRow): Any = {
    val c = code.eval(input)
    val a = alpha.eval(input)
    val b = beta.eval(input)
    if (c == null || a == null || b == null) null
    else SqKernels.scoreData(c.asInstanceOf[Array[Byte]],
      a.asInstanceOf[ArrayData], b.asInstanceOf[Double], lArr, qArr, gV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("sqLin", lArr, "double[]")
    val qRef = ctx.addReferenceObj("sqQuad", qArr, "double[]")
    val c = code.genCode(ctx)
    val a = alpha.genCode(ctx)
    val b = beta.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${a.code}
      ${b.code}
      boolean ${ev.isNull} = ${c.isNull} || ${a.isNull} || ${b.isNull};
      double ${ev.value} = ${ev.isNull}
        ? 0.0 : graft.functions.SqKernels.scoreData(
            ${c.value}, ${a.value}, ${b.value}, $lRef, $qRef, $gV);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SqScoreCols =
    SqScoreCols(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5))
}
