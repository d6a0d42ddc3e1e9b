package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Compiled linear quality-classifier model (the CCNet / fastText
  * serving shape): hashed unigram+bigram features, one weight per hash
  * bucket, scored in a single narrow kernel pass — the
  * [[LmModel]] pattern applied to classifier INFERENCE. The weight
  * vector is a bounded broadcast artifact (D·8 bytes, one shared object
  * per task via the codegen reference array); training happens
  * elsewhere — this is the 100 TB scoring pass.
  *
  * The feature hash is a codepoint-indexed polynomial chosen to be
  * REPLAYABLE IN SQL (no engine-specific xxhash):
  * `(len · 2654435761 + Σ_i cp_i · (i² + 7)) mod D` with i 0-based over
  * codepoints — the DuckDB oracle recomputes it with
  * unicode()/range()/list_sum, so the hash is pinned cross-engine, not
  * just self-consistent. Weights are integer micro-units; the kernel
  * returns exact (n_features, sum_micro) and the sigmoid/cut layer
  * above stays in rounded/cross-multiplied arithmetic.
  */
final class QualityModel(wMicro: Array[Long]) extends Serializable {

  private val dim = wMicro.length
  require(dim > 0, "quality model needs at least one bucket")

  /** One pass over the token array → (n_features, sum_micro): every
    * unigram and every adjacent bigram (joined by '_') contributes the
    * weight of its hash bucket. */
  def score(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    var sum = 0L
    var count = 0L
    var prev: String = null
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      sum += wMicro(QualityModel.bucket(t, dim))
      count += 1
      if (prev != null) {
        sum += wMicro(QualityModel.bucket(prev + "_" + t, dim))
        count += 1
      }
      prev = t
      i += 1
    }
    new GenericInternalRow(Array[Any](count, sum))
  }

  def zeroRow(): InternalRow = QualityModel.zero
}

object QualityModel {

  val zero: InternalRow = new GenericInternalRow(Array[Any](0L, 0L))

  /** The SQL-replayable feature hash (see class doc). Pure and total:
    * the empty string hashes to 0. */
  def bucket(s: String, d: Int): Int = {
    var sum = 0L
    var i = 0L // codepoint index
    var off = 0 // char (UTF-16 unit) offset
    while (off < s.length) {
      val cp = s.codePointAt(off)
      sum += cp.toLong * (i * i + 7L)
      off += Character.charCount(cp)
      i += 1
    }
    ((i * 2654435761L + sum) % d).toInt
  }

  /** `graft_quality_score(tokens, wMicro)` with the weight vector as a
    * single array literal. */
  def qualityScore(tokens: Column, wMicro: Array[Long]): Column =
    Bridge.column(QualityScore(Bridge.expression(tokens),
      Bridge.expression(typedlit(wMicro.toSeq))))
}

/** `graft_quality_score(array<string>, array<bigint>) ->
  * struct<n_features, sum_micro>`. The weight child must be foldable —
  * evaluated once (lazily, per task) into the compiled model; only the
  * token array is evaluated per row. A null token array scores as an
  * empty document. */
case class QualityScore(tokens: Expression, weights: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(tokens, weights)

  override def dataType: DataType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("sum_micro", LongType, nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "graft_quality_score"

  @transient private lazy val model: QualityModel = {
    require(weights.foldable, "graft_quality_score weights must be literal")
    new QualityModel(
      weights.eval(null).asInstanceOf[ArrayData].toLongArray())
  }

  override def eval(input: InternalRow): Any = {
    val t = tokens.eval(input)
    if (t == null) QualityModel.zero else model.score(t.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("qualityModel", model, classOf[QualityModel].getName)
    val tok = tokens.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${tok.code}
        $javaType ${ev.value} = ${tok.isNull}
          ? $m.zeroRow() : $m.score(${tok.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QualityScore =
    QualityScore(newChildren(0), newChildren(1))
}
