package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled bigram-LM model for the stateless perplexity scorer
  * (operators/TextAnalysis.lmScoreStateless).
  *
  * Why this exists: the obvious pure-builtin form — `element_at` on two
  * `typedlit` map literals — plans as `GetMapValue`, whose lookup is a
  * LINEAR SCAN over the key array (O(V) string comparisons per token,
  * measured 3× the cost of the broadcast-join scorer at sf0.1 and
  * unshippable at 100 TB). This kernel holds the same capped count
  * tables as real hash maps — one shared object per task via the
  * codegen reference array — so a document scores in one narrow pass
  * with O(1) exact lookups and ZERO shuffles, the serving shape the
  * scaladoc promises.
  *
  * Arithmetic is bit-identical to the column formulation it replaces
  * (and to [[graft.operators.TextAnalysis.lmScore]] and the DuckDB
  * oracle): integer Laplace ratio → IEEE `-ln` → ×1e6 →
  * `BigDecimal.valueOf(_).setScale(0, HALF_UP)` (exactly Spark's
  * `round(double)`) → long, summed as integers so partial-aggregation
  * order can never move a ULP.
  */
final class LmModel(uniKeys: Array[String], uniVals: Array[Long],
    biKeys: Array[String], biVals: Array[Long]) extends Serializable {

  require(uniKeys.length == uniVals.length && biKeys.length == biVals.length)

  /** Rebuilt lazily on each deserialized task instance; keys stored as
    * plain strings so serialization never drags UTF8String internals. */
  @transient private lazy val uni: JHashMap[UTF8String, java.lang.Long] = {
    val m = new JHashMap[UTF8String, java.lang.Long](uniKeys.length * 2)
    var i = 0
    while (i < uniKeys.length) {
      m.put(UTF8String.fromString(uniKeys(i)), uniVals(i))
      i += 1
    }
    m
  }

  /** Nested (w1 → (w2 → count)): exact, allocation-free probes — no
    * per-lookup key concatenation, no hash-collision ambiguity. */
  @transient private lazy val bi: JHashMap[UTF8String, JHashMap[UTF8String, java.lang.Long]] = {
    val m = new JHashMap[UTF8String, JHashMap[UTF8String, java.lang.Long]](biKeys.length)
    var i = 0
    while (i < biKeys.length) {
      val k = biKeys(i)
      val cut = k.indexOf('\u0000')
      // the separator must be unambiguous: exactly one NUL per key. A
      // token carrying an embedded NUL would mis-split silently and make
      // stateless scoring diverge from the fresh scorer (ADVICE r4);
      // lmToks treats NUL as whitespace so this cannot happen through
      // lmTables -- fail loudly if a caller compiles raw keys.
      require(cut >= 0 && k.indexOf('\u0000', cut + 1) < 0,
        s"bigram key must be w1+NUL+w2 with NUL-free tokens: " +
          k.replace('\u0000', '|'))
      val w1 = UTF8String.fromString(k.substring(0, cut))
      val w2 = UTF8String.fromString(k.substring(cut + 1))
      var inner = m.get(w1)
      if (inner == null) {
        inner = new JHashMap[UTF8String, java.lang.Long](4)
        m.put(w1, inner)
      }
      inner.put(w2, biVals(i))
      i += 1
    }
    m
  }

  /** One pass over the token array → (n_bigrams, nll_micro_sum). */
  def score(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    if (n < 2) return LmModel.zero
    var sum = 0L
    var w1 = tokens.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val w2 = tokens.getUTF8String(i + 1)
      val c1v = uni.get(w1)
      val c1 = if (c1v == null) 0L else c1v.longValue()
      val inner = bi.get(w1)
      val c12v = if (inner == null) null else inner.get(w2)
      val c12 = if (c12v == null) 0L else c12v.longValue()
      val p = (c12 + 1L).toDouble / (c1 + LmModel.Denom).toDouble
      sum += JBigDecimal.valueOf(-Math.log(p) * 1e6)
        .setScale(0, RoundingMode.HALF_UP).doubleValue().toLong
      w1 = w2
      i += 1
    }
    new GenericInternalRow(Array[Any]((n - 1).toLong, sum))
  }

  /** Generated-code-friendly accessor (avoids relying on Scala object
    * static forwarders from the Janino-compiled class). */
  def zeroRow(): InternalRow = LmModel.zero
}

object LmModel {

  /** V + 1 Laplace denominator offset (TextAnalysis.LmVocab + 1). */
  val Denom = 1001L

  /** Shared zero row for empty/sub-bigram docs (never mutated). */
  val zero: InternalRow = new GenericInternalRow(Array[Any](0L, 0L))

  /** `graft_lm_nll(tokens, uniKeys, uniVals, biKeys, biVals)` with the
    * model tables as sorted parallel-array literals (single `Literal`
    * nodes — cheap to plan, unlike an `isin`-style expression list). */
  def lmNll(tokens: Column, uniMap: Map[String, Long],
      biMap: Map[String, Long]): Column = {
    val u = uniMap.toSeq.sortBy(_._1)
    val b = biMap.toSeq.sortBy(_._1)
    Bridge.column(LmNll(Bridge.expression(tokens),
      Bridge.expression(typedlit(u.map(_._1))), Bridge.expression(typedlit(u.map(_._2))),
      Bridge.expression(typedlit(b.map(_._1))), Bridge.expression(typedlit(b.map(_._2)))))
  }
}

/** `graft_lm_nll(array<string>, array<string>, array<bigint>,
  * array<string>, array<bigint>) -> struct<n_bigrams, nll_micro_sum>`.
  *
  * The four model children must be foldable: they are evaluated ONCE
  * (lazily, per task) into the compiled [[LmModel]]; only the token
  * array is evaluated per row. A null token array scores as an empty
  * document (0 bigrams), matching `size(null) = -1` semantics of the
  * column formulation this replaces. */
case class LmNll(tokens: Expression, uniKeys: Expression, uniVals: Expression,
    biKeys: Expression, biVals: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(tokens, uniKeys, uniVals, biKeys, biVals)

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("nll_micro_sum", LongType, nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "graft_lm_nll"

  @transient private lazy val model: LmModel = {
    require(uniKeys.foldable && uniVals.foldable &&
      biKeys.foldable && biVals.foldable,
      "graft_lm_nll model arguments must be literals")
    def strs(e: Expression): Array[String] = {
      val a = e.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(i => a.getUTF8String(i).toString)
    }
    def longs(e: Expression): Array[Long] =
      e.eval(null).asInstanceOf[ArrayData].toLongArray()
    new LmModel(strs(uniKeys), longs(uniVals), strs(biKeys), longs(biVals))
  }

  override def eval(input: InternalRow): Any = {
    val t = tokens.eval(input)
    if (t == null) LmModel.zero else model.score(t.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lmModel", model, classOf[LmModel].getName)
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
      newChildren: IndexedSeq[Expression]): LmNll =
    LmNll(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}
