package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled BPE encoder (the [[QualityModel]]/[[LmModel]] pattern
  * applied to subword tokenization): the frozen ranked merge table
  * compiles once per task into flat arrays, and a whole token array
  * encodes in one tight kernel loop.
  *
  * Replaces the optimization-round-measured hot path in
  * `graft.operators.Bpe.encodeUnits`: one interpreted higher-order
  * `aggregate` fold PER MERGE PER WORD, each rebuilding its accumulator
  * array element by element (`concat(slice(...))`) — 24 pinned merges
  * made that ~24 interpreted array rebuilds per word, the dominant cost
  * of the crawl-pipeline stage at sf0.1. Semantics are replicated
  * exactly (BpeSpec pins kernel ≡ fold and the DuckDB oracle replays
  * the fold form):
  *
  *  - base units are per-CODEPOINT substrings, matching
  *    `substr(i, 1)`'s code-point semantics ('' → empty array);
  *  - each merge is one left-to-right pass; an adjacent (a, b) pair
  *    becomes a+b and the scan continues AFTER the merged unit (with
  *    merge (a,a), "aaaa" → [aa, aa]) — identical to the fold's
  *    `acc.last == a && x == b` rule;
  *  - merges apply strictly in rank order.
  */
final class BpeModel(pairs: Array[(String, String, UTF8String)])
    extends Serializable {

  /** Encode ONE word into its unit array. */
  def encodeWord(word: UTF8String): Array[UTF8String] = {
    val s = word.toString
    if (s.isEmpty) return Array.empty
    // base: one unit per codepoint
    var units = new Array[String](s.codePointCount(0, s.length))
    var off = 0; var i = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      val n = Character.charCount(cp)
      units(i) = s.substring(off, off + n)
      off += n; i += 1
    }
    var len = units.length
    var m = 0
    while (m < pairs.length) {
      val a = pairs(m)._1; val b = pairs(m)._2
      val ab = a + b
      // one left-to-right pass, in place: out <= in
      var w = 0; var r = 0
      while (r < len) {
        val x = units(r)
        if (w > 0 && units(w - 1) == a && x == b) units(w - 1) = ab
        else { units(w) = x; w += 1 }
        r += 1
      }
      len = w
      m += 1
    }
    val out = new Array[UTF8String](len)
    var j = 0
    while (j < len) { out(j) = UTF8String.fromString(units(j)); j += 1 }
    out
  }

  /** Encode a whole token array into the FLATTENED unit array — the
    * `flatten(transform(toks, w => encodeUnits(w)))` shape in one
    * kernel call. Null tokens contribute nothing (the fold form never
    * sees null tokens either: the shared tokenizers split non-null
    * strings). */
  def encodeAll(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val buf = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < n) {
      // a null token element nulls the WHOLE result: the reference
      // shape is flatten(transform(toks, w => fold(w))), where fold of
      // a null word is null and flatten of an array holding a null
      // element is null (ADVICE r15 — the oracle replays the fold)
      if (tokens.isNullAt(i)) return null
      val us = encodeWord(tokens.getUTF8String(i))
      var j = 0
      while (j < us.length) { buf += us(j); j += 1 }
      i += 1
    }
    new GenericArrayData(buf.toArray[Any])
  }

  def encodeOne(word: UTF8String): ArrayData =
    new GenericArrayData(encodeWord(word).toArray[Any])
}

object BpeOps {

  private def mergesLit(merges: Seq[(String, String)]): Expression =
    Bridge.expression(typedlit(merges.map(p => (p._1, p._2))))

  /** `graft_bpe_encode(word, merges)` — unit array of one word. */
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(word), mergesLit(merges), flat = false))

  /** `graft_bpe_encode_all(tokens, merges)` — flattened units of a
    * whole token array. */
  def encodeAll(tokens: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(tokens), mergesLit(merges), flat = true))
}

/** `graft_bpe_encode(string, array<struct<a,b>>) -> array<string>` /
  * `graft_bpe_encode_all(array<string>, merges) -> array<string>`.
  * The merge child must be foldable — compiled once (lazily, per task)
  * into the [[BpeModel]]; only the word/token child is evaluated per
  * row. Null propagates (ADVICE r15): the reference fold — which the
  * DuckDB oracle replays — yields NULL for a null word, a null token
  * array, or a token array holding a null element (flatten of a null
  * element is null); the kernel must match or the fingerprints diverge
  * the first time a null reaches them. */
case class BpeEncode(input: Expression, merges: Expression, flat: Boolean)
    extends Expression {

  override def children: Seq[Expression] = Seq(input, merges)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (flat) "graft_bpe_encode_all" else "graft_bpe_encode"

  @transient private lazy val model: BpeModel = {
    require(merges.foldable, s"$prettyName merges must be literal")
    val arr = merges.eval(null).asInstanceOf[ArrayData]
    val pairs = new Array[(String, String, UTF8String)](arr.numElements())
    var i = 0
    while (i < pairs.length) {
      val row = arr.getStruct(i, 2)
      val a = row.getUTF8String(0).toString
      val b = row.getUTF8String(1).toString
      pairs(i) = (a, b, UTF8String.fromString(a + b))
      i += 1
    }
    new BpeModel(pairs)
  }

  def evalWord(w: Any): ArrayData =
    if (w == null) null
    else model.encodeOne(w.asInstanceOf[UTF8String])

  def evalAll(t: Any): ArrayData =
    if (t == null) null
    else model.encodeAll(t.asInstanceOf[ArrayData])

  override def eval(row: InternalRow): Any =
    if (flat) evalAll(input.eval(row)) else evalWord(input.eval(row))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    val in = input.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val call = if (flat) "evalAll" else "evalWord"
    ev.copy(
      code = code"""
        ${in.code}
        $javaType ${ev.value} = $self.$call(${in.isNull} ? null : ${in.value});
        boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BpeEncode =
    BpeEncode(newChildren(0), newChildren(1), flat)
}
