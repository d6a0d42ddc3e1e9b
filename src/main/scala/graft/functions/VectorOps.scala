package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst vector expressions for the similarity-search operators
  * (SURVEY.md §2.11): exact cosine similarity and a 64-bit
  * sign-random-projection (SRP) sketch over `array<float>` embeddings.
  *
  * Same design as [[Sketch]]: single-pass JIT-friendly kernels invoked
  * from both interpreted eval and one-line generated code, so the whole
  * scan stage stays inside whole-stage codegen. A higher-order-function
  * formulation (`aggregate`/`zip_with`) would break codegen and pay
  * per-element interpreted dispatch — the exact pathology removed from
  * the dedup operators.
  *
  * SRP: bit j of the sketch is the sign of Σ_d s(j,d)·x_d with
  * Rademacher ±1 entries s(j,d) derived from SplitMix64(j,d) — fully
  * deterministic across executors/runs, no stored projection matrix.
  * P[bit differs] = angle/π, so hamming distance estimates cosine
  * (cos θ ≈ cos(π·hamming/64)) and the SimHash banding machinery applies
  * unchanged to embeddings.
  */
object VectorOps {

  /** Installs graft's whole SQL surface on the session (see
    * [[graft.GraftExtensions.install]]). The Column builders below build
    * their expressions directly and need no registration. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)

  /** Exact cosine similarity of two `array<float>` vectors, accumulated
    * in double (deterministic left-to-right). */
  def cosine(x: Column, y: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(x), Bridge.expression(y)))

  /** 64-bit SRP sketch of an `array<float>` vector. */
  def srp64(x: Column): Column = Bridge.column(Srp64(Bridge.expression(x)))

  /** Squared L2 distance of two `array<float>` vectors (PQ training
    * metric). */
  def l2sq(x: Column, y: Column): Column =
    Bridge.column(L2Sq(Bridge.expression(x), Bridge.expression(y)))

  /** Cluster-local semantic-duplicate pairs (SemDeDup kernel). */
  def cosinePairs(entries: Column, tau: Column): Column =
    Bridge.column(CosinePairs(Bridge.expression(entries), Bridge.expression(tau)))

  /** Side-aware pair kernel for the blocked decomposition of oversized
    * cells (entries carry (vec_id, embedding, side)). */
  def cosinePairsCross(entries: Column, tau: Column): Column =
    Bridge.column(CosinePairsCross(Bridge.expression(entries), Bridge.expression(tau)))
}

/** Kernels shared by interpreted eval and generated code. */
object VectorSketchOps {

  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"l2sq: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // fail fast like the DuckDB oracle (list_cosine_similarity errors on
    // mismatched lengths) — silent truncation would return a plausible
    // but wrong score for corrupt embeddings
    require(n == b.numElements(),
      s"cosine: dimension mismatch ($n vs ${b.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private def splitmix64(seed: Long): Long = Hashing.splitmix64(seed)

  /** Per-dimension packed signs: bit j of signs(d) is the Rademacher
    * entry s(j,d). Cached per dimensionality (deterministic contents). */
  private val signCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  private def signs(dim: Int): Array[Long] =
    signCache.computeIfAbsent(dim, _ => {
      val out = new Array[Long](dim)
      var d = 0
      while (d < dim) {
        var bits = 0L
        var j = 0
        while (j < 64) {
          if ((splitmix64(j.toLong * 1000003L + d) & 1L) == 1L) bits |= (1L << j)
          j += 1
        }
        out(d) = bits
        d += 1
      }
      out
    })

  /** Clusters above this size take the recursive sub-cluster path; below
    * it, the direct C(n,2) cosine loop (≤ ~8.4 M dot products, ~ms at
    * dim 64). */
  val MaxClusterEntries: Int = 4096

  /** Hard ceiling on PASSING pairs buffered for one cluster — the same
    * loud-failure posture as [[SketchOps.MaxPairsPerBucket]]: with
    * sub-clustering, hitting it means the cluster's true semantic-dup
    * volume is quadratic (output no correct algorithm could avoid), and
    * failing with remediation beats an executor OOM. */
  val MaxPairsPerCluster: Int = 1 << 20

  /** Sub-seed fan-out of the recursive split (√MaxClusterEntries-ish —
    * two levels re-bucket a 10⁷-entry skew cluster to ~10⁵ leaves). */
  private val SubSeeds = 8

  /** Depth cap: SubSeeds^24 ≫ any real cluster; reaching it means the
    * split is not discriminating (mass same-direction corpus) and the
    * leaf enumerates under the pair cap. */
  private val MaxSplitDepth = 24

  /** All (v1 < v2, cosine ≥ tau) pairs from ONE cluster's
    * (vec_id, embedding) entries — the [[CosinePairs]] kernel behind
    * `Similarity.semDedupPairs`. Same design as
    * [[SketchOps.hammingPairs]]: the pair enumeration runs in-memory at
    * ~dim ns/pair instead of paying a sort-merge self-join's ~150 ns/pair
    * row machinery, and only PASSING pairs materialize, so output size is
    * bounded by the cluster's true dup count, not C(n,2).
    *
    * Clusters above [[MaxClusterEntries]] are recursively SUB-CLUSTERED
    * on deterministic seeds (the `SubSeeds` lowest-id members,
    * argmax-cosine assignment, first-seed tie-break) — the operator's own
    * coarse clustering applied one level down, so the split inherits
    * SemDeDup's cluster-local semantics: identical-DIRECTION duplicates
    * have bit-identical cosines to every seed and co-assign at every
    * depth (their recall is exact — the planted oracle gate relies on
    * this), while a merely-near pair can straddle a sub-cluster boundary
    * exactly as it can straddle the top-level clustering (a boundary miss
    * SemDeDup accepts by construction). A level whose largest sub-cluster
    * fails to shrink (mass same-direction membership) enumerates directly
    * under [[MaxPairsPerCluster]].
    *
    * Members are sorted by vec_id up front, so seeds, tie-breaks, and
    * the output SET are independent of `collect_list` arrival order. */
  def cosinePairs(entries: ArrayData, tau: Double): GenericArrayData =
    cosinePairs(entries, tau, MaxClusterEntries, MaxPairsPerCluster)

  /** [[cosinePairs]] with explicit split/cap thresholds (test seam — the
    * recursion property is checked at tiny thresholds against brute
    * force). */
  def cosinePairs(entries: ArrayData, tau: Double, maxCluster: Int,
      maxPairs: Int): GenericArrayData = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    var i = 0
    while (i < n) {
      val r = entries.getStruct(i, 2)
      ids(i) = r.getLong(0)
      vecs(i) = r.getArray(1).toFloatArray()
      i += 1
    }
    pairsCore(ids, vecs, sides = null, tau, maxCluster, maxPairs)
  }

  /** Side-aware variant behind `Similarity.cellPairs`'s BLOCKED
    * decomposition of oversized cells: entries carry a third `side`
    * field (0 = p-slice, 1 = q-slice of a triangle task). With any
    * side-1 member present, only CROSS-side pairs are emitted — each
    * within-slice pair belongs to that slice's diagonal task, so the
    * union over a cell's tasks is exactly every within-cell pair, no
    * dedup pass. All-side-0 input (diagonal tasks and un-split cells)
    * takes the identical code path as [[cosinePairs]]. */
  def cosinePairsCross(entries: ArrayData, tau: Double): GenericArrayData =
    cosinePairsCross(entries, tau, MaxClusterEntries, MaxPairsPerCluster)

  def cosinePairsCross(entries: ArrayData, tau: Double, maxCluster: Int,
      maxPairs: Int): GenericArrayData = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val sides = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = entries.getStruct(i, 3)
      ids(i) = r.getLong(0)
      vecs(i) = r.getArray(1).toFloatArray()
      sides(i) = r.getInt(2)
      i += 1
    }
    pairsCore(ids, vecs, sides, tau, maxCluster, maxPairs)
  }

  /** Shared enumeration core. `sides == null` (or all-zero) = one
    * cluster: recursive sub-cluster split + C(n,2) leaves, exactly the
    * historical [[cosinePairs]] behavior. Mixed sides = a cross task:
    * direct side0×side1 loop (membership is bounded by the DataFrame
    * layer's slicing, so no recursion is needed). */
  private def pairsCore(ids: Array[Long], vecs: Array[Array[Float]],
      sides: Array[Int], tau: Double, maxCluster: Int,
      maxPairs: Int): GenericArrayData = {
    val n = ids.length
    val nsq = new Array[Double](n)
    var i0 = 0
    while (i0 < n) {
      val v = vecs(i0)
      var s = 0.0
      var d = 0
      while (d < v.length) { val x = v(d).toDouble; s += x * x; d += 1 }
      nsq(i0) = s
      i0 += 1
    }
    // pairwise cosine with the exact accumulation order and zero-norm
    // convention of [[cosine]] (dot left-to-right, dot / sqrt(na*nb))
    def cos(a: Int, b: Int): Double = {
      val va = vecs(a); val vb = vecs(b)
      require(va.length == vb.length,
        s"cosinePairs: dimension mismatch (${va.length} vs ${vb.length})")
      var dot = 0.0
      var d = 0
      while (d < va.length) { dot += va(d).toDouble * vb(d).toDouble; d += 1 }
      if (nsq(a) == 0.0 || nsq(b) == 0.0) 0.0 else dot / math.sqrt(nsq(a) * nsq(b))
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()

    def emit(a: Int, b: Int): Unit =
      if (ids(a) != ids(b)) {
        val c = cos(a, b)
        if (c >= tau) {
          if (out.length >= maxPairs)
            throw new IllegalStateException(
              s"semantic-dup cluster yields > $maxPairs passing pairs " +
                "(mass same-direction corpus): run exact dedup first " +
                "and/or raise tau / the cluster count")
          out += new GenericInternalRow(Array[Any](
            math.min(ids(a), ids(b)), math.max(ids(a), ids(b)), c))
        }
      }

    def enumerate(members: Array[Int]): Unit = {
      val m = members.length
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) { emit(members(i), members(j)); j += 1 }
        i += 1
      }
    }

    // members arrive sorted by vec_id; each level seeds on its first
    // SubSeeds members and partitions by argmax cosine (strict >, so a
    // tie keeps the LOWEST seed — identical-direction twins share every
    // cosine bit-for-bit and therefore every assignment).
    def split(members: Array[Int], depth: Int): Unit = {
      if (members.length < 2) return
      if (members.length <= maxCluster || depth >= MaxSplitDepth) {
        enumerate(members); return
      }
      val g = math.min(SubSeeds, members.length)
      val groups = Array.fill(g)(new scala.collection.mutable.ArrayBuffer[Int]())
      var k = 0
      while (k < members.length) {
        val m = members(k)
        var best = 0; var bestC = Double.NegativeInfinity
        var s = 0
        while (s < g) {
          val c = cos(m, members(s))
          if (c > bestC) { bestC = c; best = s }
          s += 1
        }
        groups(best) += m
        k += 1
      }
      if (groups.exists(_.length == members.length)) { enumerate(members); return }
      groups.foreach(grp => split(grp.toArray, depth + 1))
    }

    // index lists sorted by vec_id (order-independence of the output)
    val byId = Array.range(0, n).sortBy(ids(_))
    val hasCross = sides != null && sides.exists(_ == 1)
    if (hasCross) {
      val a = byId.filter(sides(_) == 0)
      val b = byId.filter(sides(_) == 1)
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) { emit(a(i), b(j)); j += 1 }
        i += 1
      }
    } else split(byId, 0)
    new GenericArrayData(out.toArray)
  }

  def srp64(a: ArrayData): Long = {
    val dim = a.numElements()
    val s = signs(dim)
    val acc = new Array[Double](64)
    var d = 0
    while (d < dim) {
      val x = a.getFloat(d).toDouble
      val bits = s(d)
      var j = 0
      while (j < 64) {
        acc(j) += (if (((bits >>> j) & 1L) == 1L) x else -x)
        j += 1
      }
      d += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** `graft_cosine(array<float>, array<float>) -> double`. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorSketchOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = graft.functions.VectorSketchOps.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `graft_srp64(array<float>) -> bigint`. */
case class Srp64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp64"

  override protected def nullSafeEval(input: Any): Any =
    VectorSketchOps.srp64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.VectorSketchOps.srp64($c);")

  override protected def withNewChildInternal(newChild: Expression): Srp64 =
    copy(child = newChild)
}

/** `graft_l2sq(array<float>, array<float>) -> double`. */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorSketchOps.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = graft.functions.VectorSketchOps.l2sq($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

/** `graft_cosine_pairs(array<struct<vec_id, embedding array<float>>>,
  * double) -> array<struct<v1, v2, cosine>>` — see
  * [[VectorSketchOps.cosinePairs]]. */
case class CosinePairs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(s: StructType, _), DoubleType)
          if s.length == 2 && s(0).dataType == LongType &&
            (s(1).dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_cosine_pairs expects (array<struct<bigint, array<float>>>, " +
          s"double), got ($l, $r)")
    }
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v1", LongType, nullable = false),
    StructField("v2", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cosine_pairs"

  override protected def nullSafeEval(entries: Any, tau: Any): Any =
    VectorSketchOps.cosinePairs(entries.asInstanceOf[ArrayData],
      tau.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, t) =>
      s"${ev.value} = graft.functions.VectorSketchOps.cosinePairs($e, $t);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosinePairs =
    copy(left = newLeft, right = newRight)
}

/** `graft_cosine_pairs_cross(array<struct<vec_id, embedding array<float>,
  * side int>>, double) -> array<struct<v1, v2, cosine>>` — see
  * [[VectorSketchOps.cosinePairsCross]]. */
case class CosinePairsCross(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(s: StructType, _), DoubleType)
          if s.length == 3 && s(0).dataType == LongType &&
            (s(1).dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) && s(2).dataType == IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_cosine_pairs_cross expects (array<struct<bigint, " +
          s"array<float>, int>>, double), got ($l, $r)")
    }
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v1", LongType, nullable = false),
    StructField("v2", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cosine_pairs_cross"

  override protected def nullSafeEval(entries: Any, tau: Any): Any =
    VectorSketchOps.cosinePairsCross(entries.asInstanceOf[ArrayData],
      tau.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, t) =>
      s"${ev.value} = graft.functions.VectorSketchOps.cosinePairsCross($e, $t);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosinePairsCross =
    copy(left = newLeft, right = newRight)
}
