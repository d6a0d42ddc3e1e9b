package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, shiftright, struct}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst sketch expressions for the near-dup operators
  * (SURVEY.md §2.11): single-pass, codegen'd computation of MinHash and
  * SimHash document sketches from a normalized token array.
  *
  * This is the narrow-map replacement for the round-1
  * explode → groupBy(64 aggs) plan, which shuffled every token of the
  * corpus and recomputed that shuffle on both sides of the LSH
  * self-join; it also replaces the higher-order-function formulation
  * (`transform`/`sequence`/`element_at`), which breaks whole-stage
  * codegen and re-tokenizes the document per shingle in interpreted
  * mode (O(tokens²) regex work per doc — the round-1 sf0.1 bench spent
  * ~20 min here). At 100 TB the sketch is computed exactly once per
  * document inside the scan stage: zero shuffles, fixed-width output
  * (8 B SimHash / 64×8 B MinHash per doc) regardless of document size.
  *
  * Determinism: token hashes use the same XXH64(seed=42) as Spark's
  * built-in `xxhash64`; affine-permutation coefficients derive from a
  * fixed seed at class-load. A 1000-executor rerun reproduces identical
  * sketches (no per-partition or per-run state).
  */
object Sketch {

  /** Same Mersenne-ish prime Spark MLlib's MinHashLSH uses. */
  val Prime: Long = 2038074743L
  val NumPerm = 64

  /** Deterministic affine-permutation coefficients (seeded — never
    * Math.random at plan time). */
  val permA: Array[Long] = {
    val rng = new scala.util.Random(42)
    Array.fill(NumPerm)(1L + rng.nextInt((Prime - 1).toInt).toLong)
  }
  val permB: Array[Long] = {
    val rng = new scala.util.Random(43)
    Array.fill(NumPerm)(rng.nextInt(Prime.toInt).toLong)
  }

  /** Installs graft's whole SQL surface on the session (see
    * [[graft.GraftExtensions.install]]). The Column builders below build
    * their expressions directly and need no registration. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)

  /** 64-bit SimHash from `array<string>` tokens: per-bit ±1 votes over
    * per-occurrence token hashes, sign → bit. */
  def simhashTokens(tokens: Column): Column =
    Bridge.column(SimHashTokens(Bridge.expression(tokens)))

  /** MinHash shingle features from `array<string>` tokens:
    * `struct<sh_set: array<bigint>, sig: array<bigint>>` — the distinct
    * word-3-gram hash set and its 64-long MinHash signature. */
  def minhashShingles(tokens: Column): Column =
    Bridge.column(MinHashShingleFeatures(Bridge.expression(tokens)))

  /** Winnowing fingerprints (rolling hash, Schleimer et al. 2003) of a
    * normalized string: distinct sorted `array<bigint>`. */
  def winnow(text: Column): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text)))

  /** Single-pass per-document token-repetition stats (the Gopher-rule
    * quality signals: top-word fraction, duplicate-word and
    * duplicate-2-gram fractions) from `array<string>` tokens —
    * `struct<total_tokens, distinct_tokens, top_count, total_bigrams,
    * distinct_bigrams>` (all int). */
  def repetitionStats(tokens: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(tokens)))

  /** Distinct sorted XXH64 chain hashes of every word-n-gram in an
    * `array<string>` token array (whole-doc fallback below n tokens) —
    * `array<bigint>`. The 8-byte decontamination key WITHOUT ever
    * materializing the gram strings. */
  def wordGramHashes(tokens: Column, n: Int): Column =
    Bridge.column(WordGramHashes(Bridge.expression(tokens), Literal(n)))

  /** All ordered id pairs (a < b) from an id array —
    * `array<struct<doc1: bigint, doc2: bigint>>`. Turns a bounded
    * posting list into its C(n,2) co-occurrence pairs in one narrow
    * expression (the fast alternative to a posting-list self-join). */
  def idPairs(ids: Column): Column =
    Bridge.column(IdPairs(Bridge.expression(ids)))

  /** Hamming-filtered canonical pairs from a bucket's
    * `array<struct<doc_id, simhash>>` entries —
    * `array<struct<doc1, doc2, hamming>>`. The bucket-local pair kernel
    * of the SimHash near-dup join (see [[HammingPairs]]). */
  def hammingPairs(entries: Column, maxHamming: Int): Column =
    Bridge.column(HammingPairs(Bridge.expression(entries), Literal(maxHamming)))

  /** LSH banding: `(band_idx, band_val)` structs covering ALL 64 bits of
    * a sketch in `numBands` contiguous ranges (widths differ by ≤1 when
    * numBands does not divide 64). Shared by the SimHash and SRP
    * near-dup operators — one kernel, one set of recall characteristics. */
  def bandStructs(sketch: Column, numBands: Int): Seq[Column] = {
    require(numBands >= 1 && numBands <= 64, s"numBands=$numBands out of range")
    val lo = (0 to numBands).map(j => j * 64 / numBands)
    (0 until numBands).map { j =>
      val width = lo(j + 1) - lo(j)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(j).as("band_idx"),
        shiftright(sketch, lo(j)).bitwiseAND(mask).as("band_val"))
    }
  }
}

/** Shared 64-bit finalizer (SplitMix64) used by the winnow mixer and the
  * SRP sign derivation — ONE definition so the two cannot drift. */
private[functions] object Hashing {
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Single-pass sketch kernels, shared by interpreted `eval` and generated
  * code (the codegen for each expression is one static call — the loop
  * itself is JIT-compiled once, like Spark's own UTF8String intrinsics). */
object SketchOps {

  private final val Seed = 42L // xxhash64 builtin default seed

  /** Word-3-gram hashes (per position, duplicates included). Docs shorter
    * than 3 tokens fall back to one whole-doc gram. Gram hash = XXH64
    * chain over the gram's tokens (content-defined, position-independent). */
  private def gramHashes(tokens: ArrayData): Array[Long] = {
    val n = tokens.numElements()
    if (n < 3) {
      var h = Seed
      var i = 0
      while (i < n) { h = XXH64.hashUTF8String(tokens.getUTF8String(i), h); i += 1 }
      Array(h)
    } else {
      val out = new Array[Long](n - 2)
      var i = 0
      while (i <= n - 3) {
        var h = Seed
        h = XXH64.hashUTF8String(tokens.getUTF8String(i), h)
        h = XXH64.hashUTF8String(tokens.getUTF8String(i + 1), h)
        h = XXH64.hashUTF8String(tokens.getUTF8String(i + 2), h)
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** struct(sh_set: distinct sorted gram hashes, sig: 64 affine-permutation
    * minima). Docs shorter than 3 tokens (including the empty string,
    * which tokenizes to one empty token) collapse to a single whole-doc
    * gram, so the gram set is never empty and the signature always
    * reflects ≥1 hash. */
  def minhashFeatures(tokens: ArrayData): InternalRow = {
    val grams = gramHashes(tokens)
    java.util.Arrays.sort(grams)
    // distinct in place (sorted)
    var m = 0
    var i = 0
    while (i < grams.length) {
      if (m == 0 || grams(i) != grams(m - 1)) { grams(m) = grams(i); m += 1 }
      i += 1
    }
    val shSet = java.util.Arrays.copyOf(grams, m)
    val p = Sketch.Prime
    val sig = Array.fill(Sketch.NumPerm)(p)
    i = 0
    while (i < m) {
      val base = ((shSet(i) % p) + p) % p
      var j = 0
      while (j < Sketch.NumPerm) {
        val v = (Sketch.permA(j) * base + Sketch.permB(j)) % p
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(shSet), new GenericArrayData(sig)))
  }

  /** Winnowing (Schleimer, Wilkerson, Aiken — "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003): rolling
    * polynomial hash over byte [[WinnowK]]-grams, robust-winnowing
    * window of [[WinnowW]] (rightmost minimum) → distinct sorted
    * fingerprint array. Guarantees: any shared substring of length
    * ≥ WinnowK + WinnowW − 1 yields a shared fingerprint. */
  final val WinnowK = 8
  final val WinnowW = 4

  def winnow(text: org.apache.spark.unsafe.types.UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < WinnowK) {
      // shorter than one gram: fingerprint the whole text
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 257 + (bytes(i) & 0xFF); i += 1 }
      return new GenericArrayData(Array(mix(h)))
    }
    val nGrams = n - WinnowK + 1
    val hashes = new Array[Long](nGrams)
    // rolling polynomial hash, base 257 mod 2^64
    var h = 0L
    var pow = 1L // 257^(K-1)
    var i = 0
    while (i < WinnowK) {
      h = h * 257 + (bytes(i) & 0xFF)
      if (i < WinnowK - 1) pow *= 257
      i += 1
    }
    hashes(0) = mix(h)
    i = 1
    while (i < nGrams) {
      h = (h - (bytes(i - 1) & 0xFF) * pow) * 257 + (bytes(i + WinnowK - 1) & 0xFF)
      hashes(i) = mix(h)
      i += 1
    }
    // robust winnowing: rightmost minimum of each window of WinnowW
    val picked = new java.util.TreeSet[java.lang.Long]()
    var start = 0
    val lastStart = nGrams - WinnowW
    if (lastStart < 0) {
      var m = hashes(0); i = 1
      while (i < nGrams) { if (hashes(i) <= m) m = hashes(i); i += 1 }
      picked.add(m)
    } else {
      while (start <= lastStart) {
        var mIdx = start
        var j = start + 1
        while (j < start + WinnowW) {
          if (hashes(j) <= hashes(mIdx)) mIdx = j // rightmost min
          j += 1
        }
        picked.add(hashes(mIdx))
        start += 1
      }
    }
    val out = new Array[Long](picked.size())
    val it = picked.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  private def mix(x: Long): Long = Hashing.splitmix64(x)

  /** Hard ceiling on one posting/bucket list fed to [[idPairs]]
    * (C(4096,2) ≈ 8.4 M pairs ≈ 130 MB of structs — the largest buffer
    * one bucket may pin). The winnow caller filters hot posting lists
    * away below this (stop-fingerprints carry no signal); the minhash
    * caller CANNOT drop a hot band bucket without losing recall, so a
    * bucket past the cap — ≥4096 docs agreeing on a 4-row signature
    * slice, i.e. a mass-duplicate corpus whose true pair volume is
    * quadratic for any enumeration — fails loudly with remediation
    * instead of OOMing the executor (the MaxPairsPerBucket rule). */
  val MaxIdPairsBucket: Int = 4096

  /** Sorted (a, b) a<b pairs from an id array — the [[IdPairs]] kernel.
    * Output size is C(n,2); callers bound n (stop-fingerprint cap),
    * [[MaxIdPairsBucket]] backstops the ones that can't. */
  def idPairs(ids: ArrayData): GenericArrayData = {
    val n = ids.numElements()
    if (n > MaxIdPairsBucket)
      throw new IllegalStateException(
        s"id-pair bucket of $n entries > $MaxIdPairsBucket (mass-duplicate " +
          "corpus: one LSH band bucket's pair volume is quadratic): run " +
          "exact dedup first so band buckets discriminate")
    val sorted = new Array[Long](n)
    var i = 0
    while (i < n) { sorted(i) = ids.getLong(i); i += 1 }
    java.util.Arrays.sort(sorted)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](sorted(i), sorted(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hamming-filtered (doc1 < doc2, hamming) pairs from a bucket's
    * (id, sketch) entries — the [[HammingPairs]] kernel. The pair
    * ENUMERATION runs in-memory at a few ns/pair (vs ~150 ns/pair for
    * the same enumeration through a sort-merge self-join's row
    * machinery); only PASSING pairs materialize, so output (and memory)
    * is bounded by the bucket's true near-dup count, not its size.
    *
    * Buckets larger than [[MaxBucketEntries]] are NOT enumerated
    * directly: they are recursively re-bucketed on (maxHamming+1)
    * sub-bands of the sketch bits (pigeonhole: a pair with ≤ maxHamming
    * differing bits shares at least one of maxHamming+1 disjoint bit
    * slices, so recall stays exact), which cuts a saturated bucket's
    * C(n,2) enumeration — ~5·10¹³ ops for a 10⁷-entry bucket of
    * correlated sketches — down to the sum of small leaf enumerations.
    * Recursion consumes fresh bit slices each level, so it terminates
    * even on identical sketches (at which point every pair genuinely
    * passes and [[MaxPairsPerBucket]] governs). */
  /** Hard ceiling on PASSING pairs buffered for one bucket (~70 MB of
    * rows) — a near-dup-saturated bucket (mass templated text, which
    * exact dedup does NOT remove) would otherwise grow the buffer
    * toward C(n,2) and OOM the executor where the old streaming join
    * merely slowed down. With sub-band splitting this fires only when
    * the bucket's true pair VOLUME is quadratic (output no correct
    * algorithm could avoid emitting) — failing loudly with the
    * remediation beats both silent truncation and an OOM. */
  val MaxPairsPerBucket: Int = 1 << 20

  /** Buckets above this size take the sub-band split path; below it, the
    * direct C(n,2) loop (≤ ~8.4 M bitCount ops, sub-ms). */
  val MaxBucketEntries: Int = 4096

  def hammingPairs(entries: ArrayData, maxHamming: Int): GenericArrayData =
    hammingPairs(entries, maxHamming, MaxBucketEntries)

  /** [[hammingPairs]] with an explicit split threshold (test seam — the
    * recursion property is checked at tiny thresholds against brute
    * force). */
  def hammingPairs(entries: ArrayData, maxHamming: Int,
      maxBucket: Int): GenericArrayData = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val shs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = entries.getStruct(i, 2)
      ids(i) = r.getLong(0)
      shs(i) = r.getLong(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    // Entry-index pair dedup across overlapping sub-buckets (a pair can
    // share several sub-bands); only allocated on the split path, and
    // only PASSING pairs enter it, so size ≤ MaxPairsPerBucket.
    var seen: java.util.HashSet[java.lang.Long] = null

    def enumerate(members: Array[Int]): Unit = {
      val m = members.length
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          val a = members(i)
          val b = members(j)
          val h = java.lang.Long.bitCount(shs(a) ^ shs(b))
          if (h <= maxHamming && ids(a) != ids(b)) {
            val lo = math.min(a, b).toLong
            val hi = math.max(a, b).toLong
            if (seen == null || seen.add((lo << 32) | hi)) {
              if (out.length >= MaxPairsPerBucket)
                throw new IllegalStateException(
                  s"simhash bucket yields > $MaxPairsPerBucket passing pairs " +
                    "(mass near-duplicate corpus): run exact dedup first and/or " +
                    "widen the sketch so buckets discriminate")
              out += new GenericInternalRow(Array[Any](
                math.min(ids(a), ids(b)), math.max(ids(a), ids(b)), h))
            }
          }
          j += 1
        }
        i += 1
      }
    }

    // Recursively split `members` on (maxHamming+1) slices of the still-
    // available bit positions. Every level consumes its slice, so avail
    // strictly shrinks → termination; when avail can no longer feed one
    // bit per sub-band, members differ in ≤ avail.length ≤ maxHamming
    // bits and the leaf enumeration is the genuine output.
    def split(members: Array[Int], avail: Array[Int]): Unit = {
      val g = maxHamming + 1
      if (members.length <= maxBucket || members.length < 2 || avail.length < g) {
        if (members.length >= 2) enumerate(members)
        return
      }
      val base = avail.length / g
      val rem = avail.length % g
      var s = 0
      var start = 0
      while (s < g) {
        val len = base + (if (s < rem) 1 else 0)
        var mask = 0L
        var b = start
        while (b < start + len) { mask |= 1L << avail(b); b += 1 }
        val nextAvail = new Array[Int](avail.length - len)
        System.arraycopy(avail, 0, nextAvail, 0, start)
        System.arraycopy(avail, start + len, nextAvail, start,
          avail.length - start - len)
        val groups = new java.util.HashMap[java.lang.Long,
          scala.collection.mutable.ArrayBuffer[Int]]()
        var k = 0
        while (k < members.length) {
          val m = members(k)
          groups.computeIfAbsent(shs(m) & mask,
            _ => new scala.collection.mutable.ArrayBuffer[Int]()) += m
          k += 1
        }
        groups.values.forEach { grp =>
          if (grp.length >= 2) split(grp.toArray, nextAvail)
        }
        start += len
        s += 1
      }
    }

    if (n <= maxBucket) {
      // Common case: direct loop, no dedup-set overhead.
      enumerate(Array.range(0, n))
    } else {
      seen = new java.util.HashSet[java.lang.Long]()
      split(Array.range(0, n), Array.range(0, 64))
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct sorted word-n-gram chain hashes (XXH64 over the gram's
    * tokens, same per-token chaining as [[gramHashes]]) — the
    * decontamination key kernel. Hash-equivalent to
    * xxhash64(array_join(slice(tokens, i, n), ' ')) decisions (chains
    * collide only where the joined strings would), but never builds a
    * gram string and never runs the interpreted HOF slice/join chain:
    * one JIT'd pass, 8 B per distinct gram out. */
  def wordGramHashes(tokens: ArrayData, n: Int): GenericArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) {
      var h = Seed
      var i = 0
      while (i < cnt) { h = XXH64.hashUTF8String(tokens.getUTF8String(i), h); i += 1 }
      new GenericArrayData(Array(h))
    } else {
      val out = new Array[Long](cnt - n + 1)
      var i = 0
      while (i <= cnt - n) {
        var h = Seed
        var j = i
        while (j < i + n) { h = XXH64.hashUTF8String(tokens.getUTF8String(j), h); j += 1 }
        out(i) = h
        i += 1
      }
      java.util.Arrays.sort(out)
      var m = 0
      var k = 0
      while (k < out.length) {
        if (m == 0 || out(k) != out(m - 1)) { out(m) = out(k); m += 1 }
        k += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, m))
    }
  }

  /** Per-doc token-repetition stats in ONE pass over the token array
    * (Rae et al. 2021 "Gopher" repetition filters, reduced to their
    * sufficient statistics). Exact string counting — a java HashMap per
    * document, bounded by document size — so the result is identical to
    * a SQL unnest+GROUP BY and DuckDB can oracle it; the point of the
    * kernel is doing it without exploding the token stream through a
    * (doc_id, token) exchange (at 100 TB that shuffle is the whole
    * corpus; this is a narrow scan-stage projection emitting 20 B/doc). */
  def repetitionStats(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    val counts = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Int](Math.max(16, n * 2))
    var top = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val c = counts.merge(t, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    // distinct bigrams: adjacent token pairs joined by a single space —
    // exactly DuckDB's toks[i] || ' ' || toks[i+1]
    val bigrams = new java.util.HashSet[String](Math.max(16, n * 2))
    i = 0
    while (i < n - 1) {
      bigrams.add(tokens.getUTF8String(i).toString + " " + tokens.getUTF8String(i + 1).toString)
      i += 1
    }
    new GenericInternalRow(Array[Any](
      n, counts.size(), top, Math.max(0, n - 1), bigrams.size()))
  }

  /** 64-bit SimHash: ±1 votes per bit over per-occurrence token hashes. */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = XXH64.hashUTF8String(tokens.getUTF8String(i), Seed)
      var k = 0
      while (k < 64) {
        counts(k) += (if (((h >>> k) & 1L) == 1L) 1 else -1)
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) > 0) out |= (1L << k)
      k += 1
    }
    out
  }
}

/** `graft_simhash(array<string>) -> bigint`. */
case class SimHashTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SketchOps.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SketchOps.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashTokens =
    copy(child = newChild)
}

/** `graft_winnow(string) -> array<bigint>` — winnowing fingerprints. */
case class WinnowFingerprints(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    SketchOps.winnow(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SketchOps.winnow($c);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** `graft_id_pairs(array<bigint>) -> array<struct<doc1,doc2>>`. */
case class IdPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc1", LongType, nullable = false),
    StructField("doc2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_id_pairs"

  override protected def nullSafeEval(input: Any): Any =
    SketchOps.idPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SketchOps.idPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): IdPairs =
    copy(child = newChild)
}

/** `graft_hamming_pairs(array<struct<doc_id, simhash>>, int) ->
  * array<struct<doc1, doc2, hamming>>`. */
case class HammingPairs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(s: StructType, _), IntegerType)
          if s.length == 2 && s.forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_hamming_pairs expects (array<struct<bigint, bigint>>, int), " +
          s"got ($l, $r)")
    }
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc1", LongType, nullable = false),
    StructField("doc2", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_hamming_pairs"

  override protected def nullSafeEval(entries: Any, maxH: Any): Any =
    SketchOps.hammingPairs(entries.asInstanceOf[ArrayData],
      maxH.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, h) =>
      s"${ev.value} = graft.functions.SketchOps.hammingPairs($e, $h);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingPairs =
    copy(left = newLeft, right = newRight)
}

/** `graft_repetition(array<string>) -> struct<total_tokens, distinct_tokens,
  * top_count, total_bigrams, distinct_bigrams>` (all int). */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("total_tokens", IntegerType, nullable = false),
    StructField("distinct_tokens", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false),
    StructField("total_bigrams", IntegerType, nullable = false),
    StructField("distinct_bigrams", IntegerType, nullable = false)))
  override def prettyName: String = "graft_repetition"

  override protected def nullSafeEval(input: Any): Any =
    SketchOps.repetitionStats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SketchOps.repetitionStats($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** `graft_word_gram_hashes(array<string>, int) -> array<bigint>` —
  * distinct sorted word-n-gram chain hashes. */
case class WordGramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_gram_hashes"

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    SketchOps.wordGramHashes(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (t, n) => s"${ev.value} = graft.functions.SketchOps.wordGramHashes($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordGramHashes =
    copy(left = newLeft, right = newRight)
}

/** `graft_minhash_shingles(array<string>)
  *   -> struct<sh_set: array<bigint>, sig: array<bigint>>`. */
case class MinHashShingleFeatures(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("sh_set", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_minhash_shingles"

  override protected def nullSafeEval(input: Any): Any =
    SketchOps.minhashFeatures(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SketchOps.minhashFeatures($c);")

  override protected def withNewChildInternal(newChild: Expression): MinHashShingleFeatures =
    copy(child = newChild)
}
