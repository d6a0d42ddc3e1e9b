package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Unit tests for the native sketch expressions and the near-dup
  * operators built on them. */
class SketchSpec extends SparkSpecBase {

  import testImplicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "the quick brown fox jumps over the lazy cat again and again" // 1 word swap
  private val docC = "completely unrelated text about spark catalyst expressions and parquet"

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("identical text ⇒ identical MinHash signature and shingle set") {
    val f = Dedup.minhashFeatures(docs(1L -> docA, 2L -> docA)).collect()
    val s1 = f.find(_.getLong(0) == 1).get
    val s2 = f.find(_.getLong(0) == 2).get
    assert(s1.getSeq[Long](1) == s2.getSeq[Long](1))
    assert(s1.getSeq[Long](2) == s2.getSeq[Long](2))
  }

  test("MinHash signature agreement approximates shingle Jaccard") {
    val f = Dedup.minhashFeatures(docs(1L -> docA, 2L -> docB, 3L -> docC)).collect()
    def sig(id: Long) = f.find(_.getLong(0) == id).get.getSeq[Long](2)
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    // true 3-gram Jaccard(A,B) = 7/13 ≈ 0.54; the 64-perm estimate
    // should land well inside [0.3, 0.8] while unrelated docs stay ~0.
    val nearAgree = agree(sig(1), sig(2))
    val farAgree = agree(sig(1), sig(3))
    assert(nearAgree > 0.3 && nearAgree < 0.8, s"near-dup signature agreement $nearAgree")
    assert(farAgree < 0.2, s"unrelated signature agreement $farAgree")
  }

  test("near-dup pipeline finds the planted pair and only it") {
    val d = docs(1L -> docA, 2L -> docB, 3L -> docC, 4L -> "another distinct document entirely different words")
    val pairs = Dedup.verifiedJaccard(d, Dedup.minhashCandidates(d))
      .filter(col("jaccard") >= 0.5)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("verified Jaccard value is exact") {
    val d = docs(1L -> docA, 2L -> docB)
    val j = Dedup.verifiedJaccard(d, Dedup.minhashCandidates(d))
      .collect().head.getAs[Double]("jaccard")
    // 12-token docs → 10 distinct 3-grams each; the word swap touches
    // 3 grams on each side: intersection 7, union 13.
    assert(math.abs(j - 7.0 / 13.0) < 1e-9, s"jaccard $j")
  }

  test("SimHash: near-dups close in hamming, unrelated docs far") {
    val sh = Dedup.simhash(docs(1L -> docA, 2L -> docB, 3L -> docC)).collect()
    def h(id: Long) = sh.find(_.getLong(0) == id).get.getLong(1)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1), h(2)) < 16, s"near hamming ${ham(h(1), h(2))}")
    assert(ham(h(1), h(3)) > 16, s"far hamming ${ham(h(1), h(3))}")
  }

  test("simhashPairs rejects thresholds the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs(1L -> docA), maxHamming = 64)
    }
  }

  test("winnowing: shared substring ⇒ shared fingerprints, identical docs ⇒ identical sets") {
    val shared = "this exact phrase is long enough to guarantee a shared winnow fingerprint"
    val d = docs(
      1L -> s"prefix one $shared suffix alpha",
      2L -> s"different lead-in $shared and another tail",
      3L -> "nothing in common with the others at all, completely disjoint content")
    val f = Dedup.winnowFeatures(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((f(1L) & f(2L)).nonEmpty, "shared substring must share fingerprints")
    assert((f(1L) & f(3L)).isEmpty, "disjoint docs must not collide")
    val again = Dedup.winnowFeatures(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(again == f, "winnowing must be deterministic")
  }

  test("winnowPairs surfaces the overlapping pair with the highest shared count") {
    val shared = "this exact phrase is long enough to guarantee a shared winnow fingerprint"
    val d = docs(
      1L -> s"prefix one $shared suffix alpha",
      2L -> s"different lead-in $shared and another tail",
      3L -> "nothing in common with the others at all, completely disjoint content")
    val pairs = Dedup.winnowPairs(d, minShared = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("HLL approx_count_distinct (rsd 0.02) lands within 5% of exact on lineitem") {
    val li = graft.queries.Tables.lineitem(spark, TestSpark.Sf0001)
    val exact = li.select(countDistinct(col("l_partkey"))).collect().head.getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02))
      .collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }

  test("GraftExtensions ≡ install on a fresh session, and install is idempotent") {
    import org.apache.spark.sql.graft.SessionSurface
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s2 = spark.newSession() // own registry and experimental methods
    assert(SessionSurface.of(s2) == SessionSurface(Set.empty, Nil, Nil),
      "control: a fresh session carries no graft surface")
    GraftExtensions.install(s2)
    val installed = SessionSurface.of(s2)
    assert(installed == SessionSurface.injected(ext, s2))
    assert(installed.functions == GraftExtensions.functions.map(_._1.funcName).toSet &&
      installed.functions.size == 28)
    assert(installed.strategies == Seq(graft.plans.TopKPerKeyStrategy) &&
      installed.rules == Seq(graft.plans.TopKRewrite))
    // a repeat install registers nothing and appends nothing
    val count = SessionSurface.functionCount(s2)
    GraftExtensions.install(s2)
    assert(SessionSurface.of(s2) == installed &&
      SessionSurface.functionCount(s2) == count)
  }

  test("hammingPairs kernel == brute-force enumeration (property)") {
    import org.scalacheck.Gen
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val entryGen = for {
      n <- Gen.chooseNum(0, 30)
      ids <- Gen.listOfN(n, Gen.chooseNum(1L, 12L)) // collisions likely
      shs <- Gen.listOfN(n, Gen.oneOf(0L, 1L, 3L, -1L, Long.MinValue, 42L))
    } yield ids.zip(shs)
    samples(entryGen, 80).foreach { entries =>
      val arr = new GenericArrayData(entries.map { case (id, sh) =>
        new GenericInternalRow(Array[Any](id, sh))
      }.toArray[Any])
      val got = graft.functions.SketchOps.hammingPairs(arr, 2)
      val gotSet = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 3)
        (r.getLong(0), r.getLong(1), r.getInt(2))
      }.toSet
      val expect = (for {
        i <- entries.indices; j <- (i + 1) until entries.size
        (id1, sh1) = entries(i); (id2, sh2) = entries(j)
        h = java.lang.Long.bitCount(sh1 ^ sh2)
        if h <= 2 && id1 != id2
      } yield (math.min(id1, id2), math.max(id1, id2), h)).toSet
      assert(gotSet == expect, s"entries=$entries")
    }
  }

  test("hammingPairs sub-band split == brute force at tiny thresholds (property)") {
    import org.scalacheck.Gen
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // maxBucket=2 forces maximum recursion depth on every input; sketches
    // drawn from a small clustered pool so buckets genuinely saturate.
    val entryGen = for {
      n <- Gen.chooseNum(0, 40)
      ids <- Gen.listOfN(n, Gen.chooseNum(1L, 15L))
      base <- Gen.oneOf(0L, -1L, 0x5a5a5a5a5a5a5a5aL)
      flips <- Gen.listOfN(n, Gen.chooseNum(0, 63))
      extra <- Gen.listOfN(n, Gen.chooseNum(0, 63))
    } yield ids.lazyZip(flips).lazyZip(extra).map((id, f, e) =>
      (id, base ^ (1L << f) ^ (1L << e)))
    for (maxH <- Seq(0, 2, 3); entries <- samples(entryGen, 40)) {
      val arr = new GenericArrayData(entries.map { case (id, sh) =>
        new GenericInternalRow(Array[Any](id, sh))
      }.toArray[Any])
      val got = graft.functions.SketchOps.hammingPairs(arr, maxH, 2)
      val gotSet = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 3)
        (r.getLong(0), r.getLong(1), r.getInt(2))
      }.toSet
      val expect = (for {
        i <- entries.indices; j <- (i + 1) until entries.size
        (id1, sh1) = entries(i); (id2, sh2) = entries(j)
        h = java.lang.Long.bitCount(sh1 ^ sh2)
        if h <= maxH && id1 != id2
      } yield (math.min(id1, id2), math.max(id1, id2), h)).toSet
      assert(gotSet == expect, s"maxH=$maxH entries=$entries")
    }
  }

  test("hammingPairs: saturated bucket above MaxBucketEntries splits, stays exact") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // A planted band bucket WELL above the split threshold: 6000 entries
    // whose low 16 bits agree (they'd all land in one level-0 band
    // bucket) but whose high bits are spread, plus planted near-dup
    // twins. The old direct loop would enumerate C(6000,2) ≈ 1.8e7 pairs
    // here (fine at this n — the fixture proves CORRECTNESS of the split
    // path, the complexity win is the scaling argument in the scaladoc);
    // with the default threshold of 4096 this input takes the recursive
    // path, must not trip the pair cap, and must find exactly the
    // planted pairs.
    val n = 6000
    val rnd = new scala.util.Random(7)
    val sharedBand = 0xBEEFL // low 16 bits shared by every entry
    val entries = (0 until n).map { i =>
      // spread high 48 bits far apart (hamming >> 3 between non-twins)
      val high = rnd.nextLong() & ~0xFFFFL
      (i.toLong, high | sharedBand)
    }.toArray
    // plant 5 twins: doc n+k is doc k's sketch with one high bit flipped
    val planted = (0 until 5).map { k =>
      val (id, sh) = entries(k)
      ((n + k).toLong, sh ^ (1L << (20 + k)))
    }
    val all = entries ++ planted
    assert(all.length > graft.functions.SketchOps.MaxBucketEntries)
    val arr = new GenericArrayData(all.map { case (id, sh) =>
      new GenericInternalRow(Array[Any](id, sh))
    }.toArray[Any])
    val got = graft.functions.SketchOps.hammingPairs(arr, 3)
    val gotSet = (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 3)
      (r.getLong(0), r.getLong(1), r.getInt(2))
    }.toSet
    val expect = (for {
      i <- all.indices; j <- (i + 1) until all.length
      h = java.lang.Long.bitCount(all(i)._2 ^ all(j)._2)
      if h <= 3
    } yield (math.min(all(i)._1, all(j)._1),
      math.max(all(i)._1, all(j)._1), h)).toSet
    assert(expect.size >= 5) // the 5 planted twins (plus any chance pairs)
    assert(gotSet == expect)
  }

  test("exact dedup groups case/whitespace variants (canonical fingerprint)") {
    val d = docs(1L -> "Hello  World", 2L -> "hello world", 3L -> "other")
    val fp = d.groupBy(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(fp == Set((1L, 2L), (3L, 1L)))
  }

  test("repetition stats ≡ brute-force Scala counting on random docs (property)") {
    import org.scalacheck.Gen
    val wordGen = Gen.oneOf("a", "b", "c", "dd", "e f".replace(" ", ""), "x")
    val docGen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, wordGen))
    val docsIn = samples(docGen, 60).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val got = docs(docsIn: _*)
      .select(col("doc_id"),
        graft.functions.Sketch.repetitionStats(
          split(lower(trim(col("text"))), "\\s+")).as("r"))
      .select(col("doc_id"), col("r.*"))
      .collect()
      .map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4), x.getInt(5))).toMap
    docsIn.foreach { case (id, text) =>
      // reference semantics: split on whitespace runs of the trimmed,
      // lowered text (empty text → one empty token, like the kernel input)
      val toks = text.trim.toLowerCase.split("\\s+", -1).toSeq
      val bigrams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val expect = (toks.size, toks.distinct.size,
        toks.groupBy(identity).values.map(_.size).max,
        math.max(0, toks.size - 1), bigrams.distinct.size)
      assert(got(id) == expect, s"doc $id '$text': ${got(id)} vs $expect")
    }
  }

  test("wordGramHashes ≡ distinct string grams on random docs (property)") {
    import org.scalacheck.Gen
    val wordGen = Gen.oneOf("w1", "w2", "w3", "w4")
    val docGen = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, wordGen))
    val docsIn = samples(docGen, 60).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    // n=3 exercises both the windowed path and the whole-doc fallback
    val toks = split(lower(trim(col("text"))), "\\s+")
    val rows = docs(docsIn: _*)
      .select(col("doc_id"),
        graft.functions.Sketch.wordGramHashes(toks, 3).as("h"),
        array_distinct(graft.operators.Curation.wordGrams(col("text"), 3)).as("g"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).size == r.getSeq[String](2).size,
        s"doc ${r.getLong(0)}: hash/string gram count mismatch")
    }
    // cross-doc: equal string-gram sets ⇒ equal hash sets (collision-free
    // chaining on this vocabulary)
    val byGrams = rows.groupBy(_.getSeq[String](2).toSet)
    byGrams.values.foreach { grp =>
      assert(grp.map(_.getSeq[Long](1).toSet).distinct.size == 1)
    }
  }

  test("repetition stats: hand-computed counts, empty doc, single token") {
    // "a b a c a b": 6 tokens, 3 distinct, top=3 (a);
    // bigrams: [a b, b a, a c, c a, a b] → 5 total, 4 distinct
    val r = docs(1L -> "a b a c a b", 2L -> "", 3L -> "solo")
      .select(col("doc_id"),
        graft.functions.Sketch.repetitionStats(
          split(lower(trim(col("text"))), "\\s+")).as("r"))
      .select(col("doc_id"), col("r.*"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4), x.getInt(5))).toMap
    assert(r(1L) == ((6, 3, 3, 5, 4)))
    // empty text tokenizes to one empty token (split semantics shared
    // with the DuckDB oracle); no bigrams
    assert(r(2L) == ((1, 1, 1, 0, 0)))
    assert(r(3L) == ((1, 1, 1, 0, 0)))
  }

  test("substringDupCoverage: hand-computed interval unions, cross-doc only") {
    // k = 4; hand-laid shared runs:
    //   1 ↔ 2 share "c d e f g" → windows at pos 3,4 → union [3,7] = 5
    //   1 ↔ 6 share "a b c d"   → window at pos 1 → 1's union [1,7] = 7
    //   5 repeats "p q r s" WITHIN one doc only → not flagged (0)
    //   4 is shorter than k → no windows (0)
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "x y c d e f g z",
      3L -> "q w e r t y u i",
      4L -> "a b c",
      5L -> "p q r s p q r s",
      6L -> "a b c d m n o p")
    val r = Dedup.substringDupCoverage(d, 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((8L, 7L)))
    assert(r(2L) == ((8L, 5L)))
    assert(r(3L) == ((8L, 0L)))
    assert(r(4L) == ((3L, 0L)))
    assert(r(5L) == ((8L, 0L)))
    assert(r(6L) == ((8L, 4L)))
  }

  test("substringDupCoverage: disjoint shared runs sum, exact copy covers all") {
    // 10 ↔ 11 are exact copies → full coverage (n_toks);
    // 12 shares two DISJOINT 4-runs with 10 ("a b c d" at 1, "w x y z"
    // at 7 vs 10's 5) → coverage 4 + 4 = 8 with a gap between
    val d = docs(
      10L -> "a b c d g h w x y z",
      11L -> "a b c d g h w x y z",
      12L -> "a b c d k m w x y z")
    val r = Dedup.substringDupCoverage(d, 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(10L) == ((10L, 10L)))
    assert(r(11L) == ((10L, 10L)))
    assert(r(12L) == ((10L, 8L)))
  }

  test("substringDupCoverage: 1e5-doc hot digest (boilerplate span) — de-skewed flag path") {
    import testImplicits._
    // the skew nightmare: ONE 15-token boilerplate span stamped into
    // 100 000 docs (plus a unique tail per doc). The digest-flag stage
    // must partial-aggregate (a window over `w` would ship every
    // (doc_id, pos, w) row of the hot digest to one reducer); the
    // result is fully determined: the boilerplate k-window is cross-doc
    // in every doc, the unique tail is not.
    val boiler = (1 to 15).map(i => s"b$i").mkString(" ")
    val d = (0 until 100000).map(i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val r = Dedup.substringDupCoverage(d, 15)
    // every doc: 18 tokens, the single flagged window at pos 1 covers 15
    val bad = r.filter(col("n_toks") =!= 18L || col("n_dup_tokens") =!= 15L)
    assert(bad.isEmpty, s"unexpected coverage rows: ${bad.take(3).mkString}")
    assert(r.count() == 100000)
    // the flag stage must be aggregate + join-back: the only Window in
    // the plan is the per-doc interval-union lag (partitioned by doc_id)
    val plan = r.queryExecution.optimizedPlan.toString
    val windowOps = plan.linesIterator.count(_.contains("Window"))
    assert(windowOps <= 1, s"expected only the doc_id lag window:\n$plan")
  }
}
