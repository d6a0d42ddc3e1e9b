package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** The BPE tokenizer: fold-pass merge semantics, hand-computed training
  * on the Sennrich toy corpus, the pinned corpus merge table, and the
  * narrow encode plan. */
class BpeSpec extends SparkSpecBase {
  import testImplicits._

  private def units(word: String, merges: Seq[(String, String)]): Seq[String] = {
    Seq(word).toDF("w")
      .select(Bpe.encodeUnits(col("w"), merges).as("u"))
      .as[Seq[String]].collect().head
  }

  test("compiled kernel ≡ reference fold on adversarial words and the corpus") {
    // adversarial: overlap chains, re-merge, unicode (incl. a
    // supplementary codepoint), empties, single chars
    val words = Seq("aaaa", "aaa", "aab", "abab", "b", "", "a",
      "sortorderwindow", "columncolumn", "låån", "a😀a",
      "error", "eor", "parscan")
    val merges = Seq(("a", "a"), ("a", "b")) ++ Bpe.PinnedMerges
    val df = words.toDF("w").select(col("w"),
      Bpe.encodeUnits(col("w"), merges).as("k"),
      Bpe.encodeUnitsFold(col("w"), merges).as("f"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"kernel/fold divergence on '${r.getString(0)}'")
    }
    // whole-corpus equivalence at sf0.001, incl. the flattened form
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
      .select(graft.operators.Curation.gramToks(col("text")).as("t"))
    val diff = docs.select(
        Bpe.encodeAllUnits(col("t"), Bpe.PinnedMerges).as("k"),
        flatten(transform(col("t"),
          w => Bpe.encodeUnitsFold(w, Bpe.PinnedMerges))).as("f"))
      .filter(not(col("k") === col("f")))
      .count()
    assert(diff == 0L, s"$diff corpus docs diverge kernel vs fold")
  }

  test("kernel ≡ fold on NULLs: null word / null array / null element (ADVICE r15)") {
    val merges = Seq(("a", "a"), ("a", "b"))
    // null word: fold yields NULL (chars(null) is null), kernel must too
    val w = Seq[Option[String]](Some("aab"), None).toDF("w")
      .select(col("w"), Bpe.encodeUnits(col("w"), merges).as("k"),
        Bpe.encodeUnitsFold(col("w"), merges).as("f"))
      .collect()
    w.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"null-word kernel/fold divergence on '${r.getString(0)}'")
      if (!r.isNullAt(1)) assert(r.getSeq[String](1) == r.getSeq[String](2))
    }
    // token arrays: the reference shape is flatten(transform(t, fold)),
    // where a null array OR a null element yields NULL overall
    val t = Seq(
        (1L, Some(Seq(Some("ab"), Some("b")))),
        (2L, None),
        (3L, Some(Seq(Some("ab"), None))))
      .toDF("id", "t")
      .select(col("id"), Bpe.encodeAllUnits(col("t"), merges).as("k"),
        flatten(transform(col("t"),
          x => Bpe.encodeUnitsFold(x, merges))).as("f"))
      .orderBy("id").collect()
    t.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"null-array kernel/fold divergence on id=${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getSeq[String](1) == r.getSeq[String](2))
    }
    assert(t(1).isNullAt(1) && t(2).isNullAt(1),
      "null array and null element must both yield NULL")
  }

  test("mergeFold: left-to-right pass, new unit re-merges with the NEXT token") {
    assert(units("aaaa", Seq(("a", "a"))) == Seq("aa", "aa"))
    assert(units("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    assert(units("aab", Seq(("a", "b"))) == Seq("a", "ab"))
    assert(units("abab", Seq(("a", "b"))) == Seq("ab", "ab"))
    assert(units("b", Seq(("a", "b"))) == Seq("b"))
    assert(units("", Seq(("a", "b"))) == Seq())
  }

  test("encodeUnits applies merges in rank order") {
    // (e,r) then (o,r): 'error' → er r o r → er r or
    assert(units("error", Seq(("e", "r"), ("o", "r"))) == Seq("er", "r", "or"))
    // rank order matters: (o,r) first consumes the 'o r', starving a
    // later (e,r)? no — 'e r' is untouched: → e r r or → er r or. Same
    // here, but 'or' vs 'er' on 'eor': (e,o) then (eo,r) ≠ (o,r) first
    assert(units("eor", Seq(("e", "o"), ("eo", "r"))) == Seq("eor"))
    assert(units("eor", Seq(("o", "r"), ("e", "o"))) == Seq("e", "or"))
  }

  test("train reproduces the hand-computed Sennrich toy sequence") {
    // vocab: low×3, lower×2, newest×1. Pair counts round 1: (l,o)=5,
    // (o,w)=5, (w,e)=3, (e,r)=2, rest 1 → tie (l,o)/(o,w) broken
    // lexicographically → (l,o). Round 2: (lo,w)=5. Round 3: (low,e)=2
    // ties (e,r)=2 → 'e' < 'low' → (e,r).
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, 3)
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("e", "r")), merges.toString)
  }

  test("train stops early when no word has two units left") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    // 3 possible merges exhaust every word: (a,b) [count 2], (c,d);
    // asking for 10 must return only what exists
    val merges = Bpe.train(docs, 10)
    assert(merges == Seq(("a", "b"), ("c", "d")), merges.toString)
  }

  test("PinnedMerges is exactly train(sf0.001 corpus, 24)") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(Bpe.train(docs, 24) == Bpe.PinnedMerges)
  }

  test("encoding compresses the corpus and never crosses word boundaries") {
    val dir = "/root/testdata/sf0.001"
    val row = Bpe.queries("q_bpe_encode")(spark, dir)
      .agg(sum("n_units").as("u"), sum("n_words").as("w"))
      .as[(Long, Long)].collect().head
    val chars = graft.queries.Tables.documents(spark, dir)
      .agg(sum(length(regexp_replace(col("text"), " ", ""))))
      .as[Long].collect().head
    // units strictly fewer than letters (merges fired), at least one
    // unit per word (boundaries hold)
    assert(row._1 < chars, s"units=${row._1} chars=$chars")
    assert(row._1 >= row._2, s"units=${row._1} words=${row._2}")
  }

  test("tokenizerDrift: v2 word total matches the closed-form snapshot delta") {
    import org.apache.spark.sql.functions._
    val d = Bpe.tokenizerDrift(spark, TestSpark.Sf0001)
      .agg(sum("n_words_v1"), sum("n_units_v1"),
        sum("n_words_v2"), sum("n_units_v2")).head()
    val (w1, u1, w2, u2) = (d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3))
    // closed-form word delta from the snapshot predicates: deletions
    // leave, added copies arrive (none of them edited at this SF), and
    // each in-place edit appends exactly 2 words (' v2 revision')
    val per = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"),
        size(graft.operators.Curation.gramToks(col("text"))).as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val del = per.keys.filter(_ % graft.operators.Curation.V2DeleteEvery == 0)
    val add = per.keys.filter(i =>
      i % graft.operators.Curation.V2DeleteEvery != 0 && i % graft.operators.Curation.V2AddEvery == 0)
    val edited = per.keys.count(i =>
      i % graft.operators.Curation.V2DeleteEvery != 0 && i % graft.operators.Curation.V2EditEvery == 0)
    assert(add.forall(_ % graft.operators.Curation.V2EditEvery != 0), "SF assumption broken")
    val expectedW2 = w1 - del.map(per).sum + add.map(per).sum + 2L * edited
    assert(w2 == expectedW2, s"v2 words $w2 != closed form $expectedW2")
    // a word encodes to ≥ 1 unit under any merge table, and merges only
    // ever shrink the char split — per-snapshot invariant
    assert(u1 >= w1 && u2 >= w2, s"unit totals below word totals: $d")
  }

  test("encode plan: narrow projection only — no exchange, no UDF") {
    val p = Seq((1L, "sort order window")).toDF("doc_id", "text")
      .select(flatten(transform(
        split(col("text"), " "),
        w => Bpe.encodeUnits(w, Bpe.PinnedMerges))))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.toLowerCase.contains("scalaudf"), p)
  }
}
