package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusStats
import graft.operators.Ingest.{DocGen, Tombstones}

/** Corpus-stats tests: the Count-Min guarantees (over-estimate only,
  * cell-wise mergeability) and PMI structure beyond what the corpus
  * gate pins. */
class CorpusStatsSpec extends SparkSpecBase {

  import testImplicits._

  test("CMS: estimate is never below the exact count, for EVERY term") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
    val cnt = docs
      .select(explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val est = CorpusStats.cmsEstimate(CorpusStats.cmsBuild(cnt), cnt)
    val bad = est.filter(col("tf_est") < col("c")).count()
    assert(bad == 0, s"$bad terms under-estimated — CMS invariant broken")
  }

  test("CMS: sketches merge cell-wise (shard-and-add == whole-corpus)") {
    val a = Seq(("x", 3L), ("y", 5L), ("z", 2L)).toDF("term", "c")
    val b = Seq(("x", 4L), ("w", 7L)).toDF("term", "c")
    val whole = Seq(("x", 7L), ("y", 5L), ("z", 2L), ("w", 7L)).toDF("term", "c")
    val merged = CorpusStats.cmsBuild(a).unionByName(CorpusStats.cmsBuild(b))
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
    val direct = CorpusStats.cmsBuild(whole)
    assert(merged.exceptAll(direct).count() == 0 &&
      direct.exceptAll(merged).count() == 0, "merge must equal direct build")
  }

  test("CMS: buckets are in range and depth rows are independent") {
    val terms = (0 until 300).map(i => s"tok$i").toDF("term")
      .withColumn("c", lit(1L))
    val cells = CorpusStats.cmsBuild(terms)
    val out = cells.agg(min("b"), max("b"), countDistinct("r")).head()
    assert(out.getInt(0) >= 0 && out.getInt(1) < CorpusStats.CmsWidth)
    assert(out.getLong(2) == CorpusStats.CmsDepth)
    // rows hash differently: the same term must not land in the same
    // bucket on every row (that would make depth useless)
    val sameEverywhere = terms
      .select(explode(sequence(lit(0), lit(CorpusStats.CmsDepth - 1))).as("r"),
        col("term"))
      .select(col("term"), CorpusStats.cmsBucket(col("r"), col("term")).as("b"))
      .groupBy("term").agg(countDistinct("b").as("nb"))
      .filter(col("nb") === 1).count()
    assert(sameEverywhere < 10, s"$sameEverywhere of 300 terms collide across all rows")
  }

  test("stored CMS merge: estimates dominate exact augmented counts; absent probe kept") {
    val dir = TestSpark.Sf0001
    val est = CorpusStats.cmsServed(spark, dir, DocGen.Appended)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == CorpusStats.CmsProbeTerms.toSet,
      "every probe must survive the left-joined estimate, absent ones included")
    // exact counts over the augmented corpus (base ∪ the % 101 batch):
    // the stored merged estimate must keep the CMS over-estimate
    // invariant against the GROWN truth, not the base truth — a stale
    // base-only artifact would underestimate the batch's heavy terms
    val docs = graft.queries.Tables.documents(spark, dir)
    val aug = docs.select(col("text"))
      .unionByName(docs.filter(col("doc_id") % 101 === 0).select(col("text")))
    val exact = aug
      .select(explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!exact.contains("zzz_absent_probe"), "probe must truly be absent")
    CorpusStats.CmsProbeTerms.foreach { t =>
      val truth = exact.getOrElse(t, 0L)
      assert(est(t) >= truth, s"$t: stored-merged estimate ${est(t)} < exact $truth")
      if (t != "zzz_absent_probe")
        assert(truth > 0L, s"probe $t missing from the corpus — probe list stale")
    }
  }

  test("CMS deletion is exact at the CELL level: purged gen2 == fresh build over the reduced corpus") {
    val dir = TestSpark.Sf0001
    val purged = CorpusStats.sketchCells(spark, dir, CorpusStats.CellSketch.Cms,
      DocGen.Purged(Tombstones.Stored)).head
    val fresh = CorpusStats.cmsBuild(
      graft.queries.Tables.documents(spark, dir)
        .filter(!(col("doc_id") % graft.operators.Ingest.ForgetMod ===
          graft.operators.Ingest.ForgetRem))
        .select(explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c")))
    // cell-frame equality both ways — stronger than the probe gate:
    // EVERY cell of the subtracted sketch equals the fresh one, which
    // is the linearity theorem itself (sums subtract exactly)
    assert(purged.exceptAll(fresh).count() == 0 &&
      fresh.exceptAll(purged).count() == 0,
      "subtracted sketch must equal the fresh sketch of the reduced corpus, per cell")
  }

  test("histogram deletion is exact at the cell level, shard axis preserved") {
    val dir = TestSpark.Sf0001
    val purged = CorpusStats.sketchCells(spark, dir, CorpusStats.CellSketch.Hist,
      DocGen.Purged(Tombstones.Stored)).head
    val fresh = CorpusStats.histBuild(
      graft.queries.Tables.documents(spark, dir)
        .filter(!(col("doc_id") % graft.operators.Ingest.ForgetMod ===
          graft.operators.Ingest.ForgetRem)))
    assert(purged.exceptAll(fresh).count() == 0 &&
      fresh.exceptAll(purged).count() == 0,
      "subtracted histogram must equal the fresh histogram of the reduced corpus")
  }

  test("caller-supplied tombstones (the streamed front door) serve the same estimates") {
    val dir = TestSpark.Sf0001
    val dead = graft.queries.Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.operators.Ingest.ForgetMod ===
        graft.operators.Ingest.ForgetRem)
      .select("doc_id")
    val viaIds = CorpusStats.cmsServed(spark, dir,
      DocGen.Masked(Tombstones.Supplied(dead)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    val viaArtifact = CorpusStats.cmsServed(spark, dir,
      DocGen.Masked(Tombstones.Stored))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(viaIds == viaArtifact,
      "id-frame retraction and stored-artifact retraction must agree")
  }

  test("sketch linearity THEOREM (property): subtract ≡ fresh-over-reduced for random corpora") {
    import org.scalacheck.Gen
    // random term-count tables A with a random retraction subset R ⊆ A:
    // cells(A) − cells(R) must equal cells(A \ R) exactly, every cell,
    // for EVERY draw — the algebraic fact the q_cms_forget gate rests on
    val tableGen = for {
      n <- Gen.chooseNum(1, 30)
      terms <- Gen.listOfN(n, for {
        t <- Gen.oneOf((0 until 12).map(i => s"w$i"))
        c <- Gen.chooseNum(1L, 50L)
        retract <- Gen.chooseNum(0L, 1L)
      } yield (t, c, retract == 1L))
    } yield terms
    samples(tableGen, 12).zipWithIndex.foreach { case (rows, i) =>
      // collapse duplicate terms; the retraction takes a PARTIAL count
      // (min(c, drawn)) so R is a true sub-multiset, not all-or-nothing
      val all = rows.groupBy(_._1).map { case (t, g) =>
        (t, g.map(_._2).sum, g.filter(_._3).map(_._2).sum.min(g.map(_._2).sum))
      }.toSeq
      val a = all.map { case (t, c, _) => (t, c) }.toDF("term", "c")
      val r = all.filter(_._3 > 0).map { case (t, _, rc) => (t, rc) }.toDF("term", "c")
      val reduced = all.filter { case (_, c, rc) => c - rc > 0 }
        .map { case (t, c, rc) => (t, c - rc) }.toDF("term", "c")
      val subtracted = CorpusStats.cmsBuild(a)
        .unionByName(CorpusStats.cmsBuild(r)
          .select(col("r"), col("b"), (-col("cnt")).as("cnt")))
        .groupBy("r", "b").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") =!= 0)
      val fresh = CorpusStats.cmsBuild(reduced)
      assert(subtracted.exceptAll(fresh).count() == 0 &&
        fresh.exceptAll(subtracted).count() == 0,
        s"linearity violated on draw $i: $all")
    }
  }

  test("mix divergence: over-represented sources score positive, total KL >= 0") {
    // realized 3:1 against a uniform target (both sources weight 1.0 →
    // w4 = 4): 'src9' is over-represented → positive contribution
    val docs = (Seq.fill(30)("src9") ++ Seq.fill(10)("src8"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "source")
    val out = graft.operators.Curation.mixDivergence(docs)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("src9") > 0, "over-represented source must contribute positive KL")
    assert(out("src8") < 0, "under-represented source contributes negative")
    assert(out.values.sum >= 0, "total KL is non-negative (Gibbs) within quantization")
  }

  test("data card: per-lang totals agree with direct aggregates; vocab envelope holds") {
    val card = graft.operators.CorpusStats.dataCard(spark, TestSpark.Sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(4), r.getLong(5) == 0L))).toMap
    val direct = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card.keySet == direct.keySet, "every language gets a card row")
    direct.foreach { case (l, n) =>
      assert(card(l)._1 == n, s"doc count mismatch for $l")
      assert(card(l)._2 > 0, s"vocabulary must be non-empty for $l")
      assert(card(l)._3, s"HLL estimate must sit inside its 5% envelope for $l")
    }
  }

  test("PMI: independent-ish and perfectly-correlated pairs order correctly") {
    // 4 docs: p and q always together; p and r half the time
    val docs = Seq(
      (0L, "p q r"), (1L, "p q"), (2L, "p q r"), (3L, "p q"))
      .toDF("doc_id", "text")
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val pairs = terms.as("x")
      .join(terms.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.term") < col("y.term"))
      .groupBy(col("x.term").as("t1"), col("y.term").as("t2"))
      .agg(count(lit(1)).as("df_ab"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs(("p", "q")) == 4 && pairs(("p", "r")) == 2)
    // pmi(p,q) = ln(4*4/(4*4)) = 0; pmi(p,r) = ln(4*2/(4*2)) = 0;
    // pmi(q,r)=0 too — but with df(r)=2, a pair (q,r) occurring twice in
    // 4 docs has pmi ln(4*2/(4*2))=0; sanity: the corpus gate pins real
    // values, here we pin the counting semantics above.
  }

  test("q_heavy_hitters probes are the exact top-10 and estimates bound them") {
    val out = graft.SparkEntry.queries("q_heavy_hitters")(spark, TestSpark.Sf0001)
      .collect()
    assert(out.length == CorpusStats.CmsTopK)
    assert(out.forall(r => r.getAs[Long]("tf_est") >= r.getAs[Long]("tf_exact")))
  }

  test("histogram merge is associative: shard-split halves sum to the whole") {
    val docs = (0L until 100L).map(i => (i, (i * 7 % 300).toInt))
      .toDF("doc_id", "n_chars")
    val whole = CorpusStats.histBuild(docs)
      .groupBy("bucket").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val halves = CorpusStats.histBuild(docs.filter(col("doc_id") < 50))
      .unionByName(CorpusStats.histBuild(docs.filter(col("doc_id") >= 50)))
      .groupBy("bucket").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(whole == halves, "cell-wise merge must equal the fresh build")
    assert(whole.values.sum == 100)
  }

  test("q_quantile_merge: coverage holds and buckets are monotone in q") {
    val rows = graft.SparkEntry.queries("q_quantile_merge")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getAs[Int]("q_pct"), r.getAs[Long]("bucket"),
        r.getAs[Long]("cum_n"), r.getAs[Long]("total_n")))
    assert(rows.map(_._1).toSeq == CorpusStats.QuantilePcts)
    rows.foreach { case (q, _, cum, total) =>
      assert(cum * 100 >= q * total, s"p$q bucket must cover its mass")
    }
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq,
      "higher percentiles cannot land in lower buckets")
  }

  test("HLL sketch merge is commutative and idempotent on the register level") {
    import org.apache.spark.sql.functions.{hll_sketch_estimate, hll_union_agg}
    val docs = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "en" else "sv", s"w${i % 60} w${(i * 7) % 60} common"))
      .toDF("doc_id", "lang", "text")
    val a = CorpusStats.hllBuild(docs.filter(col("doc_id") < 100))
    val b = CorpusStats.hllBuild(docs.filter(col("doc_id") >= 100))
    def estOf(parts: org.apache.spark.sql.DataFrame) = parts
      .groupBy("lang").agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("lang"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ab = estOf(a.unionByName(b))
    val ba = estOf(b.unionByName(a))
    assert(ab == ba, "register max-merge must be order-independent")
    // idempotent: re-merging a generation cannot inflate the estimate
    // (the retried-compaction safety property)
    val aba = estOf(a.unionByName(b).unionByName(a))
    assert(aba == ab, "re-merging a generation must be a no-op")
    // and the estimate is sane: small vocab, far inside the 5% envelope
    val exact = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      .groupBy("lang").agg(countDistinct("t").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, n) =>
      assert(math.abs(ab(lang) - n) * 20 <= n,
        s"$lang: est ${ab(lang)} vs exact $n out of envelope")
    }
  }
}
