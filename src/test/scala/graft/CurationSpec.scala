package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Ingest, TextAnalysis}
import graft.operators.Ingest.Tombstones

/** Curation operator tests: connected-component edge cases the corpus
  * gate can't isolate (chains, singleton edges, convergence), split
  * stability, and redaction behavior beyond the planted patterns. */
class CurationSpec extends SparkSpecBase {

  import testImplicits._

  test("NB training learns the separating token; classify flips on composition") {
    // target docs say "good", background docs say "bad"; "both" is common.
    val docs = Seq(
      (0L, "en", "good both"), (1L, "en", "good both good"),
      (2L, "de", "bad both"), (3L, "de", "bad both bad"))
      .toDF("doc_id", "lang", "text")
    val model = Curation.nbTrainModel(docs, col("lang") === "en")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // hand-derived counts: target tokens = {good:3, both:2} (C_t=5),
    // background = {bad:3, both:2} (C_b=5); B=4096. So
    // w(good) = micro(ln(4/4101)) - micro(ln(1/4101)) — pin the counts
    // by rebuilding the expected value from the same quantizer.
    def micro(num: Double, den: Double): Long = docs.sparkSession.range(1)
      .select(round(log(lit(num) / lit(den)) * lit(1e6)).cast("long")).head().getLong(0)
    val wGood = micro(4.0, 4101.0) - micro(1.0, 4101.0)
    val buckets = Seq("good", "bad", "both").map { t =>
      t -> docs.sparkSession.range(1)
        .select(Curation.nbBucket(lit(t))).head().getInt(0)
    }.toMap
    assert(model(buckets("good")) == ((3L, 0L, wGood)), "counts + weight of 'good'")
    assert(model(buckets("bad")) == ((0L, 3L, -wGood)), "mirror counts, mirrored weight")
    assert(model(buckets("both")) == ((2L, 2L, 0L)), "a balanced token carries no weight")
    // classification: equal priors (bias = 0); target-worded docs score
    // positive, background-worded negative
    val preds = Curation.nbClassify(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(preds(0L) == ((wGood, true)) && preds(1L) == ((2 * wGood, true)),
      "scores are exact integer sums of the learned weights")
    assert(!preds(2L)._2 && !preds(3L)._2, "background-worded docs do not predict target")
  }

  test("NB incremental maintenance ≡ fresh retrain over v2; diff-only tokenization in the plan") {
    val dir = TestSpark.Sf0001
    val inc = Curation.nbModelIncremental(spark, dir)
    val fresh = Curation.nbTrainModel(Curation.corpusV2(spark, dir),
      col("lang") === "en")
    assert(inc.exceptAll(fresh).count() == 0 && fresh.exceptAll(inc).count() == 0,
      "delta-maintained model must equal a from-scratch retrain, every bucket")
    // the merged-counts plan (pre-readout — the readout checkpoints the
    // ≤4096-row counts, truncating lineage) reads the stored v1
    // statistics; its only text scans are the bounded diff frames
    val p = Curation.nbCountsIncremental(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("nb_counts_v1"),
      s"incremental model must read the stored sufficient statistics:\n$p")
    val textScans = p.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("text"))
    assert(textScans <= 4, s"text scans must be the bounded diff frames only:\n$p")
  }

  test("stored NB model: frozen-from-storage ≡ frozen-from-training; drift θ-policy fires on the right side") {
    val dir = TestSpark.Sf0001
    val docs = graft.queries.Tables.documents(spark, dir)
    val fresh = Curation.nbFrozenModel(docs, col("lang") === "en")
    val stored = Curation.nbFrozenModelStored(spark, dir)
    assert(stored == fresh,
      "the stored artifact must freeze to the identical (weights, OOV, bias) triple")
    // the drift fraction the θ-policy triggers on sits strictly between
    // the gate's two thetas at every SF (measured ~4%)
    val d = Curation.nbDriftFraction(spark, dir)
    assert(d > 0.005 && d < 0.5, s"fixture drift must straddle the gate thetas: $d")
    val (_, loR) = Curation.nbModelPolicyServed(spark, dir, theta = 0.5)
    val (hi, hiR) = Curation.nbModelPolicyServed(spark, dir, theta = 0.005)
    assert(!loR && hiR, "high θ serves stale, low θ refreshes")
    // the refresh arm's persisted generation equals a fresh v2 retrain
    val freshV2 = Curation.nbTrainModel(Curation.corpusV2(spark, dir),
      col("lang") === "en")
    assert(hi.exceptAll(freshV2).count() == 0 &&
      freshV2.exceptAll(hi).count() == 0,
      "nb_model_v2 must equal the from-scratch v2 retrain, every bucket")
  }

  test("NB model is bounded by the bucket space and scoring plan broadcasts it") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
    val model = Curation.nbTrainModel(docs, col("lang") === "en")
    assert(model.count() <= Curation.NbBuckets,
      "model can never exceed the hashed bucket space")
    val p = Curation.nbClassify(docs, col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token→model join must never sort-merge:\n$p")
  }

  test("splitLeakage: only straddling near-dup pairs surface; same-split dups do not") {
    // split(0)=valid, split(4)=split(6)=train (md5 nibble): 4≡6 is a
    // same-split duplicate (MUST NOT surface), 0≡4 and 0≡6 straddle
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, t), (4L, t), (6L, t),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val leaks = Curation.splitLeakage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(leaks.toSet == Set((0L, 4L, "valid", "train"), (0L, 6L, "valid", "train")),
      s"got ${leaks.mkString(", ")}")
  }

  test("snapshotDiff: classes partition exactly by the v2 predicates") {
    val d = Curation.snapshotDiff(spark, TestSpark.Sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ids = 0L until 500L // sf0.001 corpus
    val removed = ids.filter(_ % Curation.V2DeleteEvery == 0)
    val changed = ids.filter(i =>
      i % Curation.V2DeleteEvery != 0 && i % Curation.V2EditEvery == 0)
    val added = ids.filter(i =>
      i % Curation.V2DeleteEvery != 0 && i % Curation.V2AddEvery == 0)
      .map(_ + graft.operators.Ingest.DocAppendOffset)
    val unchanged = ids.filter(i =>
      i % Curation.V2DeleteEvery != 0 && i % Curation.V2EditEvery != 0)
    assert(d("removed") == ((removed.size.toLong, removed.sum)))
    assert(d("changed") == ((changed.size.toLong, changed.sum)))
    assert(d("added") == ((added.size.toLong, added.sum)))
    assert(d("unchanged") == ((unchanged.size.toLong, unchanged.sum)))
  }

  test("incremental scores ≡ full fresh classify over v2; provenance partitions exactly") {
    val dir = TestSpark.Sf0001
    val inc = Curation.incrementalScores(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val fresh = Curation.qualityClassify(Curation.corpusV2(spark, dir),
        Curation.QualityWeights, Curation.QualityBiasMicro)
      .select(col("doc_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc.map(_._1).toSet == fresh.keySet,
      "incremental output must cover exactly the v2 snapshot (deletes dropped)")
    inc.foreach { case (id, score, _) =>
      assert(score == fresh(id), s"doc $id: incremental $score != fresh ${fresh(id)}")
    }
    // provenance: fresh ⟺ edited-in-place or newly added; everything
    // else must have been served from the stored artifact
    inc.foreach { case (id, _, src) =>
      val expectFresh = id >= graft.operators.Ingest.DocAppendOffset ||
        id % Curation.V2EditEvery == 0
      assert((src == "fresh") == expectFresh, s"doc $id provenance $src")
    }
    // deletions really deleted; the snapshot really grew
    assert(inc.forall(_._1 % Curation.V2DeleteEvery != 0 ||
      inc.exists(_._1 >= graft.operators.Ingest.DocAppendOffset)))
    assert(!inc.map(_._1).contains(89L) && !inc.map(_._1).contains(178L))
    assert(inc.count(_._3 == "fresh") > 0 && inc.count(_._3 == "stored") > 0)
  }

  test("connectedComponents: chain collapses to one min-labeled cluster") {
    // path graph 5-4, 4-3, 3-2, 2-1: diameter forces multiple iterations
    val edges = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L)).toDF("doc1", "doc2")
    val cc = Curation.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponents: separate components keep separate min labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("doc1", "doc2")
    val cc = Curation.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: empty edge list yields empty result") {
    val edges = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(Curation.connectedComponents(edges).count() == 0)
  }

  test("connectedComponents: 1000-node chain converges in O(log n) rounds") {
    // the adversarial case VERDICT r3 flagged: a path graph of diameter
    // 999 would need 999 rounds of min-label propagation (and abort at
    // any practical cap); star contraction must close it in ≤ 2·log₂(n)
    val edges = (1L until 1000L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = Curation.connectedComponentsImpl(edges, maxIter = 25)
    val cc = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 1000, s"expected all 1000 chain nodes, got ${cc.length}")
    assert(cc.forall(_._2 == 1L), "every node must label to the chain minimum")
    val bound = 2 * (math.log(1000.0) / math.log(2.0)).ceil.toInt // 20
    assert(rounds <= bound, s"rounds=$rounds exceeds logarithmic bound $bound")
  }

  test("splitColumn is deterministic and roughly proportioned") {
    val df = (0L until 1000L).toDF("doc_id")
      .select(col("doc_id"), Curation.splitColumn(col("doc_id")).as("split"))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expectation 750/125/125; a 16-nibble binomial stays well inside ±40%
    assert(counts("train") > 600 && counts("valid") > 75 && counts("test") > 75,
      counts.toString)
    assert(counts.values.sum == 1000)
    // determinism: rerun produces the identical assignment
    val again = (0L until 1000L).toDF("doc_id")
      .select(Curation.splitColumn(col("doc_id")).as("s2")).collect().map(_.getString(0))
    assert(df.orderBy("doc_id").collect().map(_.getString(1)).toSeq == again.toSeq)
  }

  test("redactPii scrubs every occurrence and leaves clean text alone") {
    val got = Seq(
      "mail a.b-c_d%e@sub.domain.org and x@y.io twice",
      "call +46-123-4567 or +1-555-0100",
      "no pii here, just 12-34 and a@b (not an email)"
    ).toDF("text").select(Curation.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "mail <EMAIL> and <EMAIL> twice",
      "call <PHONE> or <PHONE>",
      "no pii here, just 12-34 and a@b (not an email)"))
  }

  test("wordGrams emits sliding word windows, whole doc below n") {
    val got = Seq("a b c d", "x y").toDF("text")
      .select(Curation.wordGrams(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq("x y")))
  }

  test("wordGramHashes kernel ≡ distinct string grams (count + collisions)") {
    // per doc: kernel hash count == distinct string-gram count, and
    // identical token windows (across docs) produce identical hashes —
    // the two properties that make the kernel a drop-in decontamination
    // key for the string formulation.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z z a b c d e f g h i j"), // shares doc 1's windows shifted
      (3L, "one two"),                 // below n → whole-doc fallback
      (4L, "a b c d e f g h")).toDF("doc_id", "text")
    val toks = split(lower(trim(col("text"))), "\\s+")
    val both = docs.select(col("doc_id"),
        graft.functions.Sketch.wordGramHashes(toks, 8).as("h"),
        array_distinct(Curation.wordGrams(col("text"), 8)).as("g"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[String](2)))
    both.foreach { case (id, h, g) =>
      assert(h.size == g.size, s"doc $id: ${h.size} hashes vs ${g.size} grams")
    }
    val h = both.map(x => x._1 -> x._2.toSet).toMap
    val g = both.map(x => x._1 -> x._3.toSet).toMap
    // doc 2 contains every 8-window of doc 1's first 10 tokens that
    // appears verbatim — hash overlap must equal string-gram overlap
    assert((h(1L) & h(2L)).size == (g(1L) & g(2L)).size)
    assert((h(1L) & h(4L)).size == (g(1L) & g(4L)).size)
    assert((h(3L) & h(1L)).isEmpty)
  }

  test("Bloom decontamination: zero false negatives, superset of exact flags") {
    // planted leak: doc 100 (eval) shares an 8-gram with doc 1 (train);
    // doc 200 (eval) is clean. The filter must flag 100 and may not
    // miss any exact flag (Bloom false negatives are impossible).
    val q = graft.SparkEntry.queries("q_decontaminate_bloom")
    val rows = q(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (split, nDocs, nExact, nMissed) =>
      assert(nMissed == 0L, s"$split: bloom missed $nMissed exact flags")
      assert(nExact <= nDocs)
    }
    // ties to the exact query on the same corpus: per-split exact counts
    // must equal q_decontaminate's flagged docs
    val exact = graft.SparkEntry.queries("q_decontaminate")(spark, TestSpark.Sf0001)
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (split, _, nExact, _) =>
      assert(exact.getOrElse(split, 0L) == nExact, s"$split: $nExact vs $exact")
    }
  }

  test("pack-chunk invariants: spans contiguous, per-shard token accounting") {
    // 600 docs, varying token counts; replay q_pack_chunks' arithmetic
    // and assert structural invariants independent of the oracle.
    val docs = (0L until 600L)
      .map(i => (i, Seq.fill((i % 37 + 3).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    val packed = docs
      .select(col("doc_id"), Curation.shardColumn(col("doc_id")).as("shard"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("toks"))
      .withColumn("end_off", sum("toks").over(byShard))
      .select(col("doc_id"), col("shard"), col("toks"), col("end_off"),
        explode(expr("sequence((end_off - toks) div 64, (end_off - 1) div 64)")).as("chunk_id"))
      .collect()
    // every doc's chunks are a contiguous integer range
    packed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.map(_.getLong(4)).sorted
      assert(cs.zip(cs.head to cs.last).forall { case (a, b) => a == b })
    }
    // per shard: chunk ids cover exactly 0..(total_toks-1)/64 with no gap
    packed.groupBy(_.getInt(1)).foreach { case (_, rows) =>
      val total = rows.groupBy(_.getLong(0)).values.map(_.head.getLong(2)).sum
      val chunks = rows.map(_.getLong(4)).distinct.sorted.toVector
      assert(chunks == (0L to (total - 1) / 64).toVector)
    }
  }

  test("mixWeight replication: integer epochs exact, fractional deterministic") {
    val docs = (0L until 400L).map(i => (i, s"src${i % 8}")).toDF("doc_id", "source")
    val wt = Curation.mixWeight(col("source"))
    val full = floor(wt).cast("int")
    val fracHex = lower(lpad(hex(((wt - floor(wt)) * 256).cast("int")), 2, "0"))
    val extra = (substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      (full + 1).cast("string"))), 1, 2) < fracHex).cast("int")
    val reps = docs.select(col("doc_id"), col("source"), (full + extra).as("n"))
      .collect().map(r => (r.getString(1), r.getInt(2)))
    val bySrc = reps.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(bySrc("src0").forall(_ == 3))          // exactly 3 epochs
    assert(bySrc("src1").forall(n => n == 2 || n == 3)) // 2.5 → 2 or 3
    assert(bySrc("src2").forall(n => n == 0 || n == 1)) // 0.5 → 0 or 1
    assert(bySrc("src4").forall(_ == 1))          // default weight
    // fractions land near expectation (50 docs per source)
    val src1x3 = bySrc("src1").count(_ == 3)
    assert(src1x3 > 10 && src1x3 < 40, s"src1 frac keep=$src1x3")
  }

  test("mixBudget waterfilling: caps respected, budget conserved, shares fair") {
    // src1 tiny (capped), src2/src3 large (uncapped): the fair share must
    // exceed src1's cap, the uncapped allocations must be EQUAL, and the
    // total must hit the budget exactly (cap + 2·share = B).
    def doc(src: String, n: Int) = (1 to n).map(i => (s"$src-$i", src, "w " * 9 + "w"))
    val docs = (doc("src1", 2) ++ doc("src2", 40) ++ doc("src3", 40))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixBudget(docs, budgetFactor = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5), r.getDouble(6)))).toMap
    // 10 tokens/doc: n_tokens = 20 / 400 / 400; caps = 2n: 40 / 1200 / 1600
    assert(out("src1")._1 == 20L && out("src2")._1 == 400L)
    assert(out("src1")._3 == 40L)   // max_epochs 1+(1%4)=2 → cap 40
    assert(out("src2")._3 == 1200L) // 1+(2%4)=3
    assert(out("src3")._3 == 1600L) // 1+(3%4)=4
    val budget = 2L * (20 + 400 + 400) // 1640
    assert(out("src1")._4 && !out("src2")._4 && !out("src3")._4,
      s"capped flags: $out")
    assert(out("src1")._5 == 40.0) // capped at its cap
    val share = (budget - 40).toDouble / 2 // 800.0
    assert(out("src2")._5 == share && out("src3")._5 == share,
      "uncapped sources must get the identical fair share")
    assert(out.values.map(_._5).sum == budget.toDouble, "budget conserved")
    assert(out("src2")._6 == 2.0) // 800/400 epochs
    // epoch caps bind: no allocation exceeds max_epochs·n_tokens
    out.values.foreach { case (n, _, cap, _, alloc, _) =>
      assert(alloc <= cap.toDouble + 1e-9)
      assert(alloc >= 0.0 && n > 0)
    }
  }

  test("mixBudget: digit-less source names fall back to cap group 0") {
    val docs = (1 to 20).map(i => (s"d$i", if (i <= 10) "web" else "src3", "w w w w"))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixBudget(docs, budgetFactor = 2).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getLong(3), r.getDouble(5)))).toMap
    assert(out("web")._1 == 1, "no-digit source must get max_epochs 1")
    assert(out("web")._2 == 40L) // 10 docs × 4 tokens × 1 epoch
    // budget still conserved: web capped at 40, src3 takes the rest
    assert(out.values.map(_._3).sum == 2.0 * 80)
  }

  test("mixBudget: budget above total capacity caps every source") {
    val docs = (1 to 10).map(i => (s"d$i", s"src${i % 2}", "w w w w"))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixBudget(docs, budgetFactor = 100).collect()
      .map(r => (r.getBoolean(4), r.getLong(3), r.getDouble(5)))
    assert(out.forall(_._1), "all sources must be capped")
    out.foreach { case (_, cap, alloc) => assert(alloc == cap.toDouble) }
  }

  test("stratifiedSample keeps ceil(n/10) per stratum, deterministically") {
    val docs = (0L until 95L).map(i => (i, if (i < 7) "sv" else "en"))
      .toDF("doc_id", "lang")
    val s1 = Curation.stratifiedSample(docs, "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val bySt = s1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySt == Map("sv" -> 1, "en" -> 9)) // ceil(7/10)=1, ceil(88/10)=9
    val s2 = Curation.stratifiedSample(docs, "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s1 == s2)
  }

  test("qualityClassify: hand-computed features, sigmoid and keep-cut; empty edge") {
    import graft.functions.QualityModel
    // hash formula replayed by hand for a 1-char token:
    // bucket("a") = (1*2654435761 + 97*7) % 1024
    assert(QualityModel.bucket("a", 1024) ==
      ((2654435761L + 97L * 7L) % 1024L).toInt)
    // "ab": len 2, a*(0+7) + b*(1+7)
    assert(QualityModel.bucket("ab", 1024) ==
      ((2L * 2654435761L + 97L * 7L + 98L * 8L) % 1024L).toInt)
    val docs = Seq((1L, "en", "aa bb"), (2L, "en", "")).toDF("doc_id", "lang", "text")
    val out = Curation.qualityClassify(docs, Curation.QualityWeights,
        Curation.QualityBiasMicro).collect()
      .map(r => r.getLong(0) -> r).toMap
    def w(f: String) = Curation.QualityWeights(QualityModel.bucket(f, 1024))
    // doc 1: features aa, bb, aa_bb — exact integer sum, then sigmoid
    val sum = w("aa") + w("bb") + w("aa_bb")
    assert(out(1L).getLong(2) == 3 && out(1L).getLong(3) == sum)
    val z = (50000.0 + sum.toDouble / 3) / 1e6
    assert(out(1L).getDouble(4) == math.rint(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6)
    assert(out(1L).getBoolean(5) == (sum + 50000L * 3 >= 0))
    // doc 2: bm25Toks("") = [""] — one empty-string unigram, bucket 0's
    // weight; the decision still follows the cross-multiplied cut
    val w0 = Curation.QualityWeights(QualityModel.bucket("", 1024))
    assert(out(2L).getLong(2) == 1 && out(2L).getLong(3) == w0)
    assert(out(2L).getBoolean(5) == (w0 + 50000L >= 0))
  }

  test("kmvOverlapEstimate: known-overlap corpus lands near truth at full sketches") {
    // A = 0..1999, B = 1000..2999: union 3000, overlap 1000. KMV k=128
    // has ~9% relative error; 30% bounds are ~3σ and deterministic
    // (the hash is fixed).
    val fps = (0L until 3000L).map { i =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(s"item$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(13),
        if (i < 2000) 1 else 0, if (i >= 1000) 1 else 0)
    }.toDF("h", "a", "b")
    val r = Curation.kmvOverlapEstimate(fps)
      .select("ku", "est_union", "est_overlap")
      .as[(Long, Double, Double)].collect().head
    assert(r._1 == 128, s"union sketch must be full: $r")
    assert(math.abs(r._2 - 3000) < 900, s"union est $r")
    assert(math.abs(r._3 - 1000) < 400, s"overlap est $r")
  }

  test("kmvOverlapEstimate: below-k sketches collapse to exact counts") {
    val fps = (0L until 60L).map { i =>
      (f"${i}%013x", if (i < 40) 1 else 0, if (i >= 20) 1 else 0)
    }.toDF("h", "a", "b")
    val r = Curation.kmvOverlapEstimate(fps)
      .select("ku", "rho", "est_union", "est_overlap")
      .as[(Long, Long, Double, Double)].collect().head
    assert(r == ((60L, 20L, 60.0, 20.0)), r.toString)
  }

  test("weightedSample: ranking matches the hand-computed exponential race") {
    val ids = (0L until 200L).toSeq
    val docs = ids.map(i => (i, i % 7 + 1)).toDF("doc_id", "n_chars")
    def pri(id: Long): Double = {
      val h = ((id % 1048573L) * 2654435761L + 12345L) % 2147483648L
      val u = (h + 0.5) / 2147483648.0
      BigDecimal(math.log(u) / (id % 7 + 1))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = ids.sortBy(i => (-pri(i), i)).take(25).toSet
    val got = Curation.weightedSample(docs, 25, col("n_chars"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"missed=${expected -- got} extra=${got -- expected}")
  }

  test("weightedSample: heavier docs are drawn far more often") {
    // 1000 light (w=10) + 1000 heavy (w=90) docs; at k=400 the heavy
    // class should dominate roughly by its weight share (9:1); the
    // deterministic hash makes this a fixed number, the assert just
    // bounds it loosely
    val docs = (0L until 2000L).map(i => (i, if (i < 1000) 10L else 90L))
      .toDF("doc_id", "n_chars")
    val heavy = Curation.weightedSample(docs, 400, col("n_chars"))
      .filter(col("doc_id") >= 1000).count()
    assert(heavy > 300 && heavy < 400, s"heavy=$heavy of 400")
  }

  test("weightedSample plan: global top-k, no shuffle and no window") {
    val docs = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "n_chars")
    val p = Curation.weightedSample(docs, 1, col("n_chars"))
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  private def extractOne(html: String): (String, Long) = {
    val r = Seq(html).toDF("h")
      .select(Curation.extractHtmlText(col("h")).as("x"))
      .select("x.extracted", "x.n_boilerplate_lines")
      .as[(String, Long)].collect().head
    r
  }

  test("extractHtmlText: link-density boundary — half-anchor line drops, less keeps") {
    // visible text 10 chars, anchor text 5 → 2*5 >= 10 → dropped
    val (t1, b1) = extractOne("<a href=\"/x\">abcde</a>fghij")
    assert(t1 == "" && b1 == 1, s"$t1/$b1")
    // visible text 11 chars, anchor text 5 → kept, tags stripped
    val (t2, b2) = extractOne("<a href=\"/x\">abcde</a>fghijk")
    assert(t2 == "abcdefghijk" && b2 == 0, s"$t2/$b2")
  }

  test("extractHtmlText: entities decode once, &amp; last — no double decode") {
    // '&amp;lt;' must yield the literal text '&lt;', NOT '<'
    val (t, _) = extractOne("<p>x &amp;lt; y &quot;z&quot; &#39;w&#39;</p>")
    assert(t == "x &lt; y \"z\" 'w'", t)
  }

  test("extractHtmlText: head/script sections and empty-tag lines vanish") {
    val html = "<html><head><title>t</title><style>p{}</style></head><body>\n" +
      "<script>var x = \"visible?\";</script>\n<p>real body text</p>\n</body></html>"
    val (t, b) = extractOne(html)
    assert(t == "real body text", t)
    assert(b == 3, s"boilerplate=$b") // head line, script line, </body> line
  }

  test("q_html_extract round-trips the body modulo the planted markup") {
    // wrap → extract recovers the text with ' a ' tokens turned into
    // '&' (the planted entity) and the <b> markup gone
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.documents(spark, dir).limit(50)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = SparkEntry.queries("q_html_extract")(spark, dir)
      .filter(col("doc_id").isin(docs.keys.toSeq: _*))
      .select("doc_id", "extracted", "n_boilerplate_lines")
      .as[(Long, String, Long)].collect()
    assert(got.length == docs.size)
    got.foreach { case (id, extracted, boiler) =>
      val expected = docs(id).replace(" a ", " & ")
      assert(extracted == expected, s"doc $id: $extracted != $expected")
      assert(boiler == 5L, s"doc $id boilerplate $boiler")
    }
  }

  test("extractHtmlText plan: narrow projection only, no exchange and no UDF") {
    val p = Seq((1L, "t")).toDF("doc_id", "text")
      .select(Curation.extractHtmlText(col("text")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython") &&
      !p.toLowerCase.contains("scalaudf"), p)
  }

  // the model-axis retractions under a duplicated supplied set: the
  // dead counts and the prior read the set's documents once each, so a
  // doc retracted twice subtracts once, and the survivors do not move
  private val modelRetractions: Seq[(String, Tombstones => org.apache.spark.sql.DataFrame)] =
    Seq(
      "nbModelRetracted" -> (t => Curation.nbModelRetracted(spark, TestSpark.Sf0001, t)),
      "nbClassifyRetracted" -> (t => Curation.nbClassifyRetracted(spark, TestSpark.Sf0001, t)),
      "scorePercentileRetracted" ->
        (t => Curation.scorePercentileRetracted(spark, TestSpark.Sf0001, t)),
      "dsirWeightsRetracted" ->
        (t => TextAnalysis.dsirWeightsRetracted(spark, TestSpark.Sf0001, t)))

  for ((name, retract) <- modelRetractions)
    test(s"model axis: $name serves Supplied(ids ∪ ids) ≡ Supplied(ids) ≡ Stored") {
      def rows(t: Tombstones) =
        retract(t).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val ids = Ingest.ensureForgetSet(spark, TestSpark.Sf0001)._1
      val once = rows(Tombstones.Supplied(ids))
      assert(once.nonEmpty, s"$name served nothing")
      assert(rows(Tombstones.Supplied(ids.unionByName(ids))) == once,
        s"$name: a duplicated retraction must not count a document twice")
      assert(rows(Tombstones.Stored) == once,
        s"$name: the stored set must serve like a supplied frame of its ids")
    }
}
