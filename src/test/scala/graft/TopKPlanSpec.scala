package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopK

/** Custom bounded-heap top-k operator: row-set equivalence with the
  * window form (ties, skew, small groups), physical plan shape
  * (two-phase, one exchange, no Window/Sort), and edge cases. */
class TopKPlanSpec extends SparkSpecBase {

  import testImplicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("key", "id", "v")
  }

  test("custom operator == window rank on skewed data with duplicate sort keys") {
    // one mega-key (80% of rows), many small keys, heavy v ties
    val rows = (0L until 20000L).map { i =>
      val key = if (i % 5 != 0) "hot" else s"k${i % 97}"
      (key, i, (i % 7).toInt)
    }
    val df = rows.toDF("key", "id", "v").repartition(8).localCheckpoint()
    val got = TopK.topKPerKey(df, Seq(col("key")),
        Seq(col("v").desc, col("id").asc), 5)
      .select("key", "id", "v")
    val want = windowTopK(df, 5)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "custom top-k must reproduce the window row set exactly")
  }

  test("k larger than every group returns all rows; k=1 returns per-key max") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 20), ("b", 3L, 5)).toDF("key", "id", "v")
    val all = TopK.topKPerKey(df, Seq(col("key")),
      Seq(col("v").desc, col("id").asc), 100)
    assert(all.count() == 3)
    val top1 = TopK.topKPerKey(df, Seq(col("key")),
        Seq(col("v").desc, col("id").asc), 1)
      .select("key", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top1 == Set(("a", 2L), ("b", 3L)))
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(String, Long, Int)].toDF("key", "id", "v")
    assert(TopK.topKPerKey(df, Seq(col("key")),
      Seq(col("v").desc), 3).count() == 0)
  }

  test("plan: two TopKPerKey phases, one exchange between, no Window/Sort") {
    val df = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), col("n_chars"), (col("doc_id") % 13).as("key"))
    val plan = TopK.topKPerKey(df, Seq(col("key")),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2,
      s"partial AND final phases expected:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"),
      s"final phase must cluster on the key:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort "),
      s"the whole point: no full per-partition sort, no window:\n$plan")
  }

  test("partial-phase key cap: emit-and-reset keeps near-unique keys exact") {
    // near-unique keys (every key has 1-2 rows) with the partial map
    // capped far below the key count: each task flushes its heaps many
    // times; the FINAL phase must still produce the exact row set. This
    // is the regime the uncapped map would hold the whole partition in.
    val prev = spark.conf.getOption(TopK.PartialMaxKeysConf)
    spark.conf.set(TopK.PartialMaxKeysConf, "64")
    try {
      val n = 50000L
      val df = spark.range(n).select(
          concat(lit("k"), (col("id") % (n / 2)).cast("string")).as("key"),
          col("id"), (col("id") % 1000).cast("int").as("v"))
        .repartition(8).localCheckpoint()
      val got = TopK.topKPerKey(df, Seq(col("key")),
          Seq(col("v").desc, col("id").asc), 2)
        .select("key", "id", "v")
      val want = windowTopK(df, 2)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "capped partial phase must still reproduce the window row set")
      // plan shape unchanged by the cap: still two phases, one exchange
      val plan = TopK.topKPerKey(df, Seq(col("key")),
          Seq(col("v").desc), 2).queryExecution.executedPlan.toString
      assert("TopKPerKey".r.findAllIn(plan).size >= 2 &&
        plan.contains("Exchange hashpartitioning"), plan)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(TopK.PartialMaxKeysConf, v)
        case None => spark.conf.unset(TopK.PartialMaxKeysConf)
      }
    }
  }

  test("q_domain_cap_topk == q_domain_cap row-for-row") {
    val a = SparkEntry.queries("q_domain_cap_topk")(spark, TestSpark.Sf0001)
    val b = SparkEntry.queries("q_domain_cap")(spark, TestSpark.Sf0001)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  // --- TopKRewrite: the optimizer rule that makes the declarative
  // window idiom plan as the bounded-heap operator ---------------------

  private def declarativeForm(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  test("TopKRewrite: plain row_number()<=k with rank dropped plans as the heap operator") {
    val df = (0L until 5000L).map(i => (s"k${i % 37}", i, (i % 11).toInt))
      .toDF("key", "id", "v").repartition(4).localCheckpoint()
    val rewritten = declarativeForm(df, 3)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2,
      s"the declarative form must plan as the two-phase heap operator:\n$plan")
    assert(!plan.contains("Window"),
      s"the window (and its full per-key sort) must be GONE:\n$plan")
    // row set ≡ the un-rewritten window semantics: keep the rank column
    // in the plan (which blocks the rule by construction) and discard
    // it only at collect time
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    val wantDf = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    assert(wantDf.queryExecution.executedPlan.toString.contains("Window"),
      "control: keeping the rank column must keep the window")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("key", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val want = wantDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(rewritten) == want,
      "rewritten plan must reproduce the window row set exactly")
  }

  test("TopKRewrite: extra post-rank conjuncts survive above the heap; bound still applies") {
    val df = (0L until 4000L).map(i => (s"k${i % 23}", i, (i % 9).toInt))
      .toDF("key", "id", "v").localCheckpoint()
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    val got = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4 && col("id") % 2 === 0).drop("rn")
    val plan = got.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2 && !plan.contains("Window"),
      s"conjunction with a rank bound must still rewrite:\n$plan")
    // reference keeps rn (blocking the rule) and discards it at collect
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4).filter(col("id") % 2 === 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val gotRows = got.select("key", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(gotRows == want,
      "post-rank residual filter must apply AFTER the per-key cut")
  }

  test("TopKRewrite: key-only conjunct ends up BELOW the heap, not above it") {
    val df = (0L until 3000L).map(i => (s"k${i % 19}", i, (i % 13).toInt))
      .toDF("key", "id", "v").localCheckpoint()
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    val got = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 && col("key") =!= "k3").drop("rn")
    val plan = got.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2 && !plan.contains("Window"),
      s"key conjunct must not block the rewrite:\n$plan")
    // the key predicate runs before the partial heaps — whether pushed
    // by Spark's own pushdown or the rule's below-heap split, no Filter
    // may sit ABOVE the final heap phase
    val filterAboveTopK = plan.linesIterator
      .takeWhile(!_.contains("TopKPerKey")).exists(_.contains("Filter"))
    assert(!filterAboveTopK,
      s"key-only predicate must evaluate below the heap phases:\n$plan")
    // row set: group k3 gone entirely, every other group's top-2 intact
    val rows = got.select("key", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val want = df.filter(col("key") =!= "k3")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows == want && rows.forall(_._1 != "k3"))
  }

  test("TopKRewrite: rn < Int.MinValue is statically empty, never top-Int.MaxValue (ADVICE r11)") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 20), ("b", 3L, 5))
      .toDF("key", "id", "v").localCheckpoint()
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    // Int `k - 1` would wrap Int.MinValue to Int.MaxValue and rewrite a
    // provably-empty predicate into "top everything per key"
    val empty = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") < Int.MinValue)
      .select("key", "id", "v")
    assert(empty.count() == 0,
      "rn < Int.MinValue must yield zero rows, not the whole input")
  }

  // --- session-uniform plan surface (SURVEY §10.20): the r15 posture
  // adjudication red was plan shape depending on SESSION HISTORY — the
  // rewrite was installed only by the q_topk_rewrite gate mid-suite, so
  // a pass-1/isolation JVM served the full window sort while pass 2
  // served the heap. These pins make that class of drift red by name. --

  test("ANY SparkEntry.queries entry installs the plan surface in a virgin session") {
    val s2 = spark.newSession() // fresh ExperimentalMethods: no rule yet
    def idiom = {
      val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
      s2.range(2000)
        .select(concat(lit("k"), (col("id") % 17).cast("string")).as("key"),
          col("id"), (col("id") % 11).cast("int").as("v"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .drop("rn")
    }
    val before = idiom.queryExecution.executedPlan.toString
    assert(before.contains("Window") && !before.contains("TopKPerKey"),
      s"control: a virgin session must NOT carry the rewrite yet:\n$before")
    // the choke point every driver, Bench, Verify and PlanDump query
    // goes through — one entry must bring the whole PLAN surface
    SparkEntry.queries("q_saldo_per_konto")(s2, TestSpark.Sf0001)
    val after = idiom.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(after).size >= 2 && !after.contains("Window"),
      s"one SparkEntry.queries entry must make the session plan-complete:\n$after")
  }

  test("TopKRewrite is batch-position-robust: the WindowGroupLimit-wrapped optimized shape rewrites too") {
    // A cluster deployment installs the rule via
    // `--conf spark.sql.extensions=graft.GraftExtensions`, which lands
    // it in the OPERATOR-OPTIMIZATION batch (pre-InferWindowGroupLimit
    // shapes); `GraftExtensions.install` lands it post-hoc, AFTER Spark's
    // own batches — where InferWindowGroupLimit has already wrapped the
    // window child in a Partial WindowGroupLimit. (An in-JVM test
    // cannot build an extensions session: `spark.sql.extensions` is a
    // STATIC conf read from the SparkContext, and the suite context
    // predates it — so pin the property that makes the position
    // irrelevant: the rule rewrites BOTH shapes.) The virgin-session
    // optimized plan below carries WindowGroupLimit + Window; one
    // manual application must strip both and emit the heap node.
    val s2 = spark.newSession() // no rule installed — settled Spark plan
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    val optimized = s2.range(1000)
      .select(concat(lit("k"), (col("id") % 7).cast("string")).as("key"),
        col("id"), (col("id") % 5).cast("int").as("v"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .drop("rn")
      .queryExecution.optimizedPlan
    val before = optimized.treeString
    assert(before.contains("WindowGroupLimit") && before.contains("Window"),
      s"control: Spark's own plan must carry the wrapped window:\n$before")
    val after = graft.plans.TopKRewrite.apply(optimized).treeString
    assert(after.contains("TopKPerKeyNode") && !after.contains("Window"),
      s"the rule must strip WindowGroupLimit AND Window:\n$after")
  }

  test("TopKRewrite: rank(), kept-rank, and rank-consuming plans are left untouched") {
    val df = (0L until 1000L).map(i => (s"k${i % 7}", i, (i % 5).toInt))
      .toDF("key", "id", "v").localCheckpoint()
    val w = Window.partitionBy("key").orderBy(desc("v"), asc("id"))
    // rank() has keep-all-peers tie semantics a heap cannot represent
    val rankPlan = df.withColumn("r", rank().over(w)).filter(col("r") <= 3)
      .drop("r").queryExecution.executedPlan.toString
    assert(rankPlan.contains("Window") && !rankPlan.contains("TopKPerKey"),
      s"rank() must NOT rewrite:\n$rankPlan")
    // rank column consumed downstream → the heap can't supply it
    val keptPlan = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).queryExecution.executedPlan.toString
    assert(keptPlan.contains("Window") && !keptPlan.contains("TopKPerKey"),
      s"a consumed rank column must NOT rewrite:\n$keptPlan")
  }
}
