package graft

import org.apache.spark.sql.functions.col

import graft.operators.Ingest
import graft.operators.Ingest.{DocGen, Tombstones}

/** LSM lifecycle of the stored inverted index (append → serve base∪delta
  * → compact → serve gen2), pinned by the exact-copy canary argument:
  * every appended document is an exact text copy of its `% 101` source,
  * so tf/dl per term are identical and — because BOTH docs are scored
  * under the same grown (N, Σdl, df) — the copy's BM25 score must equal
  * its source's EXACTLY. A stale-stats bug (old N for old docs, new N
  * for new) breaks that equality; so does any drift between the delta
  * build's tokenizer and the base index's. */
class IngestSpec extends SparkSpecBase {

  private val Terms = Seq("table", "scan", "join")
  // k past any plausible match count: the full ranked list, so every
  // scoring (source, copy) pair is present for the pairwise assert
  private val AllK = 100000

  test("appended exact copies score EXACTLY their source's score") {
    val all = Ingest.bm25Served(spark, TestSpark.Sf0001, DocGen.Appended, Terms, AllK)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val copies = all.keys.filter(_ >= Ingest.DocAppendOffset).toSeq
    assert(copies.nonEmpty,
      "append batch must contribute scoring documents at sf0.001")
    copies.foreach { id =>
      val src = id - Ingest.DocAppendOffset
      assert(all.contains(src), s"copy $id surfaced without its source")
      assert(all(id) == all(src),
        s"copy $id scored ${all(id)} but source $src scored ${all(src)}: " +
          "stats/df must reflect ONE grown corpus for both generations")
    }
  }

  test("compacted generation serves base∪delta results row-for-row") {
    val a = Ingest.bm25Served(spark, TestSpark.Sf0001, DocGen.Appended, Terms, AllK)
      .collect().map(_.toSeq).toSeq
    val c = Ingest.bm25Served(spark, TestSpark.Sf0001, DocGen.Compacted, Terms, AllK)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == c,
      "gen2 must be a pure layout rewrite: same rows, same total order")
  }

  test("sketch-index append: every appended copy pairs with its source at J = 1.0") {
    val pairs = graft.SparkEntry.queries("q_near_dup_append")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // sf0.001 append batch = copies of {0, 101, 202, 303, 404}
    val batch = Seq(0L, 101L, 202L, 303L, 404L)
    batch.foreach { src =>
      val copy = src + Ingest.DocAppendOffset
      assert(pairs.exists(p => p._1 == src && p._2 == copy && p._3 == 1.0),
        s"copy of $src missing from the grown-index pairs")
    }
    // the base pair set is still there: append only ADDS pairs
    val basePairs = graft.SparkEntry.queries("q_near_dup_minhash")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val grown = pairs.map(p => (p._1, p._2)).toSet
    assert(basePairs.subsetOf(grown), "append must never lose a base pair")
  }

  test("sketch compaction is a pure layout rewrite: appended ≡ compacted pairs") {
    val a = graft.SparkEntry.queries("q_near_dup_append")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    val c = graft.SparkEntry.queries("q_near_dup_compact")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == c,
      "gen2 must serve the identical pair set in the identical order")
  }

  test("delta stats carry exactly the append batch; merged stats grow") {
    val Seq(base, merged) = Seq(DocGen.Base, DocGen.Appended).map(g =>
      Ingest.termServed(spark, TestSpark.Sf0001, g).stats.collect()(0))
    // the delta's own (n_docs, Σdl): merged minus base
    val (dN, dDl) =
      (merged.getLong(0) - base.getLong(0), merged.getLong(1) - base.getLong(1))
    // sf0.001: doc_ids 0..499, so the % 101 batch is {0,101,202,303,404}
    assert(dN == 5L, s"append batch size: $dN")
    assert(dDl > 0L, "delta Σdl must be positive")
    assert(base.getLong(0) == 500L, s"base corpus size: $base")
  }

  test("forget: no tombstoned doc ranks; masked ≡ purged over the FULL list") {
    val dead = (0L until 500L).filter(_ % Ingest.ForgetMod == Ingest.ForgetRem).toSet
    assert(dead.nonEmpty)
    val masked = Ingest.bm25Served(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Stored), Terms, AllK)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(masked.nonEmpty && masked.forall(p => !dead.contains(p._1)),
      "a retracted doc surfaced from the masked serve path")
    val purged = Ingest.bm25Served(spark, TestSpark.Sf0001,
        DocGen.Purged(Tombstones.Stored), Terms, AllK)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(masked == purged,
      "purge must be a pure physical rewrite of the masked view: " +
        "same rows, same scores, same total order")
    // the retraction actually bit: stored-over-full-corpus ranks at
    // least one doc the reduced corpus must not
    val full = Ingest.bm25TopKStored(spark, TestSpark.Sf0001, Terms, AllK)
      .collect().map(r => r.getLong(0)).toSet
    assert(full.exists(dead.contains),
      "fixture too weak: no retracted doc matched the query terms")
  }

  test("forget: purged generation holds zero tombstoned rows, corrected stats") {
    val gen = Ingest.termServed(spark, TestSpark.Sf0001,
      DocGen.Purged(Tombstones.Stored))
    val (purged, statsP) = (gen.sides.head, gen.stats)
    assert(purged.filter(col("doc_id") % Ingest.ForgetMod === Ingest.ForgetRem)
      .count() == 0, "tombstoned postings survived the purge rewrite")
    val (_, negStats) = Ingest.ensureForgetSet(spark, TestSpark.Sf0001)
    val (_, stats) = Ingest.ensureTermIndex(spark, TestSpark.Sf0001)
    val b = stats.collect()(0); val n = negStats.collect()(0)
    val p = statsP.collect()(0)
    assert(p.getLong(0) == b.getLong(0) - n.getLong(0) &&
      p.getLong(1) == b.getLong(1) - n.getLong(1),
      s"purged stats must be base minus retraction: $b - $n != $p")
    // sf0.001: doc_ids 0..499 → 39 ids with id % 13 == 7
    assert(n.getLong(0) == (0L until 500L).count(_ % 13 == 7),
      s"tombstone count: $n")
  }

  test("forget: sketch purge holds zero tombstoned rows; masked ≡ purged pairs") {
    val purged = Ingest.sketchServed(spark, TestSpark.Sf0001,
      DocGen.Purged(Tombstones.Stored))
    assert(purged.filter(col("doc_id") % Ingest.ForgetMod === Ingest.ForgetRem)
      .count() == 0, "tombstoned sketches survived the purge rewrite")
    val masked = Ingest.nearDupServed(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Stored))
      .collect().map(_.toSeq).toSeq
    val fromPurged = Ingest.nearDupServed(spark, TestSpark.Sf0001,
        DocGen.Purged(Tombstones.Stored))
      .collect().map(_.toSeq).toSeq
    assert(masked.nonEmpty && masked == fromPurged,
      "sketch purge must be a pure physical rewrite of the masked view")
  }

  test("forget: dedup pairs lose every retracted side, keep every survivor pair") {
    val dead = (0L until 500L).filter(_ % Ingest.ForgetMod == Ingest.ForgetRem).toSet
    val kept = graft.SparkEntry.queries("q_near_dup_forget")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.forall(p => !dead.contains(p._1) && !dead.contains(p._2)),
      "a pair touching a retracted doc survived the mask")
    val base = graft.SparkEntry.queries("q_near_dup_minhash")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = base.filter(p => !dead.contains(p._1) && !dead.contains(p._2))
    assert(expect.subsetOf(kept),
      "a survivor-survivor pair vanished: the mask must only remove " +
        "pairs with a retracted side")
  }

  test("takedown e2e dense probes discriminate: unmasked serving surfaces the retracted vectors") {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val dir = TestSpark.Sf0001
    val dead = Ingest.ensureForgetSet(spark, dir)._1
      .select(col("doc_id").as("vec_id"))
    val qs = graft.queries.Tables.embeddings(spark, dir)
      .join(broadcast(dead), "vec_id")
      .orderBy("vec_id").limit(8)
      .select((col("vec_id") + lit(70000000L)).as("q_id"),
        col("embedding").as("q_emb"))
      .localCheckpoint()
    // WITHOUT the mask each query's own (retracted) vector is a
    // guaranteed cosine-1.0 hit — so the e2e gate's val_sum = 0 is a
    // discriminating property, not a vacuous one
    val unmasked = Ingest.knnJoinIvfStored(spark, dir, qs, 10)
      .join(broadcast(dead), "vec_id").count()
    assert(unmasked >= 8,
      s"each dense probe must surface its retracted vector unmasked: $unmasked")
    val masked = Ingest.knnJoinIvfServed(spark, dir, Ingest.IvfLayout.Flat,
      Ingest.DocGen.Masked(Ingest.Tombstones.Supplied(Ingest.ensureForgetSet(spark, dir)._1)),
      qs, 10)
      .localCheckpoint()
    assert(masked.join(broadcast(dead), "vec_id").count() == 0,
      "a retracted vector surfaced through the masked serve")
    assert(masked.count() == 80,
      "every query must backfill to k survivors after the takedown")
  }
  test("driver-side termBucketIds ≡ the executed termBucket column") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    // every declared probe term across the sparse gates, plus edge
    // shapes (empty string, unicode, a term absent from any corpus)
    val terms = (graft.operators.Ingest.NdcgBatchTerms.map(_._2) ++
      graft.operators.Ingest.BatchQueryTerms.map(_._2) ++
      Seq("table", "scan", "join", "state", "", "€uro", "no-such-term"))
      .distinct
    val executed = terms.toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")),
        lit(graft.operators.Ingest.NumTermBuckets.toLong))
        .cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      val ids = graft.operators.Ingest.termBucketIds(spark, Seq(t))
      assert(ids == Seq(executed(t)),
        s"termBucketIds drifted from the termBucket column for '$t'")
    }
  }
}