package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Ingest
import graft.operators.Ingest.{DocGen, Tombstones}

/** The deletion half of the text-index lifecycle, one table over the
  * three document-keyed families (BM25 postings, sketches, phrase
  * positions): whatever the family, a purge is a pure physical rewrite
  * of the masked view, a caller-supplied tombstone frame serves exactly
  * like the stored artifact over the same ids, and a duplicated
  * retraction serves exactly like the set itself (the supplied set is
  * made distinct once, so neither the derived negative stats nor the
  * purge key can count a document twice). */
class TextLifecycleSpec extends SparkSpecBase {

  private val Dir = TestSpark.Sf0001

  private val families: Seq[(String, DocGen => DataFrame)] = Seq(
    // k past any plausible match count: the full ranked list
    "term" -> (g => Ingest.bm25Served(spark, Dir, g,
      Seq("table", "scan", "join"), 100000)),
    "sketch" -> (g => Ingest.nearDupServed(spark, Dir, g)),
    "phrase" -> (g => Ingest.phraseMatchServed(spark, Dir, g,
      Ingest.PhraseBatch)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def stored: DataFrame = Ingest.ensureForgetSet(spark, Dir)._1

  private val Generations = Seq[Tombstones => DocGen](DocGen.Masked, DocGen.Purged)

  for ((family, serve) <- families) {
    test(s"$family: Masked(Stored) ≡ Purged(Stored) row-for-row") {
      val masked = rows(serve(DocGen.Masked(Tombstones.Stored)))
      assert(masked.nonEmpty, s"$family: the masked serve returned nothing")
      assert(masked == rows(serve(DocGen.Purged(Tombstones.Stored))),
        s"$family: purge must be a pure physical rewrite of the masked view")
    }

    test(s"$family: Supplied(forget ids) ≡ Stored, masked and purged") {
      val supplied = Tombstones.Supplied(stored)
      for (gen <- Generations)
        assert(rows(serve(gen(supplied))) == rows(serve(gen(Tombstones.Stored))),
          s"$family: a supplied frame of the stored ids must serve " +
            s"${gen(supplied)} identically")
    }

    test(s"$family: Supplied(ids ∪ ids) ≡ Supplied(ids), masked and purged") {
      val once = Tombstones.Supplied(stored)
      val twice = Tombstones.Supplied(stored.unionByName(stored))
      for (gen <- Generations)
        assert(rows(serve(gen(twice))) == rows(serve(gen(once))),
          s"$family: a duplicated retraction must not count a document " +
            s"twice (${gen(once)})")
    }
  }

  test("phrase: the positional index has no append generation") {
    for (g <- Seq(DocGen.Appended, DocGen.Compacted))
      intercept[IllegalArgumentException](Ingest.phraseServed(spark, Dir, g))
  }
}
