package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{CorpusStats, Ingest, Multimodal}
import graft.operators.CorpusStats.CellSketch
import graft.operators.Ingest.{DocGen, Tombstones}

/** The deletion half of the stored-index lifecycle, one table over
  * every document-keyed family served through `DocGen`/`Tombstones`:
  * the text indexes (BM25 postings, sketches, phrase positions), the
  * linear cell sketches (CMS, histogram) and the media hash index (its
  * three dedup surfaces). Whatever the family, a purge is a pure
  * physical rewrite of the masked view, a caller-supplied tombstone
  * frame serves exactly like the stored set over the same ids, and a
  * duplicated retraction serves exactly like the set itself (the
  * supplied set is made distinct once, so neither the derived negative
  * stats, a retraction sketch's cells nor the purge key can count a
  * document twice — for the linear sketches a duplicate would be a
  * double subtract). Each row carries the id frame its `Stored` set
  * holds: the `ensureForgetSet` ids, or for media that family's own
  * fixture, `ensureMediaForgetSet`. */
class TextLifecycleSpec extends SparkSpecBase {

  private val Dir = TestSpark.Sf0001

  private def forgetIds: DataFrame = Ingest.ensureForgetSet(spark, Dir)._1
  private def mediaIds: DataFrame =
    Multimodal.ensureMediaForgetSet(spark, Dir).select(col("media_id").as("doc_id"))
  private def media(g: DocGen): DataFrame = Multimodal.mediaServed(spark, Dir, g)

  private val families: Seq[(String, DocGen => DataFrame, () => DataFrame)] = Seq(
    // k past any plausible match count: the full ranked list
    ("term", g => Ingest.bm25Served(spark, Dir, g,
      Seq("table", "scan", "join"), 100000), () => forgetIds),
    ("sketch", g => Ingest.nearDupServed(spark, Dir, g), () => forgetIds),
    ("phrase", g => Ingest.phraseMatchServed(spark, Dir, g,
      Ingest.PhraseBatch), () => forgetIds),
    ("cms", g => CorpusStats.cmsServed(spark, Dir, g), () => forgetIds),
    ("hist", g => CorpusStats.histServed(spark, Dir, g), () => forgetIds),
    ("media/image", g => Multimodal.imageDedup(media(g)), () => mediaIds),
    ("media/video", g => Multimodal.videoDedup(media(g)), () => mediaIds),
    ("media/audio", g => Multimodal.audioDedup(media(g)), () => mediaIds))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val Generations = Seq[Tombstones => DocGen](DocGen.Masked, DocGen.Purged)

  for ((family, serve, stored) <- families) {
    test(s"$family: Masked(Stored) ≡ Purged(Stored) row-for-row") {
      val masked = rows(serve(DocGen.Masked(Tombstones.Stored)))
      assert(masked.nonEmpty, s"$family: the masked serve returned nothing")
      assert(masked == rows(serve(DocGen.Purged(Tombstones.Stored))),
        s"$family: purge must be a pure physical rewrite of the masked view")
    }

    test(s"$family: Supplied(forget ids) ≡ Stored, masked and purged") {
      val supplied = Tombstones.Supplied(stored())
      for (gen <- Generations)
        assert(rows(serve(gen(supplied))) == rows(serve(gen(Tombstones.Stored))),
          s"$family: a supplied frame of the stored ids must serve " +
            s"${gen(supplied)} identically")
    }

    test(s"$family: Supplied(ids ∪ ids) ≡ Supplied(ids), masked and purged") {
      val once = Tombstones.Supplied(stored())
      val twice = Tombstones.Supplied(stored().unionByName(stored()))
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

  test("cms and hist: a cell sketch has no compacted generation") {
    for (sk <- Seq(CellSketch.Cms, CellSketch.Hist))
      intercept[IllegalArgumentException](
        CorpusStats.sketchCells(spark, Dir, sk, DocGen.Compacted))
  }
}
