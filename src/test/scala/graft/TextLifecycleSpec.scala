package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.operators.{CorpusStats, Dedup, Ingest, Multimodal, TextAnalysis}
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
  * fixture, `ensureMediaForgetSet`.
  *
  * A family with an append generation also carries its chain: the
  * corpus ∪ append batch as document rows, and the family's FRESH
  * operator over such rows. A mask over the appended chain must equal
  * that fresh operator over (corpus ∪ batch) − t, for the stored set
  * and for a supplied set that retracts appended documents too, and
  * its purge must serve the masked rows.
  *
  * Every property runs under its own fresh `graft.scratch` root, so
  * each purge it serves is built by that property, never read back
  * from another's committed directory. */
class TextLifecycleSpec extends SparkSpecBase {

  private val Dir = TestSpark.Sf0001
  private val Terms = Seq("table", "scan", "join")

  /** The corpus ∪ append batch of a family as document rows, a few of
    * the batch's ids, what a generation serves in comparable form, and
    * the family's fresh operator over document rows. */
  private case class Chain(corpus: SparkSession => DataFrame,
      appendedIds: SparkSession => DataFrame,
      served: (SparkSession, DocGen) => DataFrame,
      fresh: DataFrame => DataFrame)

  private case class Family(name: String,
      serve: (SparkSession, DocGen) => DataFrame,
      stored: SparkSession => DataFrame,
      purgeMarker: String,
      chain: Option[Chain] = None)

  private def forgetIds(s: SparkSession): DataFrame = Ingest.ensureForgetSet(s, Dir)._1
  private def mediaIds(s: SparkSession): DataFrame =
    Multimodal.ensureMediaForgetSet(s, Dir).select(col("media_id").as("doc_id"))
  private def docs(s: SparkSession): DataFrame = graft.queries.Tables.documents(s, Dir)

  /** The text families' chain: the corpus plus its re-identified copies. */
  private def textCorpus(s: SparkSession): DataFrame =
    docs(s).select("doc_id", "text").unionByName(textBatch(s))
  private def textBatch(s: SparkSession): DataFrame =
    Ingest.appendedDocs(s, Dir)
      .select((col("doc_id") + lit(Ingest.DocAppendOffset)).as("doc_id"), col("text"))
  /** The cell sketches' chain: the batch arrives under its own ids. */
  private def sketchCorpus(s: SparkSession): DataFrame =
    docs(s).unionByName(Ingest.appendedDocs(s, Dir))
  private def firstIds(df: DataFrame): DataFrame =
    df.select("doc_id").distinct().orderBy("doc_id").limit(2)

  private def nearDup(features: DataFrame): DataFrame =
    Dedup.verifiedOverlapFromFeatures(features,
        Dedup.minhashCandidatesFromFeatures(features))
      .filter(col("n_common") * 2 >= col("n_union"))
      .select("doc1", "doc2", "jaccard")

  private def cellChain(sk: CellSketch): Chain = Chain(sketchCorpus,
    s => firstIds(Ingest.appendedDocs(s, Dir)),
    (s, g) => CorpusStats.sketchCells(s, Dir, sk, g).reduce(_.unionByName(_))
      .groupBy(sk.keys.map(col): _*).agg(sum(sk.mass).as(sk.mass))
      .filter(col(sk.mass) =!= 0),
    sk.build)

  private def media(s: SparkSession, g: DocGen): DataFrame =
    Multimodal.mediaServed(s, Dir, g)

  /** The media chain's fresh index over document rows: each surviving
    * source's stored base rows (a per-document decode) plus the delta
    * kernel run over the surviving sources alone. */
  private def mediaChain(modality: String, dedup: DataFrame => DataFrame): Chain =
    Chain(docs,
      s => firstIds(Multimodal.deltaHashKernel(docs(s))
        .filter(col("modality") === modality).select(col("src_id").as("doc_id"))),
      (s, g) => dedup(media(s, g)),
      survivors => dedup(
        Multimodal.ensureMediaHashIndex(survivors.sparkSession, Dir)
          .join(survivors.select(col("doc_id").as("src_id")), Seq("src_id"), "left_semi")
          .unionByName(Multimodal.deltaHashKernel(survivors))))

  private def mediaFamily(modality: String, dedup: DataFrame => DataFrame): Family =
    Family(s"media/$modality", (s, g) => dedup(media(s, g)), mediaIds,
      "media_phash", Some(mediaChain(modality, dedup)))

  // k past any plausible match count: the full ranked list
  private def bm25(s: SparkSession, g: DocGen): DataFrame =
    Ingest.bm25Served(s, Dir, g, Terms, 100000)
  private def sketch(s: SparkSession, g: DocGen): DataFrame =
    Ingest.nearDupServed(s, Dir, g)

  private val families: Seq[Family] = Seq(
    Family("term", bm25, forgetIds, "term_stats",
      Some(Chain(textCorpus, s => firstIds(textBatch(s)), bm25,
        d => TextAnalysis.bm25TopK(d, Terms, 100000)))),
    Family("sketch", sketch, forgetIds, "docs_sketched",
      Some(Chain(textCorpus, s => firstIds(textBatch(s)), sketch,
        d => nearDup(Dedup.minhashFeatures(d))))),
    Family("phrase", (s, g) => Ingest.phraseMatchServed(s, Dir, g,
      Ingest.PhraseBatch), forgetIds, "term_positions"),
    Family("cms", (s, g) => CorpusStats.cmsServed(s, Dir, g), forgetIds, "cms",
      Some(cellChain(CellSketch.Cms))),
    Family("hist", (s, g) => CorpusStats.histServed(s, Dir, g), forgetIds, "hist",
      Some(cellChain(CellSketch.Hist))),
    mediaFamily("image", Multimodal.imageDedup),
    mediaFamily("video", Multimodal.videoDedup),
    mediaFamily("audio", Multimodal.audioDedup))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val Generations = Seq[Tombstones => DocGen](DocGen.Masked(_), DocGen.Purged(_))

  /** `body` over a session whose artifacts all live under a fresh
    * scratch root. */
  private def freshScratch[T](body: SparkSession => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_lifecycle")
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set("graft.scratch", root.toString)
    try body(s) finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** Whether a stored table named `name` (its dir is `<name>_<sf>`) has
    * committed under `s`'s scratch root. */
  private def committed(s: SparkSession, name: String): Boolean = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s.conf.get("graft.scratch")))
    try walk.anyMatch(p => p.getFileName.toString.startsWith(name + "_") &&
      p.resolve("_SUCCESS").toFile.exists)
    finally walk.close()
  }

  for (f <- families) {
    val family = f.name

    test(s"$family: Masked(Stored) ≡ Purged(Stored) row-for-row") {
      freshScratch { s =>
        val masked = rows(f.serve(s, DocGen.Masked(Tombstones.Stored)))
        assert(masked.nonEmpty, s"$family: the masked serve returned nothing")
        assert(masked == rows(f.serve(s, DocGen.Purged(Tombstones.Stored))),
          s"$family: purge must be a pure physical rewrite of the masked view")
      }
    }

    test(s"$family: Supplied(forget ids) ≡ Stored, masked and purged") {
      freshScratch { s =>
        val supplied = Tombstones.Supplied(f.stored(s))
        for (gen <- Generations)
          assert(rows(f.serve(s, gen(supplied))) == rows(f.serve(s, gen(Tombstones.Stored))),
            s"$family: a supplied frame of the stored ids must serve " +
              s"${gen(supplied)} identically")
      }
    }

    test(s"$family: Supplied(ids ∪ ids) ≡ Supplied(ids), masked and purged") {
      freshScratch { s =>
        val once = Tombstones.Supplied(f.stored(s))
        val twice = Tombstones.Supplied(f.stored(s).unionByName(f.stored(s)))
        assert(rows(f.serve(s, DocGen.Masked(twice))) ==
          rows(f.serve(s, DocGen.Masked(once))),
          s"$family: a duplicated retraction must not count a document twice (masked)")
        // the duplicated set's purge is built HERE: nothing under this
        // root has committed its directory yet
        val marker = f.purgeMarker + DocGen.purgedSuffix(s, Dir, twice, DocGen.Base)
        assert(!committed(s, marker), s"$family: $marker built before its serve")
        val purged = rows(f.serve(s, DocGen.Purged(twice)))
        assert(committed(s, marker),
          s"$family: the duplicated set's serve did not commit its purge $marker")
        assert(purged == rows(f.serve(s, DocGen.Masked(once))),
          s"$family: a duplicated retraction must not count a document twice (purged)")
      }
    }

    for (c <- f.chain) {
      test(s"$family: Masked(t, Appended) ≡ fresh over (corpus ∪ batch) − t, Stored and Supplied") {
        freshScratch { s =>
          val withBatch = f.stored(s).unionByName(c.appendedIds(s))
          assert(c.appendedIds(s).count() > 0, s"$family: no appended ids to retract")
          for ((t, ids) <- Seq(Tombstones.Stored -> f.stored(s),
              Tombstones.Supplied(withBatch) -> withBatch)) {
            val masked = rows(c.served(s, DocGen.Masked(t, DocGen.Appended)))
            assert(masked.nonEmpty, s"$family: the masked chain served nothing")
            assert(masked == rows(c.fresh(Ingest.minus(c.corpus(s), ids))),
              s"$family: Masked($t, Appended) must equal the fresh operator " +
                "over the appended corpus minus the retraction")
          }
        }
      }

      test(s"$family: Purged(t, Appended) ≡ Masked(t, Appended) row-for-row") {
        freshScratch { s =>
          val t = Tombstones.Supplied(f.stored(s).unionByName(c.appendedIds(s)))
          for (u <- Seq(Tombstones.Stored, t)) {
            val masked = rows(f.serve(s, DocGen.Masked(u, DocGen.Appended)))
            assert(masked.nonEmpty && masked ==
              rows(f.serve(s, DocGen.Purged(u, DocGen.Appended))),
              s"$family: purge over the appended chain must rewrite its masked view")
          }
        }
      }
    }
  }

  test("phrase: the positional index has no append generation") {
    for (g <- Seq(DocGen.Appended, DocGen.Compacted))
      intercept[IllegalArgumentException](Ingest.phraseServed(spark, Dir, g))
  }

  test("phrase: a mask or purge applies to the base chain only") {
    for (g <- Seq(DocGen.Masked(Tombstones.Stored, DocGen.Appended),
        DocGen.Purged(Tombstones.Stored, DocGen.Appended)))
      intercept[IllegalArgumentException](Ingest.phraseServed(spark, Dir, g))
  }

  test("cms and hist: a cell sketch has no compacted generation") {
    for (sk <- Seq(CellSketch.Cms, CellSketch.Hist))
      intercept[IllegalArgumentException](
        CorpusStats.sketchCells(spark, Dir, sk, DocGen.Compacted))
  }

  test("document families reject Retrained; a mask or purge cannot nest") {
    for (f <- families)
      intercept[IllegalArgumentException](f.serve(spark, DocGen.Retrained()))
    for (inner <- Seq(DocGen.Masked(Tombstones.Stored), DocGen.Purged(Tombstones.Stored))) {
      intercept[IllegalArgumentException](DocGen.Masked(Tombstones.Stored, inner))
      intercept[IllegalArgumentException](DocGen.Purged(Tombstones.Stored, inner))
    }
  }
}
