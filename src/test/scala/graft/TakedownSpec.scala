package graft

import graft.operators.{CorpusStats, Curation, Ingest, Multimodal, TextAnalysis}

/** Structural pinning of the composed takedown's axis surface
  * (VERDICT r14 #5): the expected axis set is DERIVED from the modules
  * that declare deletion surfaces (`takedownAxes`), and every
  * retraction entry point (a `*ForgottenWith` / `*RetractedWith`
  * method, found by reflection) must map to a declared axis — so
  * planting a new deletion surface without composing it into
  * [[Ingest.takedownE2e]] (and its oracle) reds a test BY NAME instead
  * of silently missing the composition.
  */
class TakedownSpec extends SparkSpecBase {

  private val modules: Seq[(String, AnyRef, Seq[String])] = Seq(
    ("Ingest", Ingest, Ingest.takedownAxes),
    ("CorpusStats", CorpusStats, CorpusStats.takedownAxes),
    ("Multimodal", Multimodal, Multimodal.takedownAxes),
    ("Curation", Curation, Curation.takedownAxes),
    ("TextAnalysis", TextAnalysis, Nil), // retraction rides the model axis
  )

  private def declaredAxes: Seq[String] =
    modules.flatMap(_._3).distinct.sorted

  /** Entry point → composed axis. A NEW retraction method added to any
    * declared module MUST be mapped here (and its axis declared +
    * composed), or the reflection test below names it. Methods serving
    * the same stored surface share an axis (the media modalities; the
    * trained-artifact family on 'model'). The bm25, phrase, sketch,
    * cms and media axes have no per-family entry point: they serve
    * through their family accessor (`Ingest.bm25Served`,
    * `phraseMatchServed`, `nearDupServed`, `CorpusStats.cmsServed`,
    * `Multimodal.mediaServed`) with a
    * `DocGen.Masked(Tombstones.Supplied(…))` generation, as the dense
    * and quantized axes serve through `Ingest.knnJoinIvfServed` with an
    * `IvfGen.Masked` generation. */
  private val MethodAxis: Map[String, String] = Map(
    "nbModelRetractedWith" -> "model",
    "nbFrozenModelRetractedWith" -> "model",
    "nbClassifyRetractedWith" -> "model",
    "scorePercentileRetractedWith" -> "model",
    "dsirWeightsRetractedWith" -> "model",
  )

  test("every reflected retraction entry point maps to a declared axis") {
    val pat = ".*(ForgottenWith|RetractedWith)$".r
    val found = modules.flatMap { case (modName, obj, _) =>
      obj.getClass.getMethods.toSeq.map(_.getName).distinct
        .filter(n => pat.matches(n))
        .map(n => (modName, n))
    }.distinct
    assert(found.nonEmpty, "reflection found no retraction entry points")
    val unmapped = found.filterNot { case (_, n) => MethodAxis.contains(n) }
    assert(unmapped.isEmpty,
      s"retraction entry point(s) with no composed-takedown axis mapping: " +
        s"${unmapped.map { case (m, n) => s"$m.$n" }.mkString(", ")} — " +
        "map each to an axis here, declare the axis in the module's " +
        "takedownAxes, and compose it into takedownE2eWith + its oracle")
    val declared = declaredAxes.toSet
    val undeclared = found.flatMap { case (_, n) => MethodAxis.get(n) }
      .filterNot(declared.contains).distinct
    assert(undeclared.isEmpty,
      s"mapped axis(es) not declared by any module: $undeclared")
  }

  test("composed takedown serves exactly the declared axis set") {
    val served = Ingest.takedownE2e(spark, TestSpark.Sf0001)
      .select("axis").collect().map(_.getString(0)).toSeq
    assert(served == declaredAxes,
      s"takedownE2e axis column $served != declared $declaredAxes")
  }

  test("composed-takedown oracle covers every declared axis") {
    val sql = SparkEntry.oracleSql("q_takedown_e2e")
    val missing = declaredAxes.filterNot(a => sql.contains(s"'$a'"))
    assert(missing.isEmpty,
      s"TakedownE2eOracleSql lacks declared axis(es): $missing")
  }
}
