package graft

import graft.operators.{CorpusStats, Curation, Ingest, Multimodal, TextAnalysis}

/** Structural pinning of the composed takedown's axis surface
  * (VERDICT r14 #5): the expected axis set is DERIVED from the modules
  * that declare deletion surfaces (`takedownAxes`), and every
  * retraction entry point (a public method of a declared module that
  * takes an `Ingest.Tombstones`, found by reflection) must map to a
  * declared axis — so planting a new deletion surface without composing
  * it into [[Ingest.takedownE2e]] (and its oracle) reds a test BY NAME
  * instead of silently missing the composition.
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

  /** Entry point → the composed axes it serves. A NEW retraction method
    * added to any declared module MUST be mapped here (and its axis
    * declared + composed), or the reflection test below names it.
    * Methods serving the same stored surface share an axis (the
    * trained-artifact family on 'model'); the composed takedown's own
    * axis list serves every axis. The other axes' serves take a
    * `DocGen.Masked(Tombstones…)` generation through their family
    * accessor (`Ingest.bm25Served`, `knnJoinIvfServed`,
    * `phraseMatchServed`, `nearDupServed`, `CorpusStats.cmsServed`,
    * `Multimodal.mediaServed`); only their θ purge policies take the
    * tombstones directly. */
  private def methodAxes: Map[String, Seq[String]] = Map(
    "nbModelRetracted" -> Seq("model"),
    "nbFrozenModelRetracted" -> Seq("model"),
    "nbClassifyRetracted" -> Seq("model"),
    "scorePercentileRetracted" -> Seq("model"),
    "dsirWeightsRetracted" -> Seq("model"),
    "bm25PolicyServed" -> Seq("bm25"),
    "cmsPolicyServed" -> Seq("cms"),
    "takedownServes" -> declaredAxes,
  )

  test("every reflected retraction entry point maps to a declared axis") {
    val tomb = classOf[Ingest.Tombstones]
    val found = modules.flatMap { case (modName, obj, _) =>
      obj.getClass.getMethods.toSeq
        .filter(m => !m.isSynthetic && !m.getName.contains("$") &&
          m.getParameterTypes.contains(tomb))
        .map(m => (modName, m.getName))
    }.distinct
    assert(found.nonEmpty, "reflection found no retraction entry points")
    val unmapped = found.filterNot { case (_, n) => methodAxes.contains(n) }
    assert(unmapped.isEmpty,
      s"retraction entry point(s) with no composed-takedown axis mapping: " +
        s"${unmapped.map { case (m, n) => s"$m.$n" }.mkString(", ")} — " +
        "map each to an axis here, declare the axis in the module's " +
        "takedownAxes, and compose it into takedownServes + its oracle")
    val declared = declaredAxes.toSet
    val undeclared = found.flatMap { case (_, n) => methodAxes(n) }
      .filterNot(declared.contains).distinct
    assert(undeclared.isEmpty,
      s"mapped axis(es) not declared by any module: $undeclared")
    val stale = methodAxes.keySet -- found.map(_._2)
    assert(stale.isEmpty, s"mapped entry point(s) no module declares: $stale")
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
