package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: its name, its DuckDB oracle and its Spark query
  * over an sf directory. Both halves live in one value, so a query
  * without an oracle (or an oracle without a query) cannot be written. */
final case class Gate(name: String, oracle: String,
    query: (SparkSession, String) => DataFrame)

/** Registry-integrity combinator for the gate surface.
  *
  * The correctness sweep trusts `SparkEntry.queries.keySet` as
  * THE gate surface, and a plain `Map ++` union silently keeps the
  * right-most binding on a key collision — round 12's per-lang data
  * card shadowed round 7's per-source one exactly this way, and the
  * sweep would have reported a green surface with one gate quietly
  * replaced (caught only by hand-counting the dump, SURVEY §10.16.23).
  * Assembly therefore fails LOUDLY here: Σ part sizes must equal the
  * union size, naming every colliding key and the parts that own it.
  */
object Registry {

  /** Union the named parts, refusing duplicate keys (within a part too). */
  def unionDistinct[V](parts: (String, Iterable[(String, V)])*): Map[String, V] = {
    val union = parts.flatMap(_._2).toMap
    if (union.size != parts.map(_._2.size).sum) {
      val dups = parts.flatMap { case (mod, m) => m.map(_._1 -> mod) }
        .groupBy(_._1).collect { case (k, owners) if owners.size > 1 =>
          s"$k <- [${owners.map(_._2).mkString(", ")}]" }
      throw new IllegalStateException(
        s"query registry: duplicate keys across modules: ${dups.mkString("; ")}")
    }
    union
  }
}

/** The one gate table: every gate file's rows, keyed by name. */
object Gates {

  /** Each gate file with its rows (RegistrySpec reports these counts). */
  val files: Seq[(String, Seq[Gate])] = Seq(
    "ParityGates" -> ParityGates.all,
    "TextAnalysisGates" -> TextAnalysisGates.all,
    "DedupGates" -> DedupGates.all,
    "SimilarityGates" -> SimilarityGates.all,
    "EventsGates" -> EventsGates.all,
    "MultimodalGates" -> MultimodalGates.all,
    "ScalePatternsGates" -> ScalePatternsGates.all,
    "AsOfGates" -> AsOfGates.all,
    "IngestGates" -> IngestGates.all,
    "CurationGates" -> CurationGates.all,
    "CrawlGates" -> CrawlGates.all,
    "CorpusStatsGates" -> CorpusStatsGates.all,
    "SpectralGates" -> SpectralGates.all,
    "BpeGates" -> BpeGates.all,
    "FormatsGates" -> FormatsGates.all,
    "Lifecycle" -> Lifecycle.all)

  val all: Map[String, Gate] = Registry.unionDistinct(
    files.map { case (f, gs) => f -> gs.map(g => g.name -> g) }: _*)
}
