package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.Tables.documents

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the REAL merge-table
  * algorithm, not the whitespace/regex approximation `q_token_count`
  * uses: training learns a ranked list of unit-pair merges from corpus
  * pair frequencies; encoding applies the merges in rank order, one
  * left-to-right non-overlapping pass per rank (the original
  * implementation's `re.sub` semantics — a newly created unit DOES
  * merge with the following occurrence in the same pass: with merge
  * (a,a), "aaaa" → [aa, aa]).
  *
  * Divergence from Sennrich: no end-of-word marker (units never cross
  * word boundaries either way) and merges apply within lowercased
  * whitespace tokens — the corpus has no punctuation to motivate a
  * pre-tokenizer regex.
  *
  * 100 TB shape:
  *  - training collapses the corpus to the word VOCABULARY in ONE
  *    corpus-scale groupBy (the classic trick — pair counting then runs
  *    on distinct words × counts, orders of magnitude smaller), then
  *    each merge iteration is one explode+groupBy aggregation over the
  *    vocab with a 1-row argmax collect (bounded driver artifact) and a
  *    NARROW fold rewriting the unit arrays; localCheckpoint per
  *    iteration truncates the growing lineage (the Lloyd's-iteration
  *    rule);
  *  - encoding is a pure per-row expression — M nested `aggregate`
  *    folds inside the scan stage, zero shuffles, no UDFs — and
  *    composes into any pipeline projection (token counting, packing,
  *    context-length budgeting).
  */
object Bpe {

  /** One left-to-right merge pass: every adjacent (a, b) unit pair
    * becomes the single unit a+b, and the scan continues AFTER the
    * merged unit — so with merge (a,a), "aaaa" → [aa, aa] (the 3rd and
    * 4th tokens form a fresh pair). A merged unit never acts as the
    * LEFT side of another merge within the same pass (`a+b == a` is
    * impossible for non-empty b); later-ranked passes see it. */
  private[operators] def mergeFold(units: Column, a: String, b: String): Column =
    aggregate(units, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
        element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Single-character unit array of a word ('' → empty, not ['']). */
  private[operators] def chars(word: Column): Column =
    when(length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))))

  /** Apply a ranked merge table to one word: chars, then one
    * left-to-right pass per merge in rank order. Served by the compiled
    * kernel ([[graft.functions.BpeOps]]) — the declarative fold below
    * ([[encodeUnitsFold]]) is the reference formulation (one
    * interpreted `aggregate` HOF per merge per word, measured as the
    * dominant crawl-pipeline stage cost at sf0.1); BpeSpec pins
    * kernel ≡ fold on the corpus and on adversarial words. */
  def encodeUnits(word: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeOps.encode(word, merges)

  /** The reference fold formulation of [[encodeUnits]] (spec oracle —
    * not used in any query plan). */
  private[graft] def encodeUnitsFold(word: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(chars(word)) { case (u, (a, b)) => mergeFold(u, a, b) }

  /** Flattened units of a whole token array in ONE kernel call — the
    * `flatten(transform(toks, w => encodeUnits(w)))` shape without the
    * two interpreted HOF layers. */
  def encodeAllUnits(tokens: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeOps.encodeAll(tokens, merges)

  /** Learn `numMerges` merges from the corpus. Each iteration picks the
    * globally most frequent adjacent unit pair (count summed over word
    * frequencies; ties broken lexicographically on (a, b) so training
    * is deterministic on any cluster) and rewrites the vocab with it.
    * Stops early when no word has two units left. */
  def train(docs: DataFrame, numMerges: Int): Seq[(String, String)] = {
    var vocab = docs
      .select(explode(Curation.gramToks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), chars(col("word")).as("u"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 1 to numMerges if !done) {
      val top = vocab
        .select(col("cnt"),
          explode(when(size(col("u")) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(col("u")) - 1),
              i => struct(element_at(col("u"), i).as("a"),
                element_at(col("u"), i + 1).as("b"))))).as("p"))
        .groupBy("p").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("p").asc)
        .limit(1)
        .collect() // bounded: the 1-row argmax pair
      if (top.isEmpty) done = true
      else {
        val r = top.head.getStruct(0)
        val (a, b) = (r.getString(0), r.getString(1))
        out += ((a, b))
        vocab = vocab.withColumn("u", mergeFold(col("u"), a, b))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  /** The gate's merge table: `train(documents @ sf0.001, 24)`, pinned as
    * a constant (the materialize-once corpus-artifact rule) so the
    * DuckDB oracle can replay encoding without replaying the iterative
    * training. BpeSpec re-derives this list from the corpus — a drift
    * here fails the suite, not the gate. */
  val PinnedMerges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("m", "er"),
    ("a", "t"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("d", "ow"),
    ("in", "dow"),
    ("w", "indow"),
    ("d", "er"),
    ("or", "der"),
    ("or", "t"),
    ("s", "ort"))

  // --- oracle SQL generation (bm25BatchCtesSql precedent: the SQL is
  // GENERATED from the same Scala constants the Spark side uses) ------

  /** Per-lang word/unit totals of a corpus under the FROZEN pinned
    * merge table — one narrow pass, map-side-combined groupBy over
    * |langs| keys. */
  private def fertilityStats(docs: DataFrame, tag: String): DataFrame = {
    docs
      .select(col("lang"), Curation.gramToks(col("text")).as("t"))
      .select(col("lang"), size(col("t")).cast(LongType).as("nw"),
        size(encodeAllUnits(col("t"), PinnedMerges)).cast(LongType).as("nu"))
      .groupBy("lang")
      .agg(sum("nw").as(s"n_words_$tag"), sum("nu").as(s"n_units_$tag"))
  }

  /** Tokenizer-fertility monitoring across corpus snapshots: per lang,
    * words and BPE units of v1 vs v2 under the SAME frozen merges —
    * the drift check a production pipeline runs on every new crawl (a
    * fertility jump means the tokenizer fits the new data worse: more
    * units per word = longer sequences = higher training cost). All
    * integers; fertility ratios are the consumer's division. */
  def tokenizerDrift(s: SparkSession, dir: String): DataFrame =
    fertilityStats(documents(s, dir), "v1")
      .join(fertilityStats(Curation.corpusV2(s, dir), "v2"), Seq("lang"))
      .orderBy("lang")
}

/** Train a merge table on a corpus directory and print it as Scala
  * source — the tool that produced (and re-verifies) [[Bpe.PinnedMerges]].
  * Usage: BpeTrainMain <sfDir> [numMerges]. */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = if (args.length > 1) args(1).toInt else 24
    val spark = SparkSession.builder()
      .master(sys.env.get("SPARK_GRAFT_CPUS").fold("local[32]")(c => s"local[$c]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .appName("bpe-train").getOrCreate()
    val merges = Bpe.train(documents(spark, dir), n)
    println(merges.map { case (a, b) => s"""("$a", "$b")""" }
      .mkString("Seq(\n    ", ",\n    ", ")"))
    spark.stop()
  }
}
