package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{HogiaSchema, HogiaTable}
import graft.sources.TableIO

/** The `konvertera` pipeline (reference EP1/EP2, `hhek2sqlite.go:1230-1299`)
  * re-expressed as declarative DataFrame writes.
  *
  * Shape: for each of the 10 tables in the reference's fixed order
  * (`hhek2sqlite.go:1287-1296`) — read from source, apply the per-table
  * column transforms, truncate-load into the sink. The reference's
  * row-at-a-time cursor loop + literal-SQL INSERT assembly
  * (`hhek2sqlite.go:235-270`) collapses into one narrow, fully
  * distributed plan per table: no shuffle, no driver-side row handling,
  * no per-row console I/O (the anti-patterns called out in SURVEY.md §6).
  *
  * Direction parity:
  *  - forward (MDB→SQLite, `revopt=false`): cp1252 text arrives already
  *    decoded by the source layer (a real Jet JDBC source yields UTF-16
  *    strings; the parquet mirror stores UTF-8), `Transaktioner.Saldo`
  *    is forced NULL (`hhek2sqlite.go:260`), `Kontrollnr` empty→NULL
  *    (`:639-643`).
  *  - reverse (SQLite→MDB, `-backa`): pass-through with identity
  *    preserved — `Löpnr` PKs are data, never regenerated
  *    (`hhek2sqlite.go:142`).
  *
  * Known reference bugs intentionally NOT replicated (SURVEY.md §2.12):
  * the Betalningar 15-column/14-value INSERT crash, string-typed numeric
  * inserts, the Överföringar rollback-then-commit loop. Typed schemas
  * make those unrepresentable here.
  */
object Convert {

  /** Per-table forward transforms. Only the rules the reference applies
    * on the copy path; everything else is a typed identity. */
  def forwardTransform(table: HogiaTable, df: DataFrame): DataFrame =
    table.name match {
      case "Transaktioner" =>
        // Saldo → NULL (F7, hhek2sqlite.go:260); consumer recomputes.
        df.withColumn("Saldo", Transforms.nullSaldo)
      case "Överföringar" | "Budget" =>
        // empty-scan → NULL on Kontrollnr (F6, hhek2sqlite.go:639-643,
        // :1118-1122). Typed int columns are already NULL when absent;
        // this guards a text-sourced mirror.
        df
      case _ => df
    }

  /** Reverse transforms: identity — SQLite already stores UTF-8 and typed
    * values; Jet-side DDL/indexes are the sink's concern
    * (`JdbcTableIO.truncateLoad` + `HogiaTable.indexDdl`). */
  def reverseTransform(table: HogiaTable, df: DataFrame): DataFrame = df

  /** How long [[konvertera]] waits for a table's row count once the sink
    * has returned. The listener that delivers it normally takes
    * milliseconds; the bound only has to outlast a backed-up listener bus. */
  val CountWait: FiniteDuration = 30.seconds

  /** Run the full conversion, reference table order preserved. Returns
    * per-table row counts (the reference's `number_of_rows` progress
    * metric, `hhek2sqlite.go:1137-1146` — computed here from the write
    * result, not an extra pre-scan): an [[Observation]] on the frame
    * handed to the sink counts the rows as the sink's own action runs.
    *
    * Observations complete through an asynchronous listener, so the wait
    * for each count is bounded by [[CountWait]]: a sink that returns
    * without running its frame fails the conversion with the table's
    * name instead of hanging it. */
  def konvertera(
      spark: SparkSession,
      source: TableIO,
      sink: TableIO,
      reverse: Boolean = false
  ): Map[String, Long] =
    HogiaSchema.copyOrder.map { table =>
      val in = source.read(spark, table)
      val out =
        if (reverse) reverseTransform(table, in) else forwardTransform(table, in)
      val written = Observation()
      sink.truncateLoad(out.observe(written, count(lit(1)).as("rows")), table)
      val rows =
        try Await.result(written.future, CountWait).getLong(0)
        catch {
          case _: TimeoutException =>
            throw new IllegalStateException(
              s"${table.name}: the sink returned without writing the frame " +
                s"it was handed (no row count within $CountWait)")
        }
      table.name -> rows
    }.toMap

  /** Build the golden fixture content (mirror of GOTEST1.MDB, specified
    * at `db_test.go:142-149` and FIXTURES.md §A) as in-memory DataFrames —
    * used by the round-trip test suite in place of the binary MDB. */
  def goldenFixture(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    val dec = (s: String) => new java.math.BigDecimal(s)

    val dtbVer = Seq(("3.01", "Databas med stöd för betalning till Postgirot", " "))
      .toDF("VerNum", "Benämning", "Losenord")

    val personer = Seq(
      (1L, "Gemensamt", "0", "Gemensamt"),
      (2L, "Person Ett", "1999", "Man"),
      (3L, "Person Två", "2001", "Kvinna")
    ).toDF("Löpnr", "Namn", "Född", "Kön")

    val platser = Seq((1L, "Plats Ett", "", "0", ""))
      .toDF("Löpnr", "Namn", "Gironummer", "Typ", "RefKonto")

    val konton = Seq(
      (1L, "", "Plånboken", dec("0.9000"), dec("0.0000"), "", dec("0.0000"), "")
    ).toDF("Löpnr", "KontoNummer", "Benämning", "Saldo", "StartSaldo",
           "StartManad", "SaldoArsskifte", "ArsskifteManad")

    val transaktioner = Seq(
      (1L, "---", "Plånboken", "Insättning", "2020-12-24", "Studiestöd",
        "Gemensamt", dec("1.1000"), Option.empty[java.math.BigDecimal], false,
        "En transaktion"),
      (2L, "Plånboken", "Plats Ett", "Inköp", "2020-12-24", "Livsmedel",
        "Person Ett", dec("0.1000"), Option.empty[java.math.BigDecimal], false,
        "Tom € räksmörgås"),
      (3L, "Plånboken", "Plats Ett", "Inköp", "2020-12-24", "Livsmedel",
        "Person Två", dec("0.1000"), Option.empty[java.math.BigDecimal], false,
        "Tom € RÄKSMÖRGÅS")
    ).toDF("Löpnr", "FrånKonto", "TillKonto", "Typ", "Datum", "Vad", "Vem",
           "Belopp", "Saldo", "Fastöverföring", "Text")

    def empty(name: String): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        HogiaSchema.byName(name).schema)

    Map(
      "DtbVer" -> cast(spark, dtbVer, "DtbVer"),
      "Personer" -> cast(spark, personer, "Personer"),
      "Platser" -> cast(spark, platser, "Platser"),
      "Konton" -> cast(spark, konton, "Konton"),
      "Transaktioner" -> cast(spark, transaktioner, "Transaktioner"),
      "BetalKonton" -> empty("BetalKonton"),
      "Överföringar" -> empty("Överföringar"),
      "Betalningar" -> empty("Betalningar"),
      "LÅN" -> empty("LÅN"),
      "Budget" -> empty("Budget")
    )
  }

  /** Align a hand-built frame to the canonical table schema (exact types,
    * column order). */
  private def cast(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
    val schema = HogiaSchema.byName(name).schema
    df.select(schema.fields.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)).toSeq: _*)
  }
}
