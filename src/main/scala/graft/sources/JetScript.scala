package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Transforms
import graft.schema.HogiaTable

/** Write-only TableIO that emits the reverse conversion as an EXECUTABLE
  * Jet SQL script — the statement-level view of reverse mode: the
  * reference creates the physical `.mdb` through the Windows-only
  * ADOX/COM surface (`hhek2sqlite.go:1177-1202`), then issues
  * Jet-dialect DDL + literal INSERTs over ODBC. Everything AFTER the
  * COM call is plain SQL text, reproduced here statement for statement
  * so a driver-equipped Windows deployment (or UCanAccess session) can
  * replay it into a real Access file. (The binary artifact itself is
  * also produced natively now — `JetFile.write` via a `.mdb` target —
  * so the script is the auditable/portable form, including the 15
  * CREATE INDEX statements the page writer does not materialize.)
  *
  *  - `CREATE TABLE` in the Jet dialect (`HogiaTable.jetDdl`, verified
  *    against the reference literals by SchemaSpec);
  *  - the 15 `CREATE INDEX` statements (D2 — Jet-side only, exactly as
  *    the reference, e.g. `hhek2sqlite.go:427-458`);
  *  - one `INSERT` per row with the reference's reverse-mode literal
  *    formatting (`hhek2sqlite.go:139-153` and siblings): text quoted
  *    with `''` doubling (F1's escaping half), money as point→comma
  *    locale decimals in quotes (F2 reverse), `Single` through the
  *    Go-`%g` shortest form then comma (F5+F2), booleans as bare
  *    `true`/`false`, NULL as `NULL`, and `Löpnr` emitted as data so
  *    identity survives (§1.3 invariant 2).
  *
  * The literal rendering runs as codegen'd column expressions (one
  * `concat` per table — no per-row driver work); only the final script
  * line collection is driver-side, which is the nature of emitting one
  * ordered text artifact. */
final class JetScriptTableIO(path: String) extends TableIO {

  private var started = false
  private var written: Map[String, DataFrame] = Map.empty

  /** Echoes the frame the emitted script would load — lets a caller read
    * back what this write-only sink emitted. */
  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    written.getOrElse(table.name,
      throw new IllegalStateException(s"${table.name} not yet emitted"))

  override def exists(spark: SparkSession, table: HogiaTable): Boolean =
    written.contains(table.name)

  /** Literal renderer for one column, per the reference's reverse mode. */
  private def literal(c: Column, dt: DataType, jetType: String): Column = {
    val rendered = dt match {
      case StringType =>
        concat(lit("'"), Transforms.sqlEscapeCompat(c), lit("'"))
      case _: DecimalType =>
        // the reference reads SQLite's shortest rendering ("1.1", not
        // "1.1000"); strip trailing zeros then a dangling point
        val shortest = regexp_replace(
          regexp_replace(c.cast(StringType), "0+$", ""), "\\.$", "")
        concat(lit("'"), Transforms.point2comma(shortest), lit("'"))
      case FloatType =>
        concat(lit("'"), Transforms.point2comma(Transforms.floatRepr(c)), lit("'"))
      case BooleanType => c.cast(StringType)
      case _ => c.cast(StringType)
    }
    coalesce(rendered, lit("NULL"))
  }

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit = {
    val p = Paths.get(path)
    if (!started) {
      if (Files.exists(p)) Files.delete(p)
      started = true
    }
    val colList = table.cols.map(c => s"[${c.name}]").mkString(",")
    val header = Seq(table.jetDdl + ";") ++ table.indexDdl.map(_ + ";")
    // one codegen'd concat builds each full INSERT statement
    val parts: Seq[Column] =
      lit(s"INSERT INTO [${table.name}] ($colList) VALUES (") +:
        table.cols.zipWithIndex.flatMap { case (c, i) =>
          val v = literal(col(s"`${c.name}`"), c.spark, c.jetType)
          if (i == 0) Seq(v) else Seq(lit(","), v)
        } :+ lit(");")
    val stmts = df.select(concat(parts: _*).as("stmt"))
      .collect().map(_.getString(0))
    val lines = (header ++ stmts).mkString("", "\n", "\n")
    Files.write(p, lines.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    written += table.name -> df
  }
}
