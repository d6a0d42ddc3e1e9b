package graftbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.ops.Convert
import graft.schema.{HogiaSchema, HogiaTable}
import graft.sources.{JetTableIO, ParquetTableIO, SqliteTableIO, TableIO}

import Main.{Ctx, Op}

/** convert: the seeded ledger's parquet mirror is converted in reverse
  * (`-backa`) into a Jet `.mdb`, then forward into a SQLite `.db`; one
  * operation is one `Convert.konvertera` call. After each operation the
  * target file is read back through a fresh TableIO and compared with
  * the mirror (forward `Transaktioner.Saldo` is NULL by design). */
final class ConvertLoad extends Main.Load {

  private var mirror = ""
  private var mdb: Path = _
  private var db: Path = _
  private var expectReverse = Map.empty[String, Seq[String]]
  private var expectForward = Map.empty[String, Seq[String]]
  private var userRows = 0L
  private var userBytes = 0L
  // traced rounds: bytes each sink wrote
  private var jetWritten = 0L
  private var sqliteWritten = 0L

  override def setup(c: Ctx): Unit = {
    mirror = c.data
    mdb = c.work.resolve("ledger.mdb")
    db = c.work.resolve("ledger.db")
    val src = new ParquetTableIO(mirror)
    val rows = HogiaSchema.copyOrder.map(t => t -> src.read(c.spark, t).collect().toSeq)
    userRows = rows.map(_._2.size.toLong).sum
    userBytes = rows.map { case (_, rs) => rs.map(bytes).sum }.sum
    expectReverse = rows.map { case (t, rs) => t.name -> canon(t, rs, forward = false) }.toMap
    expectForward = rows.map { case (t, rs) => t.name -> canon(t, rs, forward = true) }.toMap
    round(c, -1, traced = false) // JIT warm-up
  }

  override def round(c: Ctx, r: Int, traced: Boolean): Seq[Op] =
    Seq(convert(c, r, traced, reverse = true), convert(c, r, traced, reverse = false))

  private def convert(c: Ctx, r: Int, traced: Boolean, reverse: Boolean): Op = {
    val target = if (reverse) mdb else db
    Files.deleteIfExists(target)
    val jet = new TracedIO(new JetTableIO(mdb.toString), "jet",
      Some(mdb).filter(_ => reverse), c.trace)
    val (source, sink) =
      if (reverse) (new TracedIO(new ParquetTableIO(mirror), "parquet", None, c.trace), jet)
      else (jet, new TracedIO(new SqliteTableIO(db.toString), "sqlite", Some(db), c.trace))
    var err = ""
    val t0 = c.trace.nowMs
    try c.trace.span(if (reverse) "reverse" else "forward") {
      Convert.konvertera(c.spark, source, sink, reverse)
    } catch { case NonFatal(e) => err = e.toString.take(300) }
    val t1 = c.trace.nowMs
    if (err.isEmpty) err = check(c, reverse)
    if (traced) {
      if (reverse) jetWritten += sink.bytesWritten else sqliteWritten += sink.bytesWritten
    }
    Op(r, if (reverse) "reverse" else "forward", t0, t1, traced, err, 0.0, 0L, 0L)
  }

  /** "" when the target file reads back as the mirror, else the first
    * table that differs. */
  private def check(c: Ctx, reverse: Boolean): String = {
    val back: TableIO =
      if (reverse) new JetTableIO(mdb.toString) else new SqliteTableIO(db.toString)
    val expect = if (reverse) expectReverse else expectForward
    HogiaSchema.copyOrder.find { t =>
      canon(t, back.read(c.spark, t).collect().toSeq, !reverse) != expect(t.name)
    }.map(t => s"${t.name} differs after ${if (reverse) "reverse" else "forward"}")
      .getOrElse("")
  }

  private def canon(t: HogiaTable, rows: Seq[Row], forward: Boolean): Seq[String] =
    rows.map { row =>
      t.cols.map { col =>
        if (forward && t.name == "Transaktioner" && col.name == "Saldo") "∅"
        else Main.render(row.get(row.fieldIndex(col.name)))
      }.mkString("\u0001")
    }.sorted

  /** User bytes of a row: text as UTF-8, numbers at their stored width. */
  private def bytes(row: Row): Long = row.toSeq.map {
    case null => 0L
    case s: String => s.getBytes("UTF-8").length.toLong
    case _: java.math.BigDecimal | _: Long | _: Double => 8L
    case _: Int | _: Float => 4L
    case _: Short => 2L
    case _ => 1L
  }.sum

  override def facts(c: Ctx, traced: Boolean): Seq[(String, Any)] = Seq(
    "user_rows" -> userRows,
    "user_bytes" -> userBytes,
    "mdb_bytes" -> (if (Files.exists(mdb)) Files.size(mdb) else 0L),
    "db_bytes" -> (if (Files.exists(db)) Files.size(db) else 0L),
    "jet_bytes_written" -> jetWritten,
    "sqlite_bytes_written" -> sqliteWritten)
}
