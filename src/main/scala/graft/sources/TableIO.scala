package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import graft.schema.HogiaTable

/** Storage abstraction for the convert pipeline (SURVEY.md §7.3).
  *
  * The reference's two engines (Jet/MDB via ODBC, `hhek2sqlite.go:1253-1279`;
  * SQLite, `:1148-1165`) are both row stores reached through SQL
  * connections. In this environment no Access/SQLite JDBC driver ships in
  * `/opt/spark/jars` and egress is zero, so the default implementation is
  * a parquet "jet-dump" mirror (one directory per table). [[JdbcTableIO]]
  * documents the drop-in for a real cluster with drivers on the classpath.
  */
trait TableIO {

  def read(spark: SparkSession, table: HogiaTable): DataFrame

  /** Truncate-then-load (reference D3+D4: `DELETE FROM` then row inserts,
    * `hhek2sqlite.go:100-107` etc.) — idempotent full replace. */
  def truncateLoad(df: DataFrame, table: HogiaTable): Unit

  def exists(spark: SparkSession, table: HogiaTable): Boolean
}

object TableIO {
  /** Row cap for the SINGLE-FILE sinks ([[SqliteTableIO]],
    * [[JetTableIO]]), whose truncate-load inherently funnels the whole
    * table through the driver (the reference's own single-threaded
    * writer shape). Without a guard a 10⁸-row table OOMs the driver
    * mid-collect; with it the export fails LOUDLY with routing guidance
    * before the file is touched. Configurable per session via
    * `spark.graft.singleFileMaxRows`. The guard is the collect itself:
    * `limit(cap+1).collect()` stops scanning at cap+1 rows, so the driver
    * never holds more than cap+1 rows even on a 100 TB input, and no
    * separate counting job runs. */
  val SingleFileMaxRowsKey = "spark.graft.singleFileMaxRows"
  val SingleFileMaxRowsDefault = 10000000L

  /** The rows of `df` for a single-file sink, or the routing error when
    * there are more than the cap. */
  private[sources] def collectSingleFile(df: DataFrame, table: HogiaTable,
      sink: String): Array[Row] = {
    val cap = df.sparkSession.conf
      .getOption(SingleFileMaxRowsKey).map(_.toLong)
      .getOrElse(SingleFileMaxRowsDefault)
    def refuse(): Nothing =
      throw new IllegalArgumentException(
        s"${table.name}: more than $cap rows bound for the single-file " +
          s"$sink sink, which materializes on the driver. Export this " +
          "table through JdbcTableIO (cluster-parallel) or ParquetTableIO " +
          s"instead, or raise $SingleFileMaxRowsKey knowingly.")
    // limit() takes an Int, so for caps past 2^31-1 a clamped limit
    // could never exceed the cap and the guard would silently pass —
    // fall back to a full count there (a user raising the cap that far
    // asked for the scan; the guard must still be enforceable)
    if (cap + 1 <= Int.MaxValue.toLong) {
      val rows = df.limit((cap + 1).toInt.max(1)).collect()
      if (rows.length > cap) refuse()
      rows
    } else {
      if (df.count() > cap) refuse()
      df.collect()
    }
  }
}

/** Parquet-backed TableIO: `<root>/<tableName>` one directory per table.
  * Overwrite mode reproduces the reference's delete-output-first semantics
  * (`hhek2sqlite.go:1153-1156`). Table names are non-ASCII
  * (`Överföringar`, `LÅN`) — exercised deliberately, SURVEY.md §1.3
  * invariant 4.
  */
final class ParquetTableIO(root: String) extends TableIO {

  private def path(table: HogiaTable): String = s"$root/${table.name}"

  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    spark.read.schema(table.schema).parquet(path(table))

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(table))

  override def exists(spark: SparkSession, table: HogiaTable): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** CSV TableIO in a configurable charset — the file-level analog of the
  * reference's Windows-1252 ↔ UTF-8 boundary (F1, `hhek2sqlite.go:60-73`):
  * with `charset = "windows-1252"` the on-disk bytes are cp1252 exactly
  * like the Jet side, and Spark's csv codec performs the decode/encode
  * that `toUtf8` does row-by-row in the reference. Semicolon separator
  * (the Swedish-locale CSV convention, matching the comma-decimal data).
  *
  * `nullValue = "\\N"` keeps NULL distinct from the empty string — the
  * reference treats empty TEXT and NULL differently (F6, empty-bytes →
  * NULL applies only to specific columns), so a sink that conflated them
  * would corrupt the round-trip. */
final class CsvTableIO(root: String, charset: String = "windows-1252") extends TableIO {

  private def path(table: HogiaTable): String = s"$root/${table.name}"

  /** Spark ≥3.5 rejects non-mainstream charsets in the csv codec unless
    * the session-global `spark.sql.legacy.javaCharsets` flag is on — and
    * that flag is read at EXECUTION time, so it cannot be scoped to one
    * lazy read (ADVICE r2 flagged the leak; a snapshot/restore breaks the
    * later collect). This implementation needs NO flag at all: the file
    * codec runs in `iso-8859-1` — always permitted, and byte↔char
    * BIJECTIVE over all 256 values — so on-disk bytes pass through the
    * csv layer untouched, and the real cp1252 work happens per string
    * column in the session-config-free codegen expression
    * (graft.functions.Cp1252, WHATWG/Go-exact). Structural csv characters
    * (`;`, quotes, newlines, `\N`) are ASCII, identical in both charsets,
    * so parsing is unaffected; non-string columns are ASCII by
    * construction and need no fixup. */
  private def opts = Map(
    "header" -> "true", "sep" -> ";", "encoding" -> "iso-8859-1",
    "charset" -> "iso-8859-1", "nullValue" -> "\\N", "emptyValue" -> "")

  require(charset.equalsIgnoreCase("windows-1252") ||
    charset.equalsIgnoreCase("iso-8859-1"),
    s"CsvTableIO supports windows-1252 / iso-8859-1, got $charset")

  private def isCp1252 = charset.equalsIgnoreCase("windows-1252")

  /** latin-1 chars (= raw file bytes) → proper UTF-8 strings. */
  private def decodeCols(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, encode}
    if (!isCp1252) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        graft.ops.Transforms.toUtf8(encode(col(f.name), "ISO-8859-1")).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** proper strings → latin-1 chars that serialize to cp1252 bytes. */
  private def encodeCols(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, decode}
    if (!isCp1252) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        decode(graft.ops.Transforms.fromUtf8(col(f.name)), "ISO-8859-1").as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    decodeCols(spark.read.options(opts).schema(table.schema).csv(path(table)))

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit =
    encodeCols(df).write.options(opts).mode(SaveMode.Overwrite).csv(path(table))

  override def exists(spark: SparkSession, table: HogiaTable): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** JDBC TableIO — the production drop-in when an Access (UCanAccess) or
  * SQLite (org.xerial) driver is on the executor classpath. Semantics per
  * reference: truncate-load ≙ `option("truncate", true)` + Overwrite (D3);
  * typed batched inserts replace the reference's hand-escaped literal SQL
  * (D4, `hhek2sqlite.go:139-153`); per-partition commits replace its three
  * inconsistent transaction strategies (D5, SURVEY.md §2.8). DDL parity
  * comes from `HogiaTable.createTableColumnTypes`; secondary-index DDL
  * (D2) is emitted post-write from `HogiaTable.indexDdl` over a raw
  * connection.
  *
  * Not constructible in this zero-egress environment (no driver jar) —
  * compiled but unused; the parquet mirror carries the tested semantics.
  */
final class JdbcTableIO(url: String, props: java.util.Properties) extends TableIO {

  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    spark.read.jdbc(url, s"`${table.name}`", props)

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit =
    df.write
      .option("truncate", value = true)
      .option("batchsize", 1000)
      .option("createTableColumnTypes", table.createTableColumnTypes)
      .mode(SaveMode.Overwrite)
      .jdbc(url, s"`${table.name}`", props)

  override def exists(spark: SparkSession, table: HogiaTable): Boolean =
    try { spark.read.jdbc(url, s"`${table.name}`", props).schema; true }
    catch { case _: Exception => false }
}
