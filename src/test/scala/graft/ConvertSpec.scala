package graft

import java.math.BigDecimal
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Convert
import graft.schema.{HogiaSchema, HogiaTable}
import graft.sources.{CsvTableIO, JetScriptTableIO, JetTableIO, ParquetTableIO,
  SqliteTableIO, TableIO}

/** Golden round-trip suite — the Spark re-expression of the reference's
  * `Test1`/`checkDB1` (db_test.go:83-140, :150-387): original fixture →
  * forward conversion → assertions → reverse conversion → assertions.
  * The binary GOTEST1.MDB is mirrored by Convert.goldenFixture
  * (FIXTURES.md §A; contents specified at db_test.go:142-149). */
class ConvertSpec extends SparkSpecBase {

  private lazy val work = Files.createTempDirectory("graft_convert").toString

  /** checkDB1 parity assertions (db_test.go:150-387) against a TableIO. */
  private def checkGolden(io: ParquetTableIO, saldoIsNull: Boolean): Unit = {
    // row counts (db_test.go:151-171)
    assert(io.read(spark, HogiaSchema.byName("Personer")).count() == 3)
    assert(io.read(spark, HogiaSchema.byName("Platser")).count() == 1)
    assert(io.read(spark, HogiaSchema.byName("Transaktioner")).count() == 3)

    // person 2 golden fields (db_test.go:190-205)
    val p2 = io.read(spark, HogiaSchema.byName("Personer"))
      .filter(col("Löpnr") === 2).collect().head
    assert(p2.getAs[String]("Namn") == "Person Ett")
    assert(p2.getAs[String]("Född") == "1999")
    assert(p2.getAs[String]("Kön") == "Man")

    // transaction 2: exact decimal + € + case-variant comment
    // (db_test.go:230-320)
    val t2 = io.read(spark, HogiaSchema.byName("Transaktioner"))
      .filter(col("Löpnr") === 2).collect().head
    assert(t2.getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    assert(t2.getAs[String]("Text") == "Tom € räksmörgås")
    assert(t2.getAs[String]("Datum") == "2020-12-24")
    val t3 = io.read(spark, HogiaSchema.byName("Transaktioner"))
      .filter(col("Löpnr") === 3).collect().head
    assert(t3.getAs[String]("Text") == "Tom € RÄKSMÖRGÅS")

    // forward conversion NULLs the running Saldo (F7, hhek2sqlite.go:260)
    if (saldoIsNull) {
      val saldos = io.read(spark, HogiaSchema.byName("Transaktioner"))
        .select("Saldo").collect()
      assert(saldos.forall(_.isNullAt(0)))
    }

    // derived balance: deposits − purchases = 0.9 (db_test.go:374-386)
    val konto = io.read(spark, HogiaSchema.byName("Konton"))
      .filter(col("Benämning") === "Plånboken").collect().head
    assert(konto.getAs[BigDecimal]("Saldo").compareTo(new BigDecimal("0.9")) == 0)
  }

  test("EP1/EP2 golden round-trip: fixture → forward → reverse, checkDB1 each pass") {
    // materialize the golden fixture as the "MDB side"
    val mdb = new ParquetTableIO(s"$work/mdb")
    Convert.goldenFixture(spark).foreach { case (name, df) =>
      mdb.truncateLoad(df, HogiaSchema.byName(name))
    }

    // forward: MDB mirror → SQLite mirror (Saldo nulled)
    val sqlite = new ParquetTableIO(s"$work/sqlite")
    val counts = Convert.konvertera(spark, mdb, sqlite, reverse = false)
    assert(counts("Transaktioner") == 3 && counts("Personer") == 3)
    checkGolden(sqlite, saldoIsNull = true)

    // reverse: SQLite mirror → fresh MDB mirror (identity, Löpnr preserved)
    val mdb2 = new ParquetTableIO(s"$work/mdb2")
    Convert.konvertera(spark, sqlite, mdb2, reverse = true)
    checkGolden(mdb2, saldoIsNull = true)

    // Löpnr identity preserved exactly (hhek2sqlite.go:142 — copied,
    // never regenerated)
    val ids = mdb2.read(spark, HogiaSchema.byName("Personer"))
      .select("Löpnr").orderBy("Löpnr").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("truncate-load is idempotent (D3: delete-then-insert, both directions)") {
    val io = new ParquetTableIO(s"$work/idem")
    val t = HogiaSchema.byName("Personer")
    val df = Convert.goldenFixture(spark)("Personer")
    io.truncateLoad(df, t)
    io.truncateLoad(df, t)
    assert(io.read(spark, t).count() == 3)
  }

  test("randomized round-trip: arbitrary rows with special chars survive both directions") {
    import testImplicits._
    val rng = new scala.util.Random(1234)
    val tricky = Seq("'", "\"", "€", "å", "RÄKSMÖRGÅS", ",", ";", "--", "\\", " ")
    def randName(i: Int): String =
      s"P$i ${tricky(rng.nextInt(tricky.length))}${tricky(rng.nextInt(tricky.length))}"
    val personer = (1 to 50).map(i =>
      (i.toLong, randName(i), (1900 + rng.nextInt(120)).toString,
        if (rng.nextBoolean()) "Man" else "Kvinna"))
      .toDF("Löpnr", "Namn", "Född", "Kön")

    val io1 = new ParquetTableIO(s"$work/rand_a")
    val io2 = new ParquetTableIO(s"$work/rand_b")
    val io3 = new ParquetTableIO(s"$work/rand_c")
    val t = HogiaSchema.byName("Personer")
    Convert.goldenFixture(spark).foreach { case (n, df) =>
      io1.truncateLoad(if (n == "Personer") personer else df, HogiaSchema.byName(n))
    }
    Convert.konvertera(spark, io1, io2, reverse = false)
    Convert.konvertera(spark, io2, io3, reverse = true)
    val before = io1.read(spark, t).orderBy("Löpnr").collect().map(_.toSeq).toSeq
    val after = io3.read(spark, t).orderBy("Löpnr").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("non-empty Betalningar survives conversion (reference bug §2.12.1 NOT replicated)") {
    import testImplicits._
    // the reference crashes on ANY Betalningar row: its INSERT lists 15
    // columns but supplies 14 values (hhek2sqlite.go:521-541). Typed
    // schemas make that unrepresentable here — prove a row converts.
    val dec = new java.math.BigDecimal("123.4500")
    val betalningar = Seq(
      (1L, "Plånboken", "Plats Ett", "Betalning", "2021-01-15", "Hyra",
        "Person Ett", dec, "januari hyra", dec, dec, dec, dec, 1, "")
    ).toDF("Löpnr", "FrånKonto", "TillPlats", "Typ", "Datum", "Vad", "Vem",
      "Belopp", "Text", "Ranta", "FastAmort", "RorligAmort", "OvrUtg",
      "LanLopnr", "Grey")
    val io1 = new ParquetTableIO(s"$work/bet_a")
    val io2 = new ParquetTableIO(s"$work/bet_b")
    val t = HogiaSchema.byName("Betalningar")
    Convert.goldenFixture(spark).foreach { case (n, df) =>
      io1.truncateLoad(
        if (n == "Betalningar") {
          val schema = t.schema
          betalningar.select(schema.fields.map(f =>
            col(s"`${f.name}`").cast(f.dataType).as(f.name)).toSeq: _*)
        } else df,
        HogiaSchema.byName(n))
    }
    val counts = Convert.konvertera(spark, io1, io2, reverse = false)
    assert(counts("Betalningar") == 1)
    val row = io2.read(spark, t).collect().head
    assert(row.getAs[String]("Text") == "januari hyra") // the column the reference drops
    assert(row.getAs[java.math.BigDecimal]("Belopp").compareTo(dec) == 0)
  }

  test("cp1252 CSV sink round-trips the golden fixture (file-level F1 boundary)") {
    import graft.sources.CsvTableIO
    val mdb = new ParquetTableIO(s"$work/csv_src")
    Convert.goldenFixture(spark).foreach { case (n, df) =>
      mdb.truncateLoad(df, HogiaSchema.byName(n))
    }
    val csv = new CsvTableIO(s"$work/csv_out", "windows-1252")
    Convert.konvertera(spark, mdb, csv, reverse = false)
    // € and å/ä/ö must survive the cp1252 file encoding
    checkGolden2(csv)
    // and the bytes on disk really are cp1252 (€ = 0x80, not UTF-8 E2 82 AC)
    // concatenate ALL part files — the € row lands in whichever shard its
    // partition hashed to, which varies with the session's parallelism
    val dir = new java.io.File(s"$work/csv_out/Transaktioner")
    val bytes = dir.listFiles().filter(_.getName.endsWith(".csv")).sorted
      .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    // the charset boundary must need NO legacy session flag (ADVICE r2
    // flagged the session-global mutation): after the full read/write
    // round-trip above the flag is still at its default
    assert(!spark.conf.getOption("spark.sql.legacy.javaCharsets").contains("true"),
      "javaCharsets flag leaked into the session")
    assert(bytes.contains(0x80.toByte), "cp1252 € byte missing from the file")
    assert(!new String(bytes, "ISO-8859-1").contains("â¬"),
      "found UTF-8 € byte sequence — file is not cp1252")
  }

  /** Golden value checks shared with the CSV sink (string/decimal/€ only —
    * Saldo is nulled by the forward transform). */
  private def checkGolden2(io: graft.sources.TableIO): Unit = {
    val t2 = io.read(spark, HogiaSchema.byName("Transaktioner"))
      .filter(col("Löpnr") === 2).collect().head
    assert(t2.getAs[String]("Text") == "Tom € räksmörgås")
    assert(t2.getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    val p = io.read(spark, HogiaSchema.byName("Platser")).collect().head
    assert(p.getAs[String]("Namn") == "Plats Ett")
  }

  test("copy order matches the reference pipeline (hhek2sqlite.go:1287-1296)") {
    assert(HogiaSchema.copyOrder.map(_.name) == Seq(
      "DtbVer", "Platser", "Personer", "Konton", "BetalKonton",
      "Överföringar", "Betalningar", "LÅN", "Budget", "Transaktioner"))
  }

  /** A parquet mirror holding `tables`, one directory per table. */
  private def mirror(dir: String, tables: Map[String, org.apache.spark.sql.DataFrame]): ParquetTableIO = {
    val io = new ParquetTableIO(dir)
    tables.foreach { case (n, df) => io.truncateLoad(df, HogiaSchema.byName(n)) }
    io
  }

  /** A seeded ledger: every table gets 0 to 40 rows of typed values within
    * the Jet ranges, cp1252 text with the characters the codecs escape,
    * and unique-indexed text unique per row. */
  private def seededLedger(seed: Long): Map[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(seed)
    val chars = "abcXYZ åäöÅÄÖ€é'\";,-\\0123456789"
    def text(max: Int): String =
      Seq.fill(rng.nextInt(max + 1))(chars(rng.nextInt(chars.length))).mkString
    HogiaSchema.copyOrder.map { t =>
      val unique = (t.indexes.filter(_.unique).flatMap(_.columns) ++ t.pk).toSet
      val rows = (1 to rng.nextInt(41)).map { i =>
        Row.fromSeq(t.cols.map { c =>
          val len =
            if (c.jetType.startsWith("Text(")) c.jetType.drop(5).dropRight(1).toInt
            else 200
          c.spark match {
            case LongType => i.toLong
            case IntegerType => rng.nextInt(100000) - 50000
            case ShortType => (rng.nextInt(2000) - 1000).toShort
            case FloatType => (rng.nextInt(20000) - 10000) / 16f
            case BooleanType => rng.nextBoolean()
            case _: DecimalType => BigDecimal.valueOf(rng.nextLong() % 100000000L, 4)
            case StringType if unique(c.name) => (f"$i%03d" + text(len)).take(len)
            case StringType => text(len)
            case other => fail(s"unhandled type $other")
          }
        })
      }
      t.name -> spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava), t.schema)
    }.toMap
  }

  test("konvertera returns exact per-table counts on every sink: golden fixture and a seeded ledger") {
    Seq("golden" -> Convert.goldenFixture(spark), "seeded" -> seededLedger(20261017L))
      .foreach { case (label, tables) =>
        val dir = s"$work/counts_$label"
        val src = mirror(s"$dir/src", tables)
        val expect = tables.map { case (n, df) => n -> df.count() }
        // each sink in the direction it serves in the reference
        Seq[(String, TableIO, Boolean)](
          ("parquet", new ParquetTableIO(s"$dir/parquet"), false),
          ("csv", new CsvTableIO(s"$dir/csv"), false),
          ("sqlite", new SqliteTableIO(s"$dir/out.db"), false),
          ("jet", new JetTableIO(s"$dir/out.mdb"), true),
          ("jetscript", new JetScriptTableIO(s"$dir/out.sql"), true)
        ).foreach { case (name, sink, reverse) =>
          val counts = Convert.konvertera(spark, src, sink, reverse)
          assert(counts == expect, s"$label → $name")
          HogiaSchema.copyOrder.foreach { t =>
            assert(sink.read(spark, t).count() == expect(t.name),
              s"$label → $name: ${t.name} read back")
          }
        }
      }
  }

  test("a JDBC sink's write carries the count (Spark's JDBC writer over embedded Derby)") {
    // JdbcTableIO's backtick quoting and TEXT column types are not Derby's,
    // so this sink drives the same `df.write.jdbc` path with Derby's quoting
    val url = "jdbc:derby:memory:graft_convert_counts;create=true"
    val props = new java.util.Properties()
    def name(t: HogiaTable) = "\"" + t.name + "\""
    val derby = new TableIO {
      override def read(spark: org.apache.spark.sql.SparkSession, table: HogiaTable) =
        spark.read.jdbc(url, name(table), props)
      override def truncateLoad(df: org.apache.spark.sql.DataFrame, table: HogiaTable): Unit =
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).jdbc(url, name(table), props)
      override def exists(spark: org.apache.spark.sql.SparkSession, table: HogiaTable) = false
    }
    val tables = seededLedger(7L)
    val src = mirror(s"$work/jdbc_src", tables)
    val counts = Convert.konvertera(spark, src, derby, reverse = false)
    assert(counts == tables.map { case (n, df) => n -> df.count() })
    HogiaSchema.copyOrder.foreach(t =>
      assert(derby.read(spark, t).count() == counts(t.name), t.name))
  }

  test("a sink that never runs its frame fails konvertera with the table's name, in bounded time") {
    val src = mirror(s"$work/stub_src", Convert.goldenFixture(spark))
    val stub = new TableIO {
      override def read(spark: org.apache.spark.sql.SparkSession, table: HogiaTable) =
        throw new UnsupportedOperationException("write-only")
      override def truncateLoad(df: org.apache.spark.sql.DataFrame, table: HogiaTable): Unit = ()
      override def exists(spark: org.apache.spark.sql.SparkSession, table: HogiaTable) = false
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Convert.konvertera(spark, src, stub))
    assert(e.getMessage.contains(HogiaSchema.copyOrder.head.name), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < Convert.CountWait.toSeconds + 30,
      "the wait for the count is not bounded")
  }

  test("Spark jobs per table: at most 2 per direction, golden parquet → Jet → SQLite") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "convert-job-pin"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val src = mirror(s"$work/pin_src", Convert.goldenFixture(spark))
    val mdb = s"$work/pin.mdb"
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graft.ListenerBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
      jobs.get()
    }
    sc.addSparkListener(listener)
    try {
      val tables = HogiaSchema.copyOrder.size
      val reverse = jobsOf(Convert.konvertera(spark, src, new JetTableIO(mdb), reverse = true))
      assert(reverse <= 2 * tables, s"parquet → Jet ran $reverse jobs for $tables tables")
      val forward = jobsOf(Convert.konvertera(spark, new JetTableIO(mdb),
        new SqliteTableIO(s"$work/pin.db"), reverse = false))
      assert(forward <= 2 * tables, s"Jet → SQLite ran $forward jobs for $tables tables")
    } finally sc.removeSparkListener(listener)
  }

  test("single-file sinks refuse driver-OOM-sized loads loudly (VERDICT r7 #3)") {
    // boundary per sink: cap == rows loads; cap == rows − 1 refuses with
    // the routing error and leaves the file already written byte-identical
    val p = HogiaSchema.byName("Personer")
    val rows = 50
    val local = {
      import testImplicits._
      (1 to rows).map(i => (i.toLong, s"Namn $i", "1990", "Man"))
        .toDF("Löpnr", "Namn", "Född", "Kön")
    }
    // a driver-local frame and a scanned one take different collect paths
    val scanned = mirror(s"$work/cap_src", Map("Personer" -> local)).read(spark, p)
    val dir = s"$work/cap_boundary"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    try {
      for {
        (df, how) <- Seq(local -> "local", scanned -> "scanned")
        (sink, mk) <- Seq[(String, String => TableIO)](
          "db" -> (new SqliteTableIO(_)), "mdb" -> (new JetTableIO(_)))
      } {
        val path = java.nio.file.Paths.get(s"$dir/$how.$sink")
        val io = mk(path.toString)
        spark.conf.set(TableIO.SingleFileMaxRowsKey, rows.toString)
        io.truncateLoad(df, p)
        assert(io.read(spark, p).count() == rows, s"$how → $sink at cap == rows")
        val before = Files.readAllBytes(path)
        spark.conf.set(TableIO.SingleFileMaxRowsKey, (rows - 1).toString)
        // the same sink (file already written) and a fresh one over it
        Seq(io, mk(path.toString)).foreach { again =>
          val e = intercept[IllegalArgumentException](again.truncateLoad(df, p))
          assert(e.getMessage.contains("JdbcTableIO"), e.getMessage)
          assert(java.util.Arrays.equals(Files.readAllBytes(path), before),
            s"$how → $sink: a refused load changed the file")
        }
      }
    } finally spark.conf.unset(TableIO.SingleFileMaxRowsKey)
  }
}
