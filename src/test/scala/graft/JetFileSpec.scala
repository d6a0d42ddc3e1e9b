package graft

import java.math.BigDecimal
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Convert
import graft.schema.HogiaSchema
import graft.sources.{JetFile, JetTableIO, ParquetTableIO, SqliteTableIO}

/** The native Jet 2.0 reader against the reference's REAL binary fixture
  * (`/root/reference/GOTEST1.MDB`, read-only) — the same checkDB1
  * assertions the reference runs on it (db_test.go:150-387), plus the
  * full forward conversion with genuine artifacts on BOTH ends:
  * real .mdb in → real SQLite .db out, verified by the real engine. */
class JetFileSpec extends SparkSpecBase {

  private val MdbPath = "/root/reference/GOTEST1.MDB"
  private lazy val available = Files.exists(java.nio.file.Paths.get(MdbPath))
  private lazy val io = new JetTableIO(MdbPath)

  test("catalog lists all 10 Hogia tables") {
    assume(available, "reference fixture unavailable")
    HogiaSchema.copyOrder.foreach { t =>
      assert(io.exists(spark, t), s"missing ${t.name}")
    }
  }

  test("checkDB1 row counts (db_test.go:151-171)") {
    assume(available)
    assert(io.read(spark, HogiaSchema.byName("Personer")).count() == 3)
    assert(io.read(spark, HogiaSchema.byName("Platser")).count() == 1)
    assert(io.read(spark, HogiaSchema.byName("Transaktioner")).count() == 3)
  }

  test("checkDB1 golden persons (db_test.go:172-222)") {
    assume(available)
    val p = io.read(spark, HogiaSchema.byName("Personer"))
      .orderBy("Löpnr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(p.toSeq == Seq(
      (1L, "Gemensamt", "0", "Gemensamt"),
      (2L, "Person Ett", "1999", "Man"),
      (3L, "Person Två", "2001", "Kvinna")))
  }

  test("checkDB1 golden transactions: exact decimals, €, NULL saldo, ISO dates") {
    assume(available)
    val t = io.read(spark, HogiaSchema.byName("Transaktioner"))
      .orderBy("Löpnr").collect()
    assert(t.length == 3)
    // amounts decode from CURRENCY's scaled int64 — exact, no double hop
    assert(t(0).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("1.10")) == 0)
    assert(t(1).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    assert(t(2).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    assert(t.forall(_.isNullAt(t(0).fieldIndex("Saldo")))) // app never set it
    assert(t(1).getAs[String]("Text") == "Tom € räksmörgås")
    assert(t(2).getAs[String]("Text") == "Tom € RÄKSMÖRGÅS")
    assert(t.forall(_.getAs[String]("Datum") == "2020-12-24"))
    assert(t(0).getAs[String]("Typ") == "Insättning")
    assert(t.forall(!_.getAs[Boolean]("Fastöverföring")))
  }

  test("checkDB1 derived balance (db_test.go:374-386): Plånboken = 0.9 exact") {
    assume(available)
    val k = io.read(spark, HogiaSchema.byName("Konton"))
      .filter(col("Benämning") === "Plånboken").collect().head
    assert(k.getAs[BigDecimal]("Saldo").compareTo(new BigDecimal("0.9")) == 0)
    // and it equals the recomputed signed sum over the ledger — the
    // flagship query's semantics against the REAL source file
    val saldo = io.read(spark, HogiaSchema.byName("Transaktioner"))
      .select(when(col("TillKonto") === "Plånboken", col("Belopp"))
        .otherwise(col("Belopp") * -1).as("signed"))
      .agg(sum("signed")).collect().head.getDecimal(0)
    assert(saldo.compareTo(new BigDecimal("0.9")) == 0)
  }

  test("every table decodes through schema coercion without loss of count") {
    assume(available)
    // Budget's 34 seed rows exercise BYTE, SMALLINT, BIT and 12 MONEY
    // columns; the empty tables exercise zero-row btrees
    val counts = HogiaSchema.copyOrder.map(t =>
      t.name -> io.read(spark, t).count()).toMap
    assert(counts == Map(
      "DtbVer" -> 1L, "Platser" -> 1L, "Personer" -> 3L, "Konton" -> 1L,
      "BetalKonton" -> 0L, "Överföringar" -> 0L, "Betalningar" -> 0L,
      "LÅN" -> 0L, "Budget" -> 34L, "Transaktioner" -> 3L))
  }

  test("real MDB holds data the parquet mirror never had (Budget seeds)") {
    assume(available)
    // the Hogia app seeds the Budget matrix — only visible through the
    // real binary; typed decode covers MONEY×12, BIT, BYTE columns
    val b = io.read(spark, HogiaSchema.byName("Budget"))
    assert(b.count() == 34)
    assert(b.filter(col("Typ") === lit("Livsmedel")).count() >= 1)
  }

  test("malformed inputs are rejected loudly, never misparsed") {
    val dir = Files.createTempDirectory("graft_jet_neg").toString
    // a real SQLite file is not a Jet database
    val sqlitePath = s"$dir/not_a_jet.db"
    graft.sources.SqliteFile.write(sqlitePath,
      Seq((HogiaSchema.byName("Personer"), Seq.empty)))
    intercept[IllegalArgumentException](JetFile.open(sqlitePath))
    // truncated / non-page-aligned files
    val trunc = s"$dir/trunc.mdb"
    Files.write(java.nio.file.Paths.get(trunc), Array.fill[Byte](1000)(1))
    intercept[IllegalArgumentException](JetFile.open(trunc))
    // a Jet file is not a SQLite database either
    assume(available)
    intercept[IllegalArgumentException](
      graft.sources.SqliteFile.readTable(MdbPath, HogiaSchema.byName("Personer")))
  }

  test("writer round-trips the golden fixture through a real .mdb file") {
    val dir = Files.createTempDirectory("graft_jet_write").toString
    val mdbPath = s"$dir/fresh.mdb"
    val io2 = new JetTableIO(mdbPath)
    val fixture = Convert.goldenFixture(spark)
    HogiaSchema.copyOrder.foreach(t => io2.truncateLoad(fixture(t.name), t))
    // the file IS a Jet database by the reader's own gate
    val db = JetFile.open(mdbPath)
    HogiaSchema.copyOrder.foreach(t =>
      assert(db.catalog.contains(t.name), s"missing ${t.name} in catalog"))
    // golden values survive the binary round trip, exact decimals included
    val p = io2.read(spark, HogiaSchema.byName("Personer"))
      .orderBy("Löpnr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(p.toSeq == Seq(
      (1L, "Gemensamt", "0", "Gemensamt"),
      (2L, "Person Ett", "1999", "Man"),
      (3L, "Person Två", "2001", "Kvinna")))
    val t = io2.read(spark, HogiaSchema.byName("Transaktioner"))
      .orderBy("Löpnr").collect()
    assert(t.length == 3)
    assert(t(0).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("1.10")) == 0)
    assert(t(1).getAs[String]("Text") == "Tom € räksmörgås") // cp1252 € = 0x80
    assert(t.forall(_.isNullAt(t(0).fieldIndex("Saldo")))) // NULL CURRENCY
    assert(t.forall(!_.getAs[Boolean]("Fastöverföring"))) // BIT in the mask
    // empty strings stay "" (never conflated with NULL: F6 is a convert
    // rule, not a storage rule)
    val pl = io2.read(spark, HogiaSchema.byName("Platser")).collect().head
    assert(pl.getAs[String]("Gironummer") == "")
    // empty tables exist with zero rows
    assert(io2.read(spark, HogiaSchema.byName("LÅN")).count() == 0)
  }

  test("writer packs multi-page tables; signed money, true BITs, floats survive") {
    val dir = Files.createTempDirectory("graft_jet_pages").toString
    val mdbPath = s"$dir/pages.mdb"
    val t = HogiaSchema.byName("Transaktioner")
    val rows = (1L to 500L).map { i =>
      org.apache.spark.sql.Row(i, s"Konto ${i % 7}", s"Konto ${(i + 1) % 7}",
        "Uttag", "2021-01-02", s"Vad räksmörgås $i", s"Vem ${i % 3}",
        new BigDecimal(s"-$i.2500"), null, i % 2 == 0, s"€-rad $i")
    }
    val io2 = new JetTableIO(mdbPath)
    io2.truncateLoad(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava),
      t.schema), t)
    // ~70 B rows × 500 cannot fit one 2048-byte page — the allocator
    // must have spilled across many data pages
    assert(Files.size(java.nio.file.Paths.get(mdbPath)) > 20 * 2048L)
    val back = io2.read(spark, t).orderBy("Löpnr").collect()
    assert(back.length == 500)
    assert(back(0).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("-1.25")) == 0)
    assert(back(499).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("-500.25")) == 0)
    assert(back(499).getAs[Boolean]("Fastöverföring")) // true BIT: mask bit set
    assert(!back(0).getAs[Boolean]("Fastöverföring"))
    assert(back.forall(_.isNullAt(back(0).fieldIndex("Saldo"))))
    assert(back(41).getAs[String]("Text") == "€-rad 42") // cp1252 high byte
    // Jet Single (REAL4) columns round-trip bit-exactly
    val lan = HogiaSchema.byName("LÅN")
    val lanRow = org.apache.spark.sql.Row(Seq[Any](
      7L, "Banken", "Bolån", "L-1", new BigDecimal("250000.0000"),
      "2020-01-01", "2020-01-02", "2025-01-01", "2050-01-01",
      new BigDecimal("199999.5000"), new BigDecimal("0.0000"),
      new BigDecimal("199999.5000"), 1.625f, 3.875f, "12",
      new BigDecimal("645.8300"), new BigDecimal("1000.0000"),
      new BigDecimal("0.0000"), new BigDecimal("25.0000"), "J", "Vem",
      "Konto 1", "G", null, "r", "a", "o"): _*)
    io2.truncateLoad(spark.createDataFrame(
      java.util.List.of(lanRow), lan.schema), lan)
    val l = io2.read(spark, lan).collect().head
    assert(l.getAs[Float]("FastRanta") == 1.625f)
    assert(l.getAs[Float]("RorligRanta") == 3.875f)
    assert(l.getAs[BigDecimal]("AktLaneskuld")
      .compareTo(new BigDecimal("199999.5")) == 0)
    // and the earlier multi-page table is still intact after the rewrite
    assert(io2.read(spark, t).count() == 500)
  }

  test("write reports interior-NULL TEXT coercions; trailing NULLs are free (ADVICE r4)") {
    val dir = Files.createTempDirectory("graft_jet_nulls").toString
    val t = HogiaSchema.byName("Transaktioner")
    // var-slot order is TEXT-column declaration order: ..., Vad, Vem,
    // Text(last) — a NULL "Vad" before a live "Text" is INTERIOR; a
    // NULL trailing "Text" is marked natively by truncation
    def row(vad: String, textCol: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](1L, "Konto A", "Konto B", "Uttag", "2021-01-02", vad,
          "Vem", new BigDecimal("1.0000"), null, false, textCol), t.schema)
    val interior = JetFile.write(s"$dir/a.mdb",
      Seq(t -> Seq(row(null, "sista"))))
    assert(interior("Transaktioner") == 1L)
    val trailing = JetFile.write(s"$dir/b.mdb",
      Seq(t -> Seq(row("vad kvar", null))))
    assert(trailing("Transaktioner") == 0L)
    // and the coerced file still reads back (NULL→"", the F6 rule)
    val back = new JetTableIO(s"$dir/a.mdb").read(spark, t).collect().head
    assert(back.getAs[String]("Vad") == "")
    assert(back.getAs[String]("Text") == "sista")
  }

  test("text outside Windows-1252 fails loudly: row values, index keys and lookups") {
    val dir = Files.createTempDirectory("graft_jet_cp1252").toString
    val t = HogiaSchema.byName("Personer")
    def row(id: Long, namn: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](id, namn, "1990", "Man"), t.schema)
    // the writer's one encoder serves every value before the bad one
    val e = intercept[IllegalArgumentException](JetFile.write(s"$dir/bad.mdb",
      Seq(t -> Seq(row(1L, "Åsa €"), row(2L, "Zoë"), row(3L, "Zoë 漢")))))
    assert(e.getMessage == "Personer.Namn value not representable in Windows-1252: 'Zoë 漢'")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/bad.mdb")))
    JetFile.write(s"$dir/ok.mdb", Seq(t -> Seq(row(1L, "Åsa €"), row(2L, "Zoë"))))
    val db = JetFile.open(s"$dir/ok.mdb")
    assert(db.indexLookup("Personer", "idxNamn", Seq("zoë"))._1.map(_("Löpnr")) == Seq(2L))
    val e2 = intercept[IllegalArgumentException](
      db.indexLookup("Personer", "idxNamn", Seq("漢")))
    assert(e2.getMessage == "Personer.Namn value not representable in Windows-1252: '漢'")
  }

  test("indexes materialize as B-tree pages; point lookup touches only the descent path") {
    val dir = Files.createTempDirectory("graft_jet_idx").toString
    val mdbPath = s"$dir/idx.mdb"
    val t = HogiaSchema.byName("Transaktioner")
    // 2000 rows → multi-page data AND a multi-level index tree
    val rows = (1L to 2000L).map { i =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](i, s"Konto ${i % 50}", s"Konto ${(i + 1) % 50}", "Uttag",
          "2021-01-02", s"Vad $i", "Vem", new BigDecimal(s"$i.2500"), null,
          false, s"rad $i"), t.schema)
    } :+ new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](2001L, "Unikt konto", "Konto 0", "Uttag", "2021-01-02",
        "Vad", "Vem", new BigDecimal("1.0000"), null, false, "rad"), t.schema)
    JetFile.write(mdbPath, Seq(t -> rows))
    val db = JetFile.open(mdbPath)
    // catalog carries the index: name, columns, uniqueness, live root
    val ix = db.indexCatalog.find(i =>
      i.table == "Transaktioner" && i.name == "idxFrånTillKonto").get
    assert(ix.columns == Seq("FrånKonto", "TillKonto") && !ix.unique)
    assert(ix.root > 0)
    // point lookup: every i ≡ 7 (mod 50) has (Konto 7, Konto 8) — 40 rows
    val (hits, touched) =
      db.indexLookup("Transaktioner", "idxFrånTillKonto", Seq("Konto 7", "Konto 8"))
    assert(hits.size == 40)
    assert(hits.forall(m => m("FrånKonto") == "Konto 7" && m("TillKonto") == "Konto 8"))
    assert(hits.map(_("Löpnr").asInstanceOf[Long]).sorted ==
      (7L to 1957L by 50L).toSeq)
    // the 40 hits scatter over ~40 distinct data pages (one per 50-row
    // stride), so the honest bound is descent overhead: tree pages
    // beyond the per-hit data pages stay constant-ish
    assert(touched <= hits.size + 4, s"descent overhead: $touched for ${hits.size} hits")
    // TRUE point lookup (single match) touches a handful of the file's
    // pages: root → leaf → one data page
    val totalPages = Files.size(java.nio.file.Paths.get(mdbPath)) / 2048
    assert(totalPages > 100, s"fixture too small for the claim: $totalPages")
    val (single, singleTouched) =
      db.indexLookup("Transaktioner", "idxFrånTillKonto", Seq("Unikt konto", "Konto 0"))
    assert(single.size == 1 && single.head("Löpnr") == 2001L)
    assert(singleTouched <= 4, s"point lookup touched $singleTouched of $totalPages pages")
    // Jet index collation is case-insensitive: folded key matches too
    assert(db.indexLookup("Transaktioner", "idxFrånTillKonto",
      Seq("KONTO 7", "konto 8"))._1.size == 40)
    // clean miss
    assert(db.indexLookup("Transaktioner", "idxFrånTillKonto",
      Seq("Konto 999", "x"))._1.isEmpty)
  }

  test("index descent: duplicate runs span leaf pages, depth-3 trees resolve") {
    val dir = Files.createTempDirectory("graft_jet_deep").toString
    val mdbPath = s"$dir/deep.mdb"
    val t = HogiaSchema.byName("Transaktioner")
    // 300 duplicates of ONE key force the run across several leaf pages
    // (the adjacent-child rule must follow it); 20k rows with LONG text
    // keys force TWO interior levels (fanout ~35 at ~60 B/entry)
    val longKonto = (i: Long) => f"Konto med ett riktigt långt namn $i%07d"
    val rows = (1L to 20000L).map { i =>
      val (fr, till) =
        if (i <= 300) ("Samma källa", "Samma mål")
        else (longKonto(i), longKonto(i + 1))
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](i, fr, till, "Uttag", "2021-01-02", "Vad", "Vem",
          new BigDecimal("1.0000"), null, false, null), t.schema)
    }
    JetFile.write(mdbPath, Seq(t -> rows))
    val db = JetFile.open(mdbPath)
    // the duplicate run comes back complete across its leaf boundary
    val (dups, _) = db.indexLookup("Transaktioner", "idxFrånTillKonto",
      Seq("Samma källa", "Samma mål"))
    assert(dups.size == 300)
    assert(dups.map(_("Löpnr").asInstanceOf[Long]).sorted == (1L to 300L))
    // point lookups resolve through the multi-level tree at both ends
    // and the middle of the key space
    Seq(301L, 9999L, 20000L).foreach { i =>
      val (hit, touched) = db.indexLookup("Transaktioner", "idxFrånTillKonto",
        Seq(longKonto(i), longKonto(i + 1)))
      assert(hit.size == 1 && hit.head("Löpnr") == i, s"row $i")
      assert(touched <= 5, s"row $i touched $touched pages") // depth 3 + data
    }
    // the tree really is deep: the file is large enough that a depth-2
    // tree could not have fanout for 20k entries at this key width
    assert(Files.size(java.nio.file.Paths.get(mdbPath)) / 2048 > 1500)
  }

  test("unique index rejects duplicate keys loudly; NULL keys are exempt") {
    val dir = Files.createTempDirectory("graft_jet_uniq").toString
    val p = HogiaSchema.byName("Personer")
    def person(id: Long, namn: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](id, namn, "1990", "Man"), p.schema)
    val dup = intercept[IllegalArgumentException] {
      JetFile.write(s"$dir/dup.mdb",
        Seq(p -> Seq(person(1, "Samma"), person(2, "samma")))) // case-folded dup
    }
    assert(dup.getMessage.contains("idxNamn"))
    // Access's unique indexes ignore NULL keys — two NULL names are fine
    JetFile.write(s"$dir/nulls.mdb",
      Seq(p -> Seq(person(1, null), person(2, null))))
    val (one, _) = JetFile.open(s"$dir/nulls.mdb")
      .indexLookup("Personer", "idxNamn", Seq(null))
    assert(one.size == 2)
  }

  test("golden-fixture write carries all 15 schema indexes, readable point lookups") {
    val dir = Files.createTempDirectory("graft_jet_allidx").toString
    val mdbPath = s"$dir/all.mdb"
    val src = new ParquetTableIO(s"$dir/src")
    Convert.goldenFixture(spark).foreach { case (name, df) =>
      src.truncateLoad(df, HogiaSchema.byName(name))
    }
    val out = new JetTableIO(mdbPath)
    Convert.konvertera(spark, src, out, reverse = true)
    val db = JetFile.open(mdbPath)
    assert(db.indexCatalog.size == HogiaSchema.copyOrder.map(_.indexes.size).sum)
    assert(db.indexCatalog.map(_.name).distinct.nonEmpty)
    // unique TEXT index point lookup on golden data
    val (person, touched) = db.indexLookup("Personer", "idxNamn", Seq("Person Ett"))
    assert(person.size == 1 && person.head("Löpnr") == 2L)
    assert(touched <= 3, s"point lookup touched $touched pages")
  }

  test("2-byte var boundaries: rows past byte 255 round-trip; page-sized rows fail loudly") {
    val dir = Files.createTempDirectory("graft_jet_wide").toString
    val pers = HogiaSchema.byName("Personer")
    // 300 cp1252 chars (incl. high bytes) push the var section past byte
    // 255 — the 1-byte-boundary fixture form can't hold it; the 2-byte
    // form must, losslessly, alongside ordinary short rows
    val longName = ("Åke Öst é€" + "x" * 290).take(300)
    val mixed = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, longName, "1990", "Man"),
      org.apache.spark.sql.Row(2L, "Kort", "1991", "Kvinna")), pers.schema)
    val io2 = new JetTableIO(s"$dir/wide.mdb")
    io2.truncateLoad(mixed, pers)
    val back = io2.read(spark, pers).orderBy("Löpnr").collect()
    assert(back(0).getAs[String]("Namn") == longName)
    assert(back(1).getAs[String]("Namn") == "Kort")
    // index over the long TEXT key still serves point lookups
    val (hit, _) = JetFile.open(s"$dir/wide.mdb")
      .indexLookup("Personer", "idxNamn", Seq(longName))
    assert(hit.size == 1 && hit.head("Löpnr") == 1L)
    // a row that cannot fit ANY 2048-byte page is rejected, not mangled
    val big = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "x" * 2500, "0", "M")), pers.schema)
    val e = intercept[IllegalArgumentException](
      new JetTableIO(s"$dir/big.mdb").truncateLoad(big, pers))
    assert(e.getMessage.contains("2048"))
    // unmappable text (cp1252 has no ∑) is rejected, not silently '?'-ed
    val bad = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "∑", "0", "M")), pers.schema)
    val e3 = intercept[IllegalArgumentException](
      new JetTableIO(s"$dir/bad.mdb").truncateLoad(bad, pers))
    assert(e3.getMessage.contains("Windows-1252"))
  }

  private def lanRowWith(note: String) =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](1L, "Banken", "Bolån", "L-1", new BigDecimal("250000.0000"),
        "2020-01-01", "2020-01-02", "2025-01-01", "2050-01-01",
        new BigDecimal("199999.5000"), new BigDecimal("0.0000"),
        new BigDecimal("199999.5000"), 1.625f, 3.875f, "12",
        new BigDecimal("645.8300"), new BigDecimal("1000.0000"),
        new BigDecimal("0.0000"), new BigDecimal("25.0000"), "J", "Vem",
        "Konto 1", "G", note, "r", "a", "o"),
      HogiaSchema.byName("LÅN").schema)

  test("MEMO round-trips mdb → db → mdb byte-identical through LVAL page chains") {
    val dir = Files.createTempDirectory("graft_jet_memo").toString
    val lan = HogiaSchema.byName("LÅN")
    // ~8.6 KB of cp1252 (incl. € = 0x80 and åäö high bytes) → a chain of
    // 5 LVAL rows at ~2 KB/chunk on the Jet side AND an overflow-page
    // chain on the SQLite middle leg — both spill paths in one trip
    val note = "Lånet omförhandlades — räksmörgås € åäö. " * 210
    val io2 = new JetTableIO(s"$dir/memo.mdb")
    io2.truncateLoad(spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](lanRowWith(note)), lan.schema), lan)
    assert(io2.read(spark, lan).collect().head.getAs[String]("Anteckningar") == note)
    // the reference copies memo content on conversion (hhek2sqlite.go:834)
    // — replay its round trip with the memo aboard: mdb → SQLite → mdb
    val dbPath = s"$dir/mellan.db"
    val sq = new SqliteTableIO(dbPath)
    sq.truncateLoad(io2.read(spark, lan), lan)
    val backIo = new JetTableIO(s"$dir/back.mdb")
    backIo.truncateLoad(sq.read(spark, lan), lan)
    val got = backIo.read(spark, lan).collect().head.getAs[String]("Anteckningar")
    assert(got == note, "memo content lost in round trip")
    // a ~12 KB memo spans a 6-row LVAL chain over multiple pages and
    // still reads back byte-identical (direct mdb round trip)
    val big = "Sex sidor anteckningar € " * 500
    val io4 = new JetTableIO(s"$dir/big.mdb")
    io4.truncateLoad(spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](lanRowWith(big)), lan.schema), lan)
    assert(io4.read(spark, lan).collect().head.getAs[String]("Anteckningar") == big)
    // NULL and "" memos both read as NULL (no LVAL chain to point at)
    val io3 = new JetTableIO(s"$dir/empty.mdb")
    io3.truncateLoad(spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](lanRowWith("")), lan.schema), lan)
    assert(io3.read(spark, lan).collect().head.isNullAt(
      lan.schema.fieldIndex("Anteckningar")))
  }

  test("a non-empty memo is never silently NULLed: corrupt descriptors fail loudly") {
    val dir = Files.createTempDirectory("graft_jet_memo_neg").toString
    val lan = HogiaSchema.byName("LÅN")
    val note = "Viktig anteckning som inte får försvinna."
    val path = s"$dir/memo.mdb"
    new JetTableIO(path).truncateLoad(spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](lanRowWith(note)), lan.schema), lan)
    // flip the descriptor's magic in the raw file: the 6-byte prefix
    // [0x4C 0x56][LE32 payload len] is unique in a file this small
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val len = note.getBytes("windows-1252").length
    val sig = Array[Byte](0x4C, 0x56,
      (len & 0xFF).toByte, ((len >> 8) & 0xFF).toByte,
      ((len >> 16) & 0xFF).toByte, ((len >> 24) & 0xFF).toByte)
    val at = bytes.indices.indexWhere(i => i + 6 <= bytes.length &&
      (0 until 6).forall(j => bytes(i + j) == sig(j)))
    assert(at > 0, "descriptor signature not found")
    bytes(at) = 0x00
    val corrupt = s"$dir/corrupt.mdb"
    Files.write(java.nio.file.Paths.get(corrupt), bytes)
    val e = intercept[IllegalArgumentException](
      JetFile.open(corrupt).readTable("LÅN"))
    assert(e.getMessage.contains("MEMO"))
  }

  test("randomized row forms: short/wide/memo rows round-trip together (property)") {
    import org.scalacheck.Gen
    val dir = Files.createTempDirectory("graft_jet_prop").toString
    val lan = HogiaSchema.byName("LÅN")
    // cp1252-representable chars incl. high bytes; lengths straddle the
    // 1-byte/2-byte boundary-form switch (~220 B of other var columns)
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf('å', 'ä', 'ö', 'É', '€', ' ')))
    def strGen(max: Int) = Gen.chooseNum(0, max)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val rowGen = for {
      beskr <- strGen(300) // pushes var section past byte 255 when long
      note <- Gen.frequency((3, Gen.const("")), (2, strGen(60)),
        (2, strGen(3000)), (1, strGen(9000))) // "", inline-ish, 2- and 5-chunk LVAL
      vem <- strGen(40)
      fast <- Gen.chooseNum(-1000000, 1000000).map(_ / 16f) // exact float
    } yield (beskr, note, vem, fast)
    val rows = samples(rowGen, 60).zipWithIndex.map { case ((b, nt, v, f), i) =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any]((i + 1).toLong, "Banken", b, s"L-$i",
          new BigDecimal("250000.0000"), "2020-01-01", "2020-01-02",
          "2025-01-01", "2050-01-01", new BigDecimal(s"$i.5000"),
          new BigDecimal("0.0000"), new BigDecimal(s"$i.5000"),
          f, 3.875f, "12", new BigDecimal("645.8300"),
          new BigDecimal("1000.0000"), new BigDecimal("0.0000"),
          new BigDecimal("25.0000"), "J", v, "Konto 1", "G",
          nt, "r", "a", "o"), lan.schema)
    }
    val io2 = new JetTableIO(s"$dir/prop.mdb")
    io2.truncateLoad(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava),
      lan.schema), lan)
    val back = io2.read(spark, lan).orderBy("Löpnr").collect()
    assert(back.length == rows.length)
    rows.zip(back).foreach { case (exp, got) =>
      assert(got.getAs[String]("EgenBeskrivn") == exp.getAs[String]("EgenBeskrivn"))
      // "" memo reads NULL (documented divergence); non-empty must be exact
      val note = exp.getAs[String]("Anteckningar")
      if (note.isEmpty) assert(got.isNullAt(lan.schema.fieldIndex("Anteckningar")))
      else assert(got.getAs[String]("Anteckningar") == note,
        s"memo of ${note.length} chars corrupted")
      assert(got.getAs[Float]("FastRanta") == exp.getAs[Float]("FastRanta"))
      assert(got.getAs[BigDecimal]("AktLaneskuld")
        .compareTo(exp.getAs[BigDecimal]("AktLaneskuld")) == 0)
    }
  }

  test("property fuzz (db_test.go:548 TODO): random cp1252 rows, ALL tables, mdb → db → mdb, ≥200 cases") {
    // The reference's own open TODO — "test special characters in
    // strings" — closed as a ScalaCheck property over every table at
    // once: cp1252 specials (€, å/ö/É/ß, quotes, newlines, commas),
    // MEMO payloads spanning multiple LVAL pages, rows whose var
    // section crosses the 255-byte boundary, NULLs, negative money,
    // both BIT values — written to a real .mdb, converted through a
    // real SQLite .db, converted BACK to a real .mdb, and compared
    // cell-by-cell. Documented divergences only: Transaktioner.Saldo
    // is NULLed by the forward pass (F7), and empty strings read back
    // NULL (F6) — everything else must be byte-exact.
    import org.scalacheck.Gen
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

    val charGen = Gen.frequency(
      (10, Gen.alphaNumChar),
      (2, Gen.oneOf('å', 'ä', 'ö', 'É', '€', 'ß', 'ñ', 'Ü')),
      (2, Gen.oneOf(' ', '\'', '"', ',', ';', '\n', '(', ')', '%', '-')))
    def strGen(max: Int): Gen[String] =
      Gen.chooseNum(0, max).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val strPool = samples(strGen(38), 1500).toIndexedSeq
    val memoPool = samples(Gen.frequency((2, strGen(60)), (2, strGen(3000)),
      (1, strGen(9000))), 40).toIndexedSeq
    val moneyPool = samples(Gen.chooseNum(-10000000L, 10000000L), 300)
      .map(v => new BigDecimal(java.math.BigInteger.valueOf(v), 4)).toIndexedSeq
    val floatPool = samples(Gen.chooseNum(-1000000, 1000000), 300)
      .map(_ / 16f).toIndexedSeq
    val datePool = samples(for {
      y <- Gen.chooseNum(1990, 2049)
      m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28)
    } yield f"$y%04d-$m%02d-$d%02d", 300).toIndexedSeq

    def jetLen(c: graft.schema.Col): Int =
      if (c.jetType.startsWith("Text("))
        c.jetType.stripPrefix("Text(").stripSuffix(")").toInt
      else 38

    def rowsFor(t: graft.schema.HogiaTable, n: Int, iter: Int): Seq[Row] = {
      val unique = (t.indexes.filter(_.unique).flatMap(_.columns) ++ t.pk).toSet
      var k = iter * 7919 + t.name.hashCode.abs % 1000
      (1 to n).map { i =>
        val vals: Array[Any] = t.cols.map { c =>
          k += 1
          c.spark match {
            case LongType => i.toLong
            case IntegerType =>
              if ((i + k) % 7 == 0) null
              else Int.box(((k * 31 + i) % 100000) - 50000)
            case ShortType => Short.box((((k * 17 + i) % 2000) - 1000).toShort)
            case FloatType => Float.box(floatPool(k.abs % floatPool.size))
            case BooleanType => Boolean.box((k + i) % 2 == 0)
            case _: DecimalType => moneyPool(k.abs % moneyPool.size)
            case StringType =>
              val len = jetLen(c)
              if (c.name == "VerNum") s"$iter${f"$i%03d"}".take(4)
              else if (unique.contains(c.name))
                (s"u$i-" + strPool(k.abs % strPool.size)).take(len)
              else if (c.jetType == "Memo") memoPool(k.abs % memoPool.size)
              else if (len == 10 && c.name.contains("Datum"))
                datePool(k.abs % datePool.size)
              else if ((i + k) % 11 == 0) null
              else strPool(k.abs % strPool.size).take(len)
            case other => fail(s"unhandled type $other")
          }
        }.toArray
        new GenericRowWithSchema(vals, t.schema): Row
      }
    }

    var cases = 0
    for (iter <- 1 to 2) {
      val dir = Files.createTempDirectory(s"graft_jet_fuzz$iter").toString
      val srcIo = new JetTableIO(s"$dir/fuzz.mdb")
      val expected = HogiaSchema.copyOrder.map { t =>
        val n = if (t.name == "DtbVer") 2 else 15
        val rows = rowsFor(t, n, iter)
        srcIo.truncateLoad(spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava),
          t.schema), t)
        t -> rows
      }
      Convert.konvertera(spark, srcIo, new SqliteTableIO(s"$dir/fuzz.db"))
      val backIo = new JetTableIO(s"$dir/back.mdb")
      Convert.konvertera(spark, new SqliteTableIO(s"$dir/fuzz.db"), backIo,
        reverse = true)
      expected.foreach { case (t, exp) =>
        val got = backIo.read(spark, t).orderBy(t.pk.head).collect()
        assert(got.length == exp.length, s"${t.name}: row count after round trip")
        exp.zip(got).foreach { case (e, g) =>
          t.cols.zipWithIndex.foreach { case (c, ci) =>
            val ev = e.get(ci)
            val gv = g.get(ci)
            val expectNull = ev == null ||
              (t.name == "Transaktioner" && c.name == "Saldo") || // F7
              (ev.isInstanceOf[String] && ev.asInstanceOf[String].isEmpty) // F6
            if (expectNull)
              assert(gv == null || gv == "",
                s"${t.name}.${c.name} row ${e.get(0)}: expected NULL, got '$gv'")
            else c.spark match {
              case _: DecimalType =>
                assert(gv.asInstanceOf[BigDecimal]
                  .compareTo(ev.asInstanceOf[BigDecimal]) == 0,
                  s"${t.name}.${c.name} row ${e.get(0)}: $gv != $ev")
              case _ =>
                assert(gv == ev,
                  s"${t.name}.${c.name} row ${e.get(0)}: '$gv' != '$ev'")
            }
          }
          cases += 1
        }
      }
    }
    assert(cases >= 200, s"fuzz coverage: only $cases row cases")
  }

  test("Betalningar.Text survives db → mdb → db cell-by-cell (§2.12.1 both directions)") {
    // The reference CRASHES forward on any non-empty Betalningar (its
    // INSERT has 14 slots for 15 columns) and, reconverting backward,
    // its CREATE omits the `Text` column entirely — so a populated Text
    // is silently DROPPED (hhek2sqlite.go:465-468 vs dbinfo.txt:15-37).
    // ConvertSpec proves the forward crash is not replicated; this is
    // the reverse direction: a non-empty Betalningar with Text
    // populated through db → mdb → db, every cell compared.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val dir = Files.createTempDirectory("graft_jet_betal").toString
    val bt = HogiaSchema.byName("Betalningar")
    def money(v: String) = new BigDecimal(v).setScale(4)
    val rows: Seq[Row] = Seq(
      Array[Any](1L, "Lönekonto", "Hyresvärden AB", "Hyra", "2021-03-31",
        "Hyra mars", "Person Ett", money("-8500.00"),
        "Betald via autogiro — ref €42 'åäö'",
        money("0.00"), money("0.00"), money("0.00"), money("0.00"),
        Int.box(0), "G"),
      Array[Any](2L, "Sparkonto", "Banken", "Amortering", "2021-04-15",
        "Lån", "Person Två", money("-1200.50"), null,
        money("350.2500"), money("800.00"), money("0.00"), money("50.00"),
        Int.box(1), null),
      Array[Any](3L, "Lönekonto", "Försäkring", "Övrigt", "2021-05-01",
        "Hemförsäkring", "Gemensamt", money("-189.00"),
        "ÅÄÖ åäö ÉÜ ß, full cp1252 width 0123456789",
        money("0.00"), money("0.00"), money("0.00"), money("0.00"),
        null, "xy")
    ).map(vals => new GenericRowWithSchema(vals, bt.schema): Row)
    val srcDb = new SqliteTableIO(s"$dir/src.db")
    HogiaSchema.copyOrder.foreach { t =>
      val data = if (t.name == "Betalningar") rows else Seq.empty[Row]
      srcDb.truncateLoad(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(data.toList).asJava),
        t.schema), t)
    }
    val midIo = new JetTableIO(s"$dir/mid.mdb")
    Convert.konvertera(spark, srcDb, midIo, reverse = true)
    val dstDb = new SqliteTableIO(s"$dir/dst.db")
    Convert.konvertera(spark, midIo, dstDb)
    val got = dstDb.read(spark, bt).orderBy("Löpnr").collect()
    assert(got.length == 3,
      "non-empty Betalningar must survive both hops (the reference crashes)")
    rows.zip(got).foreach { case (e, g) =>
      bt.cols.zipWithIndex.foreach { case (c, ci) =>
        val ev = e.get(ci)
        val gv = g.get(ci)
        if (ev == null)
          assert(gv == null || gv == "",
            s"Betalningar.${c.name} row ${e.get(0)}: expected NULL, got '$gv'")
        else c.spark match {
          case _: DecimalType =>
            assert(gv.asInstanceOf[BigDecimal]
              .compareTo(ev.asInstanceOf[BigDecimal]) == 0,
              s"Betalningar.${c.name} row ${e.get(0)}: $gv != $ev")
          case _ =>
            assert(gv == ev,
              s"Betalningar.${c.name} row ${e.get(0)}: '$gv' != '$ev'")
        }
      }
    }
    // the exact cell the reference loses: cp1252 specials included
    assert(got(0).getAs[String]("Text").contains("€"))
    assert(got(2).getAs[String]("Text").startsWith("ÅÄÖ åäö"))
  }

  test("FULL ROUND TRIP (db_test.go:83-140): GOTEST1.MDB → .db → .mdb, checkDB1 replayed") {
    assume(available)
    val dir = Files.createTempDirectory("graft_jet_rt").toString
    val dbPath = s"$dir/mellan.db"
    val backPath = s"$dir/back.mdb"
    // forward pass (reference Test1 first pass)
    Convert.konvertera(spark, io, new SqliteTableIO(dbPath))
    // reverse pass (second pass, -backa): real binary .mdb out
    val backIo = new JetTableIO(backPath)
    Convert.konvertera(spark, new SqliteTableIO(dbPath), backIo, reverse = true)
    // third pass: checkDB1's golden assertions against the ROUND-TRIPPED
    // binary (db_test.go:120-136) — counts, persons, transactions, saldo
    val counts = HogiaSchema.copyOrder.map(t =>
      t.name -> backIo.read(spark, t).count()).toMap
    assert(counts == Map(
      "DtbVer" -> 1L, "Platser" -> 1L, "Personer" -> 3L, "Konton" -> 1L,
      "BetalKonton" -> 0L, "Överföringar" -> 0L, "Betalningar" -> 0L,
      "LÅN" -> 0L, "Budget" -> 34L, "Transaktioner" -> 3L))
    val p = backIo.read(spark, HogiaSchema.byName("Personer"))
      .orderBy("Löpnr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(p.toSeq == Seq(
      (1L, "Gemensamt", "0", "Gemensamt"),
      (2L, "Person Ett", "1999", "Man"),
      (3L, "Person Två", "2001", "Kvinna")))
    val t = backIo.read(spark, HogiaSchema.byName("Transaktioner"))
      .orderBy("Löpnr").collect()
    assert(t.length == 3)
    assert(t(0).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("1.10")) == 0)
    assert(t(1).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    assert(t(2).getAs[BigDecimal]("Belopp").compareTo(new BigDecimal("0.10")) == 0)
    assert(t.forall(_.isNullAt(t(0).fieldIndex("Saldo")))) // F7 held through
    assert(t(1).getAs[String]("Text") == "Tom € räksmörgås")
    assert(t(2).getAs[String]("Text") == "Tom € RÄKSMÖRGÅS")
    assert(t.forall(_.getAs[String]("Datum") == "2020-12-24"))
    val k = backIo.read(spark, HogiaSchema.byName("Konton"))
      .filter(col("Benämning") === "Plånboken").collect().head
    assert(k.getAs[BigDecimal]("Saldo").compareTo(new BigDecimal("0.9")) == 0)
    // Budget's 34 seed rows survive both hops (MONEY×12, SMALLINT, text)
    val b = backIo.read(spark, HogiaSchema.byName("Budget"))
    assert(b.filter(col("Typ") === lit("Livsmedel")).count() >= 1)
    // and the reference fixture itself was never touched
    assert(Files.size(java.nio.file.Paths.get(MdbPath)) == 163840L)
  }

  test("END-TO-END with real artifacts: GOTEST1.MDB → real SQLite .db") {
    assume(available)
    val dir = Files.createTempDirectory("graft_jet_e2e").toString
    val dbPath = s"$dir/out.db"
    Convert.konvertera(spark, io, new SqliteTableIO(dbPath))
    val havePython =
      try new ProcessBuilder("python3", "--version").start().waitFor() == 0
      catch { case _: Exception => false }
    assume(havePython, "python3 unavailable")
    val pb = new ProcessBuilder("python3", "-c",
      s"""import sqlite3
         |c = sqlite3.connect('$dbPath')
         |print(c.execute('PRAGMA integrity_check').fetchone()[0])
         |print(c.execute('SELECT count(*) FROM Transaktioner').fetchone()[0])
         |row = c.execute('SELECT Belopp, Text, Saldo FROM Transaktioner WHERE Löpnr=2').fetchone()
         |print(row[0], row[1], row[2])
         |print(c.execute('SELECT count(*) FROM Budget').fetchone()[0])""".stripMargin)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    assert(proc.waitFor() == 0, s"python3 failed:\n$out")
    val lines = out.linesIterator.toSeq
    assert(lines(0) == "ok")
    assert(lines(1) == "3")
    assert(lines(2) == "0.1 Tom € räksmörgås None") // forward F7 NULLs saldo
    assert(lines(3) == "34")
  }
}
