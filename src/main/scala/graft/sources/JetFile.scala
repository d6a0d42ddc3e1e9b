package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.schema.{Col, HogiaTable}

/** Pure-JVM reader AND writer for the Jet 2.0-era `.mdb` files the
  * reference actually converts (`hhek2sqlite.go:1253-1279` opens them via
  * ODBC; its own test fixture GOTEST1.MDB is this format — authored by
  * the mid-90s Hogia app, PRE-Jet3, so even mdbtools' documented formats
  * don't cover it). The layout here was recovered from the public
  * fixture itself and verified value-for-value against the golden
  * contents specified in db_test.go:142-149:
  *
  *  - 2048-byte pages; page type byte 0: 0x06 = data, 0x05 = TDEF.
  *  - Data page: owner TDEF page u32 @4, row count u16 @8, free-space
  *    start u16 @10, row-offset table u16[] @20 (0 = deleted slot;
  *    offsets carry flag bits in the high nibble, masked with 0x0FFF).
  *    Row i occupies [offset_i, previous live offset) growing down from
  *    the page end.
  *  - Row: [len u16][nFixed u8][nVar u8][fixed slots][var bytes]
  *    [var boundaries, 1 byte each, stored descending][nVar u8]
  *    [null mask, ceil(nFixed/8) bytes]. Mask bit i = fixed slot i is
  *    present; for BOOL columns the bit IS the value (Jet BITs are
  *    non-nullable and occupy zero row bytes).
  *  - System catalog: MSysObjects rows (data pages owned by TDEF 3)
  *    map object name → object id, and the object id IS the table's
  *    TDEF page number. MSysColumns rows (owned by TDEF 4) give each
  *    column's fixed-slot index / byte size / Jet type and, for
  *    variable columns, a 0xFF-descending slot that orders the var
  *    section.
  *  - Values: TEXT = Windows-1252 bytes (single-byte, pre-Unicode Jet);
  *    CURRENCY = int64 scaled by 10⁴ (decoded to exact DECIMAL(19,4) —
  *    never through a double); LONG/INT16/BYTE little-endian;
  *    REAL4/REAL8 IEEE.
  *
  * Row trailers come in two self-describing forms, disambiguated by the
  * var-count marker byte (`nVar` < 128 in both; the fixture never
  * exceeds 11): marker == nVar → 1-byte boundaries (every fixture row,
  * var section ends ≤ byte 255); marker == nVar|0x80 → 2-byte
  * little-endian boundaries (long-TEXT rows, var section past byte 255).
  * Any other marker fails loudly — a row is never misparsed.
  *
  * MEMO (Jet type 12) payloads live on LVAL pages: ordinary 0x06 pages
  * owned by a dedicated pseudo-TDEF, holding chain rows
  * `[nextPage u32][nextSlot u16][chunk]` (next page 0 = end). The
  * in-row var value is a 12-byte descriptor
  * `[magic u16 = 0x564C "LV"][totalLen u32][firstPage u32][firstSlot
  * u16]`. Empty var bytes read as NULL (how the fixture stores its
  * absent memos); a non-empty value that is not a valid descriptor
  * fails loudly — a non-empty memo is NEVER silently NULLed (the
  * reference copies memo content, `hhek2sqlite.go:834`). The descriptor
  * and chain layout are this codec's own canonical form (real Jet 2.0's
  * LVAL layout is undocumented for this pre-Jet3 era); writer and
  * reader share it, which is what the round-trip contract needs.
  *
  * [[write]] is the symmetric encoder — it replaces the reference's
  * reverse-mode ADOX/COM file creation (`hhek2sqlite.go:1177-1202`,
  * Windows-only) with a direct emission of the same page format the
  * reader parses, closing the `db_test.go:120-136` round-trip
  * (mdb → db → mdb, checkDB1 replayed on the result). Structural
  * choices mirror the fixture byte-for-byte where observable: all-zero
  * header page except the 0x01 magic, self-owned TDEF pages, data pages
  * with owner/rowcount/free-offset header and rows packed downward from
  * the page end. The 15 schema indexes are MATERIALIZED as real B-tree
  * pages (0x04 leaves / 0x03 interiors, same slot machinery as data
  * pages; `MSysIndexes` catalogs name/columns/uniqueness/root, resolved
  * by name through MSysObjects so real fixtures without the object are
  * unaffected), and [[Db.indexLookup]] serves point lookups through
  * them touching only the descent path — `JetScript` stays the portable
  * DDL carrier. The key form is this codec's own byte-comparable
  * canonicalization (Jet 2.0's real collation transform is
  * undocumented): presence prefix, sign-flipped big-endian numerics,
  * case-folded NUL-terminated cp1252 text. Divergences (documented,
  * loud where lossy): a NULL TEXT value between two non-NULL
  * var columns reads back as "" (the boundary row forms cannot mark
  * interior var NULLs; trailing NULL vars are truncated and do
  * round-trip), and an empty-string MEMO reads back as NULL (a
  * zero-length payload has no LVAL chain to point at).
  */
object JetFile {

  private final val PageSize = 2048

  private final case class JetCol(slot: Int, size: Int, jetType: Int, name: String)

  final class Db(bytes: Array[Byte]) {
    private val nPages = bytes.length / PageSize

    private def u16(off: Int): Int =
      (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
    private def u32(off: Int): Long =
      (u16(off).toLong) | (u16(off + 2).toLong << 16)

    private def pageType(pg: Int): Int = bytes(pg * PageSize) & 0xFF
    private def owner(pg: Int): Long = u32(pg * PageSize + 4)

    /** Live row extents of one data page, page-relative. */
    private def rowExtents(pg: Int): Seq[(Int, Int)] = {
      val base = pg * PageSize
      val n = u16(base + 8)
      var prev = PageSize
      (0 until n).flatMap { i =>
        val raw = u16(base + 20 + 2 * i)
        if (raw == 0) None
        else {
          val off = raw & 0x0FFF
          val ext = (off, prev)
          prev = off
          Some(ext)
        }
      }
    }

    /** (fixedBytes, varValues, presenceMask) per live row of a table. */
    private def rawRows(tdefPage: Long): Seq[(Array[Byte], Seq[Array[Byte]], Seq[Boolean])] =
      (0 until nPages)
        .filter(pg => pageType(pg) == 6 && owner(pg) == tdefPage)
        .flatMap { pg =>
          val base = pg * PageSize
          rowExtents(pg).map { case (s, e) =>
            val row = java.util.Arrays.copyOfRange(bytes, base + s, base + e)
            parseRow(row)
          }
        }

    private def parseRow(row: Array[Byte]): (Array[Byte], Seq[Array[Byte]], Seq[Boolean]) = {
      require(row.length >= 4, s"short row (${row.length}B)")
      val nFixed = row(2) & 0xFF
      val nVar = row(3) & 0xFF
      require(nVar < 128, s"var-column count $nVar >= 128 unsupported")
      val nMask = (nFixed + 7) / 8
      val mask = row.slice(row.length - nMask, row.length)
      val marker = row(row.length - nMask - 1) & 0xFF
      val offEnd = row.length - nMask - 1
      // marker == nVar → 1-byte boundaries; == nVar|0x80 → 2-byte LE
      // boundaries (rows whose var section ends past byte 255); anything
      // else is corruption — fail loudly, never misparse.
      val bounds: Array[Int] =
        if (marker == nVar)
          (0 to nVar).map(i => row(offEnd - 1 - i) & 0xFF).toArray // ascending
        else if (marker == (nVar | 0x80))
          (0 to nVar).map { i =>
            val p = offEnd - 2 * (i + 1)
            (row(p) & 0xFF) | ((row(p + 1) & 0xFF) << 8)
          }.toArray
        else throw new IllegalArgumentException(
          s"row var-count marker mismatch ($nVar vs $marker): corrupt row")
      require(bounds.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)) &&
        bounds.last <= row.length,
        s"non-monotonic var bounds: corrupt row") // nVar=0 yields one partial window
      val varVals = (0 until nVar).map(i =>
        java.util.Arrays.copyOfRange(row, bounds(i), bounds(i + 1)))
      // bounds(0) = 4 + fixed-section length in BOTH forms (for nVar = 0
      // it degenerates to the trailer start), so it IS the fixed end.
      val fixed = java.util.Arrays.copyOfRange(row, 4, bounds(0))
      val present = (0 until nFixed).map(i => ((mask(i / 8) >> (i % 8)) & 1) == 1)
      (fixed, varVals, present)
    }

    private def cp1252(b: Array[Byte]): String = new String(b, "windows-1252")

    /** Object name → TDEF page, from MSysObjects (TDEF 3). */
    lazy val catalog: Map[String, Long] =
      rawRows(3L).map { case (fixed, vars, _) =>
        cp1252(vars.head) -> u32le(fixed, 0)
      }.toMap

    /** Column metadata per object id, from MSysColumns (TDEF 4). */
    private lazy val columnsByObject: Map[Long, Seq[JetCol]] =
      rawRows(4L).map { case (fixed, vars, _) =>
        (u32le(fixed, 0),
          JetCol(fixed(6) & 0xFF, fixed(7) & 0xFF, fixed(8) & 0xFF, cp1252(vars.head)))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    private def u32le(b: Array[Byte], off: Int): Long =
      (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
        ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)
    private def i64le(b: Array[Byte], off: Int): Long =
      u32le(b, off) | (u32le(b, off + 4) << 32)

    private def decodeOne(cols: Seq[JetCol],
        raw: (Array[Byte], Seq[Array[Byte]], Seq[Boolean])): Map[String, Any] = {
      // fixed slots ascend from 0; var slots descend from 0xFF in
      // definition order
      val fixedCols = cols.filter(_.slot < 128).sortBy(_.slot)
      val varCols = cols.filter(_.slot >= 128).sortBy(-_.slot)
      val (fixed, vars, present) = raw
      val out = Map.newBuilder[String, Any]
      var off = 0
      fixedCols.zipWithIndex.foreach { case (c, i) =>
        val p = i < present.size && present(i)
        val v: Any = c.jetType match {
          case 1 => p // BOOL: mask bit is the value
          case _ if !p => null
          case 2 => (fixed(off) & 0xFF).toShort // BYTE
          case 3 => ((fixed(off) & 0xFF) | (fixed(off + 1) << 8)).toShort // INT16
          case 4 => u32le(fixed, off).toInt.toLong // LONG (sign via toInt)
          case 5 => new java.math.BigDecimal( // CURRENCY: exact 10⁻⁴
            java.math.BigInteger.valueOf(i64le(fixed, off)), 4)
          case 6 => java.lang.Float.intBitsToFloat(u32le(fixed, off).toInt)
          case 7 => java.lang.Double.longBitsToDouble(i64le(fixed, off))
          case t => throw new IllegalArgumentException(
            s"unsupported fixed Jet type $t for ${c.name}")
        }
        if (c.jetType != 1) off += c.size
        out += c.name -> v
      }
      varCols.zipWithIndex.foreach { case (c, j) =>
        val v: Any =
          if (j >= vars.size) null
          else c.jetType match {
            case 10 => cp1252(vars(j)) // TEXT
            case 12 => readMemo(vars(j), c.name) // MEMO via LVAL chain
            case t => throw new IllegalArgumentException(
              s"unsupported var Jet type $t for ${c.name}")
          }
        out += c.name -> v
      }
      out.result()
    }

    /** MEMO value: empty bytes = NULL (how the fixture stores absent
      * memos); otherwise a 12-byte LVAL descriptor whose page chain is
      * followed and decoded. A non-empty value that does not validate as
      * a descriptor fails LOUDLY — the reference copies memo content
      * (`hhek2sqlite.go:834`), so silently NULLing one would be data
      * loss, not a divergence. */
    private def readMemo(b: Array[Byte], col: String): String = {
      if (b.isEmpty) return null
      require(b.length == 12 && u16a(b, 0) == 0x564C,
        s"$col: unrecognized MEMO descriptor (${b.length} B) — refusing to NULL a non-empty memo")
      val total = u32le(b, 2)
      // page numbers validate as UNSIGNED longs BEFORE narrowing: a
      // corrupt descriptor holding e.g. 0xFFFFFFFF would wrap to a
      // negative Int, slip past an int-typed bound check, and crash
      // with a bare AIOOBE instead of this codec's loud contract
      var pgL = u32le(b, 6)
      var slot = u16a(b, 10)
      val out = new java.io.ByteArrayOutputStream()
      var hops = 0
      while (pgL != 0L) {
        require(hops < (1 << 16), s"$col: LVAL chain cycle")
        hops += 1
        require(pgL > 0L && pgL < nPages, s"$col: LVAL pointer to page $pgL outside the file")
        val pg = pgL.toInt
        require(pageType(pg) == 6, s"$col: LVAL pointer to non-data page $pg")
        val exts = rowExtents(pg)
        require(slot < exts.size, s"$col: LVAL slot $slot past page occupancy")
        val (s, e) = exts(slot)
        val base = pg * PageSize
        val chunk = java.util.Arrays.copyOfRange(bytes, base + s, base + e)
        require(chunk.length >= 6, s"$col: short LVAL row")
        out.write(chunk, 6, chunk.length - 6)
        pgL = u32le(chunk, 0) // unsigned — validated at the loop head
        slot = u16a(chunk, 4)
      }
      require(out.size() == total,
        s"$col: torn LVAL chain (${out.size()} of $total B)")
      cp1252(out.toByteArray)
    }

    private def u16a(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

    /** Decode one table into (columnName → value) maps. */
    def readTable(name: String): Seq[Map[String, Any]] = {
      val tdef = catalog.getOrElse(name,
        throw new IllegalArgumentException(s"table $name not in MDB catalog"))
      val cols = columnsByObject.getOrElse(tdef, Seq.empty)
      rawRows(tdef).map(decodeOne(cols, _))
    }

    // ---- secondary indexes ----------------------------------------------

    final case class JetIndex(table: String, name: String,
        columns: Seq[String], unique: Boolean, root: Int)

    /** Index metadata from MSysIndexes (resolved by NAME through
      * MSysObjects, so real fixtures without the object simply have no
      * readable indexes). */
    lazy val indexCatalog: Seq[JetIndex] =
      catalog.get("MSysIndexes").map { tdef =>
        val nameById = catalog.map(_.swap)
        rawRows(tdef).map { case (fixed, vars, _) =>
          JetIndex(nameById(u32le(fixed, 0)), cp1252(vars(0)),
            cp1252(vars(1)).split(';').toSeq, fixed(8) != 0,
            u32le(fixed, 4).toInt)
        }
      }.getOrElse(Seq.empty)

    /** Point lookup THROUGH an index B-tree: descend interior (0x03)
      * pages by max-key separators, match leaf (0x04) entries exactly,
      * decode only the data pages the leaves point at. Returns the
      * matching rows and the TOTAL number of pages touched (tree levels
      * + matching leaves + target data pages) — the observable proof
      * the lookup is sub-scan. Duplicate keys spanning a page boundary
      * are followed via the adjacent-child rule. */
    def indexLookup(table: String, indexName: String,
        key: Seq[Any]): (Seq[Map[String, Any]], Int) = {
      val idx = indexCatalog.find(i => i.table == table && i.name == indexName)
        .getOrElse(throw new IllegalArgumentException(
          s"no index $indexName on $table"))
      require(key.size == idx.columns.size,
        s"$indexName keys on ${idx.columns.size} column(s), got ${key.size}")
      val tdef = catalog(table)
      val cols = columnsByObject.getOrElse(tdef, Seq.empty)
      val colByName = cols.map(c => c.name -> c).toMap
      val toCp1252 = new Cp1252
      val target = idx.columns.zip(key).map { case (cn, v) =>
        keyPart(colByName(cn).jetType, v, s"$table.$cn", toCp1252)
      }.reduce(_ ++ _)
      var pagesTouched = 0
      val hits = Seq.newBuilder[(Int, Int)]
      def entryBytes(pg: Int): Seq[Array[Byte]] = {
        val base = pg * PageSize
        rowExtents(pg).map { case (s, e) =>
          java.util.Arrays.copyOfRange(bytes, base + s, base + e)
        }
      }
      def visit(pg: Int): Unit = {
        pagesTouched += 1
        val es = entryBytes(pg)
        pageType(pg) match {
          case 4 => // leaf: [dataPage u32][slot u16][key]
            es.foreach { e =>
              val k = java.util.Arrays.copyOfRange(e, 6, e.length)
              if (java.util.Arrays.equals(k, target))
                hits += ((u32le(e, 0).toInt, (e(4) & 0xFF) | ((e(5) & 0xFF) << 8)))
            }
          case 3 => // interior: [childPage u32][maxKey]
            // children are in key order; the target can live in the
            // first child whose maxKey >= target, and — for duplicates
            // crossing a boundary — in each following child whose
            // PREDECESSOR's maxKey == target.
            var found = false
            var prevMax: Array[Byte] = null
            es.foreach { e =>
              val child = u32le(e, 0).toInt
              val maxK = java.util.Arrays.copyOfRange(e, 4, e.length)
              val take =
                (!found && java.util.Arrays.compareUnsigned(maxK, target) >= 0) ||
                  (found && prevMax != null &&
                    java.util.Arrays.compareUnsigned(prevMax, target) == 0)
              if (take) { visit(child); found = true }
              prevMax = maxK
            }
          case t => throw new IllegalStateException(
            s"page $pg is not an index page (type $t)")
        }
      }
      if (idx.root != 0) visit(idx.root)
      val hitList = hits.result()
      pagesTouched += hitList.map(_._1).distinct.size
      val rows = hitList.map { case (pg, slot) =>
        val base = pg * PageSize
        val (s, e) = rowExtents(pg)(slot)
        decodeOne(cols, parseRow(
          java.util.Arrays.copyOfRange(bytes, base + s, base + e)))
      }
      (rows, pagesTouched)
    }
  }

  def open(path: String): Db = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length % PageSize == 0 && bytes.length >= 2 * PageSize &&
      (bytes(0) & 0xFF) == 0x01,
      s"$path is not a Jet database")
    new Db(bytes)
  }

  // ---- writer ------------------------------------------------------------

  /** (Jet type code, fixed byte size) for a schema column — the codes the
    * reader's decode switch consumes. BITs are fixed columns of size 0
    * (the null-mask bit IS the value). */
  private def jetCode(c: Col): (Int, Int) = c.jetType match {
    case "COUNTER" | "Integer" => (4, 4) // LONG
    case "Currency" => (5, 8) // scaled int64
    case "Single" => (6, 4) // REAL4
    case "SMALLINT" => (3, 2) // INT16
    case "Bit" => (1, 0)
    case t if t.startsWith("Text") => (10, 0) // var
    case "Memo" => (12, 0) // var (12-byte LVAL descriptor in-row)
    case t => throw new IllegalArgumentException(s"no Jet type code for $t (${c.name})")
  }

  private def isFixedType(c: Col): Boolean = jetCode(c)._1 < 10

  /** Strings travel as Windows-1252 (single-byte, pre-Unicode Jet);
    * unmappable characters fail loudly rather than write `?`. One per
    * [[write]] call: the encoder resets itself on every `encode`, but is
    * not thread-safe. */
  private final class Cp1252 {
    private val encoder = java.nio.charset.Charset.forName("windows-1252").newEncoder()

    def apply(s: String, col: String): Array[Byte] =
      try {
        val bb = encoder.encode(java.nio.CharBuffer.wrap(s))
        java.util.Arrays.copyOfRange(bb.array(), bb.position(), bb.limit())
      } catch {
        case e: java.nio.charset.CharacterCodingException =>
          throw new IllegalArgumentException(
            s"$col value not representable in Windows-1252: '$s'", e)
      }
  }

  // ---- index key encoding ------------------------------------------------

  /** One indexed value → byte-comparable key segment: unsigned
    * byte-lexicographic order over the encoding IS the index order.
    * Presence prefix 0x00/0x01 makes NULLs sort first; LONG/INT16/
    * CURRENCY flip the sign bit and serialize big-endian (two's-
    * complement order becomes unsigned order); TEXT case-folds (Jet
    * indexes are case-insensitive) to Windows-1252 with a 0x00
    * terminator so prefixes sort first. Jet 2.0's real collation
    * transform is undocumented — this canonical form is this codec's
    * own, shared by writer and reader, which is what the lookup
    * contract needs. */
  private def keyPart(jetType: Int, v: Any, col: String, toCp1252: Cp1252): Array[Byte] = {
    if (v == null) return Array(0x00.toByte)
    val body: Array[Byte] = jetType match {
      case 4 =>
        val l = v match { case l: Long => l; case i: Int => i.toLong }
        val x = l.toInt ^ 0x80000000
        Array((x >>> 24).toByte, (x >>> 16).toByte, (x >>> 8).toByte, x.toByte)
      case 3 =>
        val x = (v.asInstanceOf[Short] ^ 0x8000) & 0xFFFF
        Array((x >>> 8).toByte, x.toByte)
      case 5 =>
        val l = v.asInstanceOf[java.math.BigDecimal]
          .setScale(4, java.math.RoundingMode.UNNECESSARY)
          .unscaledValue().longValueExact()
        val x = l ^ Long.MinValue
        (7 to 0 by -1).map(i => ((x >>> (8 * i)) & 0xFF).toByte).toArray
      case 1 => Array(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
      case 10 =>
        toCp1252(v.asInstanceOf[String]
          .toUpperCase(java.util.Locale.ROOT), col) :+ 0x00.toByte
      case t => throw new IllegalArgumentException(
        s"Jet type $t is not indexable ($col)")
    }
    0x01.toByte +: body
  }

  /** Index entries order: key bytes unsigned-lexicographic, then row
    * placement for a total, deterministic order. */
  private val entryOrdering: Ordering[(Array[Byte], (Int, Int))] =
    (a, b) => {
      val c = java.util.Arrays.compareUnsigned(a._1, b._1)
      if (c != 0) c
      else if (a._2._1 != b._2._1) a._2._1 - b._2._1
      else a._2._2 - b._2._2
    }

  /** Largest row the page allocator can place (2048-byte page, 20 B
    * header + one 2 B slot entry + 2 B headroom). */
  private final val MaxRowBytes = 2024

  /** Inverse of [[Db.parseRow]]: [len u16][nFixed u8][nVar u8][fixed]
    * [var bytes][var bounds, descending][marker u8][null mask]. The
    * trailer picks the 1-byte-boundary form (marker = nVar, the
    * fixture's own) when the var section ends ≤ byte 255, else the
    * 2-byte-LE form (marker = nVar|0x80) — so short rows stay
    * byte-identical to every previously written file. */
  private def encodeRow(
      nFixed: Int, fixed: Array[Byte], mask: Array[Byte],
      vars: Seq[Array[Byte]]): Array[Byte] = {
    val nVar = vars.size
    require(nVar < 128, s"var-column count $nVar >= 128 unsupported")
    val varLen = vars.map(_.length).sum
    val varEnd = 4 + fixed.length + varLen
    val wide = varEnd > 255
    val bw = if (wide) 2 else 1
    val len = varEnd + bw * (nVar + 1) + 1 + mask.length
    require(len <= MaxRowBytes,
      s"row of $len B cannot fit a 2048-byte Jet page — " +
        "route oversized payloads through a MEMO column (LVAL pages)")
    val row = new Array[Byte](len)
    row(0) = (len & 0xFF).toByte; row(1) = ((len >> 8) & 0xFF).toByte
    row(2) = nFixed.toByte; row(3) = nVar.toByte
    System.arraycopy(fixed, 0, row, 4, fixed.length)
    var off = 4 + fixed.length
    val bounds = new Array[Int](nVar + 1)
    bounds(0) = off
    vars.zipWithIndex.foreach { case (v, i) =>
      System.arraycopy(v, 0, row, off, v.length)
      off += v.length
      bounds(i + 1) = off
    }
    val offEnd = len - mask.length - 1
    if (wide) {
      (0 to nVar).foreach { i =>
        val p = offEnd - 2 * (i + 1)
        row(p) = (bounds(i) & 0xFF).toByte
        row(p + 1) = ((bounds(i) >> 8) & 0xFF).toByte
      }
      row(offEnd) = (nVar | 0x80).toByte
    } else {
      (0 to nVar).foreach(i => row(offEnd - 1 - i) = bounds(i).toByte)
      row(offEnd) = nVar.toByte
    }
    System.arraycopy(mask, 0, row, offEnd + 1, mask.length)
    row
  }

  /** One user row → on-page bytes, per the schema's slot assignment
    * (fixed slots ascend 0.. in declaration order; var slots descend
    * from 0xFF in declaration order — matching [[Db.readTable]]).
    * `interiorNulls` counts NULL TEXT values coerced to "" (the format
    * can only mark TRAILING vars as NULL) so the lossy coercion is
    * observable to callers (ADVICE r4). */
  private def encodeUserRow(table: HogiaTable, row: Row,
      interiorNulls: java.util.concurrent.atomic.AtomicLong,
      memoWriter: Array[Byte] => Array[Byte], toCp1252: Cp1252): Array[Byte] = {
    val fixedCols = table.cols.filter(isFixedType)
    val varCols = table.cols.filter(!isFixedType(_))
    val mask = new Array[Byte]((fixedCols.size + 7) / 8)
    val fixed = new java.io.ByteArrayOutputStream()
    def putLE(v: Long, n: Int): Unit =
      (0 until n).foreach(i => fixed.write(((v >> (8 * i)) & 0xFF).toInt))
    fixedCols.zipWithIndex.foreach { case (c, i) =>
      val v = row.get(row.fieldIndex(c.name))
      val (code, size) = jetCode(c)
      val present = code match {
        case 1 =>
          require(v != null, s"${table.name}.${c.name}: Jet BITs are non-nullable")
          v.asInstanceOf[Boolean] // the mask bit IS the value
        case _ if v == null => putLE(0L, size); false
        case 4 =>
          val l = v match { case l: Long => l; case i: Int => i.toLong }
          require(l >= Int.MinValue && l <= Int.MaxValue,
            s"${table.name}.${c.name}: $l exceeds Jet LONG range")
          putLE(l & 0xFFFFFFFFL, 4); true
        case 3 => putLE(v.asInstanceOf[Short].toLong & 0xFFFF, 2); true
        case 5 => // CURRENCY: exact scaled 10⁻⁴ int64, never through a double
          val d = v.asInstanceOf[java.math.BigDecimal]
            .setScale(4, java.math.RoundingMode.UNNECESSARY)
          putLE(d.unscaledValue().longValueExact(), 8); true
        case 6 =>
          putLE(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong & 0xFFFFFFFFL, 4)
          true
        case other => throw new IllegalArgumentException(
          s"unsupported fixed Jet type $other for ${table.name}.${c.name}")
      }
      if (present) mask(i / 8) = (mask(i / 8) | (1 << (i % 8))).toByte
    }
    // Trailing NULL vars are truncated (how the format marks them);
    // an interior NULL must be written as "" — documented divergence.
    val varValsFull = varCols.map { c =>
      val v = row.get(row.fieldIndex(c.name))
      val (code, _) = jetCode(c)
      if (v == null) null
      else {
        val enc = toCp1252(v.asInstanceOf[String], s"${table.name}.${c.name}")
        // MEMO payload lives on LVAL pages; the in-row value is the
        // 12-byte descriptor ("" keeps zero in-row bytes → reads NULL,
        // the documented divergence).
        if (code == 12 && enc.nonEmpty) memoWriter(enc) else enc
      }
    }
    val lastLive = varValsFull.lastIndexWhere(_ != null)
    interiorNulls.addAndGet(varValsFull.take(lastLive + 1).count(_ == null))
    val vars = varValsFull.take(lastLive + 1).map(v =>
      if (v == null) Array.emptyByteArray else v)
    encodeRow(fixedCols.size, fixed.toByteArray, mask, vars)
  }

  /** Create a complete `.mdb` holding `tables` — the reference's
    * reverse-mode output artifact (replacing ADOX/COM + ODBC DDL,
    * `hhek2sqlite.go:1177-1202`), readable by [[open]] and by the same
    * decode path verified against the real fixture. Returns the
    * per-table count of interior-NULL TEXT values lossily coerced to ""
    * (logged too — the format marks only TRAILING vars as NULL; the
    * coercion matches the reference's F6 NULL→"" rule but must be
    * observable, ADVICE r4). */
  def write(path: String, tables: Seq[(HogiaTable, Seq[Row])]): Map[String, Long] = {
    val toCp1252 = new Cp1252
    val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def newPage(tpe: Int): Int = {
      val a = new Array[Byte](PageSize)
      a(0) = tpe.toByte
      pages += a
      pages.size - 1
    }
    def putU16(pg: Int, off: Int, v: Int): Unit = {
      pages(pg)(off) = (v & 0xFF).toByte
      pages(pg)(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def putU32(pg: Int, off: Int, v: Long): Unit = {
      putU16(pg, off, (v & 0xFFFF).toInt); putU16(pg, off + 2, ((v >> 16) & 0xFFFF).toInt)
    }
    def tdefPage(): Int = {
      val no = newPage(0x05)
      putU32(no, 4, no) // TDEF pages are self-owned in the fixture
      no
    }

    newPage(0x01) // page 0: all-zero header except the magic (as the fixture)
    newPage(0x07) // page 1: page-usage map slot (opaque to the reader)
    tdefPage() // page 2: database object TDEF (fixture layout)
    val objTdef = tdefPage() // page 3: MSysObjects
    val colTdef = tdefPage() // page 4: MSysColumns
    require(objTdef == 3 && colTdef == 4, "catalog TDEFs must land on pages 3/4")

    /** Pack encoded rows into `tpe` pages owned by `owner` (0x06 data
      * pages; the index builder reuses the identical slot machinery for
      * 0x04 leaf / 0x03 interior pages). Returns each row's (page, slot)
      * placement — what the index leaves point at. */
    def slottedPages(tpe: Int, owner: Int, rows: Seq[Array[Byte]]): Seq[(Int, Int)] = {
      var pg = -1
      var floor = 0
      var count = 0
      val placed = Seq.newBuilder[(Int, Int)]
      def flush(): Unit = if (pg >= 0) {
        putU32(pg, 4, owner.toLong)
        putU16(pg, 8, count)
        putU16(pg, 10, floor) // free-space end = lowest live row offset
      }
      rows.foreach { r =>
        if (pg < 0 || 20 + 2 * (count + 1) > floor - r.length) {
          flush(); pg = newPage(tpe); floor = PageSize; count = 0
        }
        floor -= r.length
        System.arraycopy(r, 0, pages(pg), floor, r.length)
        putU16(pg, 20 + 2 * count, floor)
        placed += ((pg, count))
        count += 1
      }
      flush()
      placed.result()
    }

    def dataPages(owner: Int, rows: Seq[Array[Byte]]): Seq[(Int, Int)] =
      slottedPages(0x06, owner, rows)

    // ---- LVAL (MEMO payload) pages ------------------------------------
    // Chain rows [nextPage u32][nextSlot u16][chunk] pack incrementally
    // onto 0x06 pages owned by a LAZILY created pseudo-TDEF — a file with
    // no non-empty memos gets no LVAL pages and stays byte-identical to
    // what this writer always produced. Chunks are written LAST-first so
    // each knows its successor's placement; the head placement goes in
    // the 12-byte in-row descriptor.
    val LvalChunk = MaxRowBytes - 6
    var lvalTdef = -1
    var lvalPg = -1
    var lvalFloor = PageSize
    var lvalCount = 0
    def lvalFlush(): Unit = if (lvalPg >= 0) {
      putU32(lvalPg, 4, lvalTdef.toLong)
      putU16(lvalPg, 8, lvalCount)
      putU16(lvalPg, 10, lvalFloor)
    }
    def placeLval(r: Array[Byte]): (Int, Int) = {
      if (lvalTdef < 0) lvalTdef = tdefPage()
      if (lvalPg < 0 || 20 + 2 * (lvalCount + 1) > lvalFloor - r.length) {
        lvalFlush(); lvalPg = newPage(0x06); lvalFloor = PageSize; lvalCount = 0
      }
      lvalFloor -= r.length
      System.arraycopy(r, 0, pages(lvalPg), lvalFloor, r.length)
      putU16(lvalPg, 20 + 2 * lvalCount, lvalFloor)
      lvalCount += 1
      (lvalPg, lvalCount - 1)
    }
    def writeMemo(payload: Array[Byte]): Array[Byte] = {
      var next = (0, 0) // page 0 = end of chain (page 0 is the header)
      payload.grouped(LvalChunk).toSeq.reverseIterator.foreach { chunk =>
        val r = new Array[Byte](6 + chunk.length)
        (0 until 4).foreach(i => r(i) = ((next._1 >> (8 * i)) & 0xFF).toByte)
        r(4) = (next._2 & 0xFF).toByte; r(5) = ((next._2 >> 8) & 0xFF).toByte
        System.arraycopy(chunk, 0, r, 6, chunk.length)
        next = placeLval(r)
      }
      val d = new Array[Byte](12)
      d(0) = 0x4C; d(1) = 0x56 // "LV" magic, little-endian u16 0x564C
      (0 until 4).foreach(i => d(2 + i) = ((payload.length >> (8 * i)) & 0xFF).toByte)
      (0 until 4).foreach(i => d(6 + i) = ((next._1 >> (8 * i)) & 0xFF).toByte)
      d(10) = (next._2 & 0xFF).toByte; d(11) = ((next._2 >> 8) & 0xFF).toByte
      d
    }

    /** Leaf entry [dataPage u32][slot u16][key]; interior entry
      * [childPage u32][maxKey]. Levels pack bottom-up until one page
      * remains — the root. Empty index → root 0 (no such page). */
    def buildIndexTree(owner: Int,
        sorted: Seq[(Array[Byte], (Int, Int))]): Int = {
      if (sorted.isEmpty) return 0
      def le(v: Long, n: Int): Array[Byte] =
        (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
      var level: Seq[(Int, Array[Byte])] = {
        val leaves = sorted.map { case (k, (pg, slot)) =>
          (le(pg.toLong, 4) ++ le(slot.toLong, 2) ++ k, k)
        }
        val placed = slottedPages(0x04, owner, leaves.map(_._1))
        // one (page, maxKey) per distinct leaf page, in write order
        placed.zip(leaves).groupBy(_._1._1).toSeq.sortBy(_._1)
          .map { case (pg, es) => (pg, es.last._2._2) }
      }
      while (level.size > 1) {
        val entries = level.map { case (pg, maxK) => (le(pg.toLong, 4) ++ maxK, maxK) }
        val placed = slottedPages(0x03, owner, entries.map(_._1))
        level = placed.zip(entries).groupBy(_._1._1).toSeq.sortBy(_._1)
          .map { case (pg, es) => (pg, es.last._2._2) }
      }
      level.head._1
    }

    val tdefOf = tables.map { case (t, _) => t.name -> tdefPage() }.toMap
    val indexRows = Seq.newBuilder[(String, graft.schema.Index, Int)]
    val coerced = tables.map { case (t, rows) =>
      val nulls = new java.util.concurrent.atomic.AtomicLong()
      val placements = dataPages(tdefOf(t.name), rows.map(encodeUserRow(t, _, nulls, writeMemo, toCp1252)))
      if (nulls.get() > 0)
        System.err.println(s"[jet] ${t.name}: ${nulls.get()} interior NULL " +
          "TEXT value(s) stored as '' (Jet row format marks only trailing NULLs)")
      // the table's index B-trees (the reference creates these via ODBC
      // DDL after ADOX table creation, hhek2sqlite.go:91-93,1002-1033;
      // JetScript stays the portable DDL carrier)
      val colByName = t.cols.map(c => c.name -> c).toMap
      t.indexes.foreach { ix =>
        val entries = rows.zip(placements).map { case (r, place) =>
          val parts = ix.columns.map { cn =>
            val c = colByName.getOrElse(cn, throw new IllegalArgumentException(
              s"index ${ix.name}: no column $cn in ${t.name}"))
            keyPart(jetCode(c)._1, r.get(r.fieldIndex(cn)), s"${t.name}.$cn", toCp1252)
          }
          (parts.reduce(_ ++ _), parts.forall(_.length > 1), place)
        }.sortBy(e => (e._1, e._3))(entryOrdering)
        // Jet unique indexes reject duplicate keys; NULL-carrying keys
        // are exempt (Access's "ignore nulls" behavior)
        if (ix.unique) entries.sliding(2).foreach {
          case Seq((k1, nn1, _), (k2, _, _)) =>
            require(!nn1 || java.util.Arrays.compareUnsigned(k1, k2) != 0,
              s"unique index ${t.name}.${ix.name}: duplicate key")
          case _ =>
        }
        indexRows += ((t.name, ix, buildIndexTree(tdefOf(t.name), entries.map(e => (e._1, e._3)))))
      }
      t.name -> nulls.get()
    }.toMap

    // MSysIndexes: one row per index — fixed [objid LONG][rootPage LONG]
    // [unique BYTE] + [name TEXT][';'-joined column list TEXT]. Looked up
    // through MSysObjects BY NAME (the real fixture has no such object,
    // so reading it stays fixture-compatible).
    val idxTdef = tdefPage()
    dataPages(idxTdef, indexRows.result().map { case (tName, ix, root) =>
      val fixed = new Array[Byte](9)
      (0 until 4).foreach(i => fixed(i) = ((tdefOf(tName) >> (8 * i)) & 0xFF).toByte)
      (0 until 4).foreach(i => fixed(4 + i) = ((root >> (8 * i)) & 0xFF).toByte)
      fixed(8) = if (ix.unique) 1.toByte else 0.toByte
      encodeRow(3, fixed, Array(0x07.toByte),
        Seq(toCp1252(ix.name, "MSysIndexes.Name"),
          toCp1252(ix.columns.mkString(";"), "MSysIndexes.Columns")))
    })

    // MSysObjects: one row per object — [id LONG] + [name TEXT];
    // the object id IS the object's TDEF page (what the reader resolves).
    dataPages(objTdef, (tables.map { case (t, _) => t.name -> tdefOf(t.name) }
      :+ ("MSysIndexes" -> idxTdef)).map { case (name, tdef) =>
      val id = new Array[Byte](4)
      (0 until 4).foreach(i => id(i) = ((tdef >> (8 * i)) & 0xFF).toByte)
      encodeRow(1, id, Array(0x01.toByte), Seq(toCp1252(name, "MSysObjects.Name")))
    })

    // MSysColumns: one row per column — fixed [objid LONG][ordinal INT16]
    // [slot BYTE][size BYTE][type BYTE] (slot/size/type at fixed offsets
    // 6/7/8, where the reader looks) + [name TEXT].
    dataPages(colTdef, tables.flatMap { case (t, _) =>
      val fixedCols = t.cols.filter(isFixedType)
      val varCols = t.cols.filter(!isFixedType(_))
      val slotted = fixedCols.zipWithIndex.map { case (c, i) => (c, i) } ++
        varCols.zipWithIndex.map { case (c, j) => (c, 0xFF - j) }
      slotted.zipWithIndex.map { case ((c, slot), ord) =>
        val (code, size) = jetCode(c)
        val fixed = new Array[Byte](9)
        (0 until 4).foreach(i => fixed(i) = ((tdefOf(t.name) >> (8 * i)) & 0xFF).toByte)
        fixed(4) = (ord & 0xFF).toByte; fixed(5) = ((ord >> 8) & 0xFF).toByte
        fixed(6) = slot.toByte; fixed(7) = size.toByte; fixed(8) = code.toByte
        encodeRow(5, fixed, Array(0x1F.toByte), Seq(toCp1252(c.name, "MSysColumns.Name")))
      }
    })

    lvalFlush() // seal the open LVAL page's header, if any memos landed
    Files.write(Paths.get(path), pages.toArray.flatten)
    coerced
  }
}

/** TableIO over a real `.mdb` file — the forward-conversion SOURCE the
  * reference reads through ODBC (parsed natively) and, since the writer
  * landed, the reverse-mode SINK it creates through ADOX/COM
  * (`hhek2sqlite.go:1177-1202`, here emitted as the page format
  * directly). Values coerce to the HogiaSchema column types (money
  * stays exact: CURRENCY's scaled int64 → DECIMAL(19,4) directly).
  * Truncate-load is read-modify-write of the whole file — the correct
  * semantics for a single-file export format, same as [[SqliteTableIO]];
  * the file is re-opened per read so a write is never served stale. */
final class JetTableIO(path: String) extends TableIO {

  private var loaded: Map[String, (HogiaTable, Seq[Row])] = Map.empty

  override def read(spark: SparkSession, table: HogiaTable): DataFrame = {
    val rows = JetFile.open(path).readTable(table.name).map { m =>
      Row.fromSeq(table.cols.map { c =>
        coerce(m.getOrElse(c.name, null), c.spark)
      })
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava),
      table.schema)
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, LongType) => l
    case (l: Long, IntegerType) => l.toInt
    case (s: Short, ShortType) => s
    case (s: Short, IntegerType) => s.toInt
    case (b: Boolean, BooleanType) => b
    case (d: java.math.BigDecimal, dec: DecimalType) => d.setScale(dec.scale)
    case (f: Float, FloatType) => f
    case (d: Double, DoubleType) => d
    case (s: String, StringType) => s
    case (other, t) => throw new IllegalArgumentException(s"cannot coerce $other to $t")
  }

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit = {
    val ordered = df.select(table.cols.map(c =>
      org.apache.spark.sql.functions.col(s"`${c.name}`")): _*)
    val rows = TableIO.collectSingleFile(ordered, table, "Jet/MDB") // loud before the file is touched
    if (loaded.isEmpty && Files.exists(Paths.get(path)))
      Files.delete(Paths.get(path))
    loaded += table.name -> ((table, rows.toSeq))
    JetFile.write(path, loaded.values.toSeq)
  }

  override def exists(spark: SparkSession, table: HogiaTable): Boolean =
    Files.exists(Paths.get(path)) && JetFile.open(path).catalog.contains(table.name)
}
