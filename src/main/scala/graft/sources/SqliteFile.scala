package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.schema.HogiaTable

/** Pure-JVM single-file SQLite database codec — the REAL SQLite sink the
  * reference writes (`sqlite_init`, `hhek2sqlite.go:1148-1165`), built
  * directly against the public SQLite file format (sqlite.org's "Database
  * File Format": 100-byte header, 4096-byte pages, table B-trees with
  * varint-encoded records) instead of a JDBC driver this zero-egress
  * container cannot fetch. Files written here open in any stock SQLite —
  * SqliteFileSpec cross-checks with the container's python3 `sqlite3`
  * (the real engine): PRAGMA integrity_check plus value-level reads.
  *
  * Storage-class mapping mirrors what the reference's literal INSERTs
  * make the real engine store (SURVEY.md §1.3):
  *  - COUNTER PKs are rowid aliases: the column is NULL in the record and
  *    the value rides the rowid (what `integer primary key` means);
  *  - DECIMAL(19,4) written as an unquoted literal gets NUMERIC affinity:
  *    integral values land as INTEGER, the rest as REAL (the reference's
  *    double-precision boundary is inherited deliberately — money survives
  *    bit-exact for the 4-decimal magnitudes the schema holds);
  *  - BIT `true`/`false` literals parse to INTEGER 0/1;
  *  - Jet `Single` goes through `%g` text → REAL (F5), mimicked by
  *    Float.toString → double;
  *  - TEXT is UTF-8 text (the file's declared encoding).
  *
  * Scope (documented, asserted): no indexes (the reference's forward/
  * SQLite side creates none either — D2 is Jet-only); records past the
  * 4061-byte inline threshold spill to standard overflow-page chains
  * (the format's own K/M split, so multi-KB memos survive the SQLite
  * middle leg of the mdb → db → mdb round trip and stock SQLite reads
  * them); rollback-journal-free single writer (an EXPORT format: the
  * cluster path remains JdbcTableIO; this codec is the driver-side
  * final-mile emitter, and reads are parallelized by Spark after
  * decode).
  */
object SqliteFile {

  private final val PageSize = 4096
  private final val Usable = PageSize // reserved-per-page = 0
  private final val MaxInline = Usable - 35 // table-leaf no-overflow bound

  // ---- low-level encoding ------------------------------------------------

  private def varint(v: Long): Array[Byte] = {
    if (v >= 0 && v < (1L << 56)) {
      val tmp = new Array[Byte](8)
      var m = 0
      var y = v
      do { tmp(m) = (y & 0x7F).toByte; y >>>= 7; m += 1 } while (y != 0)
      val out = new Array[Byte](m)
      var i = 0
      while (i < m) {
        out(i) = tmp(m - 1 - i)
        if (i < m - 1) out(i) = (out(i) | 0x80).toByte
        i += 1
      }
      out
    } else {
      // 9-byte form: 8 continuation bytes of 7 bits + low 8 bits last
      val out = new Array[Byte](9)
      out(8) = (v & 0xFF).toByte
      var x = v >>> 8
      var i = 7
      while (i >= 0) { out(i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7; i -= 1 }
      out
    }
  }

  private def readVarint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val c = b(off + i) & 0xFF
      if ((c & 0x80) == 0) return ((v << 7) | c, i + 1)
      v = (v << 7) | (c & 0x7F)
      i += 1
    }
    (((v << 8) | (b(off + 8) & 0xFF)), 9)
  }

  private def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  /** One typed SQLite value with its serial type + body bytes. */
  private case class SVal(serial: Long, body: Array[Byte])

  private val SNull = SVal(0, Array.emptyByteArray)

  private def sInt(v: Long): SVal = {
    def fit(bits: Int) = v >= -(1L << (bits - 1)) && v < (1L << (bits - 1))
    if (fit(8)) SVal(1, Array(v.toByte))
    else if (fit(16)) SVal(2, Array((v >> 8).toByte, v.toByte))
    else if (fit(24)) SVal(3, Array((v >> 16).toByte, (v >> 8).toByte, v.toByte))
    else if (fit(32)) SVal(4, be32(v.toInt))
    else if (fit(48)) SVal(5, Array((v >> 40).toByte, (v >> 32).toByte,
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte))
    else SVal(6, longBytes(v))
  }

  private def longBytes(v: Long): Array[Byte] =
    (0 until 8).map(i => (v >> (56 - 8 * i)).toByte).toArray

  private def sReal(d: Double): SVal = SVal(7, longBytes(java.lang.Double.doubleToLongBits(d)))

  private def sText(s: String): SVal = {
    val b = s.getBytes("UTF-8")
    SVal(13L + 2L * b.length, b)
  }

  /** NUMERIC-affinity storage of an exact decimal: integral → INTEGER,
    * else REAL (what the real engine does to the reference's unquoted
    * decimal literals). */
  private def sDecimal(d: java.math.BigDecimal): SVal = {
    val stripped = d.stripTrailingZeros
    if (stripped.scale <= 0 &&
        stripped.precision - stripped.scale <= 18) sInt(stripped.longValueExact)
    else sReal(d.doubleValue)
  }

  private def record(vals: Seq[SVal]): Array[Byte] = {
    val typeBytes = vals.flatMap(v => varint(v.serial)).toArray
    // header length varint counts itself: 1-byte assumption, grow if needed
    var hdrLen = typeBytes.length + 1
    if (hdrLen > 127) hdrLen = typeBytes.length + varint(typeBytes.length + 2).length
    varint(hdrLen) ++ typeBytes ++ vals.flatMap(_.body)
  }

  // ---- B-tree construction ----------------------------------------------

  /** A not-yet-placed page: kind 13 = table leaf, 5 = table interior,
    * 10 = index leaf, 0 = OVERFLOW (raw chain page, no b-tree header).
    * Interior children, per-cell overflow heads, and overflow next
    * pointers reference indices into the builder's page list, patched to
    * absolute page numbers at layout time. */
  private final class PendingPage(val kind: Int) {
    val cells = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val childRefs = scala.collection.mutable.ArrayBuffer[Int]() // parallel to cells
    val overflowRefs = scala.collection.mutable.ArrayBuffer[Int]() // parallel; -1 = inline
    var rightRef: Int = -1
    var maxRowid: Long = Long.MinValue
    var raw: Array[Byte] = null // kind 0: payload after the 4-byte next ptr
    var nextRef: Int = -1 // kind 0: local index of the next chain page
    def cellBytes: Int = cells.map(_.length + 2).sum
    def headerSize: Int = if (kind == 5) 12 else 8
  }

  /** Bottom-up table B-tree from (rowid, record) pairs in rowid order.
    * Returns (pages, rootIndex) — pages in allocation order. */
  private def buildTree(rows: Seq[(Long, Array[Byte])],
      page1Root: Boolean): (Vector[PendingPage], Int) = {
    val pages = scala.collection.mutable.ArrayBuffer[PendingPage]()

    def newLeaf() = { val p = new PendingPage(13); pages += p; p }

    // page 1 loses 100 header bytes; conservatively budget every level for
    // it when the root must land on page 1 (only the root page actually
    // pays, but master fits either way and correctness is unaffected).
    val budget = Usable - (if (page1Root) 100 else 0)

    var leaf = newLeaf()
    val leafIdx = scala.collection.mutable.ArrayBuffer[Int]()
    leafIdx += 0
    rows.foreach { case (rowid, rec) =>
      val P = rec.length
      // Records past the table-leaf inline bound spill to overflow pages
      // per the file format's own split: M = ((U-12)*32/255)-23,
      // K = M + (P-M) mod (U-4); inline K bytes if K ≤ X else M, the
      // cell ends with the 4-byte head of the chain.
      val (cell, ovRef) =
        if (P <= MaxInline) (varint(P) ++ varint(rowid) ++ rec, -1)
        else {
          val M = ((Usable - 12) * 32 / 255) - 23
          val K = M + (P - M) % (Usable - 4)
          val inline = if (K <= MaxInline) K else M
          val chunkIdxs = rec.slice(inline, P).grouped(Usable - 4).map { ch =>
            val p = new PendingPage(0); p.raw = ch; pages += p; pages.length - 1
          }.toSeq
          chunkIdxs.zip(chunkIdxs.drop(1)).foreach { case (a, b) =>
            pages(a).nextRef = b
          }
          (varint(P) ++ varint(rowid) ++ rec.take(inline) ++ be32(0), chunkIdxs.head)
        }
      if (leaf.headerSize + leaf.cellBytes + cell.length + 2 > budget) {
        leaf = newLeaf(); leafIdx += (pages.length - 1)
      }
      leaf.cells += cell
      leaf.overflowRefs += ovRef
      leaf.maxRowid = rowid
    }

    var level: Seq[Int] = leafIdx.toSeq
    while (level.size > 1) {
      val nextLevel = scala.collection.mutable.ArrayBuffer[Int]()
      var interior = new PendingPage(5)
      pages += interior
      nextLevel += (pages.length - 1)
      level.zipWithIndex.foreach { case (childIdx, i) =>
        val isLast = i == level.size - 1
        val childMax = pages(childIdx).maxRowid
        if (isLast) {
          interior.rightRef = childIdx
          interior.maxRowid = childMax
        } else {
          val cell = be32(0) ++ varint(childMax) // child patched at layout
          if (interior.headerSize + interior.cellBytes + cell.length + 2 > budget) {
            interior = new PendingPage(5)
            pages += interior
            nextLevel += (pages.length - 1)
          }
          interior.cells += cell
          interior.childRefs += childIdx
          interior.maxRowid = childMax
        }
      }
      // a right-most child is mandatory: if the last page of this level
      // never got one (all children landed as cells), move the final cell
      // to the right pointer
      nextLevel.map(pages(_)).filter(_.rightRef < 0).foreach { p =>
        p.rightRef = p.childRefs.remove(p.childRefs.length - 1)
        p.cells.remove(p.cells.length - 1)
      }
      level = nextLevel.toSeq
    }
    (pages.toVector, level.head)
  }

  /** Serialize one pending page into `buf` at pageNo (1-based), given the
    * local-index → absolute-page mapping. */
  private def emitPage(buf: Array[Byte], pageNo: Int, p: PendingPage,
      abs: Int => Int): Unit = {
    val base = (pageNo - 1) * PageSize
    if (p.kind == 0) { // overflow chain page: [next u32 BE][payload]
      val next = if (p.nextRef < 0) 0 else abs(p.nextRef)
      System.arraycopy(be32(next), 0, buf, base, 4)
      System.arraycopy(p.raw, 0, buf, base + 4, p.raw.length)
      return
    }
    val hdrOff = if (pageNo == 1) 100 else 0
    val cellsWithChildren = p.cells.zipWithIndex.map { case (c, i) =>
      if (p.kind == 5) be32(abs(p.childRefs(i))) ++ c.drop(4)
      else if (p.overflowRefs.size == p.cells.size && p.overflowRefs(i) >= 0)
        c.dropRight(4) ++ be32(abs(p.overflowRefs(i)))
      else c
    }
    var contentTop = PageSize
    val offsets = cellsWithChildren.map { c =>
      contentTop -= c.length
      System.arraycopy(c, 0, buf, base + contentTop, c.length)
      contentTop
    }
    val h = base + hdrOff
    buf(h) = p.kind.toByte
    System.arraycopy(be16(0), 0, buf, h + 1, 2) // no freeblocks
    System.arraycopy(be16(p.cells.length), 0, buf, h + 3, 2)
    System.arraycopy(be16(contentTop & 0xFFFF), 0, buf, h + 5, 2)
    buf(h + 7) = 0 // fragmented bytes
    if (p.kind == 5)
      System.arraycopy(be32(abs(p.rightRef)), 0, buf, h + 8, 4)
    val ptrBase = h + p.headerSize
    offsets.zipWithIndex.foreach { case (off, i) =>
      System.arraycopy(be16(off), 0, buf, ptrBase + 2 * i, 2)
    }
  }

  // ---- value conversion --------------------------------------------------

  private def toSVal(row: Row, i: Int, dt: DataType): SVal =
    if (row.isNullAt(i)) SNull
    else dt match {
      case LongType => sInt(row.getLong(i))
      case IntegerType => sInt(row.getInt(i).toLong)
      case ShortType => sInt(row.getShort(i).toLong)
      case BooleanType => sInt(if (row.getBoolean(i)) 1L else 0L)
      case _: DecimalType => sDecimal(row.getDecimal(i))
      // Jet Single reaches SQLite through %g text (F5): shortest float
      // repr parsed as double
      case FloatType => sReal(java.lang.Float.toString(row.getFloat(i)).toDouble)
      case DoubleType => sReal(row.getDouble(i))
      case StringType => sText(row.getString(i))
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  // ---- public API: write -------------------------------------------------

  /** One schema object headed for sqlite_master: a table btree or an
    * automatic PK index btree (sql = None renders the NULL sql column
    * real SQLite stores for autoindexes). */
  private case class Tree(typ: String, name: String, tblName: String,
      sql: Option[String], pages: Vector[PendingPage], root: Int)

  /** Write `tables` (name → (HogiaTable, rows)) as one SQLite database
    * file. Tables with a COUNTER PK use it as the rowid (identity is
    * data — SURVEY.md §1.3 invariant 2); others get sequential rowids
    * plus the automatic UNIQUE-index btree a non-rowid PRIMARY KEY
    * implies (without it the schema and the file disagree and
    * integrity_check reports corruption). */
  def write(path: String, tables: Seq[(HogiaTable, Seq[Row])]): Unit = {
    val trees = scala.collection.mutable.ArrayBuffer[Tree]()
    var hasAutoinc = false

    tables.foreach { case (t, rows) =>
      val pkIdx = t.cols.indexWhere(c => c.isPk && c.jetType == "COUNTER")
      if (pkIdx >= 0) hasAutoinc = true
      val encoded = rows.map { r =>
        val rowid =
          if (pkIdx >= 0) r.getLong(pkIdx)
          else -1L
        val vals = t.cols.zipWithIndex.map { case (c, i) =>
          if (i == pkIdx) SNull // rowid alias column stored as NULL
          else toSVal(r, i, c.spark)
        }
        (rowid, record(vals))
      }
      val withIds =
        if (pkIdx >= 0) encoded.sortBy(_._1)
        else encoded.zipWithIndex.map { case ((_, rec), i) => (i + 1L, rec) }
      val (pages, root) = buildTree(withIds, page1Root = false)
      trees += Tree("table", t.name, t.name, Some(t.sqliteDdl), pages, root)

      // non-rowid PRIMARY KEY ⇒ automatic unique index btree: leaf cells
      // are records of (key columns..., rowid) in BINARY collation order
      if (pkIdx < 0 && t.pk.nonEmpty) {
        val keyIdxs = t.pk.map(p => t.cols.indexWhere(_.name == p))
        // The sort below compares raw serialized key bodies (memcmp),
        // which matches SQLite's record comparison ONLY for a single
        // TEXT key: an INTEGER key's big-endian body sorts by length
        // first (255 = 0x00FF before 2 = 0x02 is wrong), and
        // concatenating multi-column bodies erases column boundaries.
        // Every current Hogia case is single-TEXT (DtbVer.VerNum);
        // anything else must fail loudly, not corrupt the index.
        require(keyIdxs.size == 1 && t.cols(keyIdxs.head).spark == StringType,
          s"${t.name}: autoindex ordering supports a single TEXT PK column only")
        val cellsWithKeys = withIds.zip(rows).map { case ((rowid, _), r) =>
          val keyVals = keyIdxs.map(ki => toSVal(r, ki, t.cols(ki).spark))
          val rec = record(keyVals :+ sInt(rowid))
          (keyVals.flatMap(_.body).toArray, varint(rec.length) ++ rec)
        }
        val sorted = cellsWithKeys.sortWith { case ((a, _), (b, _)) =>
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n && a(i) == b(i)) i += 1
          if (i < n) (a(i) & 0xFF) < (b(i) & 0xFF) else a.length < b.length
        }
        val leaf = new PendingPage(10)
        sorted.foreach { case (_, cell) => leaf.cells += cell }
        require(leaf.headerSize + leaf.cellBytes <= Usable,
          s"autoindex for ${t.name} exceeds one page (multi-page index trees unsupported)")
        trees += Tree("index", s"sqlite_autoindex_${t.name}_1", t.name,
          None, Vector(leaf), 0)
      }
    }

    // sqlite_sequence: mandatory companion of AUTOINCREMENT tables
    if (hasAutoinc) {
      val seqRows = tables.flatMap { case (t, rows) =>
        val pkIdx = t.cols.indexWhere(c => c.isPk && c.jetType == "COUNTER")
        if (pkIdx < 0) None
        else Some((t.name, if (rows.isEmpty) 0L else rows.map(_.getLong(pkIdx)).max))
      }
      val encoded = seqRows.zipWithIndex.map { case ((name, seq), i) =>
        (i + 1L, record(Seq(sText(name), sInt(seq))))
      }
      val (pages, root) = buildTree(encoded, page1Root = false)
      trees += Tree("table", "sqlite_sequence", "sqlite_sequence",
        Some("CREATE TABLE sqlite_sequence(name,seq)"), pages, root)
    }

    // layout: page 1 = master root; data pages follow in tree order
    var nextPage = 2
    val placed = trees.map { t =>
      val basePage = nextPage
      nextPage += t.pages.length
      (t, basePage)
    }

    val masterRows = placed.zipWithIndex.map { case ((t, basePage), i) =>
      val rec = record(Seq(sText(t.typ), sText(t.name), sText(t.tblName),
        sInt(basePage + t.root),
        t.sql.map(sText).getOrElse(SNull)))
      (i + 1L, rec)
    }
    val (masterPages, masterRoot) = buildTree(masterRows.toSeq, page1Root = true)
    require(masterRoot == masterPages.length - 1 || masterPages.length == 1,
      "master root must be the last-built page")
    // master root goes to page 1; its other pages append after the data
    val masterBase = nextPage // for non-root master pages
    val masterAbs: Int => Int = idx =>
      if (idx == masterRoot) 1
      else masterBase + (if (idx > masterRoot) idx - 1 else idx)
    val totalPages = nextPage - 1 + (masterPages.length - 1)

    val buf = new Array[Byte](totalPages * PageSize)
    // data trees
    placed.foreach { case (t, basePage) =>
      t.pages.zipWithIndex.foreach { case (p, idx) =>
        emitPage(buf, basePage + idx, p, j => basePage + j)
      }
    }
    // master tree
    masterPages.zipWithIndex.foreach { case (p, idx) =>
      emitPage(buf, masterAbs(idx), p, masterAbs)
    }

    // 100-byte header
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write("SQLite format 3\u0000".getBytes("ISO-8859-1"))
    hdr.write(be16(PageSize)); hdr.write(1); hdr.write(1) // legacy journal r/w
    hdr.write(0); hdr.write(64); hdr.write(32); hdr.write(32)
    hdr.write(be32(1)) // change counter
    hdr.write(be32(totalPages))
    hdr.write(be32(0)); hdr.write(be32(0)) // freelist
    hdr.write(be32(1)) // schema cookie
    hdr.write(be32(1)) // schema format 1 (max compatibility)
    hdr.write(be32(0)) // default cache
    hdr.write(be32(0)) // largest root (no vacuum)
    hdr.write(be32(1)) // text encoding UTF-8
    hdr.write(be32(0)); hdr.write(be32(0)); hdr.write(be32(0)) // user ver, ivacuum, appid
    hdr.write(new Array[Byte](20))
    hdr.write(be32(1)) // version-valid-for = change counter
    hdr.write(be32(3045000)) // writing-library version stamp
    val hb = hdr.toByteArray
    require(hb.length == 100, s"header ${hb.length}")
    System.arraycopy(hb, 0, buf, 0, 100)

    Files.write(Paths.get(path), buf)
  }

  // ---- public API: read --------------------------------------------------

  /** Read one table back from a SQLite file into Rows matching
    * `table.schema` (COUNTER PK restored from the rowid). */
  def readTable(path: String, table: HogiaTable): Seq[Row] = {
    val buf = Files.readAllBytes(Paths.get(path))
    require(new String(buf, 0, 15, "ISO-8859-1") == "SQLite format 3", "not a SQLite db")
    val pageSize = ((buf(16) & 0xFF) << 8) | (buf(17) & 0xFF)

    def cells(pageNo: Int): Seq[(Long, Array[Byte])] = {
      val base = (pageNo - 1) * pageSize
      val hdrOff = if (pageNo == 1) 100 else 0
      val kind = buf(base + hdrOff) & 0xFF
      val nCells = ((buf(base + hdrOff + 3) & 0xFF) << 8) | (buf(base + hdrOff + 4) & 0xFF)
      val hdrSize = if (kind == 5) 12 else 8
      val ptrBase = base + hdrOff + hdrSize
      val offs = (0 until nCells).map(i =>
        ((buf(ptrBase + 2 * i) & 0xFF) << 8) | (buf(ptrBase + 2 * i + 1) & 0xFF))
      kind match {
        case 13 =>
          offs.map { off =>
            val o = base + off
            val (payLen, n1) = readVarint(buf, o)
            val (rowid, n2) = readVarint(buf, o + n1)
            val P = payLen.toInt
            val payStart = o + n1 + n2
            val X = pageSize - 35
            if (P <= X)
              (rowid, java.util.Arrays.copyOfRange(buf, payStart, payStart + P))
            else { // spilled record: inline prefix + overflow chain
              val M = ((pageSize - 12) * 32 / 255) - 23
              val K = M + (P - M) % (pageSize - 4)
              val inline = if (K <= X) K else M
              def beAt(p: Int): Int = ((buf(p) & 0xFF) << 24) |
                ((buf(p + 1) & 0xFF) << 16) | ((buf(p + 2) & 0xFF) << 8) |
                (buf(p + 3) & 0xFF)
              val out = new java.io.ByteArrayOutputStream()
              out.write(buf, payStart, inline)
              var ov = beAt(payStart + inline)
              while (ov != 0 && out.size < P) {
                val ob = (ov - 1) * pageSize
                val next = beAt(ob)
                out.write(buf, ob + 4, math.min(pageSize - 4, P - out.size))
                ov = next
              }
              require(out.size == P, s"torn overflow chain (${out.size} of $P B)")
              (rowid, out.toByteArray)
            }
          }
        case 5 =>
          val right = ((buf(base + hdrOff + 8) & 0xFF) << 24) |
            ((buf(base + hdrOff + 9) & 0xFF) << 16) |
            ((buf(base + hdrOff + 10) & 0xFF) << 8) | (buf(base + hdrOff + 11) & 0xFF)
          offs.flatMap { off =>
            val o = base + off
            val child = ((buf(o) & 0xFF) << 24) | ((buf(o + 1) & 0xFF) << 16) |
              ((buf(o + 2) & 0xFF) << 8) | (buf(o + 3) & 0xFF)
            cells(child)
          } ++ cells(right)
        case other => throw new IllegalStateException(s"page kind $other")
      }
    }

    def decode(payload: Array[Byte]): Seq[Any] = {
      val (hdrLen, n0) = readVarint(payload, 0)
      var ho = n0
      val serials = scala.collection.mutable.ArrayBuffer[Long]()
      while (ho < hdrLen) {
        val (s, n) = readVarint(payload, ho)
        serials += s; ho += n
      }
      var bo = hdrLen.toInt
      serials.map { s =>
        def intN(n: Int): Long = {
          var v: Long = if ((payload(bo) & 0x80) != 0) -1L else 0L
          var i = 0
          while (i < n) { v = (v << 8) | (payload(bo + i) & 0xFF); i += 1 }
          bo += n; v
        }
        s match {
          case 0 => null
          case 1 => intN(1)
          case 2 => intN(2)
          case 3 => intN(3)
          case 4 => intN(4)
          case 5 => intN(6)
          case 6 => intN(8)
          case 7 => java.lang.Double.longBitsToDouble(intN(8))
          case 8 => 0L
          case 9 => 1L
          case n if n >= 13 && n % 2 == 1 =>
            val len = ((n - 13) / 2).toInt
            val v = new String(payload, bo, len, "UTF-8"); bo += len; v
          case n if n >= 12 =>
            val len = ((n - 12) / 2).toInt
            val v = java.util.Arrays.copyOfRange(payload, bo, bo + len); bo += len; v
        }
      }.toSeq
    }

    // master lookup
    val root = cells(1).map(c => decode(c._2)).collectFirst {
      case Seq(_, name: String, _, rp: Long, _) if name == table.name => rp.toInt
    }.getOrElse(throw new IllegalArgumentException(s"table ${table.name} not in $path"))

    val pkIdx = table.cols.indexWhere(c => c.isPk && c.jetType == "COUNTER")
    cells(root).map { case (rowid, payload) =>
      val raw = decode(payload)
      val vals = table.cols.zipWithIndex.map { case (c, i) =>
        val v = if (i == pkIdx) rowid else raw(i)
        coerce(v, c.spark)
      }
      Row.fromSeq(vals)
    }
  }

  /** Storage-class value → Spark-type value (SQLite is dynamically
    * typed; the reverse of the affinity rules applied on write). */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, LongType) => l
    case (l: Long, IntegerType) => l.toInt
    case (l: Long, ShortType) => l.toShort
    case (l: Long, BooleanType) => l != 0L
    case (l: Long, d: DecimalType) =>
      new java.math.BigDecimal(l).setScale(d.scale)
    case (x: Double, d: DecimalType) =>
      // REAL back to exact decimal via the shortest repr (how the
      // reference's shopspring parse sees SQLite's rendering). HALF_UP:
      // beyond double's ~15 significant digits the shortest repr can
      // carry more decimals than the declared scale — a legal stored
      // value must round on read, not throw (the write-side double
      // boundary is documented as inherited from the reference).
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case (x: Double, FloatType) => x.toFloat
    case (x: Double, DoubleType) => x
    case (s: String, StringType) => s
    case (s: String, d: DecimalType) =>
      // uniform read-path failure mode (ADVICE r4): over-precise stored
      // TEXT rounds like the REAL path instead of throwing ArithmeticException
      new java.math.BigDecimal(s)
        .setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case (other, t) => throw new IllegalArgumentException(s"cannot coerce $other to $t")
  }
}

/** TableIO over a single SQLite database FILE (the reference's actual
  * output artifact). Truncate-load is read-modify-write of the whole
  * file — the correct semantics for a single-file export format (the
  * reference holds one open connection to one file; a 100 TB pipeline
  * uses JdbcTableIO against a real server instead). Reads decode on the
  * driver and parallelize into a DataFrame. */
final class SqliteTableIO(path: String) extends TableIO {

  private var loaded: Map[String, (HogiaTable, Seq[Row])] = Map.empty

  override def read(spark: SparkSession, table: HogiaTable): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          SqliteFile.readTable(path, table).toList).asJava),
      table.schema)

  override def truncateLoad(df: DataFrame, table: HogiaTable): Unit = {
    val rows = TableIO.collectSingleFile(df, table, "SQLite") // loud before the file is touched
    if (loaded.isEmpty && Files.exists(Paths.get(path))) Files.delete(Paths.get(path))
    loaded += table.name -> ((table, rows.toSeq))
    SqliteFile.write(path, loaded.values.toSeq)
  }

  override def exists(spark: SparkSession, table: HogiaTable): Boolean =
    Files.exists(Paths.get(path)) &&
      (try { SqliteFile.readTable(path, table); true }
       catch { case _: IllegalArgumentException => false })
}
