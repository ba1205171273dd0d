package graft.operators

/** SQLite database files (the public file-format spec,
  * sqlite.org/fileformat2.html) — the single-file databases real
  * corpora keep shipping as (app exports, scraped datasets,
  * annotation dumps). Read-only table access plus a conforming
  * single-table writer, pure-JVM:
  *
  *  - [[parse]]/[[tables]]/[[rows]]: the 100-byte header (magic,
  *    page size incl. the 1→65536 encoding, reserved bytes, UTF-8
  *    text encoding required — UTF-16 rejects), the `sqlite_schema`
  *    catalog rooted at page 1, interior/leaf TABLE b-tree walks
  *    (left children + rightmost pointer, key order preserved),
  *    the record serial-type codec (NULL, 1/2/3/4/6/8-byte
  *    big-endian ints, float64, the constant 0/1 forms, text and
  *    blob), and OVERFLOW page chains via the spec's exact local-
  *    payload formulas (X = U-35 for table leaves,
  *    X = ((U-12)·64/255)-23 for index pages — they differ).
  *    WITHOUT ROWID tables read for real: their primary storage is
  *    an INDEX b-tree (page types 2/10) whose records carry the
  *    PRIMARY KEY columns first then the rest in declared order,
  *    each key appearing exactly ONCE in the whole tree (interior
  *    cells are rows too — the walk is an in-order traversal, not
  *    a leaf scan); [[rows]] inverse-permutes back to declared
  *    column order using the PK parsed from the DDL. Virtual
  *    tables still reject honestly.
  *  - [[build]]: a conforming database for one declared table —
  *    header, schema page, and a table b-tree that packs leaf
  *    pages bottom-up into interior levels as needed, spilling
  *    long payloads to overflow chains; readable by any sqlite3.
  *    With `pkColumns` set it writes the WITHOUT ROWID form
  *    instead: records permuted PK-first into an index b-tree with
  *    separator keys PULLED UP into interior cells (never
  *    duplicated), `PRIMARY KEY(...)  ... WITHOUT ROWID` DDL.
  *
  * Column NAMES come from the catalog's CREATE TABLE sql, parsed
  * by a minimal paren/quote-aware splitter (good for the
  * `CREATE TABLE t(a TYPE, ...)` shape this writer and common
  * exports emit; unparseable DDL → an empty column-name list,
  * never a wrong name — values stay addressable by position via
  * [[Row.values]]). An INTEGER PRIMARY KEY column is the rowid
  * alias (serial type NULL in the record, value = rowid) — handled
  * both directions.
  *
  * Validation: page/cell offsets bounds-checked, varints capped at
  * 9 bytes, page-type bytes enforced, cycle guard on page walks
  * (visited set — a crafted loop must not spin), overflow chains
  * length-bounded by the declared payload, trailing/truncated
  * files reject. None on any malformation — drop, never invent.
  * Validation: SqliteSpec (hand-pinned header/record layouts,
  * round trips incl. multi-level b-trees and overflow, fuzz) and
  * an oracle-gated query. */
object Sqlite {

  final case class Table(name: String, rootPage: Int,
      columns: Seq[String], sql: String, ipkColumn: Int,
      withoutRowid: Boolean = false,
      pkColumns: Seq[Int] = Seq.empty)
  /** One decoded row: rowid + column values (null / Long / Double /
    * String / Array[Byte]). For WITHOUT ROWID tables there is no
    * rowid — `rowid` is the 1-based position in key order. */
  final case class Row(rowid: Long, values: Seq[Any])

  private final val Magic =
    ("SQLite format 3" + "\u0000").getBytes("ISO-8859-1")
  private final val MaxPages = 1 << 20

  // ---------------------------------------------------------------
  // Low-level helpers
  // ---------------------------------------------------------------

  /** (value, bytesRead) — spec varint: 1-9 bytes, 9th byte carries
    * 8 full bits. */
  private def varint(d: Array[Byte], o: Int): Option[(Long, Int)] = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (o + i >= d.length) return None
      val b = d(o + i) & 0xff
      v = (v << 7) | (b & 0x7f)
      if ((b & 0x80) == 0) return Some((v, i + 1))
      i += 1
    }
    if (o + 8 >= d.length) return None
    Some(((v << 8) | (d(o + 8) & 0xff), 9))
  }

  private def putVarint(out: java.io.ByteArrayOutputStream,
      v: Long): Unit = {
    if (v >>> 63 != 0 || v >>> 56 != 0) { // needs all 9 bytes
      var i = 0
      val top = v >>> 8
      val bytes = new Array[Byte](8)
      var x = top
      i = 7
      while (i >= 0) { bytes(i) = ((x & 0x7f) | 0x80).toByte
        x >>= 7; i -= 1 }
      out.write(bytes, 0, 8)
      out.write((v & 0xff).toInt)
    } else {
      val stack = new Array[Int](9)
      var n = 0
      var x = v
      while ({ stack(n) = (x & 0x7f).toInt; x >>= 7; n += 1; x != 0 })
        ()
      var i = n - 1
      while (i > 0) { out.write(stack(i) | 0x80); i -= 1 }
      out.write(stack(0))
    }
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  final case class Db(data: Array[Byte], pageSize: Int,
      usable: Int, nPages: Int) {
    /** Page p (1-based) as (array, startOffset). */
    def page(p: Int): Option[Int] =
      if (p < 1 || p > nPages) None
      else Some((p - 1) * pageSize)
  }

  /** WAL SIDECAR recovery (late r14, the SQLite "Write-Ahead Log"
    * file format): apply a `.db-wal` file's COMMITTED frames over
    * the main database image and return the effective database
    * bytes — what a SQLite reader sees before any checkpoint.
    *
    *  - 32-byte header (big-endian fields): magic 0x377F0682 /
    *    0x377F0683 (the low bit picks the CHECKSUM word order:
    *    little / big endian), format 3007000, page size, checkpoint
    *    sequence, two salts, and a checksum over the first 24
    *    bytes.
    *  - 24-byte frame headers: page number, nTruncate (non-zero =
    *    a COMMIT frame carrying the post-commit database page
    *    count), the header's salts repeated, and a CUMULATIVE
    *    checksum (seeded by the header's, folded over each frame's
    *    first 8 header bytes + page image — SQLite's s1/s2 word
    *    pair recurrence).
    *  - Valid frames extend while salts match and the cumulative
    *    checksum chains; the LAST commit frame bounds what's
    *    applied (a torn tail beyond it is ignored, exactly the
    *    recovery rule). The newest frame ≤ that commit wins per
    *    page; the result is truncated/extended to nTruncate pages.
    *
    * Returns the merged image (the input `db` unchanged when the
    * WAL holds no committed frames), or None on malformation —
    * never a half-applied database. */
  def applyWal(db: Array[Byte], wal: Array[Byte])
      : Option[Array[Byte]] = {
    if (wal.length < 32) return None
    val magic = Bytes.be32u(wal, 0)
    if (magic != 0x377f0682L && magic != 0x377f0683L) return None
    val ckLittle = magic == 0x377f0682L
    if (Bytes.be32u(wal, 4) != 3007000L) return None
    val pageSize = Bytes.be32u(wal, 8).toInt
    if (pageSize < 512 || pageSize > 65536 ||
      (pageSize & (pageSize - 1)) != 0) return None
    if (db.length % pageSize != 0) return None
    // the MAIN image's own header must agree on the page size — a
    // mismatched sidecar would merge a silently corrupt image
    if (db.length >= 100) {
      val raw = Bytes.be16(db, 16)
      val dbPs = if (raw == 1) 65536 else raw
      if (dbPs != pageSize) return None
    }
    val salt1 = Bytes.be32u(wal, 16)
    val salt2 = Bytes.be32u(wal, 20)
    // the s1/s2 recurrence over u32 word PAIRS in the magic's order
    def fold(s: (Long, Long), b: Array[Byte], off: Int, len: Int)
        : (Long, Long) = {
      var (s1, s2) = s
      var p = off
      val end = off + len
      while (p + 8 <= end) {
        val x0 = if (ckLittle) Bytes.le32u(b, p) else Bytes.be32u(b, p)
        val x1 = if (ckLittle) Bytes.le32u(b, p + 4) else Bytes.be32u(b, p + 4)
        s1 = (s1 + x0 + s2) & 0xffffffffL
        s2 = (s2 + x1 + s1) & 0xffffffffL
        p += 8
      }
      (s1, s2)
    }
    val hdrCk = fold((0L, 0L), wal, 0, 24)
    if (Bytes.be32u(wal, 24) != hdrCk._1 || Bytes.be32u(wal, 28) != hdrCk._2)
      return None
    val frameSize = 24 + pageSize
    // walk frames: newest valid frame per page, last commit bounds
    val latest = scala.collection.mutable.HashMap[Long, Int]()
    val pending = scala.collection.mutable.HashMap[Long, Int]()
    var nTruncate = -1L
    var ck = hdrCk
    var off = 32
    var done = false
    while (!done && off + frameSize <= wal.length) {
      val pgno = Bytes.be32u(wal, off)
      val trunc = Bytes.be32u(wal, off + 4)
      if (Bytes.be32u(wal, off + 8) != salt1 ||
        Bytes.be32u(wal, off + 12) != salt2) done = true
      else {
        val c1 = fold(ck, wal, off, 8)
        val c2 = fold(c1, wal, off + 24, pageSize)
        if (Bytes.be32u(wal, off + 16) != c2._1 ||
          Bytes.be32u(wal, off + 20) != c2._2) done = true
        else {
          ck = c2
          if (pgno < 1 || pgno > MaxPages) return None
          pending(pgno) = off + 24
          if (trunc != 0) {
            // COMMIT: everything pending becomes visible
            pending.foreach { case (p, o) => latest(p) = o }
            pending.clear()
            nTruncate = trunc
          }
          off += frameSize
        }
      }
    }
    if (nTruncate < 0) return Some(db) // no committed frames
    if (nTruncate > MaxPages ||
      nTruncate * pageSize > Int.MaxValue) return None
    val out = new Array[Byte](nTruncate.toInt * pageSize)
    val copyPages = math.min(nTruncate.toInt, db.length / pageSize)
    System.arraycopy(db, 0, out, 0, copyPages * pageSize)
    latest.foreach { case (pgno, o) =>
      if (pgno <= nTruncate)
        System.arraycopy(wal, o, out,
          (pgno.toInt - 1) * pageSize, pageSize)
    }
    Some(out)
  }

  def open(data: Array[Byte]): Option[Db] = {
    if (data.length < 512) return None
    var i = 0
    while (i < 16) { if (data(i) != Magic(i)) return None; i += 1 }
    val psRaw = Bytes.be16(data, 16)
    val pageSize = if (psRaw == 1) 65536 else psRaw
    if (pageSize < 512 || pageSize > 65536 ||
      (pageSize & (pageSize - 1)) != 0) return None
    val reserved = data(20) & 0xff
    val usable = pageSize - reserved
    if (usable < 480) return None
    val enc = Bytes.be32u(data, 56)
    if (enc != 1L && enc != 0L) return None // UTF-8 only (0: legacy empty)
    val declared = Bytes.be32u(data, 28).toInt
    val byLen = data.length / pageSize
    if (data.length % pageSize != 0) return None
    val nPages = if (declared > 0 && declared <= byLen) declared
      else byLen
    if (nPages < 1 || nPages > MaxPages) return None
    Some(Db(data, pageSize, usable, nPages))
  }

  /** Serial-type content size in bytes. */
  private def serialSize(t: Long): Option[Long] = t match {
    case 0 | 8 | 9 => Some(0L)
    case 1 => Some(1L)
    case 2 => Some(2L)
    case 3 => Some(3L)
    case 4 => Some(4L)
    case 5 => Some(6L)
    case 6 | 7 => Some(8L)
    case 10 | 11 => None // reserved
    case n if n >= 12 => Some((n - 12) / 2)
    case _ => None
  }

  private def readSerial(t: Long, d: Array[Byte], o: Int): Any =
    t match {
      case 0 => null
      case 8 => 0L
      case 9 => 1L
      case 7 =>
        java.lang.Double.longBitsToDouble(Bytes.be64(d, o))
      case n if n >= 1 && n <= 6 =>
        val len = serialSize(n).get.toInt
        var v = if ((d(o) & 0x80) != 0) -1L else 0L
        var i = 0
        while (i < len) { v = (v << 8) | (d(o + i) & 0xffL); i += 1 }
        v
      case n if n >= 12 && n % 2 == 0 =>
        java.util.Arrays.copyOfRange(d, o, o + ((n - 12) / 2).toInt)
      case n =>
        new String(d, o, ((n - 13) / 2).toInt, "UTF-8")
    }

  /** Decode one record payload into column values. */
  private def record(payload: Array[Byte]): Option[Seq[Any]] = {
    val (hlen, n0) = varint(payload, 0).getOrElse(return None)
    if (hlen < n0 || hlen > payload.length) return None
    val types = Seq.newBuilder[Long]
    var p = n0
    while (p < hlen) {
      val (t, n) = varint(payload, p).getOrElse(return None)
      types += t
      p += n
    }
    if (p != hlen) return None
    var o = hlen.toInt
    val out = Seq.newBuilder[Any]
    types.result().foreach { t =>
      val sz = serialSize(t).getOrElse(return None)
      if (o + sz > payload.length) return None
      out += readSerial(t, payload, o)
      o += sz.toInt
    }
    if (o != payload.length) return None
    Some(out.result())
  }

  /** Assemble a cell payload of declared length `plen` starting at
    * `start`, spilling to overflow chains when it exceeds
    * `maxLocal` (the caller supplies the page-family X formula).
    * Returns (payload, localBytesConsumed). */
  private def assemblePayload(db: Db, start: Int, plen: Long,
      maxLocal: Int): Option[(Array[Byte], Int)] = {
    val d = db.data
    if (plen < 0 || plen > (1L << 31)) return None
    val u = db.usable
    if (plen <= maxLocal) {
      if (start + plen > d.length) return None
      Some((java.util.Arrays.copyOfRange(d, start,
        start + plen.toInt), plen.toInt))
    } else {
      val minLocal = (u - 12) * 32 / 255 - 23
      var local = minLocal + ((plen - minLocal) % (u - 4)).toInt
      if (local > maxLocal) local = minLocal
      if (start + local + 4 > d.length) return None
      val out = new java.io.ByteArrayOutputStream(plen.toInt)
      out.write(d, start, local)
      var next = Bytes.be32u(d, start + local).toInt
      var remaining = plen - local
      val seen = scala.collection.mutable.Set[Int]()
      while (remaining > 0) {
        if (next == 0 || !seen.add(next)) return None
        val off = db.page(next).getOrElse(return None)
        val chunk = math.min(remaining, (u - 4).toLong).toInt
        if (off + 4 + chunk > d.length) return None
        out.write(d, off + 4, chunk)
        remaining -= chunk
        next = Bytes.be32u(d, off).toInt
      }
      Some((out.toByteArray, local + 4))
    }
  }

  /** Full cell payload, following overflow chains per the spec's
    * local-payload formula for TABLE leaves (X = U-35). */
  private def leafPayload(db: Db, pageOff: Int, cellOff: Int)
      : Option[(Long, Array[Byte], Int)] = {
    val d = db.data
    val (plen, n1) = varint(d, cellOff).getOrElse(return None)
    val (rowid, n2) = varint(d, cellOff + n1).getOrElse(return None)
    val (payload, consumed) = assemblePayload(db, cellOff + n1 + n2,
      plen, db.usable - 35).getOrElse(return None)
    Some((rowid, payload, n1 + n2 + consumed))
  }

  /** INDEX cell payload (leaf cells, or interior cells with the
    * 4-byte child already skipped): X = ((U-12)·64/255)-23. */
  private def indexPayload(db: Db, cellOff: Int)
      : Option[Array[Byte]] = {
    val d = db.data
    val (plen, n1) = varint(d, cellOff).getOrElse(return None)
    assemblePayload(db, cellOff + n1, plen,
      (db.usable - 12) * 64 / 255 - 23).map(_._1)
  }

  /** Walk a TABLE b-tree rooted at `root`, in key order. */
  private def walkTable(db: Db, root: Int)
      : Option[Seq[(Long, Array[Byte])]] = {
    val d = db.data
    val out = Seq.newBuilder[(Long, Array[Byte])]
    val seen = scala.collection.mutable.Set[Int]()
    def go(p: Int): Boolean = {
      if (!seen.add(p)) return false // cycle
      val base = db.page(p).getOrElse(return false)
      val hdr = base + (if (p == 1) 100 else 0)
      if (hdr >= d.length) return false
      val tpe = d(hdr) & 0xff
      val nCells = Bytes.be16(d, hdr + 3)
      val cellPtrs = hdr + (if (tpe == 5) 12 else 8)
      tpe match {
        case 13 => // leaf table
          var i = 0
          while (i < nCells) {
            val off = base + Bytes.be16(d, cellPtrs + 2 * i)
            if (off < base || off >= base + db.pageSize) return false
            val (rowid, payload, _) =
              leafPayload(db, base, off).getOrElse(return false)
            out += ((rowid, payload))
            i += 1
          }
          true
        case 5 => // interior table
          var i = 0
          while (i < nCells) {
            val off = base + Bytes.be16(d, cellPtrs + 2 * i)
            if (off < base || off + 4 > d.length) return false
            val child = Bytes.be32u(d, off).toInt
            if (!go(child)) return false
            i += 1
          }
          go(Bytes.be32u(d, hdr + 8).toInt) // rightmost
        case 2 | 10 =>
          false // index b-tree: use walkIndex (WITHOUT ROWID)
        case _ => false
      }
    }
    if (go(root)) Some(out.result()) else None
  }

  /** Walk an INDEX b-tree (WITHOUT ROWID primary storage) rooted at
    * `root` as an IN-ORDER traversal: each key lives exactly once
    * in the tree, so interior cells are emitted between their left
    * child and the next cell. Returns record payloads in key
    * order. */
  private def walkIndex(db: Db, root: Int)
      : Option[Seq[Array[Byte]]] = {
    val d = db.data
    val out = Seq.newBuilder[Array[Byte]]
    val seen = scala.collection.mutable.Set[Int]()
    def go(p: Int): Boolean = {
      if (!seen.add(p)) return false // cycle
      val base = db.page(p).getOrElse(return false)
      val hdr = base + (if (p == 1) 100 else 0)
      if (hdr + 8 > d.length) return false
      val tpe = d(hdr) & 0xff
      val nCells = Bytes.be16(d, hdr + 3)
      tpe match {
        case 10 => // leaf index
          var i = 0
          while (i < nCells) {
            val off = base + Bytes.be16(d, hdr + 8 + 2 * i)
            if (off < base || off >= base + db.pageSize) return false
            out += indexPayload(db, off).getOrElse(return false)
            i += 1
          }
          true
        case 2 => // interior index: child, THEN the cell's own key
          var i = 0
          while (i < nCells) {
            val off = base + Bytes.be16(d, hdr + 12 + 2 * i)
            if (off < base || off + 4 > d.length) return false
            if (!go(Bytes.be32u(d, off).toInt)) return false
            out += indexPayload(db, off + 4).getOrElse(return false)
            i += 1
          }
          go(Bytes.be32u(d, hdr + 8).toInt) // rightmost
        case _ => false
      }
    }
    if (go(root)) Some(out.result()) else None
  }

  /** Column names, INTEGER-PRIMARY-KEY alias index, and PRIMARY
    * KEY column indices (column-level or the table-level
    * `PRIMARY KEY(a, b)` constraint) from
    * `CREATE TABLE name (col1 T1, col2 T2, …)`;
    * None → the caller falls back to positional names. */
  private[operators] def columnsFromSql(sql: String)
      : Option[(Seq[String], Int, Seq[Int])] = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open) return None
    val body = sql.substring(open + 1, close)
    // split on top-level commas (parens for e.g. DECIMAL(10,2),
    // quotes for names)
    val parts = Seq.newBuilder[String]
    var depth = 0
    var q = '\u0000'
    val cur = new StringBuilder
    body.foreach { ch =>
      if (q != '\u0000') { cur += ch; if (ch == q) q = '\u0000' }
      else ch match {
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case '\'' | '"' | '`' => q = ch; cur += ch
        case ',' if depth == 0 => parts += cur.toString; cur.clear()
        case _ => cur += ch
      }
    }
    parts += cur.toString
    val constraintKw = Set("primary", "unique", "check", "foreign",
      "constraint")
    var ipk = -1
    val pk = Seq.newBuilder[Int]
    val (constraintParts, colParts) = parts.result().map(_.trim)
      .filter(_.nonEmpty)
      .partition(p => constraintKw(p.split("\\s+").head.toLowerCase))
    val cols = colParts.zipWithIndex.map { case (p, i) =>
        // quoted names may contain spaces: "a b" TEXT
        val name = p.head match {
          case q0 @ ('"' | '`' | '\'') =>
            val end = p.indexOf(q0, 1)
            if (end > 0) p.substring(1, end)
            else p.split("\\s+").head
          case '[' =>
            val end = p.indexOf(']', 1)
            if (end > 0) p.substring(1, end)
            else p.split("\\s+").head
          case _ => p.split("\\s+").head
        }
        if (p.toLowerCase.matches(
          """(?s).*\bint\w*\s+primary\s+key.*""")) ipk = i
        if (p.toLowerCase.matches(
          """(?s).*\bprimary\s+key\b.*""")) pk += i
        name
      }
    // the table-level constraint: PRIMARY KEY ("a", b DESC, …)
    constraintParts
      .filter(_.toLowerCase.startsWith("primary")).foreach { p =>
        val o = p.indexOf('(')
        val cl = p.lastIndexOf(')')
        if (o > 0 && cl > o) {
          p.substring(o + 1, cl).split(",").foreach { raw =>
            val w = raw.trim
            if (w.nonEmpty) {
              val nm = w.head match {
                case q0 @ ('"' | '`' | '\'') =>
                  val end = w.indexOf(q0, 1)
                  if (end > 0) w.substring(1, end)
                  else w.split("\\s+").head
                case '[' =>
                  val end = w.indexOf(']', 1)
                  if (end > 0) w.substring(1, end)
                  else w.split("\\s+").head
                case _ => w.split("\\s+").head // strip ASC/DESC
              }
              val idx = cols.indexWhere(_.equalsIgnoreCase(nm))
              if (idx >= 0) pk += idx
            }
          }
        }
      }
    if (cols.isEmpty) None
    else Some((cols, ipk, pk.result().distinct))
  }

  /** The catalog: every rowid TABLE in sqlite_schema. */
  def tables(data: Array[Byte]): Option[Seq[Table]] = {
    val db = open(data).getOrElse(return None)
    val schemaRows = walkTable(db, 1).getOrElse(return None)
    val out = Seq.newBuilder[Table]
    schemaRows.foreach { case (_, payload) =>
      val vals = record(payload).getOrElse(return None)
      if (vals.length >= 5 && vals(0) == "table") {
        val name = vals(1) match {
          case s: String => s
          case _ => return None
        }
        val root = vals(3) match {
          case l: Long => l.toInt
          case _ => return None
        }
        val sql = vals(4) match {
          case s: String => s
          case _ => ""
        }
        if (sql.toLowerCase.startsWith("create virtual"))
          return None // honest rejection: we'd walk it wrongly
        val wr = sql.toLowerCase.contains("without rowid")
        val (cols, ipk, pk) = columnsFromSql(sql)
          .getOrElse((Seq.empty[String], -1, Seq.empty[Int]))
        // in a WITHOUT ROWID table INTEGER PRIMARY KEY is NOT a
        // rowid alias — the PK is stored for real
        out += Table(name, root, cols, sql,
          if (wr) -1 else ipk, wr, if (wr) pk else Seq.empty)
      }
    }
    Some(out.result())
  }

  /** All rows of `table`, in rowid order, with the INTEGER PRIMARY
    * KEY alias column (NULL in the record) filled from the rowid.
    * WITHOUT ROWID tables come back in primary-key order with
    * values inverse-permuted to DECLARED column order (the stored
    * records are PK-first); if the DDL was unparseable the layout
    * is unknowable → None, never a silently wrong permutation. */
  def rows(data: Array[Byte], table: String): Option[Seq[Row]] = {
    val db = open(data).getOrElse(return None)
    val t = tables(data).getOrElse(return None)
      .find(_.name == table).getOrElse(return None)
    if (t.withoutRowid) {
      if (t.columns.isEmpty || t.pkColumns.isEmpty) return None
      val n = t.columns.length
      // record position → declared column index
      val order = t.pkColumns ++
        (0 until n).filterNot(t.pkColumns.contains)
      val recs = walkIndex(db, t.rootPage).getOrElse(return None)
      val out = recs.zipWithIndex.map { case (payload, i) =>
        val vals0 = record(payload).getOrElse(return None)
        if (vals0.length > n) return None
        // records may be short of trailing (non-PK) columns
        val vals = vals0 ++ Seq.fill(n - vals0.length)(null)
        val declared = new Array[Any](n)
        order.zipWithIndex.foreach { case (dst, pos) =>
          declared(dst) = vals(pos) }
        Row(i + 1L, declared.toSeq)
      }
      return Some(out)
    }
    val raw = walkTable(db, t.rootPage).getOrElse(return None)
    val out = raw.map { case (rowid, payload) =>
      val vals = record(payload).getOrElse(return None)
      val fixed =
        if (t.ipkColumn >= 0 && t.ipkColumn < vals.length &&
          vals(t.ipkColumn) == null)
          vals.updated(t.ipkColumn, rowid)
        else vals
      Row(rowid, fixed)
    }
    Some(out)
  }

  // ---------------------------------------------------------------
  // Build: one declared table, bottom-up b-tree
  // ---------------------------------------------------------------

  private def serialOf(v: Any): (Long, Array[Byte]) = v match {
    case null => (0L, Array.emptyByteArray)
    case l: Long =>
      if (l == 0) (8L, Array.emptyByteArray)
      else if (l == 1) (9L, Array.emptyByteArray)
      else {
        val need =
          if (l >= -128 && l <= 127) 1
          else if (l >= -32768 && l <= 32767) 2
          else if (l >= -8388608 && l <= 8388607) 3
          else if (l >= Int.MinValue && l <= Int.MaxValue) 4
          else if (l >= -140737488355328L && l <= 140737488355327L) 6
          else 8
        val t = need match {
          case 1 => 1L; case 2 => 2L; case 3 => 3L; case 4 => 4L
          case 6 => 5L; case _ => 6L
        }
        val b = new Array[Byte](need)
        var i = 0
        while (i < need) {
          b(i) = ((l >>> (8 * (need - 1 - i))) & 0xff).toByte; i += 1
        }
        (t, b)
      }
    case d: Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = ((bits >>> (8 * (7 - i))) & 0xff).toByte
        i += 1 }
      (7L, b)
    case s: String =>
      val b = s.getBytes("UTF-8")
      (13L + 2L * b.length, b)
    case b: Array[Byte] => (12L + 2L * b.length, b)
    case other => sys.error(s"unsupported sqlite value $other")
  }

  /** Record payload for one row of values. */
  private def encodeRecord(values: Seq[Any]): Array[Byte] = {
    val enc = values.map(serialOf)
    val types = new java.io.ByteArrayOutputStream()
    enc.foreach { case (t, _) => putVarint(types, t) }
    // header length varint includes itself: iterate to fixpoint
    var hlen = types.size() + 1
    if (hlen > 127) {
      val probe = new java.io.ByteArrayOutputStream()
      putVarint(probe, (types.size() + 2).toLong)
      hlen = types.size() + probe.size()
    }
    val out = new java.io.ByteArrayOutputStream()
    putVarint(out, hlen.toLong)
    types.writeTo(out)
    enc.foreach { case (_, b) => out.write(b, 0, b.length) }
    out.toByteArray
  }

  /** Build a single-table database. `rows` are (rowid, values);
    * an `ipk` column (INTEGER PRIMARY KEY alias) is stored as NULL
    * per the spec. Page size is a build knob so tests can force
    * overflow + multi-level trees cheaply. With `pkColumns`
    * non-empty the table is written WITHOUT ROWID instead: rows
    * (which must already be in primary-key order) are stored
    * PK-columns-first in an index b-tree whose separator keys are
    * pulled up into interior cells, and rowids are ignored. */
  def build(tableName: String, columns: Seq[String],
      tableRows: Seq[(Long, Seq[Any])], pageSize: Int = 4096,
      ipkColumn: Int = -1, pkColumns: Seq[Int] = Seq.empty)
      : Array[Byte] = {
    require(pageSize >= 512 && pageSize <= 65536 &&
      (pageSize & (pageSize - 1)) == 0, "bad page size")
    require(pkColumns.isEmpty || ipkColumn < 0,
      "pkColumns (WITHOUT ROWID) and ipkColumn are exclusive")
    require(pkColumns.forall(i => i >= 0 && i < columns.length),
      "pkColumns out of range")
    val u = pageSize // reserved = 0
    val maxLocal = u - 35
    val maxLocalIdx = (u - 12) * 64 / 255 - 23
    val minLocal = (u - 12) * 32 / 255 - 23

    // pages are accumulated here; index = pageNo - 1, page 1 is
    // patched last (header + schema leaf)
    val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def newPage(): Int = { pages += new Array[Byte](pageSize)
      pages.length }

    /** Spill `payload` bytes past `local` to an overflow chain;
      * returns the first overflow page number. */
    def spill(payload: Array[Byte], local: Int): Int = {
      var off = local
      var firstPage = 0
      var prev: Array[Byte] = null
      while (off < payload.length) {
        val pno = newPage()
        val pg = pages(pno - 1)
        if (prev != null) Bytes.setBe32(prev, 0, pno.toLong)
        else firstPage = pno
        val chunk = math.min(payload.length - off, u - 4)
        System.arraycopy(payload, off, pg, 4, chunk)
        off += chunk
        prev = pg
      }
      firstPage
    }

    /** Local payload size for a spilled cell given the page
      * family's X. */
    def localFor(plen: Int, xMax: Int): Int = {
      var local = minLocal + ((plen - minLocal) % (u - 4))
      if (local > xMax) local = minLocal
      local
    }

    /** A leaf-table cell (with overflow spill if needed), returning
      * the LOCAL cell bytes. */
    def leafCell(rowid: Long, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      putVarint(out, payload.length.toLong)
      putVarint(out, rowid)
      if (payload.length <= maxLocal) {
        out.write(payload, 0, payload.length)
      } else {
        val local = localFor(payload.length, maxLocal)
        out.write(payload, 0, local)
        val firstPage = spill(payload, local)
        Bytes.putBe32(out, firstPage)
      }
      out.toByteArray
    }

    /** An INDEX cell: optional 4-byte left child (interior), then
      * varint payload length + local payload (+ overflow pointer),
      * under the index-page X formula. */
    def indexCell(payload: Array[Byte], leftChild: Int)
        : Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (leftChild > 0) {
        Bytes.putBe32(out, leftChild)
      }
      putVarint(out, payload.length.toLong)
      if (payload.length <= maxLocalIdx) {
        out.write(payload, 0, payload.length)
      } else {
        val local = localFor(payload.length, maxLocalIdx)
        out.write(payload, 0, local)
        val firstPage = spill(payload, local)
        Bytes.putBe32(out, firstPage)
      }
      out.toByteArray
    }

    /** Write one index page (leaf: `rightmost` < 0, cells carry no
      * child; interior: type 2 with the rightmost pointer). */
    def writeIndexPage(cells: Seq[Array[Byte]], rightmost: Int)
        : Int = {
      val pno = newPage()
      val pg = pages(pno - 1)
      val interior = rightmost > 0
      pg(0) = if (interior) 2 else 10
      Bytes.setBe16(pg, 3, cells.length)
      val ptrBase = if (interior) 12 else 8
      var content = pageSize
      cells.zipWithIndex.foreach { case (cell, i) =>
        content -= cell.length
        System.arraycopy(cell, 0, pg, content, cell.length)
        Bytes.setBe16(pg, ptrBase + 2 * i, content)
      }
      Bytes.setBe16(pg, 5, content)
      if (interior) Bytes.setBe32(pg, 8, rightmost.toLong)
      pno
    }

    /** Pack index records into a b-tree: leaves first, separator
      * keys PULLED UP between adjacent leaves (each key appears
      * exactly once in the tree), then interior levels the same
      * way until a single root. Records must already be in key
      * order. Returns the root page. */
    def buildIndexTree(records: Seq[Array[Byte]]): Int = {
      if (records.isEmpty) return writeIndexPage(Seq.empty, -1)
      // level 0: leaves
      val leaves = scala.collection.mutable.ArrayBuffer[Int]()
      val seps = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var i = 0
      while (i < records.length) {
        val cur = scala.collection.mutable
          .ArrayBuffer[Array[Byte]]()
        var bytes = 0
        var full = false
        while (i < records.length && !full) {
          val cell = indexCell(records(i), 0)
          if (cur.isEmpty ||
            8 + bytes + cell.length + 2 * (cur.length + 1)
              <= pageSize) {
            cur += cell; bytes += cell.length; i += 1
          } else full = true
        }
        if (i < records.length) {
          if (i == records.length - 1) {
            // exactly one record would remain: it must be a LEAF
            // key (a separator needs a following child), so the
            // separator is pulled from the end of this leaf
            // instead. Index cells cap at ~U/4 local bytes, so a
            // full leaf always holds ≥ 2 cells.
            require(cur.length > 1, "leaf too small to split")
            cur.remove(cur.length - 1)
            seps += records(i - 1)
          } else { // pulled-up separator between adjacent leaves
            seps += records(i); i += 1
          }
        }
        leaves += writeIndexPage(cur.toSeq, -1)
      }
      def interiorLevel(children: Seq[Int],
          ss: Seq[Array[Byte]]): Int = {
        if (children.length == 1) return children.head
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        val up = scala.collection.mutable
          .ArrayBuffer[Array[Byte]]()
        var j = 0
        while (j < children.length) {
          val cur = scala.collection.mutable
            .ArrayBuffer[Array[Byte]]()
          var bytes = 0
          var rightmost = -1
          var done = false
          while (!done) {
            if (j == children.length - 1) {
              rightmost = children(j); j += 1; done = true
            } else {
              val cell = indexCell(ss(j), children(j))
              if (cur.isEmpty ||
                12 + bytes + cell.length + 2 * (cur.length + 1)
                  <= pageSize) {
                cur += cell; bytes += cell.length; j += 1
              } else { // page full: child becomes rightmost, its
                       // separator moves up a level
                rightmost = children(j)
                up += ss(j)
                j += 1
                done = true
              }
            }
          }
          out += writeIndexPage(cur.toSeq, rightmost)
        }
        interiorLevel(out.toSeq, up.toSeq)
      }
      interiorLevel(leaves.toSeq, seps.toSeq)
    }

    /** Pack (key, cell) leaf cells into pages; returns
      * (pageNo, maxRowid) per leaf, in order. `page1` leaves 100
      * header bytes free (for the schema page). */
    def packLeaves(cells: Seq[(Long, Array[Byte])],
        intoPage1: Boolean): Seq[(Int, Long)] = {
      val out = Seq.newBuilder[(Int, Long)]
      var cur = scala.collection.mutable.ArrayBuffer[(Long,
        Array[Byte])]()
      var curBytes = 0
      def headerSpace(first: Boolean) =
        (if (first && intoPage1) 100 else 0) + 8
      var first = true
      def flush(): Unit = if (cur.nonEmpty) {
        val pno = newPage()
        val pg = pages(pno - 1)
        val hdrOff = if (first && intoPage1) 100 else 0
        pg(hdrOff) = 13
        Bytes.setBe16(pg, hdrOff + 3, cur.length)
        var content = pageSize
        cur.zipWithIndex.foreach { case ((_, cell), i) =>
          content -= cell.length
          System.arraycopy(cell, 0, pg, content, cell.length)
          Bytes.setBe16(pg, hdrOff + 8 + 2 * i, content)
        }
        Bytes.setBe16(pg, hdrOff + 5, content)
        out += ((pno, cur.last._1))
        cur = scala.collection.mutable.ArrayBuffer()
        curBytes = 0
        first = false
      }
      cells.foreach { case (rowid, cell) =>
        val space = pageSize - headerSpace(first) -
          (curBytes + 2 * (cur.length + 1) + cell.length)
        if (cur.nonEmpty && space < 0) flush()
        cur += ((rowid, cell))
        curBytes += cell.length
      }
      flush()
      val r = out.result()
      if (r.nonEmpty) r
      else { // zero-row table: one empty leaf
        val pno = newPage()
        val pg = pages(pno - 1)
        pg(0) = 13
        Bytes.setBe16(pg, 5, pageSize)
        Seq((pno, 0L))
      }
    }

    /** Build interior levels above `children` until one root. */
    def packInterior(children: Seq[(Int, Long)]): Int = {
      if (children.length == 1) return children.head._1
      val out = Seq.newBuilder[(Int, Long)]
      var cur = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
      var curBytes = 0
      def flush(): Unit = if (cur.nonEmpty) {
        val pno = newPage()
        val pg = pages(pno - 1)
        pg(0) = 5
        val n = cur.length - 1 // last child → rightmost pointer
        Bytes.setBe16(pg, 3, n)
        var content = pageSize
        (0 until n).foreach { i =>
          val (child, key) = cur(i)
          val cell = new java.io.ByteArrayOutputStream()
          Bytes.putBe32(cell, child)
          putVarint(cell, key)
          val bytes = cell.toByteArray
          content -= bytes.length
          System.arraycopy(bytes, 0, pg, content, bytes.length)
          Bytes.setBe16(pg, 12 + 2 * i, content)
        }
        Bytes.setBe16(pg, 5, content)
        Bytes.setBe32(pg, 8, cur.last._1.toLong)
        out += ((pno, cur.last._2))
        cur = scala.collection.mutable.ArrayBuffer()
        curBytes = 0
      }
      children.foreach { case (child, key) =>
        // 4-byte child + ≤9-byte key varint + 2-byte ptr, keep a
        // conservative 16-per-cell budget under the 12-byte header
        if (cur.length >= (pageSize - 12 - 8) / 16) flush()
        cur += ((child, key)); curBytes += 15
      }
      flush()
      packInterior(out.result())
    }

    // --- schema leaf goes on page 1 (created first) ---
    val p1 = newPage()
    require(p1 == 1)

    // --- data b-tree ---
    val rootPage = if (pkColumns.nonEmpty) {
      // WITHOUT ROWID: records permuted PK-first, index b-tree
      val order = pkColumns ++
        columns.indices.filterNot(pkColumns.contains)
      buildIndexTree(tableRows.map { case (_, values) =>
        require(values.length == columns.length,
          "WITHOUT ROWID rows must carry every column")
        encodeRecord(order.map(values))
      })
    } else {
      val dataCells = tableRows.map { case (rowid, values) =>
        val stored = if (ipkColumn >= 0)
          values.updated(ipkColumn, null) else values
        (rowid, leafCell(rowid, encodeRecord(stored)))
      }
      packInterior(packLeaves(dataCells, intoPage1 = false))
    }

    // --- schema record on page 1 ---
    val colDdl = columns.zipWithIndex.map { case (c, i) =>
      if (i == ipkColumn) s""""$c" INTEGER PRIMARY KEY"""
      else s""""$c""""
    }.mkString(", ")
    val createSql =
      if (pkColumns.isEmpty)
        s"""CREATE TABLE "$tableName" ($colDdl)"""
      else {
        val pkDdl = pkColumns.map(i => s""""${columns(i)}"""")
          .mkString(", ")
        s"""CREATE TABLE "$tableName" ($colDdl, """ +
          s"""PRIMARY KEY($pkDdl)) WITHOUT ROWID"""
      }
    val schemaRec = encodeRecord(Seq(
      "table", tableName, tableName, rootPage.toLong, createSql))
    val schemaCell = leafCell(1L, schemaRec)
    require(schemaCell.length <= pageSize - 100 - 8 - 2,
      "schema record too large for one page")
    val pg1 = pages(0)
    pg1(100) = 13
    Bytes.setBe16(pg1, 103, 1)
    val content = pageSize - schemaCell.length
    System.arraycopy(schemaCell, 0, pg1, content, schemaCell.length)
    Bytes.setBe16(pg1, 108, content)
    Bytes.setBe16(pg1, 105, content)

    // --- 100-byte header ---
    System.arraycopy(Magic, 0, pg1, 0, 16)
    Bytes.setBe16(pg1, 16, if (pageSize == 65536) 1 else pageSize)
    pg1(18) = 1; pg1(19) = 1 // legacy read/write versions
    pg1(20) = 0              // reserved per page
    pg1(21) = 64; pg1(22) = 32 // max/min embedded payload fraction
    pg1(23) = 32             // leaf payload fraction
    Bytes.setBe32(pg1, 24, 1L)       // file change counter
    Bytes.setBe32(pg1, 28, pages.length.toLong)
    Bytes.setBe32(pg1, 40, 0L)       // schema cookie
    Bytes.setBe32(pg1, 44, 4L)       // schema format number
    Bytes.setBe32(pg1, 56, 1L)       // text encoding: UTF-8
    Bytes.setBe32(pg1, 92, 1L)       // version-valid-for
    Bytes.setBe32(pg1, 96, 3037000L) // sqlite version number
    val out = new java.io.ByteArrayOutputStream(
      pages.length * pageSize)
    pages.foreach(p => out.write(p, 0, pageSize))
    out.toByteArray
  }
}
