package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SQLite database-file ingestion — the single most deployed database
  * file format on earth: browser history/cookies, Android app data,
  * messaging archives, scientific datasets. A crawl-scale pipeline
  * meets `.sqlite`/`.db` files constantly, and their text/number
  * payload is training-relevant exactly like CSV.
  *
  * A from-scratch reader for the published file format (the SQLite
  * "Database File Format" document), covering the durable core:
  *
  *  - the 100-byte header: magic, page size (power of two, 512–32768
  *    here), UTF-8 text encoding required, zero reserved bytes;
  *  - table b-trees: leaf (0x0D) and interior (0x05) pages, the cell
  *    pointer array, interior cells as (child page, max-rowid key)
  *    plus the rightmost-child header field — walked depth-first with
  *    strictly-ascending rowid enforcement;
  *  - the record format: varint header (serial types), big-endian
  *    two's-complement integers of width 1/2/3/4/6/8, the 0/1
  *    constant forms (serial 8/9), float64, UTF-8 text, blobs, NULL;
  *  - `sqlite_master` on page 1 (b-tree header at offset 100): table
  *    rows resolved by name → root page, so data pages are reached the
  *    way SQLite itself reaches them — through the catalog, never by
  *    scanning;
  *  - the INTEGER PRIMARY KEY alias: a table whose DDL declares one
  *    stores NULL in that column and the ROWID is the value — the
  *    reader substitutes it exactly like SQLite does;
  *  - overflow-page chains (§1.5): payloads past the leaf threshold
  *    X = U − 35 keep a local prefix K = M + ((P − M) mod (U − 4))
  *    (falling back to M past X) and spill the rest onto chained
  *    pages of (next-pointer, content) — any TEXT/BLOB longer than a
  *    few hundred bytes in a real browser-history or messaging DB
  *    rides one, so the fixture's `big` table always spills; a chain
  *    that cycles, leaves the file, or ends early is damage.
  *
  * Out of scope, each a clean per-document quarantine: index b-trees
  * (0x02/0x0A are skipped as data sources but their presence in a
  * table walk is damage), freelist traversal, WAL sidecars, non-UTF-8
  * encodings, schema format surprises.
  *
  * Output: one row per CELL VALUE — (table, rowid, column index, type
  * tag, integer/real/text-or-hex value) — exact and SQL-replayable.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside the archive shelf.
  */
object Sqlite {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def md5bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private val PageSize = 512
  private val Magic: Array[Byte] =
    "SQLite format 3".getBytes("ISO-8859-1") :+ 0.toByte

  // ------------------------------------------------------------- fixture

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"sqlite:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private def hex3(id: Long, from: Int): Long = {
    val m = md5Hex(s"sqlite:$id")
    java.lang.Long.parseLong(m.substring(from - 1, from + 2), 16)
  }

  private[ext] def nRows(id: Long): Int = 3 + nib(id, 1) % 4

  private[ext] def titleOf(id: Long, k: Int): String = {
    val pad = "x" * (40 + nib(id, 3 + k) * 4)
    val hazard = if ((id + k) % 3 == 0) " é" else ""
    s"doc $id row $k: ${words(nib(id, 2 + k) % 8)} $pad$hazard"
  }

  private[ext] def scoreOf(id: Long, k: Int): Long = ((id + k) % 7) match {
    case 0 => 0L // serial type 8
    case 1 => 1L // serial type 9
    case _ => (if ((id + k) % 2 == 0) 1L else -1L) * hex3(id, 9 + k)
  }

  private[ext] def ratioOf(id: Long, k: Int): Double = (nib(id, 6) + k) / 4.0

  private[ext] def blobOf(id: Long, k: Int): Array[Byte] =
    java.util.Arrays.copyOf(md5bytes(s"sb:$id:$k"), 2 + k % 3)

  private[ext] def noteOf(id: Long, k: Int): Option[String] =
    if ((id + k) % 4 == 0) None else Some(words(nib(id, 10 + k) % 8))

  private[ext] def tagOf(id: Long, k: Int): String = s"tag-${words(nib(id, 14 + k) % 8)}"
  private[ext] def weightOf(id: Long, k: Int): Long = nib(id, 15 + k).toLong
  /** ≥600 bytes — always past the 512-byte page's inline threshold
    * (usable − 35 = 477), so the row ALWAYS rides an overflow chain of
    * one to four pages depending on the md5 nibbles.
    */
  private[ext] def bodyOf(id: Long): String =
    s"big $id: " + (words(nib(id, 5) % 8) + " ") * (120 + nib(id, 7) * 8)

  // ---- record / varint / b-tree serialization

  private def varint(v: Long): Array[Byte] = {
    // big-endian 7-bit groups; all fixture values are < 2^56 so the
    // 9-byte form never occurs on the write side
    require(v >= 0)
    if (v == 0) return Array(0.toByte)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Int]
    var x = v
    while (x != 0) { groups += (x & 0x7f).toInt; x >>>= 7 }
    val out = groups.reverse.zipWithIndex.map { case (g, i) =>
      (if (i < groups.length - 1) g | 0x80 else g).toByte
    }
    out.toArray
  }

  private sealed trait SVal
  private case object SNull extends SVal
  private final case class SInt(v: Long) extends SVal
  private final case class SReal(v: Double) extends SVal
  private final case class SText(v: String) extends SVal
  private final case class SBlob(v: Array[Byte]) extends SVal

  private def intSerial(v: Long): (Long, Array[Byte]) = {
    def be(n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
    if (v == 0L) (8L, Array.emptyByteArray)
    else if (v == 1L) (9L, Array.emptyByteArray)
    else if (v >= -128 && v <= 127) (1L, be(1))
    else if (v >= -32768 && v <= 32767) (2L, be(2))
    else if (v >= -8388608 && v <= 8388607) (3L, be(3))
    else if (v >= Int.MinValue && v <= Int.MaxValue) (4L, be(4))
    else if (v >= -140737488355328L && v <= 140737488355327L) (5L, be(6))
    else (6L, be(8))
  }

  private def record(vals: Seq[SVal]): Array[Byte] = {
    val parts = vals.map {
      case SNull => (0L, Array.emptyByteArray)
      case SInt(v) => intSerial(v)
      case SReal(v) =>
        val bits = java.lang.Double.doubleToLongBits(v)
        (7L, Array.tabulate(8)(i => ((bits >> (8 * (7 - i))) & 0xff).toByte))
      case SText(s) =>
        val b = s.getBytes("UTF-8")
        (13L + 2 * b.length, b)
      case SBlob(b) => (12L + 2 * b.length, b)
    }
    val serials = parts.flatMap(p => varint(p._1))
    // header length varint counts ITSELF; all fixture headers are short
    // enough that one byte always suffices
    val hdrLen = 1 + serials.length
    require(hdrLen < 128)
    (hdrLen.toByte +: serials).toArray ++ parts.flatMap(_._2)
  }

  /** One table-leaf cell: varint payload length, varint rowid, record. */
  private def leafCell(rowid: Long, rec: Array[Byte]): Array[Byte] =
    varint(rec.length.toLong) ++ varint(rowid) ++ rec

  /** Pack cells into leaf pages (greedy, rowid order); returns pages as
    * (cells, lastRowid).
    */
  private def packLeaves(cells: Seq[(Long, Array[Byte])]): Seq[(Seq[Array[Byte]], Long)] = {
    val pages = scala.collection.mutable.ArrayBuffer.empty[(Seq[Array[Byte]], Long)]
    var cur = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var used = 8 // leaf page header
    var last = 0L
    cells.foreach { case (rowid, cell) =>
      val need = 2 + cell.length // pointer + content
      if (used + need > PageSize && cur.nonEmpty) {
        pages += ((cur.toSeq, last))
        cur = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        used = 8
      }
      cur += cell
      used += need
      last = rowid
    }
    if (cur.nonEmpty) pages += ((cur.toSeq, last))
    pages.toSeq
  }

  /** Serialize one b-tree page. `headerAt` is 100 on page 1, else 0. */
  private def renderPage(buf: Array[Byte], pageNo: Int, headerAt: Int,
      pageType: Int, cells: Seq[Array[Byte]], rightmost: Int): Unit = {
    val base = (pageNo - 1) * PageSize
    val hdrSize = if (pageType == 0x05) 12 else 8
    def putU16(at: Int, v: Int): Unit = {
      buf(base + at) = ((v >> 8) & 0xff).toByte; buf(base + at + 1) = (v & 0xff).toByte
    }
    def putU32(at: Int, v: Int): Unit = {
      buf(base + at) = ((v >>> 24) & 0xff).toByte; buf(base + at + 1) = ((v >> 16) & 0xff).toByte
      buf(base + at + 2) = ((v >> 8) & 0xff).toByte; buf(base + at + 3) = (v & 0xff).toByte
    }
    buf(base + headerAt) = pageType.toByte
    putU16(headerAt + 1, 0) // no freeblocks
    putU16(headerAt + 3, cells.length)
    var content = PageSize
    val ptrs = cells.map { c => content -= c.length; System.arraycopy(c, 0, buf, base + content, c.length); content }
    putU16(headerAt + 5, content)
    buf(base + headerAt + 7) = 0
    if (pageType == 0x05) putU32(headerAt + 8, rightmost)
    ptrs.zipWithIndex.foreach { case (p, i) => putU16(headerAt + hdrSize + 2 * i, p) }
  }

  /** The full database file for document `id`: sqlite_master on page 1
    * (two table rows: `docs` with an INTEGER PRIMARY KEY, `tags`
    * without), the docs b-tree (multi-leaf + interior root at this page
    * size), the tags single leaf.
    */
  private[ext] def renderSqlite(id: Long): Array[Byte] = {
    val n = nRows(id)
    val docCells = (0 until n).map { k =>
      val rowid = (k + 1).toLong
      val vals = Seq[SVal](
        SNull, // INTEGER PRIMARY KEY: stored NULL, the rowid IS the value
        SText(titleOf(id, k)),
        SInt(scoreOf(id, k)),
        SReal(ratioOf(id, k)),
        SBlob(blobOf(id, k)),
        noteOf(id, k).map(SText(_)).getOrElse(SNull))
      (rowid, leafCell(rowid, record(vals)))
    }
    val docLeaves = packLeaves(docCells)
    val tagCells = (0 until 2).map { k =>
      val rowid = (k + 1).toLong
      (rowid, leafCell(rowid, record(Seq[SVal](SText(tagOf(id, k)), SInt(weightOf(id, k))))))
    }
    // page allocation: 1 = master, 2..L+1 = docs leaves, then the docs
    // interior root iff L > 1, then the tags leaf
    val nLeaves = docLeaves.length
    val docsRoot = if (nLeaves == 1) 2 else 2 + nLeaves
    val tagsRoot = docsRoot + 1
    val notesRoot = tagsRoot + 1
    val hasIndex = id % 3 == 0
    val indexRoot = notesRoot + 1
    val bigRoot = (if (hasIndex) indexRoot else notesRoot) + 1
    // the big table's one row always spills: local prefix K per the
    // File Format's threshold arithmetic, remainder on overflow pages
    // of (next u32 | 508 content bytes) chained after the big leaf
    val bigPayload = record(Seq[SVal](SText(bodyOf(id))))
    val bigP = bigPayload.length
    val bigLocal = {
      val x = PageSize - 35
      val m = (PageSize - 12) * 32 / 255 - 23
      val k = m + ((bigP - m) % (PageSize - 4))
      if (k <= x) k else m
    }
    require(bigP > PageSize - 35, "big row must overflow")
    val nOverflow = (bigP - bigLocal + (PageSize - 4) - 1) / (PageSize - 4)
    val totalPages = bigRoot + nOverflow
    // the catalog: four tables (notes puts its INTEGER PRIMARY KEY at
    // column 1, grading the DDL-resolved alias index; big's row rides
    // an overflow chain), plus — on every third database — an
    // auto-index row whose sql is NULL and whose type is not 'table':
    // real files always carry these, and a reader that fails instead
    // of skipping them quarantines everything
    val masterRows = Seq[(String, String, Int, SVal)](
      ("table", "docs", docsRoot, SText(
        "CREATE TABLE docs(id INTEGER PRIMARY KEY, title TEXT, score INTEGER, ratio REAL, data BLOB, note TEXT)")),
      ("table", "tags", tagsRoot, SText("CREATE TABLE tags(label TEXT, weight INTEGER)")),
      ("table", "notes", notesRoot, SText(
        "CREATE TABLE notes(label TEXT, nid INTEGER PRIMARY KEY)")),
      ("table", "big", bigRoot, SText("CREATE TABLE big(body TEXT)"))) ++
      (if (hasIndex)
        Seq(("index", "sqlite_autoindex_docs_1", indexRoot, SNull))
      else Nil)
    val masterCells = masterRows.zipWithIndex.map { case ((typ, name, root, sql), i) =>
      leafCell((i + 1).toLong, record(Seq[SVal](
        SText(typ), SText(name), SText(if (typ == "table") name else "docs"),
        SInt(root.toLong), sql)))
    }
    val buf = new Array[Byte](PageSize * totalPages)
    // ---- 100-byte file header
    System.arraycopy(Magic, 0, buf, 0, 16)
    def hdrU16(at: Int, v: Int): Unit = { buf(at) = ((v >> 8) & 0xff).toByte; buf(at + 1) = (v & 0xff).toByte }
    def hdrU32(at: Int, v: Int): Unit = {
      buf(at) = ((v >>> 24) & 0xff).toByte; buf(at + 1) = ((v >> 16) & 0xff).toByte
      buf(at + 2) = ((v >> 8) & 0xff).toByte; buf(at + 3) = (v & 0xff).toByte
    }
    hdrU16(16, PageSize)
    buf(18) = 1; buf(19) = 1 // legacy write/read versions
    buf(20) = 0 // reserved bytes per page
    buf(21) = 64; buf(22) = 32; buf(23) = 32 // payload fractions (fixed by spec)
    hdrU32(24, 1) // change counter
    hdrU32(28, totalPages)
    hdrU32(40, 1) // schema cookie
    hdrU32(44, 1) // schema format
    hdrU32(56, 1) // text encoding: UTF-8
    hdrU32(92, 1) // version-valid-for
    hdrU32(96, 3049000) // library version number
    // ---- pages
    renderPage(buf, 1, 100, 0x0D, masterCells, 0)
    docLeaves.zipWithIndex.foreach { case ((cells, _), i) =>
      renderPage(buf, 2 + i, 0, 0x0D, cells, 0)
    }
    if (nLeaves > 1) {
      // interior root: (child, max rowid) for all but the last leaf;
      // the last leaf is the rightmost child
      val interiorCells = docLeaves.init.zipWithIndex.map { case ((_, lastRowid), i) =>
        val child = 2 + i
        Array[Byte](((child >>> 24) & 0xff).toByte, ((child >> 16) & 0xff).toByte,
          ((child >> 8) & 0xff).toByte, (child & 0xff).toByte) ++ varint(lastRowid)
      }
      renderPage(buf, docsRoot, 0, 0x05, interiorCells, 2 + nLeaves - 1)
    }
    renderPage(buf, tagsRoot, 0, 0x0D, tagCells.map(_._2), 0)
    val noteCells = (0 until 2).map { k =>
      // (label TEXT, nid IPK): the alias column stores NULL at index 1
      leafCell((k + 1).toLong, record(Seq[SVal](SText(tagOf(id, k).replace("tag-", "note-")), SNull)))
    }
    renderPage(buf, notesRoot, 0, 0x0D, noteCells, 0)
    if (hasIndex) renderPage(buf, indexRoot, 0, 0x0A, Nil, 0) // empty index leaf
    // big leaf: one cell whose payload spills to the overflow chain
    val firstOvp = bigRoot + 1
    val bigCell = varint(bigP.toLong) ++ varint(1L) ++
      bigPayload.take(bigLocal) ++
      Array[Byte](((firstOvp >>> 24) & 0xff).toByte, ((firstOvp >> 16) & 0xff).toByte,
        ((firstOvp >> 8) & 0xff).toByte, (firstOvp & 0xff).toByte)
    renderPage(buf, bigRoot, 0, 0x0D, Seq(bigCell), 0)
    (0 until nOverflow).foreach { i =>
      val base = (firstOvp - 1 + i) * PageSize
      val next = if (i == nOverflow - 1) 0 else firstOvp + i + 1
      buf(base) = ((next >>> 24) & 0xff).toByte; buf(base + 1) = ((next >> 16) & 0xff).toByte
      buf(base + 2) = ((next >> 8) & 0xff).toByte; buf(base + 3) = (next & 0xff).toByte
      val from = bigLocal + i * (PageSize - 4)
      val take = math.min(PageSize - 4, bigP - from)
      System.arraycopy(bigPayload, from, buf, base + 4, take)
    }
    buf
  }

  /** Fixture writer: one database file per document row. */
  def encodeSqlite(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "db")(renderSqlite)

  // --------------------------------------------------------------- reader

  private final class MalformedSqlite
      extends RuntimeException("malformed sqlite", null, false, false)
  private def fail(): Nothing = throw new MalformedSqlite

  final case class SqliteCell(
      doc_id: Long, tbl: String, rowid: Long, col_idx: Long, vtype: String,
      i_val: Option[Long], r_val: Option[Double], s_val: Option[String])

  private def rdU16(b: Array[Byte], p: Int): Int = {
    if (p < 0 || p + 2 > b.length) fail()
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  }
  private def rdU32(b: Array[Byte], p: Int): Long = {
    if (p < 0 || p + 4 > b.length) fail()
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  }

  /** Big-endian varint; returns (value, bytes consumed). */
  private def rdVarint(b: Array[Byte], p0: Int, limit: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    var p = p0
    while (i < 8) {
      if (p >= limit) fail()
      val x = b(p) & 0xff
      p += 1
      if ((x & 0x80) == 0) return (v << 7 | x, i + 1)
      v = (v << 7) | (x & 0x7f)
      i += 1
    }
    if (p >= limit) fail()
    ((v << 8) | (b(p) & 0xff), 9) // 9th byte carries all 8 bits
  }

  private def serialSize(t: Long): Int = t match {
    case 0 | 8 | 9 => 0
    case 1 => 1
    case 2 => 2
    case 3 => 3
    case 4 => 4
    case 5 => 6
    case 6 | 7 => 8
    case n if n >= 12 => ((n - 12) / 2).toInt
    case _ => fail() // 10/11 are reserved
  }

  private def readBe(b: Array[Byte], p: Int, n: Int): Long = {
    var v = if ((b(p) & 0x80) != 0) -1L else 0L // sign-extend
    var i = 0
    while (i < n) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    v
  }

  private final class Db(bytes: Array[Byte]) {
    if (bytes.length < 512) fail()
    for (i <- Magic.indices) if (bytes(i) != Magic(i)) fail()
    val pageSize: Int = rdU16(bytes, 16)
    if (pageSize < 512 || pageSize > 32768 || (pageSize & (pageSize - 1)) != 0) fail()
    if ((bytes(20) & 0xff) != 0) fail() // reserved bytes unsupported
    if (rdU32(bytes, 56) != 1L) fail() // UTF-8 only
    val nPages: Int = {
      val n = rdU32(bytes, 28)
      if (n < 1 || n > (1 << 20) || n * pageSize.toLong != bytes.length.toLong) fail()
      n.toInt
    }

    private def pageBase(page: Int): Int = {
      if (page < 1 || page > nPages) fail()
      (page - 1) * pageSize
    }

    /** Decode one record payload into typed values. `buf` is the file
      * itself for inline payloads, or the reassembled buffer for
      * payloads that spilled to overflow pages.
      */
    private def readRecord(buf: Array[Byte], p0: Int, limit: Int): Vector[SVal] = {
      val (hdrLen, hc) = rdVarint(buf, p0, limit)
      if (hdrLen < hc || p0 + hdrLen > limit) fail()
      val hdrEnd = p0 + hdrLen.toInt
      var p = p0 + hc
      val serials = Vector.newBuilder[Long]
      while (p < hdrEnd) {
        val (t, c) = rdVarint(buf, p, hdrEnd)
        serials += t
        p += c
      }
      var body = hdrEnd
      val out = serials.result().map { t =>
        val size = serialSize(t)
        if (body + size > limit) fail()
        val v: SVal = t match {
          case 0 => SNull
          case 8 => SInt(0L)
          case 9 => SInt(1L)
          case 7 =>
            var bits = 0L
            for (i <- 0 until 8) bits = (bits << 8) | (buf(body + i) & 0xffL)
            SReal(java.lang.Double.longBitsToDouble(bits))
          case n if n >= 1 && n <= 6 => SInt(readBe(buf, body, size))
          case n if n >= 13 && n % 2 == 1 =>
            SText(new String(buf, body, size, java.nio.charset.StandardCharsets.UTF_8))
          case _ => SBlob(java.util.Arrays.copyOfRange(buf, body, body + size))
        }
        body += size
        v
      }
      if (body != limit) fail() // payload length must match exactly
      out
    }

    /** Reassemble a payload that exceeds the leaf's inline threshold by
      * following its overflow-page chain (File Format §1.5/§2.4: each
      * overflow page is a 4-byte next-page pointer then content; the
      * local prefix K = M + ((P − M) mod (U − 4)) falls back to M when
      * it exceeds X). Damage — an out-of-range page, a cycle, a chain
      * that ends before the payload is complete — quarantines.
      */
    private def assembleOverflow(cellStart: Int, pageEnd: Int, payloadLen: Long): Array[Byte] = {
      val u = pageSize // reserved bytes are enforced 0
      val x = u - 35
      val m = (u - 12) * 32 / 255 - 23
      val k = m + ((payloadLen - m) % (u - 4)).toInt
      val local = if (k <= x) k else m
      if (payloadLen > (1 << 26)) fail() // hostile declared size
      if (cellStart + local + 4 > pageEnd) fail()
      val payload = new Array[Byte](payloadLen.toInt)
      System.arraycopy(bytes, cellStart, payload, 0, local)
      var dst = local
      var need = payloadLen.toInt - local
      var ovp = rdU32(bytes, cellStart + local).toInt
      val seen = scala.collection.mutable.HashSet.empty[Int]
      while (need > 0) {
        if (ovp == 0) fail() // chain ended before the payload did
        if (!seen.add(ovp)) fail() // cycle
        val ob = pageBase(ovp)
        val next = rdU32(bytes, ob)
        val take = math.min(need, u - 4)
        System.arraycopy(bytes, ob + 4, payload, dst, take)
        dst += take
        need -= take
        ovp = next.toInt
      }
      payload
    }

    /** Walk one TABLE b-tree; emits (rowid, record values) in rowid
      * order, rowids strictly ascending (enforced).
      */
    def walkTable(rootPage: Int): Vector[(Long, Vector[SVal])] = {
      val out = Vector.newBuilder[(Long, Vector[SVal])]
      var lastRowid = Long.MinValue
      var visited = 0
      def walk(page: Int, depth: Int): Unit = {
        if (depth > 8) fail() // hostile nesting
        visited += 1
        if (visited > nPages) fail() // cycle
        val base = pageBase(page)
        val hdrAt = if (page == 1) base + 100 else base
        val typ = bytes(hdrAt) & 0xff
        val nCells = rdU16(bytes, hdrAt + 3)
        val pageEnd = base + pageSize
        typ match {
          case 0x0D => // table leaf
            val ptrBase = hdrAt + 8
            val contentMin = ptrBase + 2 * nCells // header + pointer array
            for (i <- 0 until nCells) {
              val off = base + rdU16(bytes, ptrBase + 2 * i)
              if (off < contentMin || off >= pageEnd) fail()
              val (payloadLen, c1) = rdVarint(bytes, off, pageEnd)
              val (rowid, c2) = rdVarint(bytes, off + c1, pageEnd)
              if (rowid <= lastRowid) fail() // b-tree order violated
              lastRowid = rowid
              val start = off + c1 + c2
              if (payloadLen <= pageSize - 35) {
                // inline: the whole payload sits in this cell
                if (start + payloadLen > pageEnd) fail()
                out += ((rowid, readRecord(bytes, start, start + payloadLen.toInt)))
              } else {
                // spilled: local prefix + overflow-page chain (real
                // browser-history/messaging rows hit this constantly)
                val payload = assembleOverflow(start, pageEnd, payloadLen)
                out += ((rowid, readRecord(payload, 0, payload.length)))
              }
            }
          case 0x05 => // table interior
            val ptrBase = hdrAt + 12
            val contentMin = ptrBase + 2 * nCells
            for (i <- 0 until nCells) {
              val off = base + rdU16(bytes, ptrBase + 2 * i)
              if (off < contentMin || off + 4 >= pageEnd) fail()
              val child = rdU32(bytes, off)
              walk(child.toInt, depth + 1)
            }
            walk(rdU32(bytes, hdrAt + 8).toInt, depth + 1) // rightmost
          case _ => fail() // index pages / garbage in a TABLE walk
        }
      }
      walk(rootPage, 0)
      out.result()
    }
  }

  /** The column index of the table's INTEGER-PRIMARY-KEY rowid alias,
    * resolved from the DDL's column list (top-level comma split inside
    * the outer parens) — never a whole-string grep: the alias can sit
    * at any position, and `INTEGER PRIMARY KEY DESC` is NOT an alias
    * per SQLite's rule.
    */
  private[ext] def ipkColIndex(sql: String): Option[Int] = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open) return None
    val body = sql.substring(open + 1, close)
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    body.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => cols += cur.toString; cur.setLength(0)
      case c => cur.append(c)
    }
    cols += cur.toString
    cols.zipWithIndex.collectFirst {
      case (c, i) if c.toUpperCase.contains("INTEGER PRIMARY KEY") &&
        !c.toUpperCase.contains("INTEGER PRIMARY KEY DESC") => i
    }
  }

  private[ext] def parseSqlite(id: Long, bytes: Array[Byte]): Seq[SqliteCell] = {
    val db = new Db(Option(bytes).getOrElse(fail()))
    // the catalog: sqlite_master rows are (type, name, tbl_name,
    // rootpage, sql); only 'table' rows are data sources — indexes,
    // views, triggers (whose sql may legitimately be NULL for
    // auto-indexes) are skipped, exactly like a real reader
    val master = db.walkTable(1).flatMap {
      case (_, Vector(SText("table"), SText(name), SText(_), SInt(root), SText(sql))) =>
        Some((name, root.toInt, sql))
      case (_, Vector(SText(_), SText(_), SText(_), SInt(_) | SNull, SText(_) | SNull)) =>
        None // index/view/trigger rows: not data sources
      case _ => fail() // wrong arity / types: catalog damage
    }
    if (master.map(_._1).distinct.length != master.length) fail() // dup table
    val out = Vector.newBuilder[SqliteCell]
    master.foreach { case (name, root, sql) =>
      val ipkAt = ipkColIndex(sql).getOrElse(-1)
      db.walkTable(root).foreach { case (rowid, vals) =>
        vals.zipWithIndex.foreach { case (v, i) =>
          val cell = v match {
            // the IPK column stores NULL; SQLite defines its value as the rowid
            case SNull if i == ipkAt =>
              SqliteCell(id, name, rowid, i.toLong, "i", Some(rowid), None, None)
            case SNull => SqliteCell(id, name, rowid, i.toLong, "z", None, None, None)
            case SInt(x) => SqliteCell(id, name, rowid, i.toLong, "i", Some(x), None, None)
            case SReal(x) => SqliteCell(id, name, rowid, i.toLong, "f", None, Some(x), None)
            case SText(s) => SqliteCell(id, name, rowid, i.toLong, "s", None, None, Some(s))
            case SBlob(b) => SqliteCell(id, name, rowid, i.toLong, "b", None, None,
              Some(b.map("%02x".format(_)).mkString))
          }
          out += cell
        }
      }
    }
    out.result()
  }

  private[ext] def parseSqliteSafe(id: Long, bytes: Array[Byte]): Seq[SqliteCell] =
    try parseSqlite(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `sqlite_rows`: every cell of every table of every database file.
    * Map-only.
    */
  def sqliteRows(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "db"): Dataset[SqliteCell] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseSqliteSafe(id, b) }
  }
}
