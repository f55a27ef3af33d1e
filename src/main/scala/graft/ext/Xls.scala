package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Legacy Excel binary (.xls, BIFF8) ingestion — the tabular half of the
  * 97-2003 office shelf, riding the SAME OLE2 container the Word binary
  * does ([[Doc.Cfb]] — the compound-file reader is shared, the point of
  * layering it).
  *
  * The `Workbook` stream is a BIFF8 record sequence ([type:u16]
  * [len:u16][payload], all little-endian): the workbook-globals substream
  * (BOF dt=0x0005, BOUNDSHEET records carrying each sheet's name and the
  * ABSOLUTE stream position of its BOF — the reader seeks by it, grading
  * offset bookkeeping — and the SST shared-string table with the
  * per-string `fHighByte` flag switching 8-bit-compressed vs UTF-16LE
  * storage), then one worksheet substream per sheet (BOF dt=0x0010,
  * cell records, EOF):
  *
  *  - `LABELSST` (0x00FD): row, col, xf, and an index INTO the SST —
  *    shared strings are the BIFF8 dedup mechanism, and the fixture
  *    repeats strings across sheets so `cstTotal > cstUnique` grades the
  *    indirection.
  *  - `NUMBER` (0x0203): a raw IEEE 754 double.
  *  - `RK` (0x027E): the packed 30-bit form — both integer layouts
  *    (fInt, with and without the fDiv100 multiplier, negative values
  *    exercising the ARITHMETIC right shift) decoded exactly.
  *
  * Numeric cells surface as EXACT integer micro-units (`v * 1e6` as
  * BIGINT — fixture values are integers or hundredths, so no IEEE
  * division appears anywhere and the oracle replays bitwise).
  *
  * STRICT semantics: a record running past its bounds or the stream, a
  * BOUNDSHEET position not landing on a worksheet BOF, an SST index out
  * of range, an SST whose string count disagrees with its declaration, a
  * `Continue` record (unsupported here — fixture strings are short; a
  * real multi-record SST quarantines cleanly rather than mis-splicing),
  * or a missing EOF quarantines the whole workbook.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has no
  * file surface; north-star scope beside [[Xlsx]] (the two Excel
  * generations now both ingest).
  */
object Xls {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def nSheets(id: Long): Int = {
    val m = md5Hex(s"xls:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 2
  }

  private[ext] def nRows(id: Long, s: Int): Int = {
    val m = md5Hex(s"xls:$id")
    1 + Integer.parseInt(m.substring(3 + s, 4 + s), 16) % 3
  }

  private[ext] def sheetName(id: Long, s: Int): String = {
    val m = md5Hex(s"xls:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    s"Sheet$s-" + words(nib(2 + s) % 8)
  }

  private[ext] def cellString(id: Long, s: Int, r: Int): String = {
    val m = md5Hex(s"xls:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val hazard = ((id + s + r) % 3) match {
      case 0 => " \u00e9" // U+00E9 fits the 8-bit-compressed form
      case 1 => " \u0394" // GREEK DELTA forces fHighByte = 1
      case _ => ""
    }
    // the compressed form stores LOW BYTES of UTF-16 code units — é (U+00E9)
    // fits, Δ (U+0394) does not and flips the string to UTF-16 storage
    words(nib(6 + 2 * (s + r)) % 8) + hazard
  }

  private[ext] def numberValue(id: Long, s: Int, r: Int): Long =
    id * 100 + s * 10 + r // exact integer double

  /** RK cell: (micro-units, fDiv100, raw 30-bit int). */
  private[ext] def rkValue(id: Long, s: Int, r: Int): (Long, Boolean, Int) = {
    val m = md5Hex(s"xls:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    if ((id + r) % 2 == 0) {
      val v = nib(8 + r) * 3 - 20 // negative arm: arithmetic shift graded
      (v.toLong * 1000000L, false, v)
    } else {
      val v = nib(8 + r) * 7 + 3
      (v.toLong * 10000L, true, v) // v / 100 in micro-units
    }
  }

  private[ext] def renderWorkbook(id: Long): Array[Byte] = {
    val ns = nSheets(id)
    // SST: unique strings in first-appearance order; cells reference them
    val refs = for (s <- 0 until ns; r <- 0 until nRows(id, s)) yield cellString(id, s, r)
    val unique = refs.distinct
    val isst = unique.zipWithIndex.toMap

    val out = new java.io.ByteArrayOutputStream(1024)
    // per-record payload buffer (local — executor-safe)
    final class Pay {
      val b = new java.io.ByteArrayOutputStream(64)
      def p8(v: Int): Unit = b.write(v & 0xff)
      def p16(v: Int): Unit = { p8(v); p8(v >> 8) }
      def p32(v: Int): Unit = { p16(v); p16(v >>> 16) }
      def raw(a: Array[Byte]): Unit = b.write(a, 0, a.length)
      def xstr(s: String): Unit = { // XLUnicodeString (plain, no rich runs)
        val high = s.exists(_ > 0xff)
        p16(s.length)
        p8(if (high) 1 else 0)
        if (high) raw(s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
        else raw(s.map(_.toByte).toArray)
      }
    }
    def record(typ: Int)(f: Pay => Unit): Unit = {
      val w = new Pay
      f(w)
      out.write(typ & 0xff); out.write((typ >> 8) & 0xff)
      out.write(w.b.size & 0xff); out.write((w.b.size >> 8) & 0xff)
      w.b.writeTo(out)
    }
    def bof(dt: Int): Unit = record(0x0809) { w =>
      w.p16(0x0600); w.p16(dt); w.p16(0x0DBB); w.p16(0x07CC) // vers, dt, build, year
      w.p32(0); w.p32(0x0600) // file history, lowest version
    }
    def eof(): Unit = record(0x000A) { _ => }

    // ---- workbook globals
    bof(0x0005)
    // BOUNDSHEETs: lbPlyPos patched after layout — the u32 placeholder
    // lands 4 bytes past each record's header
    val boundPosAt = new Array[Int](ns)
    for (s <- 0 until ns) {
      boundPosAt(s) = out.size + 4
      record(0x0085) { w =>
        w.p32(0) // lbPlyPos placeholder
        w.p16(0) // visible worksheet
        val name = sheetName(id, s)
        val high = name.exists(_ > 0xff)
        w.p8(name.length)
        w.p8(if (high) 1 else 0)
        if (high) w.raw(name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
        else w.raw(name.map(_.toByte).toArray)
      }
    }
    record(0x00FC) { w => // SST
      w.p32(refs.length) // cstTotal: every reference
      w.p32(unique.length) // cstUnique
      unique.foreach(w.xstr)
    }
    eof()

    // ---- worksheet substreams
    val sheetPos = new Array[Int](ns)
    for (s <- 0 until ns) {
      sheetPos(s) = out.size
      bof(0x0010)
      for (r <- 0 until nRows(id, s)) {
        record(0x00FD) { w => // LABELSST at col 0
          w.p16(r); w.p16(0); w.p16(0)
          w.p32(isst(cellString(id, s, r)))
        }
        record(0x0203) { w => // NUMBER at col 1
          w.p16(r); w.p16(1); w.p16(0)
          val bits = java.lang.Double.doubleToLongBits(numberValue(id, s, r).toDouble)
          w.p32((bits & 0xffffffffL).toInt); w.p32((bits >>> 32).toInt)
        }
        record(0x027E) { w => // RK at col 2
          w.p16(r); w.p16(2); w.p16(0)
          val (_, div100, v) = rkValue(id, s, r)
          w.p32((v << 2) | 2 | (if (div100) 1 else 0))
        }
      }
      eof()
    }

    val bytes = out.toByteArray
    // patch the BOUNDSHEET positions
    for (s <- 0 until ns) {
      val at = boundPosAt(s)
      val v = sheetPos(s)
      bytes(at) = (v & 0xff).toByte
      bytes(at + 1) = ((v >> 8) & 0xff).toByte
      bytes(at + 2) = ((v >> 16) & 0xff).toByte
      bytes(at + 3) = ((v >>> 24) & 0xff).toByte
    }
    bytes
  }

  /** Fixture writer: a complete compound file whose Workbook stream rides
    * the MINI layer (BIFF payloads here are small — the other CFB path is
    * exercised by [[Doc]]'s padded WordDocument).
    */
  def encodeXls(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(id => Doc.renderCfb(Seq(("Workbook", renderWorkbook(id)))))

  // --------------------------------------------------------------- parser

  private final class MalformedXls
      extends RuntimeException("malformed xls", null, false, false)
  private def fail(): Nothing = throw new MalformedXls

  final case class XlsCell(
      doc_id: Long, sheet_idx: Long, sheet_name: String, row_idx: Long,
      col_idx: Long, kind: String, s_val: Option[String], num_micro: Option[Long])

  private[ext] def parseXls(id: Long, bytes: Array[Byte]): Seq[XlsCell] = {
    // both construction AND chain reads throw the Doc module's damage
    // marker — convert either into this module's quarantine
    val wb = (try new Doc.Cfb(bytes).stream("Workbook")
    catch { case _: RuntimeException => fail() }).getOrElse(fail())
    val n = wb.length
    def u16(p: Int): Int = {
      if (p < 0 || p + 2 > n) fail()
      (wb(p) & 0xff) | ((wb(p + 1) & 0xff) << 8)
    }
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > n) fail()
      (wb(p) & 0xffL) | ((wb(p + 1) & 0xffL) << 8) |
        ((wb(p + 2) & 0xffL) << 16) | ((wb(p + 3) & 0xffL) << 24)
    }

    // ---- globals substream: BOUNDSHEETs + SST
    if (u16(0) != 0x0809) fail()
    var p = 0
    val sheets = Vector.newBuilder[(String, Int)]
    var sst: Vector[String] = Vector.empty
    var declaredUnique = -1L
    var done = false
    var guard = 0
    while (!done) {
      guard += 1; if (guard > (1 << 16)) fail()
      val typ = u16(p)
      val len = u16(p + 2)
      val body = p + 4
      if (body + len > n) fail()
      typ match {
        case 0x0085 => // BOUNDSHEET
          if (len < 8) fail() // lbPlyPos(4) + grbit(2) + cch(1) + flags(1)
          val pos = u32(body)
          if (pos < 0 || pos > n - 4) fail()
          val cch = wb(body + 6) & 0xff
          val high = (wb(body + 7) & 0x01) != 0
          val name =
            if (high) {
              if (body + 8 + 2 * cch > body + len) fail()
              new String(wb, body + 8, 2 * cch, "UTF-16LE")
            } else {
              if (body + 8 + cch > body + len) fail()
              val sb = new StringBuilder
              for (i <- 0 until cch) sb.append(((wb(body + 8 + i) & 0xff)).toChar)
              sb.toString
            }
          sheets += ((name, pos.toInt))
        case 0x00FC => // SST
          declaredUnique = u32(body + 4)
          if (declaredUnique < 0 || declaredUnique > (1 << 16)) fail()
          val strs = Vector.newBuilder[String]
          var q = body + 8
          var k = 0L
          while (k < declaredUnique) {
            if (q + 3 > body + len) fail() // Continue splitting unsupported: clean fail
            val cch = u16(q)
            val flags = wb(q + 2) & 0xff
            if ((flags & 0xfe) != 0) fail() // rich/ext runs out of scope
            q += 3
            if ((flags & 1) != 0) {
              if (q + 2 * cch > body + len) fail()
              strs += new String(wb, q, 2 * cch, "UTF-16LE")
              q += 2 * cch
            } else {
              if (q + cch > body + len) fail()
              val sb = new StringBuilder
              for (i <- 0 until cch) sb.append((wb(q + i) & 0xff).toChar)
              strs += sb.toString
              q += cch
            }
            k += 1
          }
          if (q != body + len) fail()
          sst = strs.result()
        case 0x000A => done = true
        case 0x003C => fail() // Continue: unsupported, never mis-splice
        case _ => // other global records: skip
      }
      p = body + len
    }
    val sheetList = sheets.result()
    if (sheetList.isEmpty) fail()
    // a workbook without an SST is legal when no LABELSST appears; a
    // LABELSST with no (or a short) SST fails on the index bound below

    // ---- worksheet substreams, located by lbPlyPos
    val cells = Vector.newBuilder[XlsCell]
    sheetList.zipWithIndex.foreach { case ((name, pos), sIdx) =>
      if (u16(pos) != 0x0809) fail()
      var q = pos
      var sheetDone = false
      var g2 = 0
      while (!sheetDone) {
        g2 += 1; if (g2 > (1 << 16)) fail()
        val typ = u16(q)
        val len = u16(q + 2)
        val body = q + 4
        if (body + len > n) fail()
        typ match {
          case 0x00FD => // LABELSST
            if (len != 10) fail()
            val row = u16(body); val colIdx = u16(body + 2)
            val idx = u32(body + 6)
            if (idx < 0 || idx >= sst.length) fail()
            cells += XlsCell(id, sIdx.toLong, name, row.toLong, colIdx.toLong,
              "s", Some(sst(idx.toInt)), None)
          case 0x0203 => // NUMBER: IEEE double → exact micro-units
            if (len != 14) fail()
            val row = u16(body); val colIdx = u16(body + 2)
            val bits = u32(body + 6) | (u32(body + 10) << 32)
            val d = java.lang.Double.longBitsToDouble(bits)
            val micro = d * 1e6
            if (micro != math.rint(micro) || math.abs(micro) > (1L << 62).toDouble) fail()
            cells += XlsCell(id, sIdx.toLong, name, row.toLong, colIdx.toLong,
              "n", None, Some(micro.toLong))
          case 0x027E => // RK
            if (len != 10) fail()
            val row = u16(body); val colIdx = u16(body + 2)
            val raw = u32(body + 6).toInt
            if ((raw & 2) == 0) fail() // float RK out of the fixture's scope
            val v = raw >> 2 // ARITHMETIC shift: sign preserved
            val micro = if ((raw & 1) != 0) v.toLong * 10000L else v.toLong * 1000000L
            cells += XlsCell(id, sIdx.toLong, name, row.toLong, colIdx.toLong,
              "rk", None, Some(micro))
          case 0x000A => sheetDone = true
          case 0x0809 => if (q != pos) fail() // a nested BOF is damage
          case _ => // skip
        }
        q = body + len
      }
    }
    cells.result()
  }

  private[ext] def parseXlsSafe(id: Long, bytes: Array[Byte]): Seq[XlsCell] =
    try parseXls(id, Option(bytes).getOrElse(Array.empty))
    catch { case _: MalformedXls => Seq.empty }

  /** `xls_cells`: every cell of every legacy workbook. Map-only. */
  def xlsCells(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "payload"): Dataset[XlsCell] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => parseXlsSafe(id, bytes) }
  }
}
