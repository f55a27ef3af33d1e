package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Font-file metadata (SFNT / TrueType + WOFF 1.0), from scratch — a
  * web corpus is full of fonts, and curation filters on exactly this
  * metadata (family, glyph coverage, weight) for licensing triage and
  * multimodal-render pipelines.
  *
  * Implemented per the published specifications (the OpenType spec's
  * table definitions, the W3C WOFF 1.0 recommendation):
  *
  *  - '''sfnt container''': offset table (version 0x00010000,
  *    binary-search fields validated), the tag-sorted table directory,
  *    per-table checksums (the u32-sum rule, `head` summed with its
  *    checkSumAdjustment as written) and the whole-font
  *    checkSumAdjustment (0xB1B0AFBA rule) — all COMPUTED, and
  *    recomputed in the spec;
  *  - '''tables''': `head` (magic 0x5F0F3CF5, unitsPerEm, bbox, loca
  *    format), `maxp` (numGlyphs), `hhea`/`hmtx` (the numberOfHMetrics
  *    split), `cmap` format 4 (segment search arrays with correct
  *    binary-search fields), `glyf`/`loca` (a real quad contour for
  *    'A', trailing empty glyphs sharing loca offsets), `post` v3,
  *    `OS/2` v0 (usWeightClass), `name` format 0 — BOTH platform arms
  *    (Mac/Roman and Windows/UTF-16BE) for family / subfamily / full /
  *    postscript names;
  *  - '''WOFF 1.0 wrapper''': per-table RFC 1950 zlib compression (the
  *    shared [[Multimodal.zlibInflate]] / adler32 machinery), stored
  *    tables where compression does not win, origChecksum carried,
  *    totalSfntSize cross-checked.
  *
  * The fixture font is not metadata-only: it is a COMPLETE loadable
  * TrueType, and the spec's foreign differential hands it to
  * `java.awt.Font.createFont` (the JDK's native sfnt loader) which
  * must agree on family name and glyph count — plus a WOFF round-trip
  * back to the identical sfnt bytes.
  *
  * Scale shape: map-only per font, zero shuffles.
  */
object Sfnt {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"sfnt:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def familyOf(id: Long): String = {
    val w = words(nib(id, 2) % 8)
    s"Graft ${w.head.toUpper}${w.tail}"
  }
  private[ext] def fullNameOf(id: Long): String = s"${familyOf(id)} Regular"
  private[ext] def unitsPerEmOf(id: Long): Int = if (id % 2 == 0) 1024 else 2048
  private[ext] def numGlyphsOf(id: Long): Int = 2 + nib(id, 3) % 3
  private[ext] def weightOf(id: Long): Int = 300 + 100 * (nib(id, 4) % 5)
  private[ext] def isWoff(id: Long): Boolean = id % 3 == 2

  private def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def tableChecksum(b: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < b.length) {
      var w = 0L
      var j = 0
      while (j < 4) { w = (w << 8) | (if (i + j < b.length) b(i + j) & 0xffL else 0L); j += 1 }
      sum = (sum + w) & 0xffffffffL
      i += 4
    }
    sum
  }

  private def headTable(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v), 0, 2)
    def w32(v: Long): Unit = out.write(be32(v), 0, 4)
    w32(0x00010000L) // version 1.0
    w32(0x00010000L) // fontRevision
    w32(0L) // checkSumAdjustment (patched after assembly)
    w32(0x5F0F3CF5L) // magicNumber
    w16(0x0003) // flags: baseline at y=0, left sidebearing at x=0
    w16(unitsPerEmOf(id))
    w32(0L); w32(0L) // created (longdatetime hi/lo)
    w32(0L); w32(0L) // modified
    w16(50); w16(0); w16(650); w16(700) // xMin yMin xMax yMax
    w16(0) // macStyle
    w16(8) // lowestRecPPEM
    w16(2) // fontDirectionHint
    w16(0) // indexToLocFormat: short
    w16(0) // glyphDataFormat
    out.toByteArray
  }

  private def hheaTable(numGlyphs: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v & 0xffff), 0, 2)
    out.write(be32(0x00010000L), 0, 4)
    w16(800); w16(-200); w16(0) // ascender, descender, lineGap
    w16(700) // advanceWidthMax
    w16(0); w16(50) // minLeftSideBearing (glyph 0 has lsb 0), minRight
    w16(650) // xMaxExtent
    w16(1); w16(0); w16(0) // caret slope rise/run/offset
    w16(0); w16(0); w16(0); w16(0) // reserved
    w16(0) // metricDataFormat
    w16(2) // numberOfHMetrics
    out.toByteArray
  }

  private def maxpTable(numGlyphs: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v), 0, 2)
    out.write(be32(0x00010000L), 0, 4)
    w16(numGlyphs)
    w16(4); w16(1) // maxPoints, maxContours
    w16(0); w16(0) // composite points/contours
    w16(2) // maxZones
    w16(0); w16(0); w16(0); w16(0) // twilight/storage/fdefs/idefs
    w16(0); w16(0); w16(0) // stack, sizeOfInstructions, componentElements
    w16(0) // componentDepth
    out.toByteArray
  }

  private def hmtxTable(numGlyphs: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(be16(500), 0, 2); out.write(be16(0), 0, 2) // glyph 0
    out.write(be16(700), 0, 2); out.write(be16(50), 0, 2) // glyph 1
    for (_ <- 2 until numGlyphs) out.write(be16(0), 0, 2) // trailing lsb-only
    out.toByteArray
  }

  private val glyph1: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v & 0xffff), 0, 2)
    w16(1) // one contour
    w16(50); w16(0); w16(650); w16(700) // bbox
    w16(3) // endPtsOfContours
    w16(0) // instructionLength
    for (_ <- 0 until 4) out.write(0x01) // flags: on-curve, 16-bit deltas
    Seq(50, 0, 600, 0).foreach(w16) // x deltas
    Seq(0, 700, 0, -700).foreach(w16) // y deltas
    val b = out.toByteArray
    b ++ new Array[Byte]((4 - b.length % 4) % 4)
  }

  private def locaTable(numGlyphs: Int): Array[Byte] = {
    // short format: offset/2. glyph 0 empty, glyph 1 the quad, rest empty.
    val out = new java.io.ByteArrayOutputStream()
    out.write(be16(0), 0, 2) // glyph 0 start
    out.write(be16(0), 0, 2) // glyph 1 start (glyph 0 is empty)
    for (_ <- 1 until numGlyphs) out.write(be16(glyph1.length / 2), 0, 2)
    out.toByteArray
  }

  private val cmapTable: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v & 0xffff), 0, 2)
    w16(0); w16(1) // version, one encoding record
    w16(3); w16(1) // platform 3 (Windows), encoding 1 (Unicode BMP)
    out.write(be32(12L), 0, 4) // subtable offset
    // format 4, two segments: ['A','A'] -> glyph 1, [0xFFFF] terminator
    val segCount = 2
    w16(4) // format
    w16(16 + 8 * segCount) // length
    w16(0) // language
    w16(segCount * 2)
    w16(4) // searchRange: 2 * 2^floor(log2(segCount))
    w16(1) // entrySelector
    w16(0) // rangeShift
    w16(0x41); w16(0xFFFF) // endCode
    w16(0) // reservedPad
    w16(0x41); w16(0xFFFF) // startCode
    w16(1 - 0x41); w16(1) // idDelta
    w16(0); w16(0) // idRangeOffset
    out.toByteArray
  }

  private val postTable: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(be32(0x00030000L), 0, 4) // version 3.0: no names
    out.write(be32(0L), 0, 4) // italicAngle
    out.write(be16(-100 & 0xffff), 0, 2); out.write(be16(50), 0, 2) // underline
    out.write(be32(0L), 0, 4) // isFixedPitch
    for (_ <- 0 until 4) out.write(be32(0L), 0, 4) // memory hints
    out.toByteArray
  }

  private def os2Table(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v & 0xffff), 0, 2)
    w16(0) // version 0 (78 bytes)
    w16(550) // xAvgCharWidth
    w16(weightOf(id))
    w16(5) // usWidthClass: normal
    w16(0) // fsType: installable
    w16(650); w16(700); w16(0); w16(140) // subscript size/offset
    w16(650); w16(700); w16(0); w16(480) // superscript
    w16(50); w16(250) // strikeout size/position
    w16(0) // sFamilyClass
    for (_ <- 0 until 10) out.write(0) // panose
    out.write(be32(1L), 0, 4) // ulUnicodeRange1: Basic Latin
    out.write(be32(0L), 0, 4); out.write(be32(0L), 0, 4); out.write(be32(0L), 0, 4)
    out.write("GRFT".getBytes("ISO-8859-1"), 0, 4) // achVendID
    w16(0x0040) // fsSelection: REGULAR
    w16(0x41); w16(0x41) // first/last char index
    w16(800); w16(-200); w16(200) // sTypoAscender/Descender/LineGap
    w16(800); w16(200) // usWinAscent/Descent
    out.toByteArray
  }

  private def nameTable(id: Long): Array[Byte] = {
    val names = Seq( // nameID -> value
      (1, familyOf(id)), (2, "Regular"), (4, fullNameOf(id)),
      (6, fullNameOf(id).replace(" ", "-")))
    // records sorted by platform, then nameID (the spec's required order)
    final case class Rec(platform: Int, encoding: Int, language: Int, nameId: Int,
      bytes: Array[Byte])
    val recs =
      names.map { case (nid, v) => Rec(1, 0, 0, nid, v.getBytes("ISO-8859-1")) } ++
        names.map { case (nid, v) => Rec(3, 1, 0x409, nid, v.getBytes("UTF-16BE")) }
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v & 0xffff), 0, 2)
    w16(0) // format
    w16(recs.length)
    w16(6 + 12 * recs.length) // stringOffset
    var off = 0
    recs.foreach { r =>
      w16(r.platform); w16(r.encoding); w16(r.language); w16(r.nameId)
      w16(r.bytes.length); w16(off)
      off += r.bytes.length
    }
    recs.foreach(r => out.write(r.bytes, 0, r.bytes.length))
    val b = out.toByteArray
    b ++ new Array[Byte]((4 - b.length % 4) % 4)
  }

  /** Assemble the sfnt: offset table + sorted directory + tables, with
    * real checksums and the whole-font checkSumAdjustment.
    */
  private[ext] def renderTtf(id: Long): Array[Byte] = {
    val ng = numGlyphsOf(id)
    val tables = Seq(
      ("OS/2", os2Table(id)), ("cmap", cmapTable), ("glyf", glyph1),
      ("head", headTable(id)), ("hhea", hheaTable(ng)), ("hmtx", hmtxTable(ng)),
      ("loca", locaTable(ng)), ("maxp", maxpTable(ng)), ("name", nameTable(id)),
      ("post", postTable)).sortBy(_._1)
    val n = tables.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(be32(0x00010000L), 0, 4)
    out.write(be16(n), 0, 2)
    val pow = Integer.highestOneBit(n)
    out.write(be16(pow * 16), 0, 2) // searchRange
    out.write(be16(Integer.numberOfTrailingZeros(pow)), 0, 2) // entrySelector
    out.write(be16(n * 16 - pow * 16), 0, 2) // rangeShift
    var off = 12 + 16 * n
    val offsets = tables.map { case (tag, data) =>
      val o = off
      off += (data.length + 3) & ~3
      o
    }
    tables.zip(offsets).foreach { case ((tag, data), o) =>
      out.write(tag.getBytes("ISO-8859-1"), 0, 4)
      out.write(be32(tableChecksum(data)), 0, 4)
      out.write(be32(o.toLong), 0, 4)
      out.write(be32(data.length.toLong), 0, 4)
    }
    tables.foreach { case (_, data) =>
      out.write(data, 0, data.length)
      out.write(new Array[Byte]((4 - data.length % 4) % 4), 0, (4 - data.length % 4) % 4)
    }
    val font = out.toByteArray
    // checkSumAdjustment: 0xB1B0AFBA - checksum(entire font)
    val adj = (0xB1B0AFBAL - tableChecksum(font)) & 0xffffffffL
    val headOff = offsets(tables.indexWhere(_._1 == "head"))
    val adjBytes = be32(adj)
    System.arraycopy(adjBytes, 0, font, headOff + 8, 4)
    font
  }

  /** WOFF 1.0 wrapper around [[renderTtf]]'s tables. */
  private[ext] def renderWoff(id: Long): Array[Byte] = {
    val ttf = renderTtf(id)
    // re-read the directory of our own sfnt (offsets/checksums as written)
    val n = ((ttf(4) & 0xff) << 8) | (ttf(5) & 0xff)
    final case class T(tag: String, checksum: Long, data: Array[Byte])
    val tables = (0 until n).map { i =>
      val p = 12 + 16 * i
      def u32(q: Int): Long = ((ttf(q) & 0xffL) << 24) | ((ttf(q + 1) & 0xffL) << 16) |
        ((ttf(q + 2) & 0xffL) << 8) | (ttf(q + 3) & 0xffL)
      val tag = new String(ttf, p, 4, "ISO-8859-1")
      val off = u32(p + 8).toInt
      val len = u32(p + 12).toInt
      T(tag, u32(p + 4), java.util.Arrays.copyOfRange(ttf, off, off + len))
    }
    val comp = tables.map { t =>
      val z = Bits.zlibWrap(0x01, Multimodal.deflateFixed(t.data), t.data)
      if (z.length < t.data.length) z else t.data // store when zlib does not win
    }
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v), 0, 2)
    def w32(v: Long): Unit = out.write(be32(v), 0, 4)
    out.write("wOFF".getBytes("ISO-8859-1"), 0, 4)
    w32(0x00010000L) // flavor
    val dirSize = 44 + 20 * n
    val total = dirSize + comp.map(c => (c.length + 3) & ~3).sum
    w32(total.toLong)
    w16(n); w16(0) // numTables, reserved
    w32(ttf.length.toLong) // totalSfntSize
    w16(1); w16(0) // major/minor
    w32(0L); w32(0L); w32(0L) // meta offset/length/origLength
    w32(0L); w32(0L) // priv
    var off = dirSize
    tables.zip(comp).foreach { case (t, c) =>
      out.write(t.tag.getBytes("ISO-8859-1"), 0, 4)
      w32(off.toLong)
      w32(c.length.toLong)
      w32(t.data.length.toLong)
      w32(t.checksum)
      off += (c.length + 3) & ~3
    }
    comp.foreach { c =>
      out.write(c, 0, c.length)
      out.write(new Array[Byte]((4 - c.length % 4) % 4), 0, (4 - c.length % 4) % 4)
    }
    out.toByteArray
  }

  // ---- WOFF 2.0 (W3C REC): brotli whole-stream compression, known-tag
  // directory indexes, UIntBase128 lengths, null glyf/loca transforms

  /** The first 13 entries of the spec's known-table-tags array — the
    * subset this writer emits by index. Indexes 13-62 exist in the spec
    * but are NOT transcribed here (a mis-recalled entry would silently
    * mis-tag tables), so the reader quarantines them; arbitrary tags
    * ride the 63-escape.
    */
  private val Woff2KnownTags = Array("cmap", "head", "hhea", "hmtx", "maxp",
    "name", "OS/2", "post", "cvt ", "fpgm", "glyf", "loca", "prep")

  private def uintBase128(v: Long): Array[Byte] = {
    require(v >= 0 && v < (1L << 32))
    val bytes = new scala.collection.mutable.ArrayBuffer[Int]
    var x = v
    bytes.prepend((x & 0x7f).toInt)
    x >>= 7
    while (x != 0) { bytes.prepend(((x & 0x7f) | 0x80).toInt); x >>= 7 }
    bytes.map(_.toByte).toArray
  }

  /** WOFF 2.0 wrapper around [[renderTtf]]'s tables. */
  private[ext] def renderWoff2(id: Long): Array[Byte] = {
    val ttf = renderTtf(id)
    val n = ((ttf(4) & 0xff) << 8) | (ttf(5) & 0xff)
    final case class T(tag: String, data: Array[Byte])
    val tables = (0 until n).map { i =>
      val p = 12 + 16 * i
      def u32(q: Int): Long = ((ttf(q) & 0xffL) << 24) | ((ttf(q + 1) & 0xffL) << 16) |
        ((ttf(q + 2) & 0xffL) << 8) | (ttf(q + 3) & 0xffL)
      val tag = new String(ttf, p, 4, "ISO-8859-1")
      T(tag, java.util.Arrays.copyOfRange(ttf, u32(p + 8).toInt,
        (u32(p + 8) + u32(p + 12)).toInt))
    }
    val dir = new java.io.ByteArrayOutputStream()
    tables.foreach { t =>
      val known = Woff2KnownTags.indexOf(t.tag)
      // glyf/loca carry transform version 3 (null); others version 0
      val xform = if (t.tag == "glyf" || t.tag == "loca") 3 else 0
      if (known >= 0) dir.write((xform << 6) | known)
      else {
        dir.write((xform << 6) | 63)
        dir.write(t.tag.getBytes("ISO-8859-1"), 0, 4)
      }
      val ob = uintBase128(t.data.length.toLong)
      dir.write(ob, 0, ob.length)
    }
    val raw = tables.map(_.data).reduce(_ ++ _)
    val compressed = Brotli.compressQ1(raw)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(be16(v), 0, 2)
    def w32(v: Long): Unit = out.write(be32(v), 0, 4)
    out.write("wOF2".getBytes("ISO-8859-1"), 0, 4)
    w32(0x00010000L) // flavor
    val total = 48 + dir.size + compressed.length
    w32(total.toLong)
    w16(n); w16(0)
    w32(ttf.length.toLong) // totalSfntSize
    w32(compressed.length.toLong) // totalCompressedSize
    w16(1); w16(0) // major/minor
    w32(0L); w32(0L); w32(0L) // meta
    w32(0L); w32(0L) // priv
    val db = dir.toByteArray
    out.write(db, 0, db.length)
    out.write(compressed, 0, compressed.length)
    out.toByteArray
  }

  private[ext] def renderFont(id: Long): Array[Byte] =
    if (isWoff(id)) { if (id % 2 == 0) renderWoff(id) else renderWoff2(id) }
    else renderTtf(id)

  /** Fixture writer: one font file per document row (the woff arms
    * compress per document with zlib or brotli).
    */
  def encodeFonts(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "font")(renderFont)

  // --------------------------------------------------------------- reader

  private final class MalformedFont
      extends RuntimeException("malformed font", null, false, false)
  private def fail(): Nothing = throw new MalformedFont

  private val MaxTable = 1 << 24

  private final class BE(val b: Array[Byte]) {
    def u16(p: Int): Int = {
      if (p < 0 || p + 2 > b.length) fail()
      ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    }
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > b.length) fail()
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    }
    def tag(p: Int): String = {
      if (p < 0 || p + 4 > b.length) fail()
      new String(b, p, 4, "ISO-8859-1")
    }
  }

  final case class FontMeta(
    doc_id: Long, container: String, n_tables: Long, units_per_em: Long,
    num_glyphs: Long, family: String, full_name: String, weight_class: Long,
    n_name_records: Long)

  /** Table map (tag → bytes) from a raw sfnt. */
  private def sfntTables(b: Array[Byte]): Map[String, Array[Byte]] = {
    val r = new BE(b)
    if (r.u32(0) != 0x00010000L && r.tag(0) != "OTTO") fail()
    val n = r.u16(4)
    if (n <= 0 || n > 64) fail()
    (0 until n).map { i =>
      val p = 12 + 16 * i
      val tag = r.tag(p)
      val off = r.u32(p + 8)
      val len = r.u32(p + 12)
      if (off < 12 || len > MaxTable || off + len > b.length) fail()
      tag -> java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
    }.toMap
  }

  /** Table map from a WOFF 1.0 wrapper (inflating zlib tables). */
  private def woffTables(b: Array[Byte]): (Map[String, Array[Byte]], Int) = {
    val r = new BE(b)
    if (r.tag(0) != "wOFF") fail()
    if (r.u32(4) != 0x00010000L && r.tag(4) != "OTTO") fail()
    val declaredTotal = r.u32(8)
    if (declaredTotal != b.length.toLong) fail()
    val n = r.u16(12)
    if (n <= 0 || n > 64) fail()
    val tables = (0 until n).map { i =>
      val p = 44 + 20 * i
      val tag = r.tag(p)
      val off = r.u32(p + 4)
      val compLen = r.u32(p + 8)
      val origLen = r.u32(p + 12)
      if (origLen > MaxTable || compLen > origLen || off + compLen > b.length) fail()
      val data =
        if (compLen == origLen) java.util.Arrays.copyOfRange(b, off.toInt, (off + compLen).toInt)
        else {
          val d = try Multimodal.zlibInflate(b, off.toInt, (off + compLen).toInt, origLen.toInt)
          catch { case scala.util.control.NonFatal(_) => fail() }
          if (d.length != origLen.toInt) fail()
          d
        }
      tag -> data
    }.toMap
    (tables, n)
  }

  /** Table map from a WOFF 2.0 wrapper: directory walk + one brotli
    * stream. Transformed tables (and known-tag indexes 13-62, which are
    * deliberately not transcribed) quarantine.
    */
  private def woff2Tables(b: Array[Byte]): (Map[String, Array[Byte]], Int) = {
    val r = new BE(b)
    if (r.tag(0) != "wOF2") fail()
    if (r.u32(4) != 0x00010000L && r.tag(4) != "OTTO") fail()
    if (r.u32(8) != b.length.toLong) fail()
    val n = r.u16(12)
    if (n <= 0 || n > 64) fail()
    val totalSfnt = r.u32(16)
    val totalCompressed = r.u32(20)
    var p = 48
    def base128(): Long = {
      var v = 0L
      var i = 0
      var done = false
      while (!done) {
        if (i >= 5 || p >= b.length) fail()
        val c = b(p) & 0xff
        if (i == 0 && c == 0x80) fail() // leading zero byte forbidden
        v = (v << 7) | (c & 0x7f)
        if (v >= (1L << 32)) fail()
        p += 1
        i += 1
        done = (c & 0x80) == 0
      }
      v
    }
    final case class Entry(tag: String, origLen: Long)
    val entries = (0 until n).map { _ =>
      if (p >= b.length) fail()
      val flags = b(p) & 0xff
      p += 1
      val idx = flags & 0x3f
      val xform = (flags >>> 6) & 3
      val tag =
        if (idx == 63) {
          if (p + 4 > b.length) fail()
          val t = new String(b, p, 4, "ISO-8859-1")
          p += 4
          t
        } else if (idx < Woff2KnownTags.length) Woff2KnownTags(idx)
        else fail() // indexes 13-62: not transcribed, never guessed
      val origLen = base128()
      // null transform is version 3 for glyf/loca, version 0 otherwise;
      // a TRANSFORMED table is outside the reconstruction subset
      val isNull = if (tag == "glyf" || tag == "loca") xform == 3 else xform == 0
      if (!isNull) fail()
      Entry(tag, origLen)
    }
    if (p + totalCompressed > b.length) fail()
    val rawLen = entries.map(_.origLen).sum
    if (rawLen > MaxTable.toLong * 4) fail()
    val raw = try Brotli.decompress(
      java.util.Arrays.copyOfRange(b, p, (p + totalCompressed).toInt), rawLen.toInt)
    catch { case scala.util.control.NonFatal(_) => fail() }
    if (raw.length.toLong != rawLen) fail()
    var off = 0
    val tables = entries.map { e =>
      val data = java.util.Arrays.copyOfRange(raw, off, off + e.origLen.toInt)
      off += e.origLen.toInt
      e.tag -> data
    }.toMap
    // totalSfntSize cross-check: offset table + directory + padded tables
    val expect = 12L + 16L * n + entries.map(e => (e.origLen + 3) & ~3L).sum
    if (totalSfnt != expect) fail()
    (tables, n)
  }

  private def decodeName(platform: Int, encoding: Int, bytes: Array[Byte]): Option[String] =
    (platform, encoding) match {
      case (3, 1) | (3, 10) | (0, _) => Some(new String(bytes, "UTF-16BE"))
      case (1, 0) => Some(new String(bytes, "ISO-8859-1")) // MacRoman ASCII subset
      case _ => None
    }

  private[ext] def parseFont(id: Long, b: Array[Byte]): FontMeta = {
    if (b == null || b.length < 12) fail()
    val (tables, nTables, container) =
      if (b(0) == 'w' && b(1) == 'O' && b(2) == 'F' && b(3) == '2') {
        val (t, n) = woff2Tables(b)
        (t, n, "woff2")
      } else if (b(0) == 'w' && b(1) == 'O') {
        val (t, n) = woffTables(b)
        (t, n, "woff")
      } else {
        val t = sfntTables(b)
        (t, t.size, "ttf")
      }
    val head = new BE(tables.getOrElse("head", fail()))
    if (head.u32(12) != 0x5F0F3CF5L) fail() // head magic
    val unitsPerEm = head.u16(18)
    if (unitsPerEm < 16 || unitsPerEm > 16384) fail()
    val maxp = new BE(tables.getOrElse("maxp", fail()))
    val numGlyphs = maxp.u16(4)
    val weight = tables.get("OS/2").map(t => new BE(t).u16(4).toLong).getOrElse(-1L)
    val name = new BE(tables.getOrElse("name", fail()))
    if (name.u16(0) != 0) fail() // format 0 only
    val count = name.u16(2)
    if (count > 512) fail()
    val strOff = name.u16(4)
    var family: Option[(Int, String)] = None // (priority, value)
    var full: Option[(Int, String)] = None
    for (i <- 0 until count) {
      val p = 6 + 12 * i
      val platform = name.u16(p)
      val encoding = name.u16(p + 2)
      val nameId = name.u16(p + 6)
      val len = name.u16(p + 8)
      val off = name.u16(p + 10)
      if (strOff + off + len > name.b.length) fail()
      if (nameId == 1 || nameId == 4) {
        val bytes = java.util.Arrays.copyOfRange(name.b, strOff + off, strOff + off + len)
        decodeName(platform, encoding, bytes).foreach { v =>
          val prio = if (platform == 3) 2 else 1 // Windows names win, per convention
          if (nameId == 1 && family.forall(_._1 < prio)) family = Some((prio, v))
          if (nameId == 4 && full.forall(_._1 < prio)) full = Some((prio, v))
        }
      }
    }
    FontMeta(id, container, nTables.toLong, unitsPerEm.toLong, numGlyphs.toLong,
      family.map(_._2).getOrElse(fail()), full.map(_._2).getOrElse(fail()),
      weight, count.toLong)
  }

  private[ext] def parseFontSafe(id: Long, b: Array[Byte]): Option[FontMeta] =
    try Some(parseFont(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `ttf_meta`: font metadata for curation. Map-only. */
  def ttfMeta(docs: DataFrame, idCol: String = "doc_id",
              binCol: String = "font"): Dataset[FontMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parseFontSafe(id, b) }
  }
}
