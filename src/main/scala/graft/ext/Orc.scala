package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ORC file-format internals, from scratch — the other columnar format
  * a 100 TB lake actually contains (Hive-era tables, Trino exports),
  * written and read at the byte level with no ORC library, the sibling
  * of [[ParquetFile]] on the storage-introspection shelf.
  *
  * Implemented per the published ORC v1 specification (orc.apache.org's
  * spec + `orc_proto.proto`):
  *
  *  - '''protobuf wire format''' (shared flavor with [[TfExample]],
  *    local helpers per house style, varints from [[Bits]]): varints, length-delimited
  *    messages, PACKED repeated uint32 (Type.subtypes,
  *    PostScript.version), unknown fields skipped by wire type;
  *  - '''file layout''': `ORC` magic, stripes (data streams + stripe
  *    footer), metadata, footer, postscript, final postscript-length
  *    byte; every length cross-checked before a slice is taken;
  *  - '''compression framing''': each compressed stream is a chain of
  *    chunks under a 3-byte little-endian header `(len << 1) |
  *    isOriginal`. NONE passes through; ZLIB chunks are raw DEFLATE
  *    (the shared from-scratch [[Multimodal.inflate]]); SNAPPY chunks
  *    ride the from-scratch [[Snappy.decompress]]. LZO/LZ4/ZSTD files
  *    quarantine at the postscript (documented subset boundary — their
  *    FOOTERS are compressed too, so nothing can surface).
  *  - '''RLEv2''', all four sub-encodings READ (SHORT_REPEAT, DIRECT,
  *    PATCHED_BASE with sign-magnitude base + gap/patch list, DELTA
  *    fixed and variable) and three WRITTEN (the fixture cycles
  *    SHORT_REPEAT / DIRECT / DELTA so the reader's arms are graded by
  *    the round-trip, and PATCHED_BASE by the orc-core differential);
  *    RLEv1 and byte-RLE/boolean PRESENT streams are also read.
  *  - '''column encodings''': integer DIRECT_V2 (and legacy DIRECT =
  *    RLEv1), string DIRECT_V2 (length + data streams) and
  *    DICTIONARY_V2 (sorted dictionary + index stream), FLOAT/DOUBLE
  *    IEEE 754 little-endian. Columns outside the subset (timestamps,
  *    decimals, nested types, columns with NULLs in their PRESENT
  *    stream) surface their METADATA row (vtype 'm') — only structural
  *    damage quarantines the file.
  *
  * Grading is three-sided (OrcSpec), mirroring [[ParquetFile]]: (1) the
  * bitwise DuckDB oracle replays per-stripe per-column aggregates of
  * the decoded values; (2) SPARK ITSELF (orc-core underneath) reads the
  * from-scratch files and must see the exact fixture rows; (3) the
  * reader runs against REAL orc-core-written files — Spark-written with
  * NONE, SNAPPY and ZLIB codecs — and must both agree with orc-core's
  * `Reader` field-for-field on the footer AND decode the values
  * bit-exact, including a column engineered to force PATCHED_BASE.
  *
  * Scale shape: map-only per file, zero shuffles; at 100 TB the tail
  * walk is a range read, and per-stripe decode never materializes more
  * than one stripe's streams.
  */
object Orc {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private val KindNames = Array("BOOLEAN", "BYTE", "SHORT", "INT", "LONG", "FLOAT",
    "DOUBLE", "STRING", "BINARY", "TIMESTAMP", "LIST", "MAP", "STRUCT", "UNION",
    "DECIMAL", "DATE", "VARCHAR", "CHAR", "TIMESTAMP_INSTANT")
  private val EncNames = Array("DIRECT", "DICTIONARY", "DIRECT_V2", "DICTIONARY_V2")
  private[ext] val CodecNames = Array("NONE", "ZLIB", "SNAPPY", "LZO", "LZ4", "ZSTD", "BROTLI")

  // ------------------------------------------------------------- fixture

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"orcf:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nRows(id: Long): Int = 3 + nib(id, 1) % 4
  private[ext] val RowsPerStripe = 3

  private[ext] def idVal(id: Long, k: Int): Long = id * 100 + k
  private[ext] def titleVal(id: Long, k: Int): String =
    s"row $k of orc $id: ${words(nib(id, 2 + k) % 8)}" +
      (if ((id + k) % 3 == 0) " é" else "")
  private[ext] def scoreVal(id: Long, k: Int): Double =
    (nib(id, 9 + k) + 4 * k + id % 7) / 4.0
  /** Constant per document, NEGATIVE for half the corpus — the signed
    * zigzag path of SHORT_REPEAT is graded, not just asserted.
    */
  private[ext] def catVal(id: Long): Long = nib(id, 16) % 13 - 6

  // ---- protobuf wire writer (local per house style; flavor as TfExample)

  private def pbTag(out: java.io.ByteArrayOutputStream, field: Int, wire: Int): Unit =
    Bits.writeUvarint(out, (field.toLong << 3) | wire)
  private def pbU64(out: java.io.ByteArrayOutputStream, field: Int, v: Long): Unit = {
    pbTag(out, field, 0); Bits.writeUvarint(out, v)
  }
  private def pbBytes(out: java.io.ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    pbTag(out, field, 2); Bits.writeUvarint(out, b.length.toLong); out.write(b, 0, b.length)
  }
  private def pbMsg(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(); build(o); o.toByteArray
  }

  // ---- RLEv2 writer (SHORT_REPEAT / DIRECT / DELTA-fixed arms)

  private val FixedWidths = Array(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64)
  private def closestWidth(w: Int): Int = {
    var i = 0
    while (FixedWidths(i) < w) i += 1
    FixedWidths(i)
  }
  private def bitsNeeded(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v | 1L)

  private def packBits(out: java.io.ByteArrayOutputStream, vals: Array[Long], w: Int): Unit = {
    var cur = 0
    var bits = 0
    vals.foreach { v =>
      var rem = w
      while (rem > 0) {
        val take = math.min(8 - bits, rem)
        cur = (cur << take) | ((v >>> (rem - take)) & ((1L << take) - 1L)).toInt
        bits += take
        rem -= take
        if (bits == 8) { out.write(cur); cur = 0; bits = 0 }
      }
    }
    if (bits > 0) out.write(cur << (8 - bits))
  }

  /** SHORT_REPEAT: one value repeated 3..10 times. */
  private[ext] def rleShortRepeat(out: java.io.ByteArrayOutputStream, value: Long,
      len: Int, signed: Boolean): Unit = {
    require(len >= 3 && len <= 10)
    val u = if (signed) Bits.zigzag(value) else value
    val w = math.max(1, (bitsNeeded(u) + 7) / 8)
    out.write(((w - 1) << 3) | (len - 3))
    var i = w - 1
    while (i >= 0) { out.write(((u >>> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  /** DIRECT: up to 512 values bit-packed at the closest fixed width. */
  private[ext] def rleDirect(out: java.io.ByteArrayOutputStream, values: Array[Long],
      signed: Boolean): Unit = {
    require(values.nonEmpty && values.length <= 512)
    val us = values.map(v => if (signed) Bits.zigzag(v) else v)
    val w = closestWidth(us.map(bitsNeeded).max)
    val code = FixedWidths.indexOf(w)
    val l1 = values.length - 1
    out.write((1 << 6) | (code << 1) | ((l1 >> 8) & 1))
    out.write(l1 & 0xff)
    packBits(out, us, w)
  }

  /** DELTA with a fixed delta (width code 0): base + delta * i. */
  private[ext] def rleFixedDelta(out: java.io.ByteArrayOutputStream, base: Long,
      delta: Long, len: Int, signed: Boolean): Unit = {
    require(len >= 2 && len <= 512)
    val l1 = len - 1
    out.write((3 << 6) | ((l1 >> 8) & 1))
    out.write(l1 & 0xff)
    Bits.writeUvarint(out, if (signed) Bits.zigzag(base) else base)
    Bits.writeUvarint(out, Bits.zigzag(delta)) // the delta is ALWAYS a signed varint
  }

  private def leDouble(out: java.io.ByteArrayOutputStream, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 0
    while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  // ------------------------------------------------------------- writer

  private[ext] def renderOrc(id: Long): Array[Byte] = {
    val n = nRows(id)
    val stripeRows = (0 until n).grouped(RowsPerStripe).toSeq
    val out = new java.io.ByteArrayOutputStream()
    out.write("ORC".getBytes("ISO-8859-1"))

    final case class StripeInfo(offset: Long, dataLength: Long, footerLength: Long, rows: Long)
    val stripes = stripeRows.map { ks =>
      val offset = out.size.toLong
      // col 1 (id): consecutive longs — DELTA when the stripe has >= 2 rows
      val s1 = pbMsg { o =>
        if (ks.length >= 2) rleFixedDelta(o, idVal(id, ks.head), 1L, ks.length, signed = true)
        else rleDirect(o, ks.map(idVal(id, _)).toArray, signed = true)
      }
      // col 2 (title): DATA = concatenated utf-8; LENGTH = DIRECT unsigned
      val titles = ks.map(titleVal(id, _))
      val s2data = titles.mkString("").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val s2len = pbMsg { o =>
        rleDirect(o, titles.map(_.getBytes("UTF-8").length.toLong).toArray, signed = false)
      }
      // col 3 (score): IEEE 754 LE doubles
      val s3 = pbMsg(o => ks.foreach(k => leDouble(o, scoreVal(id, k))))
      // col 4 (cat): constant — SHORT_REPEAT for full stripes, DIRECT tails
      val s4 = pbMsg { o =>
        if (ks.length >= 3) rleShortRepeat(o, catVal(id), ks.length, signed = true)
        else rleDirect(o, Array.fill(ks.length)(catVal(id)), signed = true)
      }
      val streams = Seq((1, 1, s1), (1, 2, s2data), (2, 2, s2len), (1, 3, s3), (1, 4, s4))
      streams.foreach { case (_, _, b) => out.write(b, 0, b.length) }
      val dataLength = streams.map(_._3.length.toLong).sum
      val sf = pbMsg { o =>
        streams.foreach { case (kind, column, b) =>
          pbBytes(o, 1, pbMsg { s =>
            pbU64(s, 1, kind.toLong)
            pbU64(s, 2, column.toLong)
            pbU64(s, 3, b.length.toLong)
          })
        }
        // encodings for columns 0..4
        Seq(0, 2, 2, 0, 2).foreach(e => pbBytes(o, 2, pbMsg(s => pbU64(s, 1, e.toLong))))
      }
      out.write(sf, 0, sf.length)
      StripeInfo(offset, dataLength, sf.length.toLong, ks.length.toLong)
    }
    val contentLength = out.size.toLong - 3

    // footer (metadata section is empty: metadataLength = 0)
    val footer = pbMsg { o =>
      pbU64(o, 1, 3L) // headerLength
      pbU64(o, 2, contentLength)
      stripes.foreach { s =>
        pbBytes(o, 3, pbMsg { si =>
          pbU64(si, 1, s.offset)
          pbU64(si, 2, 0L) // indexLength: no index streams
          pbU64(si, 3, s.dataLength)
          pbU64(si, 4, s.footerLength)
          pbU64(si, 5, s.rows)
        })
      }
      // types, preorder: 0 struct<id,title,score,cat>, then the leaves
      pbBytes(o, 4, pbMsg { t =>
        pbU64(t, 1, 12L) // STRUCT
        pbBytes(t, 2, pbMsg(p => Seq(1L, 2L, 3L, 4L).foreach(Bits.writeUvarint(p, _)))) // packed subtypes
        Seq("id", "title", "score", "cat").foreach(nm => pbBytes(t, 3, nm.getBytes("UTF-8")))
      })
      Seq(4L, 7L, 6L, 4L).foreach(kind => pbBytes(o, 4, pbMsg(t => pbU64(t, 1, kind))))
      pbU64(o, 6, n.toLong) // numberOfRows
      pbU64(o, 8, 0L) // rowIndexStride: no row index
      pbU64(o, 9, 0L) // writer: ORC_JAVA id space
    }
    out.write(footer, 0, footer.length)
    val ps = pbMsg { o =>
      pbU64(o, 1, footer.length.toLong)
      pbU64(o, 2, 0L) // compression NONE
      pbU64(o, 3, 64L * 1024L) // compressionBlockSize
      pbBytes(o, 4, pbMsg(p => Seq(0L, 12L).foreach(Bits.writeUvarint(p, _)))) // version [0,12]
      pbU64(o, 5, 0L) // metadataLength
      pbU64(o, 6, 9L) // writerVersion (modern: no legacy bug workarounds)
      pbBytes(o, 8000, "ORC".getBytes("ISO-8859-1"))
    }
    out.write(ps, 0, ps.length)
    require(ps.length <= 255)
    out.write(ps.length)
    out.toByteArray
  }

  /** Fixture writer: one ORC file per document row. */
  def encodeOrc(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "orc")(renderOrc)

  // --------------------------------------------------------------- reader

  private final class MalformedOrc
      extends RuntimeException("malformed orc", null, false, false)
  private def fail(): Nothing = throw new MalformedOrc

  /** protobuf wire reader over a byte range. */
  private final class PReader(b: Array[Byte], from: Int, until: Int)
      extends Bits.WireReader(b, from, until) {
    def fail(): Nothing = Orc.fail()
  }

  // ---- compression chunk framing

  /** Decode one stream's bytes under the file codec. Returns null for
    * codecs outside the subset (LZO/LZ4/ZSTD/BROTLI).
    */
  private def streamBytes(b: Array[Byte], from: Int, until: Int, codec: Int,
      maxOut: Int): Array[Byte] = {
    if (from < 0 || until > b.length || from > until) fail()
    codec match {
      case 0 => java.util.Arrays.copyOfRange(b, from, until)
      case 1 | 2 =>
        val out = new java.io.ByteArrayOutputStream(math.min(maxOut, 1 + 2 * (until - from)))
        var p = from
        while (p < until) {
          if (p + 3 > until) fail()
          val h = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
          val original = (h & 1) == 1
          val clen = h >>> 1
          p += 3
          if (clen <= 0 || clen > until - p) fail()
          if (original) out.write(b, p, clen)
          else if (codec == 1) {
            // size-hinted: a bare maxOut here allocates the full cap (a
            // G1-humongous zeroed array) per few-KB chunk — the allocation
            // storm that stalled the avro sibling's bench reps
            val d = Multimodal.inflateWithEnd(b, p, p + clen, maxOut,
              sizeHint = math.min(maxOut, 4 * clen + 1024))._1
            out.write(d, 0, d.length)
          } else {
            val d = try Snappy.decompress(java.util.Arrays.copyOfRange(b, p, p + clen), maxOut)
            catch { case scala.util.control.NonFatal(_) => fail() }
            out.write(d, 0, d.length)
          }
          p += clen
          if (out.size > maxOut) fail()
        }
        out.toByteArray
      case _ => null
    }
  }

  // ---- integer decoders

  private def unpackBits(r: PReader, n: Int, w: Int): Array[Long] = {
    if (n < 0 || n > (1 << 22)) fail()
    val out = new Array[Long](n)
    var cur = 0
    var bits = 0
    var i = 0
    while (i < n) {
      var v = 0L
      var rem = w
      while (rem > 0) {
        if (bits == 0) {
          cur = r.u8()
          bits = 8
        }
        val take = math.min(bits, rem)
        v = (v << take) | ((cur >>> (bits - take)) & ((1 << take) - 1))
        bits -= take
        rem -= take
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** RLEv2 signed/unsigned integer stream → exactly `n` values. */
  private[ext] def decodeRleV2(bytes: Array[Byte], signed: Boolean, n: Int): Array[Long] = {
    val r = new PReader(bytes, 0, bytes.length)
    val out = new Array[Long](n)
    var have = 0
    while (have < n) {
      val first = r.u8()
      (first >>> 6) match {
        case 0 => // SHORT_REPEAT
          val w = ((first >>> 3) & 7) + 1
          val len = (first & 7) + 3
          if (have + len > n) fail()
          var u = 0L
          var i = 0
          while (i < w) {
            u = (u << 8) | r.u8()
            i += 1
          }
          val v = if (signed) Bits.unzigzag(u) else u
          i = 0
          while (i < len) { out(have) = v; have += 1; i += 1 }
        case 1 => // DIRECT
          val w = FixedWidths((first >>> 1) & 0x1f)
          val len = (((first & 1) << 8) | r.u8()) + 1
          if (have + len > n) fail()
          val us = unpackBits(r, len, w)
          var i = 0
          while (i < len) {
            out(have) = if (signed) Bits.unzigzag(us(i)) else us(i)
            have += 1
            i += 1
          }
        case 2 => // PATCHED_BASE
          val w = FixedWidths((first >>> 1) & 0x1f)
          if (r.pos + 3 > r.limit) fail()
          val len = (((first & 1) << 8) | (r.buf(r.pos) & 0xff)) + 1
          val third = r.buf(r.pos + 1) & 0xff
          val fourth = r.buf(r.pos + 2) & 0xff
          r.pos += 3
          val bw = ((third >>> 5) & 7) + 1
          val pw = FixedWidths(third & 0x1f)
          val pgw = ((fourth >>> 5) & 7) + 1
          val pl = fourth & 0x1f
          if (have + len > n || pw + pgw > 64) fail()
          // base: bw bytes big-endian, SIGN-MAGNITUDE (msb = sign)
          var base = 0L
          var i = 0
          while (i < bw) {
            base = (base << 8) | r.u8()
            i += 1
          }
          val signMask = 1L << (bw * 8 - 1)
          if ((base & signMask) != 0) base = -(base & (signMask - 1))
          val data = unpackBits(r, len, w)
          val patches = unpackBits(r, pl, closestWidth(math.max(pw + pgw, 1)))
          val patchMask = (1L << pw) - 1L
          var patchIdx = 0
          var gap = -1L
          var patchVal = 0L
          def advancePatch(fromPos: Long): Unit = {
            var g = 0L
            var ok = false
            while (!ok && patchIdx < pl) {
              val e = patches(patchIdx)
              patchIdx += 1
              val cg = e >>> pw
              val cp = e & patchMask
              g += cg
              if (cg == 255 && cp == 0) () // gap extender, keep accumulating
              else { gap = fromPos + g; patchVal = cp; ok = true }
            }
            if (!ok) gap = -1L
          }
          advancePatch(0L)
          i = 0
          while (i < len) {
            var v = data(i)
            if (gap == i) {
              if (patchVal != 0) v |= patchVal << w
              advancePatch(i.toLong)
            }
            out(have) = base + v
            have += 1
            i += 1
          }
        case _ => // DELTA — header stores (values - 1); first value is separate
          val code = (first >>> 1) & 0x1f
          val raw = ((first & 1) << 8) | r.u8()
          if (have + raw + 1 > n) fail()
          val base = if (signed) Bits.unzigzag(r.varint()) else r.varint()
          val d0 = Bits.unzigzag(r.varint())
          out(have) = base
          have += 1
          if (code == 0) { // fixed delta: raw more values
            var v = base
            var i = 0
            while (i < raw) { v += d0; out(have) = v; have += 1; i += 1 }
          } else { // variable: second value = base + d0, then raw-1 packed deltas
            if (raw < 1) fail()
            val w = FixedWidths(code)
            var v = base + d0
            out(have) = v
            have += 1
            val deltas = unpackBits(r, raw - 1, w)
            val sign = if (d0 < 0) -1L else 1L
            var i = 0
            while (i < raw - 1) { v += sign * deltas(i); out(have) = v; have += 1; i += 1 }
          }
      }
    }
    if (have != n) fail()
    out
  }

  /** RLEv1 (legacy DIRECT integer encoding). */
  private[ext] def decodeRleV1(bytes: Array[Byte], signed: Boolean, n: Int): Array[Long] = {
    val r = new PReader(bytes, 0, bytes.length)
    val out = new Array[Long](n)
    var have = 0
    def value(): Long = if (signed) Bits.unzigzag(r.varint()) else r.varint()
    while (have < n) {
      if (r.pos >= r.limit) fail()
      val c = r.buf(r.pos)
      r.pos += 1
      if (c >= 0) { // run: c + 3 copies of base, stepping by a signed delta byte
        val len = c + 3
        if (have + len > n || r.pos >= r.limit) fail()
        val delta = r.buf(r.pos).toLong // two's complement byte
        r.pos += 1
        var v = value()
        var i = 0
        while (i < len) { out(have) = v; have += 1; v += delta; i += 1 }
      } else { // literals
        val len = -c
        if (have + len > n) fail()
        var i = 0
        while (i < len) { out(have) = value(); have += 1; i += 1 }
      }
    }
    out
  }

  /** Byte-RLE → exactly `n` bytes (PRESENT streams ride this as bits). */
  private def decodeByteRle(bytes: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var have = 0
    var p = 0
    while (have < n) {
      if (p >= bytes.length) fail()
      val c = bytes(p)
      p += 1
      if (c >= 0) {
        val len = c + 3
        if (have + len > n || p >= bytes.length) fail()
        val v = bytes(p)
        p += 1
        var i = 0
        while (i < len) { out(have) = v; have += 1; i += 1 }
      } else {
        val len = -c.toInt
        if (have + len > n || p + len > bytes.length) fail()
        System.arraycopy(bytes, p, out, have, len)
        p += len
        have += len
      }
    }
    out
  }

  /** PRESENT stream: n bits, MSB-first over byte-RLE. True = non-null. */
  private def decodePresent(bytes: Array[Byte], n: Int): Array[Boolean] = {
    val raw = decodeByteRle(bytes, (n + 7) / 8)
    Array.tabulate(n)(i => ((raw(i / 8) >> (7 - i % 8)) & 1) != 0)
  }

  // ---- protobuf message readers

  private final case class PsInfo(footerLength: Long, compression: Int,
    metadataLength: Long, magicOk: Boolean)

  private def parsePostScript(b: Array[Byte], from: Int, until: Int): PsInfo = {
    val r = new PReader(b, from, until)
    var fl = -1L
    var comp = 0
    var ml = 0L
    var magic = false
    while (r.more) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => fl = r.varint()
        case (2, 0) => comp = r.varint().toInt
        case (5, 0) => ml = r.varint()
        case (8000, 2) =>
          val (s, e) = r.lenDelim()
          magic = e - s == 3 && b(s) == 'O' && b(s + 1) == 'R' && b(s + 2) == 'C'
        case (_, w) => r.skip(w)
      }
    }
    if (fl < 0) fail()
    PsInfo(fl, comp, ml, magic)
  }

  private[ext] final case class OrcStripe(offset: Long, indexLength: Long,
    dataLength: Long, footerLength: Long, numRows: Long)
  private[ext] final case class OrcType(kind: Int, subtypes: Seq[Int], fieldNames: Seq[String])
  private[ext] final case class OrcFooter(numRows: Long, stripes: Seq[OrcStripe],
    types: Seq[OrcType], rowIndexStride: Long)

  private def parseStripeInfo(b: Array[Byte], from: Int, until: Int): OrcStripe = {
    val r = new PReader(b, from, until)
    var off = -1L; var il = 0L; var dl = -1L; var fl = -1L; var rows = -1L
    while (r.more) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => off = r.varint()
        case (2, 0) => il = r.varint()
        case (3, 0) => dl = r.varint()
        case (4, 0) => fl = r.varint()
        case (5, 0) => rows = r.varint()
        case (_, w) => r.skip(w)
      }
    }
    if (off < 0 || il < 0 || dl < 0 || fl < 0 || rows < 0) fail()
    OrcStripe(off, il, dl, fl, rows)
  }

  private def parseType(b: Array[Byte], from: Int, until: Int): OrcType = {
    val r = new PReader(b, from, until)
    var kind = -1
    val subs = Vector.newBuilder[Int]
    val names = Vector.newBuilder[String]
    while (r.more) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => kind = r.varint().toInt
        case (2, 2) => // packed subtypes
          val (s, e) = r.lenDelim()
          val pr = new PReader(b, s, e)
          while (pr.more) subs += pr.varint().toInt
        case (2, 0) => subs += r.varint().toInt // unpacked form is legal too
        case (3, 2) =>
          val (s, e) = r.lenDelim()
          names += new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
        case (_, w) => r.skip(w)
      }
    }
    if (kind < 0) fail()
    OrcType(kind, subs.result(), names.result())
  }

  private def parseFooterPb(b: Array[Byte]): OrcFooter = {
    val r = new PReader(b, 0, b.length)
    var numRows = -1L
    var stride = 0L
    val stripes = Vector.newBuilder[OrcStripe]
    val types = Vector.newBuilder[OrcType]
    while (r.more) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (3, 2) => val (s, e) = r.lenDelim(); stripes += parseStripeInfo(b, s, e)
        case (4, 2) => val (s, e) = r.lenDelim(); types += parseType(b, s, e)
        case (6, 0) => numRows = r.varint()
        case (8, 0) => stride = r.varint()
        case (_, w) => r.skip(w)
      }
    }
    if (numRows < 0) fail()
    OrcFooter(numRows, stripes.result(), types.result(), stride)
  }

  private final case class OrcStream(kind: Int, column: Int, length: Long)
  private final case class StripeFooterPb(streams: Seq[OrcStream], encodings: Seq[Int],
    dictSizes: Seq[Int])

  private def parseStripeFooter(b: Array[Byte]): StripeFooterPb = {
    val r = new PReader(b, 0, b.length)
    val streams = Vector.newBuilder[OrcStream]
    val encs = Vector.newBuilder[Int]
    val dicts = Vector.newBuilder[Int]
    while (r.more) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) =>
          val (s, e) = r.lenDelim()
          val sr = new PReader(b, s, e)
          var kind = -1; var column = -1; var length = -1L
          while (sr.more) {
            val t2 = sr.varint()
            ((t2 >>> 3).toInt, (t2 & 7).toInt) match {
              case (1, 0) => kind = sr.varint().toInt
              case (2, 0) => column = sr.varint().toInt
              case (3, 0) => length = sr.varint()
              case (_, w) => sr.skip(w)
            }
          }
          if (kind < 0 || column < 0 || length < 0) fail()
          streams += OrcStream(kind, column, length)
        case (2, 2) =>
          val (s, e) = r.lenDelim()
          val er = new PReader(b, s, e)
          var enc = 0; var dict = 0
          while (er.more) {
            val t2 = er.varint()
            ((t2 >>> 3).toInt, (t2 & 7).toInt) match {
              case (1, 0) => enc = er.varint().toInt
              case (2, 0) => dict = er.varint().toInt
              case (_, w) => er.skip(w)
            }
          }
          encs += enc
          dicts += dict
        case (_, w) => r.skip(w)
      }
    }
    StripeFooterPb(streams.result(), encs.result(), dicts.result())
  }

  // ---- the file walk

  final case class OrcColStat(
    doc_id: Long, stripe: Long, col_idx: Long, name: String,
    ctype: String, enc: String, n_vals: Long, vtype: String,
    i_sum: Option[Long], r_sum: Option[Double],
    s_bytes: Option[Long], s_checksum: Option[Long])

  private val MaxStream = 1 << 26

  /** Column names by preorder id: root struct children get their field
    * names; deeper nesting dotted through parents.
    */
  private def columnNames(types: Seq[OrcType]): Map[Int, String] = {
    if (types.isEmpty || types.length > (1 << 16)) fail()
    val out = scala.collection.mutable.Map[Int, String]()
    // explicit stack, not recursion: a corrupt footer can chain tens of
    // thousands of single-child types, and a StackOverflowError would
    // escape the NonFatal quarantine and kill the task
    var stack = List((0, ""))
    while (stack.nonEmpty) {
      val (id, prefix) = stack.head
      stack = stack.tail
      if (id < 0 || id >= types.length) fail()
      val t = types(id)
      t.subtypes.zipWithIndex.foreach { case (sub, i) =>
        // preorder ids strictly increase down the tree — anything else is
        // a cycle or a forward reference, both damage
        if (sub <= id || out.contains(sub)) fail()
        val nm =
          if (t.kind == 12 && i < t.fieldNames.length) t.fieldNames(i)
          else s"_col$i"
        val full = if (prefix.isEmpty) nm else s"$prefix.$nm"
        out(sub) = full
        stack = (sub, full) :: stack
      }
    }
    out.toMap
  }

  private[ext] def parseOrc(id: Long, bytes: Array[Byte]): Seq[OrcColStat] = {
    val n = Option(bytes).map(_.length).getOrElse(fail())
    if (n < 8) fail()
    if (bytes(0) != 'O' || bytes(1) != 'R' || bytes(2) != 'C') fail()
    val psLen = bytes(n - 1) & 0xff
    if (psLen <= 0 || psLen > n - 2) fail()
    val ps = parsePostScript(bytes, n - 1 - psLen, n - 1)
    if (!ps.magicOk) fail()
    if (ps.compression < 0 || ps.compression >= CodecNames.length) fail()
    if (ps.compression > 2) fail() // LZO/LZ4/ZSTD/BROTLI: footer unreachable
    if (ps.footerLength <= 0 || ps.footerLength > n.toLong - 1 - psLen) fail()
    val footerStart = n - 1 - psLen - ps.footerLength.toInt
    val footerBytes = streamBytes(bytes, footerStart, footerStart + ps.footerLength.toInt,
      ps.compression, MaxStream)
    val footer = parseFooterPb(footerBytes)
    if (footer.stripes.map(_.numRows).sum != footer.numRows) fail()
    val names = columnNames(footer.types)

    footer.stripes.zipWithIndex.flatMap { case (st, si) =>
      // each term individually bounded BEFORE the sum: negative varints
      // are rejected in parseStripeInfo, and capping every length at the
      // footer start makes the four-term sum overflow-free
      if (st.offset < 3 || st.offset > footerStart ||
        st.indexLength > footerStart || st.dataLength > footerStart ||
        st.footerLength > footerStart ||
        st.offset + st.indexLength + st.dataLength + st.footerLength > footerStart) fail()
      val sfStart = (st.offset + st.indexLength + st.dataLength).toInt
      val sf = parseStripeFooter(
        streamBytes(bytes, sfStart, sfStart + st.footerLength.toInt, ps.compression, MaxStream))
      if (sf.encodings.length != footer.types.length) fail()
      // physical stream offsets: footer order IS file order (index region
      // first, then data); each stream's compressed length is st.length
      var pos = st.offset
      val located = sf.streams.map { s =>
        val at = pos
        pos += s.length
        (s, at)
      }
      if (pos != st.offset + st.indexLength + st.dataLength) fail()
      def stream(column: Int, kind: Int): Option[Array[Byte]] =
        located.find(ls => ls._1.column == column && ls._1.kind == kind).map { case (s, at) =>
          val out = streamBytes(bytes, at.toInt, (at + s.length).toInt, ps.compression, MaxStream)
          if (out == null) fail()
          out
        }
      if (st.numRows < 0 || st.numRows > (1 << 22)) fail() // bound the LONG first
      val rows = st.numRows.toInt

      (1 until footer.types.length).map { ci =>
        val t = footer.types(ci)
        val enc = sf.encodings(ci)
        if (t.kind < 0 || t.kind >= KindNames.length) fail()
        if (enc < 0 || enc >= EncNames.length) fail()
        val name = names.getOrElse(ci, s"_col$ci")

        // decode subset: leaf int/double/string columns with no NULLs
        val present = stream(ci, 0)
        val allPresent = present.forall { pb =>
          try decodePresent(pb, rows).forall(identity)
          catch { case _: MalformedOrc => fail() }
        }
        val decoded: Option[(String, Option[Long], Option[Double], Option[Long], Option[Long])] =
          if (!allPresent) None
          else {
            t.kind match {
              case 2 | 3 | 4 => // SHORT/INT/LONG
                stream(ci, 1).flatMap { data =>
                  val vs = enc match {
                    case 0 => decodeRleV1(data, signed = true, rows)
                    case 2 => decodeRleV2(data, signed = true, rows)
                    case _ => null
                  }
                  Option(vs).map(v => ("i", Some(v.sum), None, None, None))
                }
              case 5 | 6 => // FLOAT/DOUBLE, IEEE LE
                if (enc != 0) None
                else stream(ci, 1).flatMap { data =>
                  val width = if (t.kind == 5) 4 else 8
                  if (data.length != rows * width) None
                  else {
                    var sum = 0.0
                    var i = 0
                    while (i < rows) {
                      var u = 0L
                      var j = width - 1
                      while (j >= 0) { u = (u << 8) | (data(i * width + j) & 0xffL); j -= 1 }
                      sum += (if (t.kind == 5) java.lang.Float.intBitsToFloat(u.toInt).toDouble
                      else java.lang.Double.longBitsToDouble(u))
                      i += 1
                    }
                    Some(("f", None, Some(sum), None, None))
                  }
                }
              case 7 => // STRING
                def stats(all: Array[Byte]): (String, Option[Long], Option[Double], Option[Long], Option[Long]) = {
                  var ck = 0L
                  all.foreach(x => ck = (ck * 31 + (x & 0xff)) % 1000000007L)
                  ("s", None, None, Some(all.length.toLong), Some(ck))
                }
                enc match {
                  case 2 => // DIRECT_V2: DATA bytes + LENGTH rle
                    for (data <- stream(ci, 1); lens <- stream(ci, 2)) yield {
                      val ls = decodeRleV2(lens, signed = false, rows)
                      if (ls.exists(_ < 0) || ls.sum != data.length.toLong) fail()
                      stats(data)
                    }
                  case 3 => // DICTIONARY_V2: DATA indices + DICTIONARY_DATA + LENGTH
                    for (idx <- stream(ci, 1); dict <- stream(ci, 3); lens <- stream(ci, 2)) yield {
                      val dn = sf.dictSizes(ci)
                      if (dn < 0 || dn > (1 << 22)) fail()
                      val ls = decodeRleV2(lens, signed = false, dn)
                      val offs = new Array[Int](dn + 1)
                      var i = 0
                      while (i < dn) {
                        if (ls(i) < 0 || ls(i) > dict.length) fail()
                        offs(i + 1) = offs(i) + ls(i).toInt
                        i += 1
                      }
                      if (offs(dn) != dict.length) fail()
                      val ids = decodeRleV2(idx, signed = false, rows)
                      val out = new java.io.ByteArrayOutputStream()
                      ids.foreach { d =>
                        if (d < 0 || d >= dn) fail()
                        out.write(dict, offs(d.toInt), offs(d.toInt + 1) - offs(d.toInt))
                      }
                      stats(out.toByteArray)
                    }
                  case _ => None
                }
              case _ => None
            }
          }
        decoded match {
          case Some((vt, is, rs, sb, sc)) =>
            OrcColStat(id, si.toLong, ci.toLong, name, KindNames(t.kind), EncNames(enc),
              st.numRows, vt, is, rs, sb, sc)
          case None =>
            OrcColStat(id, si.toLong, ci.toLong, name, KindNames(t.kind), EncNames(enc),
              st.numRows, "m", None, None, None, None)
        }
      }
    }
  }

  /** Test hook: the decompressed DATA stream of `column` in stripe 0 —
    * lets OrcSpec assert WHICH RLEv2 sub-encoding a foreign writer chose
    * (first-byte tag), so the patched-base path is provably graded.
    */
  private[ext] def dataStreamBytes(bytes: Array[Byte], column: Int): Array[Byte] = {
    val n = bytes.length
    val psLen = bytes(n - 1) & 0xff
    val ps = parsePostScript(bytes, n - 1 - psLen, n - 1)
    val footerStart = n - 1 - psLen - ps.footerLength.toInt
    val footer = parseFooterPb(
      streamBytes(bytes, footerStart, footerStart + ps.footerLength.toInt, ps.compression, MaxStream))
    val st = footer.stripes.head
    val sfStart = (st.offset + st.indexLength + st.dataLength).toInt
    val sf = parseStripeFooter(
      streamBytes(bytes, sfStart, sfStart + st.footerLength.toInt, ps.compression, MaxStream))
    var pos = st.offset
    sf.streams.flatMap { s =>
      val at = pos
      pos += s.length
      if (s.column == column && s.kind == 1)
        Some(streamBytes(bytes, at.toInt, (at + s.length).toInt, ps.compression, MaxStream))
      else None
    }.head
  }

  private[ext] def parseOrcSafe(id: Long, bytes: Array[Byte]): Seq[OrcColStat] =
    try parseOrc(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `orc_meta`: stripe walk + decoded-value statistics of every column
    * of every stripe. Map-only.
    */
  def orcMeta(docs: DataFrame, idCol: String = "doc_id",
              binCol: String = "orc"): Dataset[OrcColStat] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseOrcSafe(id, b) }
  }
}
