package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL image format: baseline TIFF (strips, both endians) ====
  *
  * The scan/scientific-corpus format: datasets of digitized documents,
  * medical imagery and remote sensing overwhelmingly ship as baseline
  * TIFF, and a multimodal ingest stack that stops at PNG/JPEG drops
  * them. This implements the baseline RGB subset both directions:
  *
  *  - the dual-endian container ("II"/"MM" + magic 42), IFD walk with
  *    typed 12-byte entries (SHORT/LONG, inline-vs-offset values per
  *    the 4-byte rule), the ten baseline tags an RGB strip file needs,
  *    and STRIP assembly (RowsPerStrip segmentation, per-strip offsets
  *    and byte counts, short last strip);
  *  - three live compressions: none, PackBits (the spec's RLE — literal
  *    runs, replicate runs, the -128 noop), and TIFF-variant LZW —
  *    MSB-first code packing with the EARLY-CHANGE width bump (one code
  *    sooner than GIF's LSB-first variant, which [[Multimodal]] already
  *    implements from scratch; the two coders share nothing, which is
  *    the point: both live under their own bitwise gates).
  *
  * Decoded output is normalized to the shared [[Multimodal.PpmImage]]
  * logical plane, so every downstream pixel operator works on TIFF
  * input unchanged, and the oracle replay is the SAME byte model as
  * PNG/GIF (plane byte k = text byte k % n — compression is
  * transparent). Differential: javax.imageio's TIFF plugin (JDK 9+)
  * decodes our writer's files byte-exactly and our reader decodes
  * ImageIO-written LZW/PackBits/none files, both directions in
  * TiffSpec. Malformed structures return None (the multimodal
  * malformed-drop convention); dimensions are attacker-controlled and
  * capped before any allocation.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * image surface; north-star multimodal scope. 100 TB shape: map-only
  * per payload, zero shuffles.
  */
object Tiff {

  import Multimodal.PpmImage

  // --------------------------------------------------------- PackBits

  private[ext] def packBitsDecode(src: Array[Byte], expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var o = 0
    var i = 0
    while (o < expected) {
      if (i >= src.length) return None
      val ctrl = src(i)
      i += 1
      if (ctrl >= 0) {
        val n = ctrl + 1
        if (i + n > src.length || o + n > expected) return None
        System.arraycopy(src, i, out, o, n)
        i += n; o += n
      } else if (ctrl != -128) {
        val n = 1 - ctrl
        if (i >= src.length || o + n > expected) return None
        java.util.Arrays.fill(out, o, o + n, src(i))
        i += 1; o += n
      } // -128: noop
    }
    Some(out)
  }

  private[ext] def packBitsEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length + src.length / 64 + 8)
    var i = 0
    while (i < src.length) {
      var run = 1
      while (i + run < src.length && run < 128 && src(i + run) == src(i)) run += 1
      if (run >= 3) {
        out.write(1 - run) // replicate: control = -(run-1)
        out.write(src(i))
        i += run
      } else {
        // literal chunk: extend until a run of >= 3 starts or 128 bytes.
        // lit starts > 0: a >= 3 run at position i would have been taken
        // by the branch above.
        var lit = 0
        var stop = false
        while (!stop && i + lit < src.length && lit < 128) {
          if (i + lit + 2 < src.length &&
            src(i + lit) == src(i + lit + 1) && src(i + lit) == src(i + lit + 2)) stop = true
          else lit += 1
        }
        out.write(lit - 1)
        out.write(src, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------- TIFF LZW

  /** TIFF-variant LZW decode: MSB-first code packing, Clear=256,
    * EOI=257, first dynamic code 258, width 9→12 with the EARLY
    * change (width bumps when the next free code reaches 2^w − 1,
    * one code sooner than GIF).
    */
  private[ext] def lzwDecode(src: Array[Byte], expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var o = 0
    // fewer than `width` bits left reads as -1, so `fail()` is never reached
    val in = new Bits.MsbReader(src, 0, src.length) { def fail(): Nothing = throw new IllegalStateException }
    def read(width: Int): Int = if (in.bitsLeft < width) -1 else in.read(width)
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val length = new Array[Int](4096)
    def emit(code: Int): Boolean = {
      val len = if (code < 256) 1 else length(code)
      if (o + len > expected) return false
      var c = code
      var p = o + len - 1
      while (c >= 256) { out(p) = append(c); p -= 1; c = prefix(c) }
      out(p) = c.toByte
      o += len
      true
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= 256) c = prefix(c)
      c.toByte
    }
    var width = 9
    var next = 258
    var prev = -1
    def add(p: Int, b: Byte): Unit =
      if (next < 4096) {
        prefix(next) = p; append(next) = b
        length(next) = (if (p < 256) 1 else length(p)) + 1
        next += 1
        // EARLY change: bump one code sooner than the GIF variant
        if (next == (1 << width) - 1 && width < 12) width += 1
      }
    var done = false
    while (!done) {
      val code = read(width)
      if (code < 0 || code == 257) done = true // EOI, or exhaustion (length-checked below)
      else if (code == 256) {
        width = 9; next = 258; prev = -1
      } else {
        if (prev < 0) {
          if (code > 255) return None
          if (!emit(code)) return None
        } else if (code < next) {
          if (!emit(code)) return None
          add(prev, firstByte(code))
        } else if (code == next) {
          add(prev, firstByte(prev)) // KwKwK: the entry being referenced
          if (!emit(code)) return None
        } else return None
        prev = code
        if (o >= expected) done = true // strip regenerated; trailing EOI optional
      }
    }
    if (o != expected) None else Some(out)
  }

  /** TIFF-variant LZW encode (the writer side of the same early-change
    * convention; validated by self round trip AND ImageIO decode).
    */
  private[ext] def lzwEncode(src: Array[Byte]): Array[Byte] = {
    val out = new Bits.MsbWriter(src.length / 2 + 16)
    val dict = new java.util.HashMap[Long, Integer](8192)
    var width = 9
    var next = 258
    def reset(): Unit = { dict.clear(); width = 9; next = 258 }
    out.put(256, width) // Clear first, per spec
    var prev = -1
    var i = 0
    while (i < src.length) {
      val b = src(i) & 0xff
      if (prev < 0) prev = b
      else {
        val key = (prev.toLong << 8) | b
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          out.put(prev, width)
          if (next < 4094) {
            dict.put(key, Integer.valueOf(next))
            next += 1
            // the decoder's table lags the encoder's by ONE entry at
            // read time, so the encoder bumps one entry later than the
            // decoder's (1<<width)-1 early-change point
            if (next == (1 << width) && width < 12) width += 1
          } else {
            out.put(256, width)
            reset()
          }
          prev = b
        }
      }
      i += 1
    }
    if (prev >= 0) out.put(prev, width)
    out.put(257, width) // EOI
    out.toArray
  }

  // ------------------------------------------------------------ writer

  /** Deterministic TIFF fixture over the shared canvas (w = 8 + id%8,
    * h = 8 + (id/8)%8; plane byte k = text byte k % n): byte order
    * II/MM by id parity, compression none/PackBits/LZW by id % 3,
    * RowsPerStrip 2..5 by id % 4 (short last strips live on most
    * sizes), IFD at the END of the file with external value areas —
    * the layout real writers emit.
    */
  def encodeTiff(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = Option(textOrNull).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = 8 + java.lang.Math.floorMod(id, 8L).toInt
        val h = 8 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 8L), 8L).toInt
        val little = id % 2 == 0
        val compression = (id % 3) match { case 0 => 1; case 1 => 32773; case _ => 5 }
        val rowsPerStrip = 2 + (id % 4).toInt
        val plane = new Array[Byte](3 * w * h)
        var k = 0
        while (k < plane.length) {
          plane(k) = if (data.length == 0) 0 else data(k % data.length)
          k += 1
        }
        val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
        val strips = (0 until nStrips).map { s =>
          val rows = math.min(rowsPerStrip, h - s * rowsPerStrip)
          val raw = java.util.Arrays.copyOfRange(plane,
            s * rowsPerStrip * 3 * w, (s * rowsPerStrip + rows) * 3 * w)
          compression match {
            case 1 => raw
            case 32773 => packBitsEncode(raw)
            case _ => lzwEncode(raw)
          }
        }
        // ---- assemble: header, strip data, value area, IFD
        val bb = new java.io.ByteArrayOutputStream(64 + strips.map(_.length).sum + 200)
        def w16(v: Int): Unit =
          if (little) { bb.write(v & 0xff); bb.write((v >> 8) & 0xff) }
          else { bb.write((v >> 8) & 0xff); bb.write(v & 0xff) }
        def w32(v: Int): Unit =
          if (little) { bb.write(v & 0xff); bb.write((v >> 8) & 0xff); bb.write((v >> 16) & 0xff); bb.write((v >> 24) & 0xff) }
          else { bb.write((v >> 24) & 0xff); bb.write((v >> 16) & 0xff); bb.write((v >> 8) & 0xff); bb.write(v & 0xff) }
        bb.write(if (little) 'I' else 'M'); bb.write(if (little) 'I' else 'M')
        w16(42)
        val ifdOffsetPos = bb.size
        w32(0) // patched below
        val stripOffsets = new Array[Int](nStrips)
        strips.zipWithIndex.foreach { case (sdata, s) =>
          stripOffsets(s) = bb.size
          bb.write(sdata, 0, sdata.length)
        }
        if (bb.size % 2 == 1) bb.write(0) // word-align the value area
        val bpsOffset = bb.size
        w16(8); w16(8); w16(8)
        val soOffset = bb.size
        if (nStrips > 1) stripOffsets.foreach(w32)
        val sbcOffset = bb.size
        if (nStrips > 1) strips.foreach(sd => w32(sd.length))
        if (bb.size % 2 == 1) bb.write(0)
        val ifdOffset = bb.size
        // entries must be tag-sorted
        def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
          w16(tag); w16(typ); w32(count)
          if (typ == 3 && count == 1) { w16(value); w16(0) } // SHORT inline: first 2 bytes
          else w32(value)
        }
        w16(10)
        entry(256, 3, 1, w) // ImageWidth
        entry(257, 3, 1, h) // ImageLength
        entry(258, 3, 3, bpsOffset) // BitsPerSample -> offset
        entry(259, 3, 1, compression)
        entry(262, 3, 1, 2) // RGB
        entry(273, 4, nStrips, if (nStrips > 1) soOffset else stripOffsets(0))
        entry(277, 3, 1, 3) // SamplesPerPixel
        entry(278, 3, 1, rowsPerStrip)
        entry(279, 4, nStrips, if (nStrips > 1) sbcOffset else strips(0).length)
        entry(284, 3, 1, 1) // chunky
        w32(0) // next IFD
        val bytes = bb.toByteArray
        // patch the IFD offset
        def patch32(pos: Int, v: Int): Unit =
          if (little) { bytes(pos) = (v & 0xff).toByte; bytes(pos + 1) = ((v >> 8) & 0xff).toByte
            bytes(pos + 2) = ((v >> 16) & 0xff).toByte; bytes(pos + 3) = ((v >> 24) & 0xff).toByte }
          else { bytes(pos) = ((v >> 24) & 0xff).toByte; bytes(pos + 1) = ((v >> 16) & 0xff).toByte
            bytes(pos + 2) = ((v >> 8) & 0xff).toByte; bytes(pos + 3) = (v & 0xff).toByte }
        patch32(ifdOffsetPos, ifdOffset)
        (id, bytes, w, h)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/tiff").as("mime")).as("meta"))
  }

  // ------------------------------------------------------------ reader

  private[ext] def parseTiff(bytes: Array[Byte]): Option[PpmImage] = {
    val n = bytes.length
    if (n < 8) return None
    val little =
      if (bytes(0) == 'I' && bytes(1) == 'I') true
      else if (bytes(0) == 'M' && bytes(1) == 'M') false
      else return None
    def u16(p: Int): Int = {
      if (p < 0 || p + 2 > n) return -1
      if (little) (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      else ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    }
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > n) return -1L
      if (little) (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
      else ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    }
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > n) return None
    val count = u16(ifd.toInt)
    if (count <= 0 || ifd + 2 + 12L * count + 4 > n) return None
    // entry lookup: tag -> (type, count, valuePos) — valuePos is the
    // 4-byte field itself; arrays indirect through it
    var width = -1L; var height = -1L
    var compression = 1L; var photometric = -1L; var samples = 1L
    var rowsPerStrip = Long.MaxValue
    var planar = 1L
    var bpsOk = false
    var soType = 0; var soCount = 0; var soPos = -1
    var sbcType = 0; var sbcCount = 0; var sbcPos = -1
    var e = 0
    while (e < count) {
      val base = ifd.toInt + 2 + 12 * e
      val tag = u16(base)
      val typ = u16(base + 2)
      val cnt = u32(base + 4)
      val vpos = base + 8
      def scalar: Long =
        if (typ == 3) u16(vpos).toLong // SHORT inline, endian-correct
        else if (typ == 4) u32(vpos)
        else -1L
      tag match {
        case 256 => width = scalar
        case 257 => height = scalar
        case 258 =>
          if (cnt == 3) {
            val off = u32(vpos)
            bpsOk = typ == 3 && off >= 0 && off + 6 <= n &&
              u16(off.toInt) == 8 && u16(off.toInt + 2) == 8 && u16(off.toInt + 4) == 8
          } else if (cnt == 1) bpsOk = scalar == 8L // grayscale would be 1 sample; checked below
        case 259 => compression = scalar
        case 262 => photometric = scalar
        case 273 => soType = typ; soCount = cnt.toInt; soPos = vpos
        case 277 => samples = scalar
        case 278 => rowsPerStrip = scalar
        case 279 => sbcType = typ; sbcCount = cnt.toInt; sbcPos = vpos
        case 284 => planar = scalar
        case _ => // baseline readers ignore unknown tags
      }
      e += 1
    }
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14)) return None
    // Bomb guard: the decoded-pixel allocation below is 3*w*h bytes. A hostile
    // ~200-byte header declaring 2^14 x 2^14 would otherwise pre-allocate 768 MB
    // per record BEFORE any strip validation runs (24 GB dead allocation at 32
    // concurrent tasks). Cap at the family-wide 1<<26 output budget, matching
    // SevenZip/Mp4/Mp3/Ogg and the Multimodal.inflate size-hint contract.
    if (3L * width * height > (1L << 26)) return None
    if (photometric != 2L || samples != 3L || planar != 1L || !bpsOk) return None
    if (compression != 1L && compression != 5L && compression != 32773L) return None
    if (soPos < 0 || sbcPos < 0 || soCount != sbcCount || soCount <= 0) return None
    val w = width.toInt; val h = height.toInt
    val rps = if (rowsPerStrip > h) h.toLong else rowsPerStrip
    if (rps <= 0) return None
    val nStrips = ((h + rps - 1) / rps).toInt
    if (nStrips != soCount) return None
    def arrayVal(typ: Int, cnt: Int, vpos: Int, i: Int): Long = {
      if (cnt == 1) { if (typ == 3) u16(vpos).toLong else u32(vpos) }
      else {
        val off = u32(vpos)
        if (off < 0) -1L
        else if (typ == 3) u16(off.toInt + 2 * i).toLong
        else u32(off.toInt + 4 * i)
      }
    }
    val out = new Array[Byte](3 * w * h)
    var s = 0
    while (s < nStrips) {
      val off = arrayVal(soType, soCount, soPos, s)
      val len = arrayVal(sbcType, sbcCount, sbcPos, s)
      if (off < 0 || len < 0 || off + len > n) return None
      val rows = math.min(rps, h - s * rps).toInt
      val expected = rows * 3 * w
      val src = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
      val decoded = compression match {
        case 1L => if (src.length != expected) return None else Some(src)
        case 32773L => packBitsDecode(src, expected)
        case _ => lzwDecode(src, expected)
      }
      decoded match {
        case Some(d) => System.arraycopy(d, 0, out, (s * rps).toInt * 3 * w, expected)
        case None => return None
      }
      s += 1
    }
    Some(PpmImage(w, h, 255, out))
  }

  final case class TiffFeatures(
      doc_id: Long, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** TIFF decode + statistics over the normalized logical plane — the
    * [[Multimodal.bmpFeatures]] shape, so the oracle replay is the
    * shared byte model regardless of endianness, strip layout, or
    * compression arm.
    */
  def tiffFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[TiffFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parseTiff(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            TiffFeatures(id, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }
}
