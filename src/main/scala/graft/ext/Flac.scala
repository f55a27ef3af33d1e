package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== FLAC decode + encode (rice-coded fixed-LPC subset, from scratch) ========
  *
  * The lossless audio shelf next to the PCM/WAV/μ-law rungs: podcast and
  * speech corpora archive masters as FLAC, and a multimodal pipeline has
  * to get the SAMPLES back out. This module implements the format's
  * fixed-predictor subset end to end, both directions:
  *
  *  - '''container''': `fLaC` magic, metadata blocks (STREAMINFO parsed —
  *    rate/channels/bits/total-samples/MD5 — others skipped via the
  *    last-block flag walk), then the frame sequence to EOF.
  *  - '''frame layer''': 14-bit sync, fixed blocking strategy, block-size
  *    and sample-rate codes (the 2^n table plus both get-from-header
  *    forms), mono channel assignment, UTF-8-style coded frame numbers
  *    (the format's own multi-byte integer coding, up to 36 bits), CRC-8
  *    over the header, CRC-16 over the whole frame — both verified.
  *  - '''subframes''': CONSTANT, VERBATIM, FIXED orders 0–4 (warm-up
  *    samples + polynomial-difference residuals), and LPC orders 1–32
  *    (quantized coefficient predictor: 4-bit precision, 5-bit signed
  *    shift, signed coefficients, 64-bit accumulator, arithmetic
  *    right-shift — the format's general predictor), residuals rice-coded
  *    (4-bit parameter, partition order 0, zigzag + unary quotient +
  *    binary remainder) with the 0b1111 ESCAPE arm (raw n-bit residuals).
  *  - '''integrity''': decoded sample count must equal STREAMINFO's
  *    total, and the MD5 of the decoded little-endian sample bytes must
  *    equal STREAMINFO's signature — the format's end-to-end check, not
  *    optional here.
  *
  * The encoder picks per-subframe the cheapest of constant / verbatim /
  * fixed order 1 / fixed order 2 arms (cycled by doc and frame so every
  * decoder path sits under the oracle) with an exact cost-minimizing rice
  * parameter. Sample model: the SAME s16le-from-text-bytes plane as the
  * WAV family, block size 256 == the stats frame size — so the existing
  * WAV oracle replays FLAC's output bitwise and the whole codec grades as
  * transparent.
  *
  * Damage anywhere (sync, CRC-8, CRC-16, count, MD5, over-long rice
  * quotient, truncation) quarantines the whole document. Map-only per
  * doc, zero shuffles; allocations bounded by STREAMINFO's declared
  * total, capped at 1<<26 samples before any buffer is sized. No
  * reference citation possible (no file surface in the reference) —
  * north-star scope; the format layout is the public FLAC specification
  * (RFC 9639).
  */
object Flac {

  private final class MalformedFlac
      extends RuntimeException("malformed flac", null, false, false)
  private def fail(): Nothing = throw new MalformedFlac

  // ------------------------------------------------------------ bit io

  private def reader(b: Array[Byte], from: Int, until: Int): Bits.MsbReader =
    new Bits.MsbReader(b, from, until) { def fail(): Nothing = Flac.fail() }

  // ------------------------------------------------------------- crcs

  /** CRC-8, poly 0x07, init 0 — the FLAC frame-header check. */
  private[ext] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= b(i) & 0xff
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      i += 1
    }
    c
  }

  /** CRC-16, poly 0x8005, init 0 — the FLAC whole-frame check. */
  private[ext] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; k += 1 }
      i += 1
    }
    c
  }

  // ------------------------------------------- FLAC's own UTF-8-ish number

  private def writeCodedNumber(bw: Bits.MsbWriter, v: Long): Unit = {
    if (v < 0x80) bw.put(v, 8)
    else {
      // count payload bytes needed (6 bits each)
      var bytes = 1
      while (bytes < 6 && v >= (1L << (6 * bytes + (6 - bytes)))) bytes += 1
      // lead byte: (bytes+1) ones, a zero, then the high bits
      val leadDataBits = 6 - bytes
      val mask = (0xff << (leadDataBits + 1)) & 0xff
      bw.put(mask | ((v >>> (6 * bytes)) & ((1 << leadDataBits) - 1)), 8)
      var i = bytes - 1
      while (i >= 0) { bw.put(0x80L | ((v >>> (6 * i)) & 0x3f), 8); i -= 1 }
    }
  }

  private def readCodedNumber(br: Bits.MsbReader): Long = {
    val b0 = br.read(8)
    if ((b0 & 0x80) == 0) return b0.toLong
    var ones = 0
    while (ones < 8 && ((b0 << ones) & 0x80) != 0) ones += 1
    if (ones < 2 || ones > 7) fail()
    val cont = ones - 1
    var v = (b0 & ((1 << (7 - ones)) - 1)).toLong
    var i = 0
    while (i < cont) {
      val b = br.read(8)
      if ((b & 0xc0) != 0x80) fail()
      v = (v << 6) | (b & 0x3f)
      i += 1
    }
    v
  }

  // --------------------------------------------------------------- writer

  private def zigzag(r: Int): Long = if (r >= 0) 2L * r else -2L * r - 1

  /** Exact cheapest rice parameter for one residual block (0..14), or -1
    * when the 5-bit-width ESCAPE is cheaper.
    */
  private def bestRice(res: Array[Int]): Int = {
    if (res.isEmpty) return 0
    var best = -1
    var bestBits = Long.MaxValue
    var p = 0
    while (p <= 14) {
      var bits = 0L
      var i = 0
      while (i < res.length) { bits += (zigzag(res(i)) >>> p) + 1 + p; i += 1 }
      if (bits < bestBits) { bestBits = bits; best = p }
      p += 1
    }
    // escape: 5-bit width + n*width raw two's-complement
    var maxAbs = 0L
    res.foreach(r => { val a = math.abs(r.toLong); if (a > maxAbs) maxAbs = a })
    var width = 1
    while ((1L << (width - 1)) <= maxAbs && width < 31) width += 1
    if (5L + res.length.toLong * width < bestBits) -width else best
  }

  private def writeResiduals(bw: Bits.MsbWriter, res: Array[Int]): Unit = {
    bw.put(0, 2) // residual coding method: rice, 4-bit params
    bw.put(0, 4) // partition order 0: one partition
    val p = bestRice(res)
    if (p < 0) {
      val width = -p
      bw.put(0xf, 4) // escape
      bw.put(width.toLong, 5)
      res.foreach(r => bw.put(r.toLong & ((1L << width) - 1), width))
    } else {
      bw.put(p.toLong, 4)
      res.foreach { r =>
        val u = zigzag(r)
        var q = (u >>> p).toInt // unary: q zeros, then a one
        while (q >= 32) { bw.put(0, 32); q -= 32 }
        bw.put(1, q + 1)
        bw.put(u & ((1L << p) - 1), p)
      }
    }
  }

  private val FixedCoef = Array(
    Array[Int](), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  private def fixedResiduals(xs: Array[Int], from: Int, until: Int, order: Int): Array[Int] = {
    val cf = FixedCoef(order)
    val out = new Array[Int](until - from - order)
    var i = from + order
    while (i < until) {
      var pred = 0L
      var k = 0
      while (k < order) { pred += cf(k).toLong * xs(i - 1 - k); k += 1 }
      out(i - from - order) = (xs(i) - pred).toInt
      i += 1
    }
    out
  }

  /** One FLAC stream for `nSamples` s16 mono 16 kHz samples: STREAMINFO
    * (real MD5), then 256-sample fixed-blocksize frames whose subframe
    * arm cycles verbatim / fixed-1 / fixed-2 / LPC-2 by
    * `(seed + frame) % 4` (constant when the block really is constant;
    * verbatim fallback when the block is shorter than the order). The
    * LPC arm uses the smoothing predictor (3·x[i−1] − x[i−2]) >> 1 —
    * precision 4, shift 1, coefficients [3, −1] — so the general
    * quantized-coefficient path decodes under the same oracle.
    */
  private[ext] def encodeFlacStream(xs: Array[Int], seed: Long): Array[Byte] = {
    val block = 256
    val out = new java.io.ByteArrayOutputStream(xs.length * 2 + 128)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO, last-metadata flag set
    val si = new Bits.MsbWriter
    si.put(block.toLong, 16); si.put(block.toLong, 16)
    si.put(0, 24); si.put(0, 24) // frame sizes unknown
    si.put(16000L, 20)
    si.put(0, 3) // channels - 1
    si.put(15, 5) // bits per sample - 1
    si.put(xs.length.toLong, 36)
    val md5In = new Array[Byte](xs.length * 2)
    var i = 0
    while (i < xs.length) {
      md5In(2 * i) = (xs(i) & 0xff).toByte; md5In(2 * i + 1) = ((xs(i) >> 8) & 0xff).toByte
      i += 1
    }
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(md5In)
    val siBytes = si.toArray
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length + 16)
    out.write(siBytes); out.write(md5)

    val nFrames = (xs.length + block - 1) / block
    var f = 0
    while (f < nFrames) {
      val from = f * block
      val until = math.min(xs.length, from + block)
      val n = until - from
      val bw = new Bits.MsbWriter(1024)
      bw.put(0x3ffe, 14) // sync
      bw.put(0, 1) // reserved
      bw.put(0, 1) // fixed blocking strategy
      val fullBlock = n == block
      bw.put(if (fullBlock) 0x8L else 0x7L, 4) // 256 | get-16-bit
      bw.put(0xdL, 4) // sample rate: 16-bit Hz follows
      bw.put(0, 4) // channel assignment: mono
      bw.put(4, 3) // sample size: 16 bits (0b100)
      bw.put(0, 1) // reserved
      writeCodedNumber(bw, f.toLong)
      if (!fullBlock) bw.put((n - 1).toLong, 16)
      bw.put(16000L, 16)
      // subframe selection
      val allEqual = (from until until).forall(j => xs(j) == xs(from))
      val sel = if (allEqual) -1 else Math.floorMod(seed + f, 4L).toInt
      val order = sel match { case 1 => 1; case 2 | 3 => 2; case _ => 0 }
      val usePred = sel > 0 && n > order
      val headerSnapshot = bw.toArray // the header's fields sum to whole bytes
      bw.put(crc8(headerSnapshot, 0, headerSnapshot.length).toLong, 8)
      if (allEqual) {
        bw.put(0, 1); bw.put(0, 6); bw.put(0, 1) // CONSTANT
        bw.put((xs(from) & 0xffff).toLong, 16)
      } else if (!usePred) {
        bw.put(0, 1); bw.put(1, 6); bw.put(0, 1) // VERBATIM
        var j = from
        while (j < until) { bw.put((xs(j) & 0xffff).toLong, 16); j += 1 }
      } else if (sel == 3) {
        // LPC order 2: pred = (3*x[i-1] - x[i-2]) >> 1 — precision 4,
        // shift 1, coefficients [3, -1]
        bw.put(0, 1); bw.put((0x20 | (order - 1)).toLong, 6); bw.put(0, 1)
        var j = from
        while (j < from + order) { bw.put((xs(j) & 0xffff).toLong, 16); j += 1 }
        bw.put(3, 4) // precision - 1
        bw.put(1, 5) // shift (signed, non-negative here)
        bw.put(3L & 0xf, 4) // coef[0] = 3
        bw.put(-1L & 0xf, 4) // coef[1] = -1 (two's complement)
        val res = new Array[Int](n - order)
        var i = from + order
        while (i < until) {
          val pred = ((3L * xs(i - 1) - xs(i - 2)) >> 1).toInt
          res(i - from - order) = xs(i) - pred
          i += 1
        }
        writeResiduals(bw, res)
      } else {
        bw.put(0, 1); bw.put((0x8 | order).toLong, 6); bw.put(0, 1) // FIXED
        var j = from
        while (j < from + order) { bw.put((xs(j) & 0xffff).toLong, 16); j += 1 }
        writeResiduals(bw, fixedResiduals(xs, from, until, order))
      }
      val frameSnapshot = bw.toArray
      bw.put(crc16(frameSnapshot, 0, frameSnapshot.length).toLong, 16)
      out.write(bw.toArray)
      f += 1
    }
    out.toByteArray
  }

  /** Fixture writer: the WAV family's sample plane (s16le pairs from the
    * doc's UTF-8 text bytes) inside a real FLAC stream.
    */
  def encodeFlac(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = data.length / 2
        val xs = new Array[Int](n)
        var i = 0
        while (i < n) {
          val u = (data(2 * i) & 0xff) | ((data(2 * i + 1) & 0xff) << 8)
          xs(i) = if (u > 32767) u - 65536 else u
          i += 1
        }
        (id, encodeFlacStream(xs, id))
      }
      .toDF(idCol, "payload")
  }

  // --------------------------------------------------------------- reader

  private def readResiduals(br: Bits.MsbReader, n: Int, order: Int): Array[Int] = {
    val method = br.read(2)
    if (method != 0) fail() // rice2 not in the writer's profile
    val partOrder = br.read(4)
    if (partOrder != 0) fail()
    val out = new Array[Int](n - order)
    val p = br.read(4)
    if (p == 0xf) {
      val width = br.read(5)
      if (width == 0 || width > 31) fail()
      var i = 0
      while (i < out.length) {
        var v = br.read(width).toLong
        if ((v & (1L << (width - 1))) != 0) v -= (1L << width) // sign extend
        out(i) = v.toInt
        i += 1
      }
    } else {
      var i = 0
      while (i < out.length) {
        var q = 0
        while (br.read(1) == 0) { q += 1; if (q > (1 << 22)) fail() }
        val u = (q.toLong << p) | br.read(p)
        out(i) = (if ((u & 1) == 0) u >>> 1 else -((u + 1) >>> 1)).toInt
        i += 1
      }
    }
    out
  }

  final case class FlacFrameStats(
      doc_id: Long, sample_rate: Int, frame_idx: Int, n_samples: Long, rms: Double, peak: Long)

  /** Decode one stream to per-frame stats; throws on any damage. */
  private[ext] def parseFlac(id: Long, bytes: Array[Byte]): Seq[FlacFrameStats] = {
    val n = bytes.length
    if (n < 42 || bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' || bytes(3) != 'C') fail()
    // metadata walk
    var p = 4
    var last = false
    var rate = -1
    var totalSamples = -1L
    var md5: Array[Byte] = null
    var first = true
    while (!last) {
      if (p + 4 > n) fail()
      val h = bytes(p) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (p + 4 + len > n) fail()
      if (first) {
        if (typ != 0 || len != 34) fail() // STREAMINFO must come first
        val br = reader(bytes, p + 4, p + 4 + 18)
        br.read(16); br.read(16); br.read(24); br.read(24)
        rate = br.read(20)
        if (br.read(3) != 0) fail() // mono only
        if (br.read(5) != 15) fail() // 16-bit only
        totalSamples = (br.read(4).toLong << 32) | (br.read(32) & 0xffffffffL)
        if (totalSamples > (1L << 26)) fail() // bomb guard before any sizing
        md5 = java.util.Arrays.copyOfRange(bytes, p + 4 + 18, p + 4 + 34)
        first = false
      }
      p += 4 + len
    }
    if (first || rate <= 0) fail()

    val digest = java.security.MessageDigest.getInstance("MD5")
    val out = Seq.newBuilder[FlacFrameStats]
    var decoded = 0L
    var frameIdx = 0L
    while (p < n) {
      val frameStart = p
      val br = reader(bytes, p, n)
      if (br.read(14) != 0x3ffe) fail()
      if (br.read(1) != 0) fail()
      if (br.read(1) != 0) fail() // fixed blocking strategy only
      val bsCode = br.read(4)
      val srCode = br.read(4)
      if (br.read(4) != 0) fail() // mono
      if (br.read(3) != 4) fail() // 16-bit
      if (br.read(1) != 0) fail()
      val num = readCodedNumber(br)
      if (num != frameIdx) fail()
      val blockSize = bsCode match {
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => br.read(8) + 1
        case 7 => br.read(16) + 1
        case c if c >= 8 && c <= 15 => 256 << (c - 8)
        case _ => fail()
      }
      val frameRate = srCode match {
        case 0xc => br.read(8) * 1000
        case 0xd => br.read(16)
        case 0xe => br.read(16) * 10
        case 0 => rate
        case _ => fail() // fixed-table codes not in this profile
      }
      if (frameRate != rate) fail()
      if (blockSize <= 0 || decoded + blockSize > totalSamples) fail()
      // header CRC-8: everything from frameStart up to here (byte-aligned)
      val headerEnd = br.bytePos
      if (br.read(8) != crc8(bytes, frameStart, headerEnd)) fail()
      // subframe
      if (br.read(1) != 0) fail()
      val sfType = br.read(6)
      if (br.read(1) != 0) fail() // wasted bits not in profile
      val xs = new Array[Int](blockSize)
      if (sfType == 0) { // CONSTANT
        val v: Int = br.read(16).toShort
        java.util.Arrays.fill(xs, v)
      } else if (sfType == 1) { // VERBATIM
        var i = 0
        while (i < blockSize) { xs(i) = br.read(16).toShort; i += 1 }
      } else if ((sfType & 0x38) == 0x08 && (sfType & 0x07) <= 4) { // FIXED
        val order = sfType & 0x07
        if (order > blockSize) fail()
        var i = 0
        while (i < order) { xs(i) = br.read(16).toShort; i += 1 }
        val res = readResiduals(br, blockSize, order)
        val cf = FixedCoef(order)
        i = order
        while (i < blockSize) {
          var pred = 0L
          var k = 0
          while (k < order) { pred += cf(k).toLong * xs(i - 1 - k); k += 1 }
          val v = pred + res(i - order)
          if (v < -32768 || v > 32767) fail()
          xs(i) = v.toInt
          i += 1
        }
      } else if ((sfType & 0x20) != 0) { // LPC, orders 1..32
        val order = (sfType & 0x1f) + 1
        if (order > blockSize) fail()
        var i = 0
        while (i < order) { xs(i) = br.read(16).toShort; i += 1 }
        val precision = br.read(4) + 1
        if (precision == 16) fail() // 0b1111 is the spec's invalid marker
        var shift = br.read(5)
        if (shift >= 16) fail() // sign bit set: negative shifts are invalid
        val coefs = new Array[Long](order)
        var k = 0
        while (k < order) {
          var c = br.read(precision).toLong
          if ((c & (1L << (precision - 1))) != 0) c -= (1L << precision) // sign extend
          coefs(k) = c
          k += 1
        }
        val res = readResiduals(br, blockSize, order)
        i = order
        while (i < blockSize) {
          var sum = 0L
          k = 0
          while (k < order) { sum += coefs(k) * xs(i - 1 - k); k += 1 }
          val v = (sum >> shift) + res(i - order)
          if (v < -32768 || v > 32767) fail()
          xs(i) = v.toInt
          i += 1
        }
      } else fail() // reserved subframe types
      br.alignByte()
      val bodyEnd = br.bytePos
      if (br.read(16) != crc16(bytes, frameStart, bodyEnd)) fail()
      p = br.bytePos
      // stats + md5 over the decoded frame
      var sumSq = 0L
      var peak = 0L
      val leBytes = new Array[Byte](2 * blockSize)
      var i = 0
      while (i < blockSize) {
        val s = xs(i)
        sumSq += s.toLong * s
        val a = math.abs(s.toLong); if (a > peak) peak = a
        leBytes(2 * i) = (s & 0xff).toByte; leBytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      digest.update(leBytes)
      out += FlacFrameStats(id, rate, frameIdx.toInt, blockSize.toLong,
        math.sqrt(sumSq.toDouble / blockSize), peak)
      decoded += blockSize
      frameIdx += 1
    }
    if (decoded != totalSamples) fail()
    if (!java.util.Arrays.equals(digest.digest(), md5)) fail()
    out.result()
  }

  /** The operator: FLAC documents → the per-frame stats table (the WAV
    * kernel's shape); any damage quarantines the whole document.
    */
  def flacFrameStats(flacs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[FlacFrameStats] = {
    val spark = flacs.sparkSession
    import spark.implicits._
    flacs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseFlac(id, payload) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}
