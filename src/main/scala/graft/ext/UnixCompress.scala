package graft.ext

/** ======== Unix compress(1) `.Z` — LZW, both directions, from scratch ========
  *
  * The oldest corpus container still in the wild: pre-gzip Unix
  * distributions, old mirrors, and decades of `archive.tar.Z` ship in
  * this format, and a crawl that can't open it leaves that shelf of the
  * library unread. The format is the de-facto standard set by
  * compress 4.0 (there is no RFC): a 3-byte header (`1f 9d` magic, then
  * `maxbits | 0x80` when block mode is on), followed by LZW codes packed
  * LSB-first, code width growing 9→maxbits as the table fills, code 256
  * reserved as CLEAR in block mode.
  *
  * Two implementation quirks define on-disk compatibility, and both are
  * mirrored here exactly:
  *
  *  - **Code-group alignment.** The classic encoder buffers 8 codes
  *    (n_bits bytes) at a time; when the code width changes — and when a
  *    CLEAR resets it — the partial group is flushed with padding, so
  *    the reader must round its bit position UP to the next multiple of
  *    `n_bits·8` (positions already on a boundary stay). Every surviving
  *    decoder (ncompress, gzip's unlzw, commons-compress) implements
  *    this skip; an encoder that doesn't pad produces streams none of
  *    them read.
  *  - **The burned slot after CLEAR.** The reference decoder resets
  *    `free_ent` to FIRST−1 = 256 and lets the first post-clear add land
  *    in slot 256 (the CLEAR code's own slot — never referencable as
  *    data). This keeps the decoder's entry count in lockstep with the
  *    encoder's across the reset, which is what keeps the WIDTH-change
  *    positions agreeing; resetting to 257 instead desyncs the stream
  *    one width-change later. We mirror the same arithmetic.
  *
  * Width-change synchronization (the GIF/TIFF "early change" family of
  * bugs): the encoder checks `free_ent > maxcode` AFTER emitting a code
  * and BEFORE adding that step's entry; the decoder checks BEFORE each
  * read with its table one entry behind. Both sides land the width
  * change between the same two codes — the round-trip fuzz plus the
  * commons-compress differential in UnixCompressSpec pin it.
  *
  * Scale shape: both directions are map-only per payload — the codec
  * carries no Spark state; composition with tar ([[Tar.tazExtract]])
  * keeps ingest embarrassingly parallel with whole-archive quarantine.
  */
object UnixCompress {

  private final class MalformedZ
      extends RuntimeException("malformed .Z stream", null, false, false)
  private def fail(): Nothing = throw new MalformedZ

  private val InitBits = 9
  private val Clear = 256 // block-mode reset code
  private val MagicHi = 0x1f
  private val MagicLo = 0x9d

  /** Round `pos` up to the next code-group boundary (positions already
    * on a boundary stay) — the realign both sides perform at every
    * width change and CLEAR. Groups are 8 codes (`nBits` bytes) counted
    * FROM THE LAST WIDTH EVENT, not from stream start: the reference
    * encoder's 8-code buffer restarts at each event (its flush pads the
    * whole group), and the reference decoders mirror that by resetting
    * their buffer origin (ncompress `resetbuf`) or counting codes read
    * (commons-compress `8 - totalCodesRead % 8`). A stream-global
    * roundup agrees only until the second width event, then desyncs —
    * the commons-compress differential catches it immediately.
    */
  private def realign(pos: Long, epochStart: Long, nBits: Int): Long = {
    val w = nBits.toLong << 3
    val x = pos - epochStart - 1
    epochStart + (x - java.lang.Math.floorMod(x, w) + w)
  }

  /** Compress `data` as a `.Z` stream. `maxbits` in 9..16 per the
    * on-disk flag byte; `blockMode` enables the CLEAR code (compress
    * 3.0+; every real-world stream has it). The table resets as soon as
    * it fills — the deterministic stand-in for the reference encoder's
    * compression-ratio heuristic, and a legal choice any decoder
    * accepts.
    */
  def compress(data: Array[Byte], maxbits: Int = 16, blockMode: Boolean = true): Array[Byte] = {
    require(maxbits >= InitBits && maxbits <= 16, s"maxbits $maxbits outside 9..16")
    val out = new Bits.LsbWriter(data.length / 2 + 16)
    out.put(MagicHi, 8); out.put(MagicLo, 8)
    out.put(maxbits | (if (blockMode) 0x80 else 0), 8)
    if (data.length == 0) return out.toArray

    val maxmaxcode = 1 << maxbits
    val first = if (blockMode) Clear + 1 else 256
    // open-addressed (prefix<<8|byte) -> code map, the classic hash table
    val hbits = maxbits + 3
    val hsize = 1 << hbits
    val hmask = hsize - 1
    val hkey = new Array[Int](hsize) // key+1, 0 = empty
    val hval = new Array[Int](hsize)

    var nBits = InitBits
    var maxcode = (1 << nBits) - 1
    var freeEnt = first

    // realign() sees the same bit positions as the decoder's, header
    // included: only the distance from the epoch start matters
    var epochStart = out.bitLength // bit position of the last width event
    def realignWriter(): Unit = {
      val target = realign(out.bitLength, epochStart, nBits)
      while (out.bitLength < target) out.put(0, 1)
      epochStart = out.bitLength
    }

    var ent = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val c = data(i) & 0xff
      val key = (ent << 8) | c
      var h = ((key * 0x9e3779b1) >>> (32 - hbits)) & hmask
      var code = -1
      var break = false
      while (!break) {
        if (hkey(h) == 0) break = true
        else if (hkey(h) == key + 1) { code = hval(h); break = true }
        else h = (h + 1) & hmask
      }
      if (code >= 0) ent = code
      else {
        out.put(ent, nBits)
        // width change uses the PRE-add count — the reference encoder's
        // check runs inside output(), before this step's free_ent++ —
        // which is what lands it between the same two codes as the
        // decoder's pre-read check (whose table is one entry behind)
        if (freeEnt > maxcode && nBits < maxbits) {
          realignWriter()
          nBits += 1
          maxcode = if (nBits == maxbits) maxmaxcode else (1 << nBits) - 1
        }
        if (freeEnt < maxmaxcode) {
          hkey(h) = key + 1
          hval(h) = freeEnt
          freeEnt += 1
        } else if (blockMode) {
          // table full: emit CLEAR and start over (see scaladoc)
          out.put(Clear, nBits)
          realignWriter()
          nBits = InitBits
          maxcode = (1 << nBits) - 1
          freeEnt = first
          java.util.Arrays.fill(hkey, 0)
        }
        ent = c
      }
      i += 1
    }
    out.put(ent, nBits)
    out.toArray // the final partial byte zero-padded
  }

  /** Decompress a `.Z` stream, mirroring the reference decoder's
    * arithmetic (width schedule, group realign, burned slot — see the
    * object scaladoc). Throws on malformed input: bad magic, reserved
    * flag bits, a first code that isn't a literal, a code above the
    * table, or output past `maxOut` (the decompression-bomb cap — LZW
    * expands up to ~width·4000× so the cap is enforced in-loop).
    */
  def decompress(data: Array[Byte], maxOut: Int): Array[Byte] = {
    if (data.length < 3 || (data(0) & 0xff) != MagicHi || (data(1) & 0xff) != MagicLo) fail()
    val flags = data(2) & 0xff
    if ((flags & 0x60) != 0) fail() // reserved bits per compress 4.0
    val maxbits = flags & 0x1f
    if (maxbits < InitBits || maxbits > 16) fail()
    val blockMode = (flags & 0x80) != 0
    val maxmaxcode = 1 << maxbits
    val first = if (blockMode) Clear + 1 else 256

    val prefix = new Array[Int](maxmaxcode)
    val suffix = new Array[Byte](maxmaxcode)
    locally {
      var c = 0
      while (c < 256) { suffix(c) = c.toByte; c += 1 }
    }
    val stack = new Array[Byte](maxmaxcode + 1)
    val out = new java.io.ByteArrayOutputStream(java.lang.Math.min(maxOut, data.length * 4 + 64))

    val in = new Bits.LsbReader(data, 3, data.length) { def fail(): Nothing = UnixCompress.fail() }
    var epochStart = in.bitPos // bit position of the last width event

    var nBits = InitBits
    var maxcode = (1 << nBits) - 1
    var freeEnt = first
    var oldCode = -1
    var finChar = 0
    // a group boundary past the end leaves nothing to read: stop there
    def realignReader(): Unit = {
      in.skip(math.min(realign(in.bitPos, epochStart, nBits) - in.bitPos, in.bitsLeft).toInt)
      epochStart = in.bitPos
    }

    var done = false
    while (!done) {
      // width bump guarded by nBits < maxbits (as the reference decoders
      // guard it): at maxbits = 9 the table fills with the width pinned,
      // and neither side may realign
      if (freeEnt > maxcode && nBits < maxbits) {
        realignReader()
        nBits += 1
        maxcode = if (nBits == maxbits) maxmaxcode else (1 << nBits) - 1
      }
      if (in.bitsLeft < nBits) done = true
      else {
        val code = in.read(nBits)
        if (oldCode == -1) {
          if (code >= 256) fail() // first code must be a literal
          oldCode = code; finChar = code
          out.write(code)
          if (out.size > maxOut) fail()
        } else if (blockMode && code == Clear) {
          java.util.Arrays.fill(prefix, 0)
          freeEnt = first - 1 // the burned slot (see scaladoc)
          realignReader()
          nBits = InitBits
          maxcode = (1 << nBits) - 1
          // oldCode/finChar stay STALE on purpose: the first post-clear
          // read adds the burned slot through the normal path, exactly
          // like the reference decoder — resetting here would desync
          // the width schedule one change later
        } else {
          if (code > freeEnt) fail()
          val inCode = code
          var sp = 0
          var cur = code
          if (cur == freeEnt) { // KwKwK
            stack(sp) = finChar.toByte; sp += 1
            cur = oldCode
          }
          while (cur >= 256) {
            stack(sp) = suffix(cur); sp += 1
            cur = prefix(cur)
          }
          finChar = cur & 0xff
          stack(sp) = finChar.toByte; sp += 1
          if (out.size + sp > maxOut) fail()
          var k = sp - 1
          while (k >= 0) { out.write(stack(k)); k -= 1 }
          if (freeEnt < maxmaxcode) {
            prefix(freeEnt) = oldCode
            suffix(freeEnt) = finChar.toByte
            freeEnt += 1
          }
          oldCode = inCode
        }
      }
    }
    out.toByteArray
  }

  final case class ZStats(doc_id: Long, n_bytes: Long, checksum: Long)

  /** Per-document `.Z` round trip (compress → decompress) reduced to
    * length + checksum the oracle recomputes from source text — the
    * family's roundtrip-signal convention ([[Xz.xzSignal]]); maxbits
    * cycles 12..16 by doc id so every top-width arm is exercised, and a
    * broken stream surfaces as the (-1, -1) sentinel row.
    */
  def zSignal(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.Dataset[ZStats] = {
    import org.apache.spark.sql.functions.col
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        try {
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val back = decompress(compress(data, maxbits = 12 + (id % 5).toInt),
            math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          ZStats(id, back.length.toLong, c)
        } catch {
          case scala.util.control.NonFatal(_) => ZStats(id, -1L, -1L)
        }
      }
  }
}
