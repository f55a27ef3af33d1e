package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== OGG page demux (RFC 3533) ========
  *
  * The free-codec audio container (Vorbis/Opus ship in it) next to
  * [[Mp3]]'s frame walk and [[Mp4]]'s sample tables: an Ogg stream is a
  * sequence of self-delimiting PAGES, each carrying a 27-byte header —
  * `OggS` capture pattern, version 0, a header-type bitfield
  * (continuation / BOS / EOS), the 64-bit granule position, the stream
  * serial, a sequence number, a CRC, and a segment table (lacing
  * values: 255 = packet continues, < 255 ends a packet) — followed by
  * the segment payload.
  *
  * Two properties make the walk strict where MP3's cannot be:
  *
  *  - **A real integrity check**: the page CRC is a 32-bit MSB-first
  *    CRC with polynomial 0x04C11DB7, init 0, no final xor, computed
  *    with the CRC field zeroed — a FOURTH checksum flavor in house
  *    (next to the reflected zip CRC-32, the Castagnoli CRC-32C, and
  *    CRC-64-ECMA), implemented from scratch and verified per page.
  *  - **Sequencing**: page sequence numbers must increase by exactly
  *    one within a stream, the first page must carry BOS, the last
  *    EOS, and pages must tile the file exactly — a dropped or
  *    reordered page cannot pass.
  *
  * Per page the real offset, granule position, packet count (ended
  * lacing runs), and a rolling checksum of the payload are emitted.
  * Malformed documents drop whole; map-only per payload.
  *
  * On top of the page layer, [[oggStreams]] parses the CODEC
  * identification header off the BOS page — the Vorbis ID packet
  * (version/channels/rate/blocksizes/framing) and OpusHead
  * (version/channels/pre-skip/input rate/mapping family) — and maps the
  * final granule position to a duration per each codec's clock rule:
  * Opus granules always tick at 48 kHz with pre-skip subtracted (RFC
  * 7845), Vorbis at the header's sample rate. This is the
  * metadata-level parity [[Mp4]] (mdhd/stts) and [[Mp3]] (frame walk)
  * already have.
  *
  * No reference citation — north-star scope completing the audio
  * container pair.
  */
object Ogg {

  // ------------------------------------------------ the Ogg CRC flavor

  private[ext] def oggCrc(b: Array[Byte], from: Int, until: Int, zeroAt: Int = -1): Int = {
    var c = 0
    var i = from
    while (i < until) {
      val byte = if (zeroAt >= 0 && i >= zeroAt && i < zeroAt + 4) 0 else b(i) & 0xff
      c = Bits.crc32MsbUpdate(c, byte)
      i += 1
    }
    c
  }

  // ------------------------------------------------------------- writer

  private def utf8Bytes(s: String): Array[Byte] =
    if (s == null) Array.empty else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private[ext] def pagePayloadSize(id: Long, k: Int): Int =
    200 + 77 * ((id + k) % 7).toInt // crosses the 255 lacing boundary both ways

  /** Per doc: `1 + id % 5` pages of one packet each (lacing 255-runs +
    * terminator), granule accumulating 1152 ticks per page, BOS on the
    * first page and EOS on the last, serial = doc id, real CRCs.
    */
  private[ext] def oggFor(id: Long, data: Array[Byte]): Array[Byte] = {
    val nf = (1 + java.lang.Math.floorMod(id, 5L)).toInt
    val out = new java.io.ByteArrayOutputStream()
    var k = 0
    while (k < nf) {
      val size = pagePayloadSize(id, k)
      val nFull = size / 255
      val rest = size % 255
      val segs = Array.fill(nFull)(255) :+ rest // rest < 255 ends the packet
      val header = new java.io.ByteArrayOutputStream()
      header.write('O'); header.write('g'); header.write('g'); header.write('S')
      header.write(0) // version
      header.write((if (k == 0) 2 else 0) | (if (k == nf - 1) 4 else 0)) // BOS/EOS
      val granule = 1152L * (k + 1)
      var j = 0
      while (j < 8) { header.write(((granule >>> (8 * j)) & 0xff).toInt); j += 1 }
      j = 0
      while (j < 4) { header.write(((id >>> (8 * j)) & 0xff).toInt); j += 1 } // serial
      j = 0
      while (j < 4) { header.write(((k >>> (8 * j)) & 0xff).toInt); j += 1 } // sequence
      val crcPos = header.size()
      header.write(0); header.write(0); header.write(0); header.write(0) // CRC slot
      header.write(segs.length)
      segs.foreach(header.write)
      val page = new java.io.ByteArrayOutputStream()
      header.writeTo(page)
      var p = 0
      while (p < size) {
        page.write(if (data.length == 0) 0 else data((k + p) % data.length) & 0xff)
        p += 1
      }
      val bytes = page.toByteArray
      val crc = oggCrc(bytes, 0, bytes.length)
      bytes(crcPos) = (crc & 0xff).toByte
      bytes(crcPos + 1) = ((crc >>> 8) & 0xff).toByte
      bytes(crcPos + 2) = ((crc >>> 16) & 0xff).toByte
      bytes(crcPos + 3) = ((crc >>> 24) & 0xff).toByte
      out.write(bytes, 0, bytes.length)
      k += 1
    }
    out.toByteArray
  }

  def encodeOgg(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol).cast("long") >= 0)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, textOrNull) => (id, oggFor(id, utf8Bytes(textOrNull))) }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("audio/ogg").as("mime")).as("meta"))
  }

  // ------------------------------------------------------------- parser

  private final class MalformedOgg
      extends RuntimeException("malformed ogg", null, false, false)
  private def fail(): Nothing = throw new MalformedOgg

  final case class OggPage(offset: Long, granule: Long, serial: Long,
      seq: Long, nPackets: Int, payloadFrom: Int, payloadUntil: Int)

  private[ext] def parseOgg(bytes: Array[Byte], maxPages: Int = 1 << 20): Option[Seq[OggPage]] = {
    try Some(parseStrict(bytes, maxPages))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def parseStrict(bytes: Array[Byte], maxPages: Int): Seq[OggPage] = {
    val n = bytes.length
    var p = 0
    val pages = Seq.newBuilder[OggPage]
    var count = 0
    var expectSeq = -1L
    var sawEos = false
    def u32(pos: Int): Long =
      (bytes(pos) & 0xffL) | ((bytes(pos + 1) & 0xffL) << 8) |
        ((bytes(pos + 2) & 0xffL) << 16) | ((bytes(pos + 3) & 0xffL) << 24)
    while (p < n) {
      if (count >= maxPages) fail()
      if (sawEos) fail() // pages after the EOS page
      if (p + 27 > n) fail()
      if (bytes(p) != 'O' || bytes(p + 1) != 'g' || bytes(p + 2) != 'g' || bytes(p + 3) != 'S') fail()
      if (bytes(p + 4) != 0) fail() // version
      val htype = bytes(p + 5) & 0xff
      var granule = 0L
      var j = 0
      while (j < 8) { granule |= (bytes(p + 6 + j) & 0xffL) << (8 * j); j += 1 }
      val serial = u32(p + 14)
      val seq = u32(p + 18)
      val crc = u32(p + 22).toInt
      val nSegs = bytes(p + 26) & 0xff
      if (p + 27 + nSegs > n) fail()
      var size = 0
      var nPackets = 0
      j = 0
      while (j < nSegs) {
        val lace = bytes(p + 27 + j) & 0xff
        size += lace
        if (lace < 255) nPackets += 1
        j += 1
      }
      val pageEnd = p + 27 + nSegs + size
      if (pageEnd > n) fail() // truncated payload
      if (oggCrc(bytes, p, pageEnd, zeroAt = p + 22) != crc) fail() // page CRC
      if (count == 0) {
        if ((htype & 2) == 0) fail() // first page must be BOS
        expectSeq = seq
      } else {
        if ((htype & 2) != 0) fail() // BOS past the first page
        if (seq != expectSeq) fail() // dropped or reordered page
      }
      expectSeq += 1
      if ((htype & 4) != 0) sawEos = true
      pages += OggPage(p.toLong, granule, serial, seq, nPackets, p + 27 + nSegs, pageEnd)
      p = pageEnd
      count += 1
    }
    if (count == 0 || !sawEos) fail() // empty, or the stream never ended
    pages.result()
  }

  // ---------------------------------------- codec identification headers

  /** The Vorbis rate ladder the stream fixture cycles through. */
  private[ext] val StreamRates = Array(8000, 16000, 22050, 44100, 48000)
  private[ext] def isOpusDoc(id: Long): Boolean = id % 2 == 1
  private[ext] def streamPages(id: Long): Int = 2 + java.lang.Math.floorMod(id, 4L).toInt
  private[ext] def streamChannels(id: Long): Int =
    if (isOpusDoc(id)) 1 + java.lang.Math.floorMod(id / 2, 2L).toInt
    else 1 + java.lang.Math.floorMod(id / 2, 4L).toInt
  private[ext] def headerRate(id: Long): Int =
    StreamRates(java.lang.Math.floorMod(id, 5L).toInt)
  private[ext] def opusPreSkip(id: Long): Int =
    312 + java.lang.Math.floorMod(id, 5L).toInt * 24

  /** Frame one Ogg page around `payload` with real CRC. */
  private def buildPage(htype: Int, granule: Long, serial: Long, seq: Int,
      payload: Array[Byte]): Array[Byte] = {
    val nFull = payload.length / 255
    val rest = payload.length % 255
    val out = new java.io.ByteArrayOutputStream(27 + nFull + 1 + payload.length)
    out.write('O'); out.write('g'); out.write('g'); out.write('S')
    out.write(0) // version
    out.write(htype)
    var j = 0
    while (j < 8) { out.write(((granule >>> (8 * j)) & 0xff).toInt); j += 1 }
    j = 0
    while (j < 4) { out.write(((serial >>> (8 * j)) & 0xff).toInt); j += 1 }
    j = 0
    while (j < 4) { out.write(((seq >>> (8 * j)) & 0xff).toInt); j += 1 }
    val crcPos = out.size()
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(nFull + 1)
    var s = 0
    while (s < nFull) { out.write(255); s += 1 }
    out.write(rest) // rest < 255 ends the packet
    out.write(payload, 0, payload.length)
    val bytes = out.toByteArray
    val crc = oggCrc(bytes, 0, bytes.length)
    bytes(crcPos) = (crc & 0xff).toByte
    bytes(crcPos + 1) = ((crc >>> 8) & 0xff).toByte
    bytes(crcPos + 2) = ((crc >>> 16) & 0xff).toByte
    bytes(crcPos + 3) = ((crc >>> 24) & 0xff).toByte
    bytes
  }

  /** The Vorbis identification header (30 bytes: packet type 1, "vorbis",
    * version 0, channels, rate, three bitrate fields, blocksizes 2^8/2^11,
    * framing bit) — the first packet of a Vorbis stream's BOS page.
    */
  private[ext] def vorbisIdHeader(channels: Int, rate: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(30)
    out.write(1)
    "vorbis".foreach(c => out.write(c))
    var j = 0
    while (j < 4) { out.write(0); j += 1 } // version 0
    out.write(channels)
    j = 0
    while (j < 4) { out.write((rate >>> (8 * j)) & 0xff); j += 1 }
    (0 until 12).foreach(_ => out.write(0)) // bitrate max/nominal/min
    out.write(0xb8) // blocksize_0 = 2^8 (low nibble), blocksize_1 = 2^11
    out.write(1) // framing flag
    out.toByteArray
  }

  /** The OpusHead identification header (19 bytes, channel mapping family
    * 0): magic, version 1, channels, pre-skip, input sample rate, output
    * gain 0, family 0.
    */
  private[ext] def opusIdHeader(channels: Int, preSkip: Int, inputRate: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(19)
    "OpusHead".foreach(c => out.write(c))
    out.write(1) // version
    out.write(channels)
    out.write(preSkip & 0xff); out.write((preSkip >>> 8) & 0xff)
    var j = 0
    while (j < 4) { out.write((inputRate >>> (8 * j)) & 0xff); j += 1 }
    out.write(0); out.write(0) // output gain
    out.write(0) // mapping family 0
    out.toByteArray
  }

  /** A complete single-codec stream for doc `id`: a BOS page carrying the
    * REAL identification header (Vorbis on even ids, Opus on odd) at
    * granule 0, then [[streamPages]] junk-audio pages whose granule
    * advances by the codec's step (1024 Vorbis ticks at the header rate;
    * 960 Opus ticks on the ALWAYS-48kHz granule clock), EOS on the last.
    */
  private[ext] def oggStreamFor(id: Long): Array[Byte] = {
    val opus = isOpusDoc(id)
    val header =
      if (opus) opusIdHeader(streamChannels(id), opusPreSkip(id), headerRate(id))
      else vorbisIdHeader(streamChannels(id), headerRate(id))
    val serial = id & 0xffffffffL
    val out = new java.io.ByteArrayOutputStream()
    var page = buildPage(2, 0L, serial, 0, header) // BOS, granule 0
    out.write(page, 0, page.length)
    val nf = streamPages(id)
    val step = if (opus) 960L else 1024L
    var k = 1
    while (k <= nf) {
      val size = 180 + 73 * ((id + k) % 7).toInt // crosses the 255 boundary
      val payload = new Array[Byte](size)
      var p = 0
      while (p < size) { payload(p) = ((id * 31 + k * 7 + p) % 251).toByte; p += 1 }
      page = buildPage(if (k == nf) 4 else 0, step * k, serial, k, payload)
      out.write(page, 0, page.length)
      k += 1
    }
    out.toByteArray
  }

  /** Fixture writer for the stream-metadata key: one single-codec Ogg
    * stream per document row.
    */
  def encodeOggStreams(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol).cast("long") >= 0)
      .select(col(idCol).cast("long"))
      .as[Long]
      .map(id => (id, oggStreamFor(id)))
      .toDF("doc_id", "payload")
  }

  final case class OggStreamRow(doc_id: Long, serial: Long, codec: String,
      channels: Long, sample_rate: Long, pre_skip: Long, duration_us: Long)

  /** Parse the identification header off a stream's BOS page and map the
    * final granule position to a duration per the codec's rule — Opus
    * granules ALWAYS tick at 48 kHz with the pre-skip subtracted (RFC
    * 7845 §4/§5.1); Vorbis granules tick at the header's sample rate.
    * The header packet must END on the BOS page (real ID headers are
    * ≤ 30 bytes); an unknown magic, a bad version/framing bit, zero
    * channels, a family-0 Opus with more than two channels, or a final
    * granule below the pre-skip quarantines the document.
    */
  private[ext] def parseStreamInfo(id: Long, bytes: Array[Byte]): Option[OggStreamRow] = {
    parseOgg(bytes).flatMap { pages =>
      try {
        val bos = pages.head // parseStrict guarantees BOS-first, EOS-last
        // first packet of the BOS page: laces until the first < 255
        val off = bos.offset.toInt
        val nSegs = bytes(off + 26) & 0xff
        var len = 0
        var j = 0
        var ended = false
        while (j < nSegs && !ended) {
          val lace = bytes(off + 27 + j) & 0xff
          len += lace
          if (lace < 255) ended = true
          j += 1
        }
        if (!ended) fail() // header packet spans pages: out of profile
        val pk = java.util.Arrays.copyOfRange(bytes, bos.payloadFrom, bos.payloadFrom + len)
        def u16le(p: Int) = (pk(p) & 0xff) | ((pk(p + 1) & 0xff) << 8)
        def u32le(p: Int) = (pk(p) & 0xffL) | ((pk(p + 1) & 0xffL) << 8) |
          ((pk(p + 2) & 0xffL) << 16) | ((pk(p + 3) & 0xffL) << 24)
        val gran = pages.last.granule
        if (gran < 0) fail()
        val isVorbis = pk.length == 30 && pk(0) == 1 &&
          new String(pk, 1, 6, "ISO-8859-1") == "vorbis"
        val isOpus = pk.length >= 19 &&
          new String(pk, 0, 8, "ISO-8859-1") == "OpusHead"
        if (isVorbis) {
          if (u32le(7) != 0L) fail() // version
          val channels = pk(11) & 0xff
          val rate = u32le(12)
          if (channels == 0 || rate <= 0) fail()
          val bs0 = pk(28) & 0x0f
          val bs1 = (pk(28) >>> 4) & 0x0f
          if (bs0 < 6 || bs1 > 13 || bs0 > bs1) fail()
          if ((pk(29) & 1) != 1) fail() // framing bit
          Some(OggStreamRow(id, bos.serial, "vorbis", channels.toLong, rate,
            0L, gran * 1000000L / rate))
        } else if (isOpus) {
          if ((pk(8) & 0xff) != 1) fail() // version
          val channels = pk(9) & 0xff
          val preSkip = u16le(10)
          val inputRate = u32le(12)
          if (channels == 0) fail()
          val family = pk(18) & 0xff
          if (family == 0 && (channels > 2 || pk.length != 19)) fail()
          if (family == 1 && pk.length != 21 + channels) fail()
          if (family > 1) fail()
          if (gran < preSkip) fail()
          Some(OggStreamRow(id, bos.serial, "opus", channels.toLong, inputRate,
            preSkip.toLong, (gran - preSkip) * 1000000L / 48000L))
        } else fail() // unknown codec magic
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The operator: payloads → one metadata row per stream (serial, codec,
    * channels, header sample rate, pre-skip, granule-derived duration);
    * malformed documents drop whole. Map-only, zero shuffles.
    */
  def oggStreams(withBinary: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[OggStreamRow] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty)
        parseStreamInfo(id, bytes)
      }
  }

  final case class OggPageRow(doc_id: Long, page_idx: Long, offset: Long,
      granule: Long, n_packets: Long, n_bytes: Long, checksum: Long)

  /** The operator: payloads → the page index with payload checksums;
    * malformed documents drop whole.
    */
  def oggPages(withBinary: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[OggPageRow] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty)
        parseOgg(bytes).toSeq.flatMap { pages =>
          pages.zipWithIndex.map { case (pg, k) =>
            var c = 0L
            var j = pg.payloadFrom
            while (j < pg.payloadUntil) { c = (c * 31 + (bytes(j) & 0xff)) % 1000000007L; j += 1 }
            OggPageRow(id, k.toLong, pg.offset, pg.granule, pg.nPackets.toLong,
              (pg.payloadUntil - pg.payloadFrom).toLong, c)
          }
        }
      }
  }
}
