package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL container codecs: gzip (RFC 1952) and WARC ========
  *
  * The ingestion mouth of a crawl-scale text pipeline. Web-crawl corpora
  * ship as WARC files: each record is an independent gzip MEMBER, and the
  * members are concatenated into one archive blob, so a reader can split
  * records without decompressing its neighbors. This module implements
  * both layers from scratch on top of the repo's own DEFLATE inflate
  * ([[Multimodal.inflateWithEnd]] — the end position past the final block
  * is exactly what member splitting needs) and the JDK's CRC-32
  * ([[Bits.crc32]]):
  *
  *  - gzip reader: full RFC 1952 header walk (magic, CM=8, reserved-bit
  *    check, FEXTRA with little-endian XLEN, NUL-terminated FNAME and
  *    FCOMMENT, FHCRC verified as the low 16 bits of CRC-32 over the
  *    header bytes), DEFLATE body, then the byte-aligned trailer: CRC-32
  *    of the decompressed bytes and ISIZE mod 2^32 — both verified, not
  *    skipped. Multi-member streams split on the inflate end position.
  *  - gzip writer: genuine members with all four header profiles and
  *    stored-block DEFLATE framing (64 KiB blocks), keeping the byte
  *    model SQL-replayable: compressed_len is a closed-form function of
  *    the input length and the header variant, which the DuckDB oracle
  *    recomputes — any framing drift fails the hash.
  *  - WARC layer: records in the WARC/1.0 shape (version line, CRLF
  *    headers, Content-Length, CRLF CRLF, body, CRLF CRLF), one gzip
  *    member per record, members concatenated per archive.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * archive path; this is north-star LLM-pipeline scope.
  *
  * 100 TB shape: decode is map-only (one task per archive blob; in
  * production the blobs come straight from a binary-file source, so the
  * only shuffle in sight is whatever the downstream analysis needs). The
  * test-fixture WRITER has the same cost envelope as production storage:
  * building an archive buffers one archive's records — the same working
  * set a crawl fetcher holds before flushing a .warc.gz segment. Memory
  * per decode task is bounded by `maxRecordBytes` (a declared cap handed
  * to inflate, not a post-hoc check), so a hostile member cannot balloon
  * an executor.
  */
object Archives {

  private final class MalformedArchive extends RuntimeException("malformed archive", null, false, false)

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // ---------------------------------------------------------------- gzip

  /** Stored-block DEFLATE framing (RFC 1951 §3.2.4): blocks of at most
    * 65535 bytes, each 5 bytes of framing (BFINAL/BTYPE byte + LEN/~LEN
    * little-endian); empty input is one final empty block. The closed
    * form `5 * max(1, ceil(n / 65535)) + n` is replayed by the oracles.
    */
  private def storedDeflate(out: java.io.ByteArrayOutputStream, data: Array[Byte]): Unit = {
    var off = 0
    var first = true
    while (off < data.length || first) {
      first = false
      val len = math.min(65535, data.length - off)
      val fin = off + len >= data.length
      out.write(if (fin) 1 else 0)
      out.write(len & 0xff); out.write((len >> 8) & 0xff)
      out.write((len ^ 0xffff) & 0xff); out.write(((len ^ 0xffff) >> 8) & 0xff)
      out.write(data, off, len)
      off += len
    }
  }

  /** One genuine gzip member. `variant` selects the optional-field
    * profile the reader must walk — 0: bare, 1: FNAME `d<nameId>.txt`,
    * 2: FEXTRA (6-byte 'GR' subfield), 3: FHCRC (low 16 bits of CRC-32
    * over the header, which the reader re-derives and checks). The body
    * is framed by `method` — 0: stored blocks (closed-form length,
    * SQL-replayable, what the `text_gunzip` oracle's framing model
    * requires); 1: real LZ77 + FIXED Huffman ([[Multimodal.deflateFixed]]);
    * 2: real LZ77 + DYNAMIC Huffman ([[Multimodal.deflateDynamic]]). The
    * WARC writers cycle all three, so every DEFLATE block type sits
    * under the oracled decode path on genuinely compressed streams.
    */
  private[ext] def gzipMember(data: Array[Byte], variant: Int, nameId: Long,
      method: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 64)
    val flg = variant match {
      case 1 => 0x08 // FNAME
      case 2 => 0x04 // FEXTRA
      case 3 => 0x02 // FHCRC
      case _ => 0x00
    }
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME = 0
    out.write(0)    // XFL
    out.write(0xff) // OS = unknown
    variant match {
      case 1 =>
        out.write(utf8(s"d$nameId.txt")); out.write(0)
      case 2 =>
        out.write(6); out.write(0) // XLEN = 6 LE
        out.write('G'); out.write('R'); out.write(2); out.write(0)
        out.write((nameId % 256).toInt); out.write(((nameId / 256) % 256).toInt)
      case 3 =>
        val hdr = out.toByteArray
        val c = Bits.crc32(hdr, 0, hdr.length)
        out.write(c & 0xff); out.write((c >> 8) & 0xff)
      case _ => ()
    }
    method match {
      case 1 => out.write(Multimodal.deflateFixed(data))
      case 2 => out.write(Multimodal.deflateDynamic(data))
      case _ => storedDeflate(out, data)
    }
    val c = Bits.crc32(data, 0, data.length)
    out.write(c & 0xff); out.write((c >> 8) & 0xff); out.write((c >> 16) & 0xff); out.write((c >> 24) & 0xff)
    val n = data.length
    out.write(n & 0xff); out.write((n >> 8) & 0xff); out.write((n >> 16) & 0xff); out.write((n >> 24) & 0xff)
    out.toByteArray
  }

  /** Decode ONE gzip member starting at `from`; returns the decompressed
    * bytes and the position just past the member's trailer — where the
    * next member of a concatenated stream begins. Violations of RFC 1952
    * (bad magic, non-deflate CM, reserved FLG bits, header CRC mismatch,
    * trailer CRC/ISIZE mismatch, truncation) throw, which the public
    * operators convert to the malformed-drop convention.
    */
  private[ext] def gunzipMember(bytes: Array[Byte], from: Int, until: Int,
      maxOut: Int): (Array[Byte], Int) = {
    if (until - from < 18) throw new MalformedArchive // header + empty block + trailer
    if ((bytes(from) & 0xff) != 0x1f || (bytes(from + 1) & 0xff) != 0x8b) throw new MalformedArchive
    if ((bytes(from + 2) & 0xff) != 8) throw new MalformedArchive // CM must be deflate
    val flg = bytes(from + 3) & 0xff
    if ((flg & 0xe0) != 0) throw new MalformedArchive // reserved bits
    var p = from + 10 // past MTIME/XFL/OS
    if ((flg & 0x04) != 0) { // FEXTRA
      if (p + 2 > until) throw new MalformedArchive
      val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > until) throw new MalformedArchive
    }
    if ((flg & 0x08) != 0) { // FNAME: NUL-terminated
      while (p < until && bytes(p) != 0) p += 1
      if (p >= until) throw new MalformedArchive
      p += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT: NUL-terminated
      while (p < until && bytes(p) != 0) p += 1
      if (p >= until) throw new MalformedArchive
      p += 1
    }
    if ((flg & 0x02) != 0) { // FHCRC: low 16 bits of CRC-32 over the header
      if (p + 2 > until) throw new MalformedArchive
      val stored = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      if (stored != (Bits.crc32(bytes, from, p) & 0xffff)) throw new MalformedArchive
      p += 2
    }
    val (data, end) =
      try Multimodal.inflateWithEnd(bytes, p, until, maxOut, sizeHint = math.min(maxOut, 4 * (until - p)))
      catch { case scala.util.control.NonFatal(_) => throw new MalformedArchive }
    if (end + 8 > until) throw new MalformedArchive
    val crc = (bytes(end) & 0xff) | ((bytes(end + 1) & 0xff) << 8) |
      ((bytes(end + 2) & 0xff) << 16) | ((bytes(end + 3) & 0xff) << 24)
    if (crc != Bits.crc32(data, 0, data.length)) throw new MalformedArchive
    val isize = (bytes(end + 4) & 0xffL) | ((bytes(end + 5) & 0xffL) << 8) |
      ((bytes(end + 6) & 0xffL) << 16) | ((bytes(end + 7) & 0xffL) << 24)
    if (isize != (data.length.toLong & 0xffffffffL)) throw new MalformedArchive
    (data, end + 8)
  }

  /** Split and decode every member of a concatenated gzip stream (how
    * multi-member .gz and .warc.gz files are laid out). `None` on any
    * malformed member — the whole blob drops, matching the reference's
    * malformed-input convention (SURVEY §2 O3).
    */
  private[ext] def gunzipAll(bytes: Array[Byte], maxOutPerMember: Int,
      maxMembers: Int = 1 << 20): Option[Vector[Array[Byte]]] =
    try {
      if (bytes == null) return None
      val acc = Vector.newBuilder[Array[Byte]]
      var pos = 0
      var n = 0
      while (pos < bytes.length) {
        if (n >= maxMembers) throw new MalformedArchive
        val (data, next) = gunzipMember(bytes, pos, bytes.length, maxOutPerMember)
        acc += data
        pos = next
        n += 1
      }
      if (n == 0) None else Some(acc.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  private def rollingChecksum(data: Array[Byte]): Long = {
    var c = 0L
    var i = 0
    while (i < data.length) { c = (c * 31 + (data(i) & 0xff)) % 1000000007L; i += 1 }
    c
  }

  // ---------------------------------------------- gzip operator surface

  /** Compress each document into a genuine gzip payload. Header variant
    * cycles with `doc_id % 4` so the corpus exercises every optional-field
    * profile; `doc_id % 5 == 0` docs are written as TWO concatenated
    * members (text split at the byte midpoint, second member bare) so the
    * member splitter is on the oracled path, not just in specs. Non-
    * negative ids only: the Scala/SQL `%` semantics diverge on negatives.
    */
  def encodeGzipDocs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        val data = utf8(text)
        val variant = (id % 4).toInt
        val payload =
          if (id % 5 == 0) {
            val half = data.length / 2
            val m1 = gzipMember(java.util.Arrays.copyOfRange(data, 0, half), variant, id)
            val m2 = gzipMember(java.util.Arrays.copyOfRange(data, half, data.length), 0, id)
            val out = new Array[Byte](m1.length + m2.length)
            System.arraycopy(m1, 0, out, 0, m1.length)
            System.arraycopy(m2, 0, out, m1.length, m2.length)
            out
          } else gzipMember(data, variant, id)
        (id, payload)
      }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("application/gzip").as("mime")).as("meta"))
  }

  final case class GunzipStats(
      doc_id: Long, compressed_len: Long, n_members: Long, n_bytes: Long, checksum: Long)

  /** Decode gzip payloads end to end — header walk, inflate, CRC-32 and
    * ISIZE trailer verification, member concatenation — and reduce each
    * document to exact integers the DuckDB oracle recomputes from the
    * original text: decompressed length, member count, the base-31
    * positional checksum over the decompressed bytes (content equality),
    * and the compressed length via the writer's closed-form byte model
    * (framing equality). Map-only; decode memory is capped per member.
    */
  def gunzipStats(encoded: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[GunzipStats] = {
    val spark = encoded.sparkSession
    import spark.implicits._
    encoded
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        gunzipAll(payload, maxRecordBytes).map { members =>
          val total = members.map(_.length.toLong).sum
          val all = new Array[Byte](total.toInt)
          var off = 0
          members.foreach { m => System.arraycopy(m, 0, all, off, m.length); off += m.length }
          GunzipStats(id, payload.length.toLong, members.length.toLong, total, rollingChecksum(all))
        }
      }
  }

  // ------------------------------------------------- compression signal

  final case class CompressionSignal(
      doc_id: Long, n_bytes: Long, deflate_len: Long, ratio: Double, checksum: Long)

  /** The compression-ratio quality signal (the CCNet/RefinedWeb
    * heuristic: text that compresses too well is repetitive boilerplate;
    * text that barely compresses is noise), computed with the repo's own
    * from-scratch DEFLATE compressor ([[Multimodal.deflateFixed]] —
    * hash-chain LZ77 + fixed-Huffman emit) and round-tripped through its
    * own inflate on the spot: `n_bytes` and `checksum` describe the
    * DECODED bytes, so a compressor bug surfaces as an oracle hash
    * mismatch (a failed round trip emits -1, never throws in the hot
    * path). The signal uses the DYNAMIC-Huffman emitter — the layout
    * real gzip uses for text, and the better ratio estimate.
    * `deflate_len`/`ratio` are properties of the compressor's emission —
    * not SQL-replayable by design; they are pinned by the JDK-Inflater
    * cross-decoder differential in ArchivesSpec instead. Map-only, one
    * pass, no shuffle.
    */
  def compressionSignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[CompressionSignal] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        val data = utf8(text)
        val comp = Multimodal.deflateDynamic(data)
        val ratio = comp.length.toDouble / math.max(1, data.length)
        try {
          val back = Multimodal.inflate(comp, 0, comp.length, data.length)
          CompressionSignal(id, back.length.toLong, comp.length.toLong, ratio, rollingChecksum(back))
        } catch {
          case scala.util.control.NonFatal(_) =>
            CompressionSignal(id, -1L, comp.length.toLong, ratio, -1L)
        }
      }
  }

  // ----------------------------------------------------------- WARC layer

  /** One WARC/1.0 response record for a document: version line, CRLF
    * headers (type, target URI carrying the doc id, Content-Length in
    * BYTES of the body, optionally the block's Content-Type), blank line,
    * body, record terminator.
    */
  private def warcRecord(id: Long, body: Array[Byte], blockType: String = ""): Array[Byte] = {
    val head = utf8(
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
        (if (blockType.nonEmpty) s"Content-Type: $blockType\r\n" else "") +
        s"Content-Length: ${body.length}\r\n" +
        "\r\n")
    val out = new Array[Byte](head.length + body.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Assemble per-archive payload blobs from INDEPENDENT per-record member
    * bytes (round 17, optimization guide §2.5/§1.2): every archive family
    * below concatenates members whose bytes depend only on (id, text), so
    * the EXPENSIVE per-record compression runs as a spread per-doc map —
    * behind the staging round-robin exchange that decouples it from the
    * scan's split count — and the per-archive group stage only sorts by id
    * and concatenates. Payload bytes are identical to encoding inside the
    * group (same members, same order); what moves across the one extra
    * exchange is the compressed member (smaller than the text it came
    * from). Before this split the whole deflate/LZMA/BWT encode ran inside
    * the `nArchives`-way mapGroups — at most 16 cores busy regardless of
    * session size.
    */
  private[ext] def assembleArchives(docs: DataFrame, nArchives: Int,
      idCol: String, textCol: String)(member: (Long, String) => Array[Byte]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) => (id, member(id, text)) }
      .groupByKey(_._1 % nArchives)
      .mapGroups { (aid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach(r => out.write(r._2))
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  /** Group documents into `nArchives` crawl-style archives: records
    * ordered by doc id, each gzip'd as its own member (header variant
    * cycling with the id), members concatenated. The per-group buffer is
    * one archive — the same working set a crawl fetcher holds before
    * flushing a .warc.gz segment; at production scale archives arrive
    * pre-built from the blob store and this synthesizer isn't on the
    * path.
    */
  def encodeWarcArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      // cycle stored / fixed / dynamic framing, so ALL THREE deflate
      // block types sit under the oracled decode path
      gzipMember(warcRecord(id, utf8(text)), (id % 4).toInt, id, method = (id % 3).toInt)
    }

  final case class WarcEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, content_length: Long, checksum: Long)

  /** Parse the header block of one decompressed WARC record; returns the
    * target doc id and the body slice bounds. Strict: version line must
    * be WARC/1.0, Content-Length must be present, digits only, and must
    * place the terminator exactly at the record end.
    */
  private def parseWarcRecord(rec: Array[Byte]): (Long, Int, Int) = {
    // locate the header/body split: first CRLF CRLF
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < rec.length) {
      if (rec(i) == '\r' && rec(i + 1) == '\n' && rec(i + 2) == '\r' && rec(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) throw new MalformedArchive
    val head = new String(rec, 0, split, java.nio.charset.StandardCharsets.UTF_8)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || lines(0) != "WARC/1.0") throw new MalformedArchive
    var target: String = null
    var clen = -1L
    lines.iterator.drop(1).foreach { line =>
      val c = line.indexOf(": ")
      if (c < 0) throw new MalformedArchive
      val name = line.substring(0, c)
      val value = line.substring(c + 2)
      if (name == "WARC-Target-URI") target = value
      else if (name == "Content-Length") {
        if (value.isEmpty || !value.forall(_.isDigit)) throw new MalformedArchive
        clen = value.toLong
      }
    }
    if (target == null || clen < 0) throw new MalformedArchive
    val bodyFrom = split + 4
    if (bodyFrom + clen + 4 != rec.length) throw new MalformedArchive
    if (rec(rec.length - 4) != '\r' || rec(rec.length - 3) != '\n' ||
      rec(rec.length - 2) != '\r' || rec(rec.length - 1) != '\n') throw new MalformedArchive
    val slash = target.lastIndexOf('/')
    val idStr = target.substring(slash + 1)
    if (idStr.isEmpty || !idStr.forall(_.isDigit)) throw new MalformedArchive
    (idStr.toLong, bodyFrom, bodyFrom + clen.toInt)
  }

  // ----------------------------------------------------- HTTP-in-WARC layer

  /** An HTTP/1.1 200 response around a body, the message a real crawl
    * response record stores: status line, Content-Type, then either a
    * Content-Length body or a `Transfer-Encoding: chunked` body (100-byte
    * chunks, lowercase-hex sizes, zero-chunk terminator) — the wire
    * framings a crawler actually receives. `encoding` applies a CONTENT
    * CODING to the body BEFORE the transfer framing (RFC 9110 layering:
    * content coding innermost, transfer coding outermost) — 0: identity,
    * 1: gzip (a genuine member, header profile and DEFLATE block type
    * cycled by `id`), 2: zlib deflate, 3: brotli (RFC 7932, genuinely
    * COMPRESSED meta-blocks from the quality-1 encoder
    * [[Brotli.compressQ1]] — LZ77 + per-block prefix codes, decodable
    * by any brotli decoder).
    */
  private def httpResponse(body: Array[Byte], chunked: Boolean, encoding: Int = 0,
      id: Long = 0L,
      contentType: String = "text/plain; charset=utf-8"): Array[Byte] = {
    val (payload, encHeader) = encoding match {
      case 1 => (gzipMember(body, (id % 4).toInt, id, method = (id % 3).toInt),
        "Content-Encoding: gzip\r\n")
      case 2 => // zlib around a dynamic-Huffman body (RFC 9110 §8.4.1.2)
        (Bits.zlibWrap(0x01, Multimodal.deflateDynamic(body), body), "Content-Encoding: deflate\r\n")
      case 3 => (Brotli.compressQ1(body), "Content-Encoding: br\r\n")
      case _ => (body, "")
    }
    val out = new java.io.ByteArrayOutputStream(payload.length + 160)
    if (!chunked) {
      out.write(utf8(
        "HTTP/1.1 200 OK\r\n" +
          s"Content-Type: $contentType\r\n" +
          encHeader +
          s"Content-Length: ${payload.length}\r\n" +
          "\r\n"))
      out.write(payload)
    } else {
      out.write(utf8(
        "HTTP/1.1 200 OK\r\n" +
          s"Content-Type: $contentType\r\n" +
          encHeader +
          "Transfer-Encoding: chunked\r\n" +
          "\r\n"))
      var off = 0
      while (off < payload.length) {
        val len = math.min(100, payload.length - off)
        out.write(utf8(len.toHexString + "\r\n"))
        out.write(payload, off, len)
        out.write('\r'); out.write('\n')
        off += len
      }
      out.write(utf8("0\r\n\r\n"))
    }
    out.toByteArray
  }

  /** Parse an HTTP/1.1 response message: status line, CRLF headers, then
    * the body under whichever framing the headers declare. Chunked
    * decoding accepts upper/lowercase hex and chunk extensions
    * (`size;ext`), requires each chunk's trailing CRLF and the zero-chunk
    * terminator, and must consume the message exactly; a Content-Length
    * body must likewise cover the remaining bytes exactly. After
    * de-framing, the declared `Content-Encoding` is DECODED — gzip
    * (whole-member, trailer-verified) and deflate (zlib, Adler-verified)
    * through the repo's own inflate, br through the from-scratch RFC
    * 7932 decoder; an unknown coding or a damaged stream is malformed
    * (callers quarantine the archive). `maxBody`
    * caps the decoded size — the coding could expand the framed bytes a
    * thousandfold, so the cap is declared to inflate, not checked after.
    * Returns (status, content-type, content-encoding, decoded body).
    */
  private def parseHttpResponse(msg: Array[Byte],
      maxBody: Int = 1 << 26): (Long, String, String, Array[Byte]) = {
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < msg.length) {
      if (msg(i) == '\r' && msg(i + 1) == '\n' && msg(i + 2) == '\r' && msg(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) throw new MalformedArchive
    val head = new String(msg, 0, split, java.nio.charset.StandardCharsets.UTF_8)
    val lines = head.split("\r\n", -1)
    val status = lines(0).split(" ", 3) match {
      case Array(proto, code, _*) if proto.startsWith("HTTP/1.") && code.nonEmpty && code.forall(_.isDigit) =>
        code.toLong
      case _ => throw new MalformedArchive
    }
    var contentType = ""
    var contentEncoding = ""
    var clen = -1L
    var chunked = false
    lines.iterator.drop(1).foreach { line =>
      val c = line.indexOf(':')
      if (c < 0) throw new MalformedArchive
      val name = line.substring(0, c).trim.toLowerCase
      val value = line.substring(c + 1).trim
      if (name == "content-type") contentType = value
      else if (name == "content-encoding") contentEncoding = value.toLowerCase
      else if (name == "content-length") {
        if (value.isEmpty || !value.forall(_.isDigit)) throw new MalformedArchive
        clen = value.toLong
      } else if (name == "transfer-encoding" && value.toLowerCase.contains("chunked")) chunked = true
    }
    val bodyFrom = split + 4
    val framed: Array[Byte] = if (chunked) {
      val out = new java.io.ByteArrayOutputStream(msg.length - bodyFrom)
      var p = bodyFrom
      var done = false
      while (!done) {
        // chunk-size line: hex digits, optional ;extension, CRLF
        var e = p
        while (e + 1 < msg.length && !(msg(e) == '\r' && msg(e + 1) == '\n')) e += 1
        if (e + 1 >= msg.length) throw new MalformedArchive
        val sizeLine = new String(msg, p, e - p, java.nio.charset.StandardCharsets.US_ASCII)
        val semi = sizeLine.indexOf(';')
        val hexStr = (if (semi >= 0) sizeLine.substring(0, semi) else sizeLine).trim
        if (hexStr.isEmpty || !hexStr.forall(ch => Character.digit(ch, 16) >= 0)) throw new MalformedArchive
        val size = java.lang.Long.parseLong(hexStr, 16)
        if (size < 0 || size > msg.length) throw new MalformedArchive
        p = e + 2
        if (size == 0) {
          // no trailers in this profile: terminator CRLF must end the message
          if (p + 2 != msg.length || msg(p) != '\r' || msg(p + 1) != '\n') throw new MalformedArchive
          done = true
        } else {
          if (p + size + 2 > msg.length) throw new MalformedArchive
          out.write(msg, p, size.toInt)
          p += size.toInt
          if (msg(p) != '\r' || msg(p + 1) != '\n') throw new MalformedArchive
          p += 2
        }
      }
      out.toByteArray
    } else {
      if (clen < 0 || bodyFrom + clen != msg.length) throw new MalformedArchive
      java.util.Arrays.copyOfRange(msg, bodyFrom, msg.length)
    }
    // content coding sits UNDER the transfer framing: de-frame first
    // (above), decode second — the inverse of the writer's layering
    val body = contentEncoding match {
      case "" | "identity" => framed
      case "gzip" | "x-gzip" =>
        try {
          val (data, end) = gunzipMember(framed, 0, framed.length, maxBody)
          if (end != framed.length) throw new MalformedArchive // exactly one member
          data
        } catch { case scala.util.control.NonFatal(_) => throw new MalformedArchive }
      case "deflate" =>
        // hint ~4x the framed size: the buffer grows geometrically toward
        // maxBody for outliers instead of zeroing maxBody per record
        try Multimodal.zlibInflate(framed, 0, framed.length, maxBody,
          sizeHint = math.min(framed.length.toLong * 4 + 64, maxBody.toLong).toInt)
        catch { case scala.util.control.NonFatal(_) => throw new MalformedArchive }
      case "br" =>
        try Brotli.decompress(framed, maxBody)
        catch { case scala.util.control.NonFatal(_) => throw new MalformedArchive }
      case _ => throw new MalformedArchive // unknown codings quarantine
    }
    (status, contentType, contentEncoding, body)
  }

  /** Crawl archives whose records store full HTTP response messages
    * (`Content-Type: application/http; msgtype=response`), the real WARC
    * response shape: even doc ids get chunked transfer framing, odd ones
    * Content-Length framing, so both wire paths sit under the gate.
    */
  def encodeWarcHttpArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      val msg = httpResponse(utf8(text), chunked = id % 2 == 0)
      gzipMember(
        warcRecord(id, msg, "application/http; msgtype=response"), (id % 4).toInt, id,
        method = (id % 3).toInt)
    }

  /** [[encodeWarcHttpArchives]] with CONTENT CODINGS, which is what real
    * WARC response records overwhelmingly carry: the server compressed
    * the body, the crawler stored the wire bytes. Doc id selects the
    * transfer framing (even: chunked, odd: Content-Length) and the
    * content coding ((id / 2) % 4 — 0: identity, 1: gzip, 2: zlib
    * deflate, 3: brotli), so all 8 framing × coding combinations recur
    * every 8 ids and both decode orders (de-frame → decode) sit under
    * the oracle.
    */
  def encodeWarcHttpEncodedArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      val msg = httpResponse(utf8(text), chunked = id % 2 == 0,
        encoding = ((id / 2) % 4).toInt, id = id)
      gzipMember(
        warcRecord(id, msg, "application/http; msgtype=response"), (id % 4).toInt, id,
        method = (id % 3).toInt)
    }

  /** The CHARSET composition fixture: like
    * [[encodeWarcHttpEncodedArchives]], but each record's body and
    * `Content-Type` charset declaration come from the SHARED
    * declaration-hazard recipe ([[Charset.fixtureRecord]]) — bodies
    * serialized in md5-chosen encodings with correct / missing / WRONG /
    * conflicting labels — then content-coded, HTTP-framed, WARC-wrapped
    * and gzip-membered like every crawl record. The seven-layer gate's
    * input.
    */
  def encodeWarcHttpCharsetArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    assembleArchives(docs, nArchives, idCol, textCol) { (id, _) =>
      val (ct, body) = Charset.fixtureRecord(id)
      val msg = httpResponse(body, chunked = id % 2 == 0,
        encoding = ((id / 2) % 4).toInt, id = id, contentType = ct)
      gzipMember(
        warcRecord(id, msg, "application/http; msgtype=response"), (id % 4).toInt, id,
        method = (id % 3).toInt)
    }

  final case class WarcCharsetEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long,
      detected: String, source: String, n_bytes_out: Long, checksum: Long)

  /** The crawl stack's TEXT-PLANE capstone: gzip member split → WARC
    * parse → HTTP de-framing → Content-Encoding decode → WHATWG charset
    * detection (the HTTP `Content-Type` is the transport-layer tier;
    * BOM and in-body meta come from the decoded payload) → transcode to
    * canonical UTF-8 → per-record checksum. Seven layers under one
    * bitwise oracle; damage anywhere quarantines the archive whole.
    */
  def warcHttpCharsetExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[WarcCharsetEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = Vector.newBuilder[WarcCharsetEntry]
            var pos = 0
            var idx = 0L
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (_, contentType, _, body) = parseHttpResponse(msg, maxRecordBytes)
              val (name, source) = Charset.detect(body, contentType)
              val text = Charset.decodeAs(name, body)
              val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              var c = 0L
              b.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
              out += WarcCharsetEntry(aid, idx, docId, name, source, b.length.toLong, c)
              pos = next
              idx += 1
            }
            out.result().iterator
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
  }

  final case class WarcHttpEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, http_status: Long,
      content_type: String, body_len: Long, checksum: Long)

  final case class WarcHttpEncEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, http_status: Long,
      content_type: String, content_encoding: String, body_len: Long, checksum: Long)

  /** [[warcHttpExtract]] surfacing the content coding: gzip member split
    * → WARC parse → HTTP parse (de-frame, then DECODE the declared
    * `Content-Encoding` through the from-scratch gzip/zlib inflate) →
    * one row per record with the DECODED body's length and checksum —
    * the oracle replays both from the source text, so a slip anywhere
    * in the coding layer (wrong layering order, unverified trailer,
    * partial member) fails the hash. Same map-only envelope and
    * whole-archive-drop damage discipline as the other extractors.
    */
  def warcHttpEncExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[WarcHttpEncEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = Vector.newBuilder[WarcHttpEncEntry]
            var pos = 0
            var idx = 0L
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (status, contentType, contentEncoding, body) = parseHttpResponse(msg, maxRecordBytes)
              out += WarcHttpEncEntry(aid, idx, docId, status, contentType, contentEncoding,
                body.length.toLong, rollingChecksum(body))
              pos = next
              idx += 1
            }
            out.result().iterator
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
  }

  /** The full crawl-record decode stack: gzip member split -> WARC record
    * parse -> nested HTTP response parse (status line, headers, chunked
    * de-framing or Content-Length slicing) -> per-record row. This is
    * what standing up a text corpus from .warc.gz actually requires; the
    * oracle pins the de-framed body bytes via the base-31 checksum, so a
    * chunked-decoding slip (size line, extension, terminator) fails the
    * hash even though the framing never appears in the output. Map-only,
    * same memory envelope as [[warcExtract]].
    */
  def warcHttpExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[WarcHttpEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = Vector.newBuilder[WarcHttpEntry]
            var pos = 0
            var idx = 0L
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (status, contentType, _, body) = parseHttpResponse(msg, maxRecordBytes)
              out += WarcHttpEntry(aid, idx, docId, status, contentType,
                body.length.toLong, rollingChecksum(body))
              pos = next
              idx += 1
            }
            out.result().iterator
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
  }

  /** [[warcHttpExtract]]'s body-returning sibling for pipeline
    * composition: the same gzip → WARC → HTTP decode stack, but each
    * record yields its de-framed BODY (UTF-8) so a downstream stage —
    * HTML text extraction in [[CurationPipeline.crawlCurate]] — can
    * keep processing the content. Same whole-archive-drop error
    * discipline, map-only.
    */
  def warcHttpExtractBodies(archives: DataFrame, maxRecordBytes: Int = 1 << 26): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (_, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = Vector.newBuilder[(Long, String)]
            var pos = 0
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (_, _, _, body) = parseHttpResponse(msg, maxRecordBytes)
              out += ((docId, new String(body, java.nio.charset.StandardCharsets.UTF_8)))
              pos = next
            }
            out.result().iterator
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
      .toDF("doc_id", "body")
  }

  /** WET conversion — the Common Crawl deliverable: response segments
    * (.warc.gz of full HTTP messages with HTML bodies) become
    * CONVERSION segments (.warc.gz of `WARC-Type: conversion` records
    * holding the extracted PLAINTEXT), which is the artifact most
    * text-corpus consumers actually download. Per archive: gzip member
    * walk → WARC parse → HTTP de-framing → [[Html.extractText]] →
    * re-serialize each document as a conversion record (Refers-To
    * pointing back at the source record's URI, text/plain block,
    * Content-Length in BYTES) gzip'd as its own member — so the output
    * is a REAL warc.gz the standard [[warcExtract]] reader ingests
    * unchanged. Map-only per archive, the input segment's blast radius
    * preserved: damage anywhere drops the whole segment, never emits a
    * half-converted one.
    */
  def wetConvert(archives: DataFrame, maxRecordBytes: Int = 1 << 26): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = new java.io.ByteArrayOutputStream()
            var pos = 0
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (_, _, _, body) = parseHttpResponse(msg, maxRecordBytes)
              val text = utf8(Html.extractText(new String(body, java.nio.charset.StandardCharsets.UTF_8)))
              val head = utf8(
                "WARC/1.0\r\n" +
                  "WARC-Type: conversion\r\n" +
                  s"WARC-Refers-To: http://example.com/doc/$docId\r\n" +
                  s"WARC-Target-URI: http://example.com/doc/$docId\r\n" +
                  "Content-Type: text/plain\r\n" +
                  s"Content-Length: ${text.length}\r\n" +
                  "\r\n")
              val wet = new Array[Byte](head.length + text.length + 4)
              System.arraycopy(head, 0, wet, 0, head.length)
              System.arraycopy(text, 0, wet, head.length, text.length)
              wet(wet.length - 4) = '\r'; wet(wet.length - 3) = '\n'
              wet(wet.length - 2) = '\r'; wet(wet.length - 1) = '\n'
              out.write(gzipMember(wet, (docId % 4).toInt, docId, method = (docId % 3).toInt))
              pos = next
            }
            Iterator.single((aid, out.toByteArray))
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty } // drop segment whole
      }
      .toDF("archive_id", "payload")
  }

  /** Escape a string for a JSON string literal (quote, backslash, and
    * control characters — the canonical-writer subset).
    */
  private def jsonEsc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** WAT conversion — the METADATA deliverable next to [[wetConvert]]
    * (Common Crawl ships response/WET/WAT as a trio): per response
    * record, a `WARC-Type: metadata` record whose block is one canonical
    * JSON object carrying the envelope target URI, the HTTP response
    * status/Content-Type, the page `<title>`, and every extracted
    * outlink RESOLVED against the record's own URI host (root-relative
    * hrefs inherit the crawl URI, not the markup's host) — the link
    * graph + head metadata consumers mine WAT files for. Same segment
    * semantics as WET: the output is a REAL .warc.gz the standard
    * [[warcExtract]] reader ingests unchanged, and damage anywhere
    * drops the whole segment. Map-only per archive.
    */
  def watConvert(archives: DataFrame, maxRecordBytes: Int = 1 << 26): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = new java.io.ByteArrayOutputStream()
            var pos = 0
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val msg = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              val (status, contentType, _, body) = parseHttpResponse(msg, maxRecordBytes)
              val html = new String(body, java.nio.charset.StandardCharsets.UTF_8)
              val targetUri = s"http://example.com/doc/$docId"
              val links = Html.extractLinks(html, baseHost = "example.com")
              val json = utf8(
                "{\"Container\":{\"Target-URI\":\"" + jsonEsc(targetUri) + "\"}," +
                  "\"Response\":{\"Status\":" + status +
                  ",\"Content-Type\":\"" + jsonEsc(contentType) + "\"}," +
                  "\"HTML-Metadata\":{\"Title\":\"" + jsonEsc(Html.titleOf(html)) + "\"," +
                  "\"Links\":[" + links.map(l => "\"" + jsonEsc(l._2) + "\"").mkString(",") + "]}}")
              val head = utf8(
                "WARC/1.0\r\n" +
                  "WARC-Type: metadata\r\n" +
                  s"WARC-Refers-To: $targetUri\r\n" +
                  s"WARC-Target-URI: $targetUri\r\n" +
                  "Content-Type: application/json\r\n" +
                  s"Content-Length: ${json.length}\r\n" +
                  "\r\n")
              val wat = new Array[Byte](head.length + json.length + 4)
              System.arraycopy(head, 0, wat, 0, head.length)
              System.arraycopy(json, 0, wat, head.length, json.length)
              wat(wat.length - 4) = '\r'; wat(wat.length - 3) = '\n'
              wat(wat.length - 2) = '\r'; wat(wat.length - 1) = '\n'
              out.write(gzipMember(wat, (docId % 4).toInt, docId, method = (docId % 3).toInt))
              pos = next
            }
            Iterator.single((aid, out.toByteArray))
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty } // drop segment whole
      }
      .toDF("archive_id", "payload")
  }

  final case class CdxRecord(archive_id: Long, rec_idx: Long, urlkey: String,
      rec_doc_id: Long, offset: Long, length: Long, n_bytes: Long, digest: Long)

  /** CDX indexing — the THIRD Common Crawl deliverable next to
    * [[wetConvert]]/[[watConvert]]: per record, the SURT-form URL key
    * (host reversed comma-joined + path), the member's byte OFFSET and
    * compressed LENGTH inside the segment (what makes a .warc.gz
    * randomly accessible: a reader issues one ranged GET per record
    * instead of scanning the segment), the content length, and a content
    * digest. Offsets come free from the member walk ([[gunzipMember]]
    * returns each member's end position). Map-only per segment; damage
    * drops the segment whole.
    */
  def cdxIndex(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[CdxRecord] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Nil
          else {
            val out = Vector.newBuilder[CdxRecord]
            var pos = 0
            var idx = 0L
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              var digest = 0L
              var i = bodyFrom
              while (i < bodyUntil) { digest = (digest * 31 + (rec(i) & 0xff)) % 1000000007L; i += 1 }
              out += CdxRecord(aid, idx, s"com,example)/doc/$docId", docId,
                pos.toLong, (next - pos).toLong, (bodyUntil - bodyFrom).toLong, digest)
              pos = next
              idx += 1
            }
            out.result()
          }
        } catch { case scala.util.control.NonFatal(_) => Nil } // drop segment whole
      }
  }

  /** The CDX payoff, graded: RANDOM-ACCESS extraction. Each index row's
    * (offset, length) slices exactly one gzip member out of its segment,
    * which is decoded and parsed ALONE — no member walk — and the result
    * must reproduce [[warcExtract]]'s table bitwise, so a wrong offset,
    * a short length, or an off-by-one at either edge fails the oracle
    * (the slice stops being a whole valid member). At fixture scale the
    * segment blob rides the join; on a real 100 TB store the (offset,
    * length) pair becomes a ranged GET against the blob store and the
    * join disappears — the offsets' correctness is what this key pins.
    */
  final case class CdxjEntry(urlkey: String, timestamp: String, url: String,
      offset: Long, length: Long, digest: String, filename: String)

  /** Serialize one index row as a CDXJ line — the TEXTUAL index format
    * the big crawl corpora ship next to their segments (`cdx-*.gz`):
    * `SURT-key SP 14-digit-timestamp SP {flat JSON}` where every value
    * is a JSON STRING (offsets and lengths included — the format's
    * quirk). The writer dual of [[parseCdxjLine]], used by the spec's
    * round-trip differential.
    */
  private[ext] def cdxjLineOf(e: CdxjEntry): String =
    e.urlkey + " " + e.timestamp + " {\"url\": \"" + jsonEsc(e.url) +
      "\", \"digest\": \"" + jsonEsc(e.digest) +
      "\", \"length\": \"" + e.length + "\", \"offset\": \"" + e.offset +
      "\", \"filename\": \"" + jsonEsc(e.filename) + "\"}"

  /** Flat JSON object with STRING values only — the CDXJ profile. Strict:
    * anything but `{"k": "v", ...}` with the standard string escapes
    * fails; duplicate keys fail; non-string values are out of profile.
    */
  private[ext] def parseFlatJsonStrings(s: String): Map[String, String] = {
    var i = 0
    val n = s.length
    def ws(): Unit = while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\t')) i += 1
    def expect(c: Char): Unit = {
      if (i >= n || s.charAt(i) != c) throw new MalformedArchive
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (true) {
        if (i >= n) throw new MalformedArchive
        val c = s.charAt(i); i += 1
        if (c == '"') return sb.toString
        else if (c == '\\') {
          if (i >= n) throw new MalformedArchive
          val e = s.charAt(i); i += 1
          e match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 > n) throw new MalformedArchive
              val cp = try Integer.parseInt(s.substring(i, i + 4), 16)
                catch { case _: NumberFormatException => throw new MalformedArchive }
              sb.append(cp.toChar); i += 4
            case _ => throw new MalformedArchive
          }
        } else if (c < 0x20) throw new MalformedArchive
        else sb.append(c)
      }
      throw new MalformedArchive // unreachable
    }
    val out = Map.newBuilder[String, String]
    var count = 0
    val seen = scala.collection.mutable.Set[String]()
    ws(); expect('{'); ws()
    if (i < n && s.charAt(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        val k = str()
        if (!seen.add(k)) throw new MalformedArchive
        ws(); expect(':'); ws()
        out += k -> str()
        count += 1; if (count > 64) throw new MalformedArchive
        ws()
        if (i < n && s.charAt(i) == ',') { i += 1; ws() }
        else { expect('}'); more = false }
      }
    }
    ws()
    if (i != n) throw new MalformedArchive // trailing bytes
    out.result()
  }

  /** Parse one CDXJ line into its typed entry. Foreign producers carry
    * extra keys (mime, status, languages) — tolerated; the five the
    * random-access contract needs (url, digest, length, offset,
    * filename) are required, with numeric strings for offset/length and
    * a 14-digit timestamp. Any violation fails the line.
    */
  private[ext] def parseCdxjLine(line: String): CdxjEntry = {
    val sp1 = line.indexOf(' ')
    val sp2 = if (sp1 < 0) -1 else line.indexOf(' ', sp1 + 1)
    if (sp1 <= 0 || sp2 <= sp1 + 1) throw new MalformedArchive
    val urlkey = line.substring(0, sp1)
    val ts = line.substring(sp1 + 1, sp2)
    if (ts.length != 14 || !ts.forall(_.isDigit)) throw new MalformedArchive
    val m = parseFlatJsonStrings(line.substring(sp2 + 1))
    def req(k: String): String = m.getOrElse(k, throw new MalformedArchive)
    def num(k: String): Long = {
      val v = req(k)
      if (v.isEmpty || v.length > 18 || !v.forall(_.isDigit)) throw new MalformedArchive
      v.toLong
    }
    CdxjEntry(urlkey, ts, req("url"), num("offset"), num("length"),
      req("digest"), req("filename"))
  }

  def cdxSeek(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[WarcEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    val index = cdxIndex(archives, maxRecordBytes).toDF()
      .select(col("archive_id"), col("rec_idx"), col("rec_doc_id"), col("offset"), col("length"))
    index
      .join(archives.select(col("archive_id").cast("long"), col("payload")), Seq("archive_id"))
      .select(col("archive_id"), col("rec_idx"), col("rec_doc_id"),
        col("offset"), col("length"), col("payload"))
      .as[(Long, Long, Long, Long, Long, Array[Byte])]
      .flatMap { case (aid, idx, docId, offset, length, blob) =>
        try {
          val slice = java.util.Arrays.copyOfRange(blob, offset.toInt, (offset + length).toInt)
          val (rec, end) = gunzipMember(slice, 0, slice.length, maxRecordBytes)
          if (end != slice.length) throw new MalformedArchive // length must be exact
          val (gotId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
          if (gotId != docId) throw new MalformedArchive
          var checksum = 0L
          var i = bodyFrom
          while (i < bodyUntil) { checksum = (checksum * 31 + (rec(i) & 0xff)) % 1000000007L; i += 1 }
          Some(WarcEntry(aid, idx, docId, (bodyUntil - bodyFrom).toLong, checksum))
        } catch { case scala.util.control.NonFatal(_) => None } // drop the record
      }
  }

  /** Demux + decode + parse crawl archives: split each blob into gzip
    * members on the inflate end position, decode each member under the
    * per-record cap, parse the WARC header block, and emit one row per
    * record with exact integers the oracle replays from the source table
    * (record index by id order, Content-Length in bytes, base-31 body
    * checksum). A malformed member or record drops its whole archive —
    * corrupted segment files are quarantined, not half-read. Map-only
    * over archives; parallelism = number of archive blobs, which is why
    * crawl pipelines shard archives small enough to fan out.
    */
  def warcExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[WarcEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, blob) =>
        try {
          if (blob == null || blob.length == 0) Iterator.empty
          else {
            val out = Vector.newBuilder[WarcEntry]
            var pos = 0
            var idx = 0L
            while (pos < blob.length) {
              val (rec, next) = gunzipMember(blob, pos, blob.length, maxRecordBytes)
              val (docId, bodyFrom, bodyUntil) = parseWarcRecord(rec)
              val body = java.util.Arrays.copyOfRange(rec, bodyFrom, bodyUntil)
              out += WarcEntry(aid, idx, docId, (bodyUntil - bodyFrom).toLong, rollingChecksum(body))
              pos = next
              idx += 1
            }
            out.result().iterator
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
  }
}
