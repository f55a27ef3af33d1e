package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== mbox / MIME email ingestion ========
  *
  * The email-corpus shelf: mailing-list archives and the classic
  * research corpora ship as mbox files — messages concatenated with
  * `From ` separator lines — and the text inside is wrapped in RFC 5322
  * headers and MIME transfer encodings. Getting the PROSE out needs
  * four layers, each implemented from scratch here:
  *
  *  1. **mbox framing** (mboxrd flavor): a line starting `From ` begins
  *     a message; body lines that themselves start with `From ` were
  *     quoted by the archiver as `>From ` (and `>>From ` one level
  *     deeper), so the parser strips exactly one `>` from any
  *     `>...>From ` line — the mboxrd round-trip rule.
  *  2. **RFC 5322 headers**: terminated by the first blank line; folded
  *     continuation lines (leading whitespace) unfold to one logical
  *     header; field names are case-insensitive.
  *  3. **MIME structure**: `multipart/...` bodies split on the
  *     `--boundary` delimiter lines (final `--boundary--`), and the
  *     extractor selects the FIRST `text/plain` leaf — the convention
  *     every mail pipeline uses to skip the text/html duplicate.
  *  4. **Transfer decodings**: quoted-printable (`=XX` escapes,
  *     soft line breaks, the `_`-means-space variant inside RFC 2047
  *     words) and base64 (strict alphabet, `=` padding), plus RFC 2047
  *     encoded-words in Subject (`=?charset?Q?...?=` and `?B?`).
  *
  * Damage quarantines the whole archive (the blast-radius convention
  * shared with every container family). Scale shape: one bounded
  * per-archive group (an mbox is one file), then pure per-message
  * compute — map-only after the fixture groupBy, no shuffle in the
  * extract itself.
  *
  * No reference citation — the reference has no ingest path
  * (src/flinkarima.py is metrics-only); north-star scope.
  */
object Mbox {

  private val words = Array("amber", "birch", "cedar", "dune", "ember", "fjord", "grove", "heath")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------ encoders

  private[ext] def qpEncode(s: String): String = {
    val sb = new StringBuilder
    var col = 0
    var i = 0
    // wrap FIRST, then decide the escape: the mboxrd hazard is a
    // PHYSICAL line starting "From ", and a soft break can put any
    // mid-text 'F' at column 0 — so the col==0 test must run after
    // the wrap decision, not before (the ordering bug the review
    // pass caught: an unescaped "From " landing at a wrap boundary
    // would split the message on re-read)
    def wrapFor(n: Int): Unit =
      if (col + n > 72) { sb.append("=\n"); col = 0 } // soft break
    def emit(t: String): Unit = { sb.append(t); col += t.length }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n') { sb.append('\n'); col = 0 }
      else if (c == '=' || c < ' ' || c > '~') { wrapFor(3); emit(f"=${c.toInt}%02X") }
      else {
        wrapFor(1)
        if (col == 0 && c == 'F' && s.startsWith("From ", i)) emit("=46")
        else emit(c.toString)
      }
      i += 1
    }
    sb.toString
  }

  private val b64Alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  private[ext] def b64Encode(data: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    var col = 0
    while (i < data.length) {
      val b0 = data(i) & 0xff
      val b1 = if (i + 1 < data.length) data(i + 1) & 0xff else 0
      val b2 = if (i + 2 < data.length) data(i + 2) & 0xff else 0
      sb.append(b64Alphabet.charAt(b0 >> 2))
      sb.append(b64Alphabet.charAt(((b0 & 3) << 4) | (b1 >> 4)))
      sb.append(if (i + 1 < data.length) b64Alphabet.charAt(((b1 & 15) << 2) | (b2 >> 6)) else '=')
      sb.append(if (i + 2 < data.length) b64Alphabet.charAt(b2 & 63) else '=')
      i += 3
      col += 4
      if (col >= 76 && i < data.length) { sb.append('\n'); col = 0 }
    }
    sb.toString
  }

  // ------------------------------------------------------------- fixture

  /** [[bodyFor]] under STANDALONE .eml framing: every fourth body also
    * carries a literal `>From ` line — real content in a file with no
    * `From ` separators, so a parser that wrongly applies the mboxrd
    * unquote there corrupts the text and fails the checksum.
    */
  private[graft] def emlBodyFor(id: Long): String =
    bodyFor(id) + (if (id % 4 == 0) "\n>From an archived quote" else "")

  /** The decoded text/plain body every arm must recover. */
  private[graft] def bodyFor(id: Long): String = {
    val m = md5Hex(s"mm:$id")
    def w(i: Int) = words(Integer.parseInt(m.substring(i - 1, i), 16) % 8)
    val base = s"id:$id ${w(1)} ${w(2)} ${w(3)} ${w(4)} ${w(5)} ${w(6)}"
    if (id % 4 == 0) base + "\nFrom here onward plain text" else base
  }

  private[ext] def subjectFor(id: Long): String = {
    val m = md5Hex(s"mm:$id")
    def w(i: Int) = words(Integer.parseInt(m.substring(i - 1, i), 16) % 8)
    s"${w(7)} ${w(8)}"
  }

  private def renderMessage(id: Long): String = renderRfc5322(id, mbox = true)

  private def renderRfc5322(id: Long, mbox: Boolean): String = {
    val body = if (mbox) bodyFor(id) else emlBodyFor(id)
    val subject = subjectFor(id)
    val subjHeader = (id % 5) match {
      case 0 => s"=?utf-8?Q?${subject.replace(' ', '_')}?=" // RFC 2047 Q
      case 1 => s"=?utf-8?B?${b64Encode(subject.getBytes("UTF-8"))}?=" // RFC 2047 B
      case _ => subject
    }
    val sb = new StringBuilder
    if (mbox)
      sb.append(s"From archivist@example.com Thu Jan  1 00:00:0$id 2026\n")
    else if (id % 9 == 4)
      // the mail-client export envelope (Thunderbird writes `From - <date>`
      // at the top of saved .eml) — not an RFC 5322 header, must be skipped
      sb.append("From - Thu Jan  1 00:00:00 2026\n")
    sb.append(s"X-Doc-Id: $id\n")
    sb.append("from: \"The Archivist\" <archivist@example.com>\n") // case hazard
    sb.append("To: corpus@example.com\n")
    // folded header: unfolds to one logical Subject line
    if (id % 7 == 0 && id % 5 >= 2) {
      val parts = subject.split(" ", 2)
      sb.append(s"Subject: ${parts(0)}\n\t${parts(1)}\n")
    } else sb.append(s"Subject: $subjHeader\n")
    sb.append("MIME-Version: 1.0\n")
    (id % 3) match {
      case 0 => // 7bit: mboxrd quoting protects body "From " lines —
        // under MBOX framing only; a standalone .eml carries the body raw
        sb.append("Content-Type: text/plain; charset=utf-8\n")
        sb.append("CONTENT-TRANSFER-ENCODING: 7bit\n\n") // case hazard
        sb.append(if (mbox) body.split("\n", -1).map(l =>
          if (l.startsWith("From ") || l.matches("^>+From .*")) ">" + l else l).mkString("\n")
        else body)
        sb.append('\n')
      case 1 =>
        sb.append("Content-Type: text/plain; charset=utf-8\n")
        sb.append("Content-Transfer-Encoding: quoted-printable\n\n")
        sb.append(qpEncode(body)).append('\n')
      case _ if id % 12 == 2 => // NESTED multipart: mixed > alternative,
        // the most common real-mail shape — the text/plain leaf sits one
        // level down and the walk must recurse to find it
        sb.append(s"Content-Type: multipart/mixed; boundary=\"m$id\"\n\n")
        sb.append(s"--m$id\n")
        sb.append("Content-Type: text/html\n\n")
        sb.append("<p>OUTER DECOY must not surface</p>\n")
        sb.append(s"--m$id\n")
        sb.append(s"Content-Type: multipart/alternative; boundary=\"b$id\"\n\n")
        sb.append(s"--b$id\n")
        sb.append("Content-Type: text/html\n\n")
        sb.append("<p>INNER DECOY must not surface</p>\n")
        sb.append(s"--b$id\n")
        sb.append("Content-Type: text/plain; charset=utf-8\n")
        sb.append("Content-Transfer-Encoding: base64\n\n")
        sb.append(b64Encode(body.getBytes("UTF-8"))).append('\n')
        sb.append(s"--b$id--\n")
        sb.append(s"--m$id--\n")
      case _ => // multipart: html decoy first, text/plain in base64 second
        sb.append(s"Content-Type: multipart/alternative; boundary=\"b$id\"\n\n")
        sb.append("preamble to be ignored\n")
        sb.append(s"--b$id\n")
        sb.append("Content-Type: text/html\n\n")
        sb.append("<p>DECOY must not surface</p>\n")
        sb.append(s"--b$id\n")
        sb.append("Content-Type: text/plain; charset=utf-8\n")
        sb.append("Content-Transfer-Encoding: base64\n\n")
        sb.append(b64Encode(body.getBytes("UTF-8"))).append('\n')
        sb.append(s"--b$id--\n")
        sb.append("epilogue to be ignored\n")
    }
    // CRLF arm: RFC 5322's canonical line ending; id % 7 == 3 cycles
    // through all three transfer arms mod 3 (the review pass found the
    // parser rejected CRLF archives outright)
    val txt = sb.toString
    if (id % 7 == 3) txt.replace("\n", "\r\n") else txt
  }

  /** Documents grouped into 16 mbox archives (id % 16, messages in id
    * order) — the container fixture convention shared with zst/bz2/xz.
    */
  def encodeMboxArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .groupByKey(_ % nArchives)
      .mapGroups { (aid, it) =>
        val ids = it.toArray.sorted
        (aid, ids.map(renderMessage).mkString(""))
      }
      .toDF("archive_id", "mbox")
  }

  // ------------------------------------------------------------- parser

  private final class MalformedMbox
      extends RuntimeException("malformed mbox", null, false, false)
  private def fail(): Nothing = throw new MalformedMbox

  private[ext] def qpDecode(s: String, underscoreIsSpace: Boolean = false): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 2 // soft break
        else if (i + 2 < s.length) {
          val h = Character.digit(s.charAt(i + 1), 16)
          val l = Character.digit(s.charAt(i + 2), 16)
          if (h < 0 || l < 0) fail()
          sb.append(((h << 4) | l).toChar)
          i += 3
        } else fail()
      } else if (underscoreIsSpace && c == '_') { sb.append(' '); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[ext] def b64Decode(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0
    var bits = 0
    var i = 0
    var done = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r' || c == ' ' || c == '\t') ()
      else if (c == '=') done = true
      else {
        if (done) fail() // data after padding
        val v = b64Alphabet.indexOf(c)
        if (v < 0) fail()
        acc = (acc << 6) | v
        bits += 6
        if (bits >= 8) { bits -= 8; out.write((acc >> bits) & 0xff) }
      }
      i += 1
    }
    out.toByteArray
  }

  /** RFC 2047 encoded-words in a header value; Q and B, any charset
    * label decoded as UTF-8 (the fixture plane).
    */
  private[ext] def decodeWords(v: String): String = {
    val re = "=\\?[^?]+\\?([QqBb])\\?([^?]*)\\?=".r
    re.replaceAllIn(v, m => scala.util.matching.Regex.quoteReplacement(
      if (m.group(1).equalsIgnoreCase("Q")) qpDecode(m.group(2), underscoreIsSpace = true)
      else new String(b64Decode(m.group(2)), java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Headers of one message: unfold, split on first ':', lower-case the
    * names; returns (map, bodyStartLineIdx).
    */
  private def parseHeaders(lines: Array[String], from: Int): (Map[String, String], Int) = {
    val hs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var last: String = null
    var i = from
    var break = false
    while (!break && i < lines.length) {
      val l = lines(i)
      if (l.isEmpty) break = true
      else {
        if ((l.charAt(0) == ' ' || l.charAt(0) == '\t') && last != null)
          hs(last) = hs(last) + " " + l.trim // unfold
        else {
          val colon = l.indexOf(':')
          if (colon <= 0) fail()
          last = l.substring(0, colon).trim.toLowerCase
          hs(last) = l.substring(colon + 1).trim
        }
        i += 1
      }
    }
    if (!break) fail() // headers never terminated
    (hs.toMap, i + 1)
  }

  private def unquoteMboxrd(l: String): String =
    if (l.matches("^>+From .*")) l.substring(1) else l

  // mboxrd unquoting applies ONLY under mbox framing — a standalone .eml
  // has no `From ` separator, so a `>From ` body line is literal content
  // there and stripping it would corrupt the text (the fixture plants one)
  private def decodeBody(cte: String, raw: String, mboxrd: Boolean): String = cte match {
    case "quoted-printable" => qpDecode(raw)
    case "base64" => new String(b64Decode(raw), java.nio.charset.StandardCharsets.UTF_8)
    case _ => // 7bit/8bit
      if (mboxrd) raw.split("\n", -1).map(unquoteMboxrd).mkString("\n") else raw
  }

  /** The first text/plain LEAF of a message body, decoded — a real
    * walk: multiparts nest (multipart/mixed holding a
    * multipart/alternative is the most common shape in actual mail),
    * so parts whose content-type is itself multipart/… recurse, depth
    * capped against hostile nesting. `headers` are the enclosing
    * entity's; multipart parts carry their own nested header blocks.
    */
  private def extractPlain(headers: Map[String, String], bodyLines: Array[String],
      mboxrd: Boolean = true): String =
    extractPlainDepth(headers, bodyLines, 0, bodyLines.length, depth = 0, mboxrd)
      .getOrElse(fail())

  private def extractPlainDepth(headers: Map[String, String], lines: Array[String],
      from: Int, until: Int, depth: Int, mboxrd: Boolean = true): Option[String] = {
    if (depth > 8) fail() // hostile nesting bomb
    val ct = headers.getOrElse("content-type", "text/plain").toLowerCase
    if (ct.startsWith("multipart/")) {
      val bRe = "boundary=\"?([^\";]+)\"?".r
      val boundary = bRe.findFirstMatchIn(ct).map(_.group(1)).getOrElse(fail())
      val delim = "--" + boundary
      val close = delim + "--"
      // collect part line-ranges between delimiter lines
      var i = from
      val parts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = -1
      while (i < until) {
        val l = lines(i)
        if (l == close) { if (start >= 0) { parts += ((start, i)); start = -1 }; i = until }
        else { if (l == delim) { if (start >= 0) parts += ((start, i)); start = i + 1 }; i += 1 }
      }
      if (start >= 0) fail() // no closing delimiter
      var found: Option[String] = None
      val it = parts.iterator
      while (found.isEmpty && it.hasNext) {
        val (s, e) = it.next()
        val (ph, pb) = parseHeaders(lines, s)
        if (pb <= e) found = extractPlainDepth(ph, lines, pb, e, depth + 1, mboxrd)
      }
      found
    } else if (ct.startsWith("text/plain")) {
      Some(decodeBody(headers.getOrElse("content-transfer-encoding", "7bit").toLowerCase,
        lines.slice(from, until).mkString("\n"), mboxrd))
    } else None // a non-plain leaf (html decoy, attachment): keep looking
  }

  final case class MboxEntry(archive_id: Long, msg_idx: Long, doc_id: Long,
      subject: String, n_bytes: Long, checksum: Long)

  private[ext] def parseMbox(aid: Long, mbox: String): Seq[MboxEntry] = {
    // RFC 5322's canonical line ending IS CRLF: strip the \r at the
    // split so CRLF archives (Windows exporters, POP3 dumps) parse —
    // the same per-line normalization Subtitles and Robots do
    val lines = mbox.split("\n", -1).map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
    // message start line indices: every unquoted 'From ' line
    val starts = lines.indices.filter(i => lines(i).startsWith("From ")).toArray
    if (starts.isEmpty || starts(0) != 0) fail()
    starts.zipWithIndex.map { case (s, k) =>
      val end = if (k + 1 < starts.length) starts(k + 1) else lines.length
      val (hs, bodyStart) = parseHeaders(lines, s + 1)
      if (bodyStart > end) fail()
      val id = hs.getOrElse("x-doc-id", fail()).toLong
      // trailing blank line before the next 'From ' belongs to framing
      var e = end
      while (e > bodyStart && lines(e - 1).isEmpty) e -= 1
      val body = extractPlain(hs, lines.slice(bodyStart, e))
      val subject = decodeWords(hs.getOrElse("subject", ""))
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var c = 0L
      bytes.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      MboxEntry(aid, k.toLong, id, subject, bytes.length.toLong, c)
    }.toSeq
  }

  // ---------------------------------------------------- standalone .eml

  /** Fixture writer: one standalone RFC 5322 .eml file per document —
    * the same header/MIME/transfer arms as the mbox messages, but with
    * .eml framing semantics: no `From ` separator (every fourth file
    * instead opens with a mail-client `From - <date>` envelope the
    * parser must skip), no mboxrd quoting (7bit bodies ship raw, and
    * [[emlBodyFor]] plants a literal `>From ` line to catch a parser
    * that unquotes anyway).
    */
  def encodeEmlFiles(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "eml")(id => renderRfc5322(id, mbox = false))

  final case class EmlEntry(doc_id: Long, subject: String, n_bytes: Long, checksum: Long)

  private[ext] def parseEml(docId: Long, eml: String): EmlEntry = {
    val lines = eml.split("\n", -1).map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
    // optional export envelope (`From - <date>`): not an RFC 5322 header
    // (no colon), skipped — only ever the FIRST line
    val start = if (lines.nonEmpty && lines(0).startsWith("From ")) 1 else 0
    val (hs, bodyStart) = parseHeaders(lines, start)
    if (hs.getOrElse("x-doc-id", fail()).toLong != docId) fail()
    var e = lines.length
    while (e > bodyStart && lines(e - 1).isEmpty) e -= 1
    if (bodyStart > e) fail()
    val body = extractPlain(hs, lines.slice(bodyStart, e), mboxrd = false)
    val subject = decodeWords(hs.getOrElse("subject", ""))
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var c = 0L
    bytes.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
    EmlEntry(docId, subject, bytes.length.toLong, c)
  }

  /** The operator: .eml files → one row per message; damage quarantines
    * the file. Map-only, zero shuffle.
    */
  def emlExtract(files: DataFrame, idCol: String = "doc_id",
                 textCol: String = "eml"): Dataset[EmlEntry] = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, eml) =>
        try { if (eml == null) Nil else Seq(parseEml(id, eml)) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }

  /** The operator: archives → per-message rows; a damaged archive
    * quarantines whole.
    */
  def mboxExtract(archives: DataFrame): Dataset[MboxEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("mbox").cast("string"))
      .as[(Long, String)]
      .flatMap { case (aid, mbox) =>
        try { if (mbox == null) Nil else parseMbox(aid, mbox) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}
