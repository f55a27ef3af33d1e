package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== Charset detection + transcoding for the crawl stack ========
  *
  * The WARC/HTTP ingest family ([[Archives]]) strips transfer framing and
  * content codings, but the bytes underneath are rarely clean UTF-8: real
  * HTML is full of Windows-1252 and ISO-8859-1 bodies whose declarations
  * are missing, wrong, or mutually contradictory. This module implements
  * the WHATWG Encoding Standard's practical subset from scratch:
  *
  *  1. '''Detection precedence''' (WHATWG HTML §"determining the character
  *     encoding"): BOM sniff > transport-layer `Content-Type` charset
  *     param > in-body `<meta charset>` prescan > windows-1252 default.
  *     A BOM always wins, even over an explicit conflicting header.
  *  2. '''Label resolution''' (WHATWG Encoding §4.2 "names and labels"):
  *     labels are ASCII-case-insensitive and aliased — crucially,
  *     `iso-8859-1`, `latin1`, `ascii` and friends all resolve to
  *     '''windows-1252''' (servers that say 8859-1 virtually always emit
  *     cp1252's 0x80–0x9F punctuation; the standard canonizes that).
  *     A `<meta>` that labels utf-16 is treated as utf-8 (WHATWG: the
  *     prescan only reads ASCII-compatible bytes, so a utf-16 label
  *     inside one is self-contradictory).
  *  3. '''Decoders''', all hand-rolled so the behavior is pinned by spec
  *     rather than by whatever the JVM ships:
  *      - windows-1252 per the WHATWG index (the five unassigned bytes
  *        0x81/0x8D/0x8F/0x90/0x9D map to the corresponding C1 controls,
  *        where the JDK's cp1252 decoder instead replaces — divergence
  *        documented and pinned in CharsetSpec);
  *      - UTF-8 with U+FFFD replacement per the WHATWG decoder state
  *        machine (maximal-subpart semantics: one replacement per longest
  *        truncated prefix of a valid sequence, matching the Unicode
  *        recommendation and the JDK decoder);
  *      - UTF-16 LE/BE with lone-surrogate and odd-tail replacement.
  *
  * All output text is re-canonicalized to the UTF-8 plane — the
  * normalization step every tokenizer downstream assumes.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * charset path (its payloads are ASCII JSON, lines 121–127); this is
  * north-star LLM-pipeline scope. 100 TB shape: detection + transcode are
  * map-only (one pass over each payload, O(1) state), zero shuffles; the
  * label table is a compile-time constant.
  */
object Charset {

  // ---------------------------------------------------------------------
  // Label resolution (WHATWG Encoding §4.2, practical subset)
  // ---------------------------------------------------------------------

  /** WHATWG label → canonical encoding name. Subset covering the
    * encodings this module decodes; unknown labels yield None and the
    * next precedence tier is consulted.
    */
  private val Labels: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    def put(canon: String, labels: String*): Unit = labels.foreach(l => b += (l -> canon))
    put("utf-8", "utf-8", "utf8", "unicode-1-1-utf-8", "unicode11utf8", "unicode20utf8", "x-unicode20utf8")
    put("windows-1252",
      "windows-1252", "cp1252", "x-cp1252", "ansi_x3.4-1968", "ascii", "us-ascii",
      "iso-8859-1", "iso8859-1", "iso88591", "iso_8859-1", "iso_8859-1:1987",
      "latin1", "l1", "cp819", "ibm819", "csisolatin1", "iso-ir-100")
    put("utf-16le", "utf-16le", "utf-16")
    put("utf-16be", "utf-16be")
    b.result()
  }

  /** Resolve a raw label (from a header param or meta attribute):
    * ASCII-whitespace-trim, lowercase, look up. Quotes are the caller's
    * job (header/meta parsing strips them before resolving).
    */
  def resolveLabel(raw: String): Option[String] = {
    if (raw == null) return None
    val t = raw.trim.toLowerCase(java.util.Locale.ROOT)
    Labels.get(t)
  }

  // ---------------------------------------------------------------------
  // Detection: BOM > header > meta prescan > default
  // ---------------------------------------------------------------------

  /** `charset` parameter of a Content-Type header value, if any:
    * parameters split on ';', ASCII-case-insensitive name match, value
    * unquoted. `text/html; charset="UTF-8"` → Some("UTF-8").
    */
  def headerCharset(contentType: String): Option[String] = {
    if (contentType == null) return None
    contentType.split(';').iterator.drop(1).map(_.trim).collectFirst {
      case p if p.length > 8 && p.substring(0, 8).equalsIgnoreCase("charset=") =>
        val v = p.substring(8).trim
        if (v.length >= 2 && v.head == '"' && v.last == '"') v.substring(1, v.length - 1) else v
    }
  }

  /** Byte-prescan of the first `limit` (default 1024 — the WHATWG
    * prescan budget) payload bytes for a `<meta ... charset=...>`
    * declaration. Simplified relative to the full WHATWG prescan
    * algorithm (which tokenizes attributes): the scan lowercases the
    * ASCII image of the prefix, walks `<meta` tag spans in order, and
    * inside each takes the first `charset=` value (which also covers the
    * `http-equiv="content-type" content="text/html; charset=..."` form,
    * since that spelling still contains the `charset=` token inside the
    * tag). First resolvable hit wins, matching prescan order.
    */
  def metaCharset(payload: Array[Byte], limit: Int = 1024): Option[String] = {
    if (payload == null || payload.length == 0) return None
    val n = math.min(limit, payload.length)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { // ASCII image: high bytes can never form ASCII "<meta"/"charset="
      val c = payload(i) & 0xff
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else if (c < 0x80) c.toChar else '\u0000')
      i += 1
    }
    val s = sb.toString
    var from = 0
    while (true) {
      val tag = s.indexOf("<meta", from)
      if (tag < 0) return None
      val end0 = s.indexOf('>', tag)
      val end = if (end0 < 0) s.length else end0
      val cs = s.indexOf("charset=", tag)
      if (cs >= 0 && cs < end) {
        var v = cs + 8
        var stop = v
        val quoted = v < end && (s.charAt(v) == '"' || s.charAt(v) == '\'')
        if (quoted) { v += 1; stop = v; while (stop < end && s.charAt(stop) != s.charAt(v - 1)) stop += 1 }
        else { while (stop < end && " ;\t\n\r\"'".indexOf(s.charAt(stop)) < 0) stop += 1 }
        val raw = s.substring(v, stop)
        resolveLabel(raw) match {
          case Some(c) => return Some(raw)
          case None    => // unknown label: keep scanning later metas
        }
      }
      from = end + 1
    }
    None
  }

  /** Detected (canonical encoding name, source) for a payload + its
    * Content-Type header, per the WHATWG precedence chain. `source` is
    * one of `bom`, `header`, `meta`, `default`.
    */
  def detect(payload: Array[Byte], contentType: String): (String, String) = {
    val p = if (payload == null) Array.emptyByteArray else payload
    if (p.length >= 3 && (p(0) & 0xff) == 0xef && (p(1) & 0xff) == 0xbb && (p(2) & 0xff) == 0xbf)
      return ("utf-8", "bom")
    if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xfe)
      return ("utf-16le", "bom")
    if (p.length >= 2 && (p(0) & 0xff) == 0xfe && (p(1) & 0xff) == 0xff)
      return ("utf-16be", "bom")
    headerCharset(contentType).flatMap(resolveLabel) match {
      case Some(c) => return (c, "header")
      case None    =>
    }
    metaCharset(p).flatMap(resolveLabel) match {
      // WHATWG: a utf-16 label found by the ASCII prescan is
      // self-contradictory — treat as utf-8
      case Some(c) => return (if (c == "utf-16le" || c == "utf-16be") "utf-8" else c, "meta")
      case None    =>
    }
    ("windows-1252", "default")
  }

  // ---------------------------------------------------------------------
  // Decoders (from scratch, WHATWG semantics)
  // ---------------------------------------------------------------------

  /** windows-1252 byte → codepoint for the 0x80–0x9F block, per the
    * WHATWG Encoding index (public spec data). The five bytes the
    * vendor codepage leaves unassigned (0x81 8D 8F 90 9D) map to the
    * identically-numbered C1 controls — WHATWG behavior, where the JDK
    * decoder replaces with U+FFFD instead (pinned in CharsetSpec).
    */
  private val Cp1252High: Array[Char] = Array(
    0x20ac, 0x0081, 0x201a, 0x0192, 0x201e, 0x2026, 0x2020, 0x2021,
    0x02c6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008d, 0x017d, 0x008f,
    0x0090, 0x2018, 0x2019, 0x201c, 0x201d, 0x2022, 0x2013, 0x2014,
    0x02dc, 0x2122, 0x0161, 0x203a, 0x0153, 0x009d, 0x017e, 0x0178).map(_.toChar)

  def cp1252Decode(bytes: Array[Byte], from: Int = 0): String = {
    val sb = new java.lang.StringBuilder(bytes.length - from)
    var i = from
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sb.append(if (b >= 0x80 && b <= 0x9f) Cp1252High(b - 0x80) else b.toChar)
      i += 1
    }
    sb.toString
  }

  /** windows-1252 encoder (fixture + writer side): ASCII and 0xA0–0xFF
    * pass through; the 0x80–0x9F block via the reverse WHATWG index.
    * Unmappable codepoints throw — the fixture only uses mappable text.
    */
  private lazy val Cp1252Rev: Map[Char, Int] =
    Cp1252High.zipWithIndex.map { case (c, i) => c -> (0x80 + i) }.toMap

  def cp1252Encode(s: String): Array[Byte] = {
    val rev = Cp1252Rev
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val b =
        if (c < 0x80) c.toInt
        else if (c >= 0xa0 && c <= 0xff) c.toInt
        else rev.getOrElse(c, throw new IllegalArgumentException(f"not cp1252-encodable: U+${c.toInt}%04X"))
      out(i) = b.toByte
      i += 1
    }
    out
  }

  /** UTF-8 decode with U+FFFD replacement — the WHATWG utf-8 decoder
    * state machine verbatim (codepoint, bytes-needed, lower/upper
    * boundary for the first continuation). A continuation byte outside
    * its boundary emits ONE replacement for the whole consumed prefix
    * and reprocesses the offending byte — maximal-subpart semantics,
    * matching both the Unicode recommendation and the JDK decoder
    * (differential-fuzzed in CharsetSpec).
    */
  def utf8DecodeReplace(bytes: Array[Byte], from: Int = 0): String = {
    val sb = new java.lang.StringBuilder(bytes.length - from)
    var cp = 0; var needed = 0; var lower = 0x80; var upper = 0xbf
    var i = from
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (needed == 0) {
        if (b <= 0x7f) sb.append(b.toChar)
        else if (b >= 0xc2 && b <= 0xdf) { needed = 1; cp = b & 0x1f }
        else if (b >= 0xe0 && b <= 0xef) {
          if (b == 0xe0) lower = 0xa0 else if (b == 0xed) upper = 0x9f
          needed = 2; cp = b & 0xf
        } else if (b >= 0xf0 && b <= 0xf4) {
          if (b == 0xf0) lower = 0x90 else if (b == 0xf4) upper = 0x8f
          needed = 3; cp = b & 0x7
        } else sb.append('�')
        i += 1
      } else if (b < lower || b > upper) {
        cp = 0; needed = 0; lower = 0x80; upper = 0xbf
        sb.append('�') // do NOT advance i: reprocess b as a lead
      } else {
        lower = 0x80; upper = 0xbf
        cp = (cp << 6) | (b & 0x3f)
        needed -= 1
        if (needed == 0) { sb.appendCodePoint(cp); cp = 0 }
        i += 1
      }
    }
    if (needed != 0) sb.append('�') // truncated tail
    sb.toString
  }

  /** UTF-16 decode (LE or BE) with replacement: odd trailing byte and
    * lone surrogates become U+FFFD; a lead surrogate followed by a
    * non-trail unit replaces the lead and reprocesses the unit.
    */
  def utf16Decode(bytes: Array[Byte], littleEndian: Boolean, from: Int = 0): String = {
    val sb = new java.lang.StringBuilder((bytes.length - from) / 2 + 1)
    var lead = -1
    var i = from
    while (i + 1 < bytes.length) {
      val u =
        if (littleEndian) (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
        else ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
      if (lead >= 0) {
        if (u >= 0xdc00 && u <= 0xdfff) { sb.append(lead.toChar); sb.append(u.toChar); lead = -1; i += 2 }
        else { sb.append('�'); lead = -1 } // reprocess u
      } else if (u >= 0xd800 && u <= 0xdbff) { lead = u; i += 2 }
      else if (u >= 0xdc00 && u <= 0xdfff) { sb.append('�'); i += 2 }
      else { sb.append(u.toChar); i += 2 }
    }
    if (lead >= 0) sb.append('�')
    if (((bytes.length - from) & 1) == 1) sb.append('�') // odd tail byte
    sb.toString
  }

  /** Decode `payload` as canonical encoding `name`, stripping a leading
    * BOM that matches the encoding (the WHATWG `decode` hook removes
    * it regardless of which tier chose the encoding).
    */
  def decodeAs(name: String, payload: Array[Byte]): String = {
    val p = if (payload == null) Array.emptyByteArray else payload
    name match {
      case "utf-8" =>
        val skip = if (p.length >= 3 && (p(0) & 0xff) == 0xef && (p(1) & 0xff) == 0xbb && (p(2) & 0xff) == 0xbf) 3 else 0
        utf8DecodeReplace(p, skip)
      case "utf-16le" =>
        val skip = if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xfe) 2 else 0
        utf16Decode(p, littleEndian = true, skip)
      case "utf-16be" =>
        val skip = if (p.length >= 2 && (p(0) & 0xff) == 0xfe && (p(1) & 0xff) == 0xff) 2 else 0
        utf16Decode(p, littleEndian = false, skip)
      case _ => cp1252Decode(p)
    }
  }

  // ---------------------------------------------------------------------
  // Operators
  // ---------------------------------------------------------------------

  final case class CharsetDoc(doc_id: Long, detected: String, source: String, text: String)

  /** Full transcode for pipeline composition: detect + decode every
    * (doc_id, content_type, payload) row to canonical UTF-8 text.
    * Map-only, zero shuffles; O(payload) per row.
    */
  def transcode(docs: DataFrame): Dataset[CharsetDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("content_type").cast("string"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .map { case (id, ct, payload) =>
        val (name, source) = detect(payload, ct)
        CharsetDoc(id, name, source, decodeAs(name, payload))
      }
  }

  final case class CharsetStats(
      doc_id: Long, detected: String, source: String, n_bytes_out: Long, checksum: Long)

  /** Grading shape for the `charset_decode` gate: detection verdict plus
    * a positional checksum over the decoded text's UTF-8 bytes, so the
    * oracle replays the exact transcode result without shipping strings.
    */
  def charsetSignal(docs: DataFrame): Dataset[CharsetStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    transcode(docs).map { d =>
      val b = d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var c = 0L
      b.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      CharsetStats(d.doc_id, d.detected, d.source, b.length.toLong, c)
    }
  }

  // ---------------------------------------------------------------------
  // Deterministic fixture (declaration-hazard corpus)
  // ---------------------------------------------------------------------

  /** Non-ASCII payload snippets, all cp1252-encodable and chosen so
    * their UTF-8 images avoid the five WHATWG/JDK-divergent cp1252
    * bytes (0x81 8D 8F 90 9D) — the fixture grades precedence and
    * transcoding, not the documented C1 divergence (CharsetSpec pins
    * that separately).
    */
  private[ext] val Pieces: Array[String] =
    Array("café", "€2", "naïve", "“x", "ü", "—d", "résumé", "ß")

  private[ext] def correctLabel(a: Int): String =
    a match { case 0 | 2 => "utf-8"; case 1 => "windows-1252"; case _ => "utf-16le" }

  private[ext] def headerFor(a: Int, d: Int): String = d match {
    case 0 => "text/html; charset=" + correctLabel(a)
    case 2 => "text/html; charset=" + (if (a == 1) "utf-8" else "windows-1252")
    case 4 => "text/html; charset=" + (if (a == 1) "windows-1252" else "ISO-8859-1")
    case _ => "text/html"
  }

  private[ext] def metaFor(a: Int, d: Int): Option[String] = (a, d) match {
    case (3, _) => None // utf-16 body cannot carry an ASCII meta tag
    case (_, 1) => Some(correctLabel(a))
    case (2, 4) => Some("windows-1252") // conflicting — BOM wins anyway
    case (_, 4) => Some("utf-8")        // conflicting — header wins
    case _      => None
  }

  /** DECLARATION-HAZARD FIXTURE (not part of the operator): per doc,
    * md5 nibbles choose an actual encoding (utf-8, windows-1252,
    * utf-8+BOM, utf-16le+BOM), a declaration mode (correct header /
    * correct meta only / WRONG header / undeclared / header-vs-meta
    * conflict), and a non-ASCII snippet. The body is
    * `[<meta …>]id:<doc_id>:<piece>` serialized in the actual charset.
    * The oracle replays the identical picks closed-form, so the
    * detector is graded on precedence (BOM beats a lying header beats
    * a lying meta) and the transcoder on real mojibake hazards, not
    * just the happy path.
    */
  /** One fixture record: (Content-Type header value, payload bytes)
    * for a doc id — shared by [[encodeCharsetDocs]] and the WARC
    * charset composition fixture
    * ([[Archives.encodeWarcHttpCharsetArchives]]), so the standalone
    * gate and the seven-layer pipeline gate grade the IDENTICAL recipe.
    */
  private[ext] def fixtureRecord(id: Long): (String, Array[Byte]) = {
    val m = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val a = nib(1) % 4
    val d = nib(2) % 5
    val p = nib(3) % 8
    val body = metaFor(a, d).map(l => s"""<meta charset="$l">""").getOrElse("") +
      s"id:$id:${Pieces(p)}"
    val payload: Array[Byte] = a match {
      case 0 => body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case 1 => cp1252Encode(body)
      case 2 =>
        val u = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val out = new Array[Byte](u.length + 3)
        out(0) = 0xef.toByte; out(1) = 0xbb.toByte; out(2) = 0xbf.toByte
        System.arraycopy(u, 0, out, 3, u.length)
        out
      case _ =>
        val core = s"id:$id:${Pieces(p)}"
        val u = core.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
        val out = new Array[Byte](u.length + 2)
        out(0) = 0xff.toByte; out(1) = 0xfe.toByte
        System.arraycopy(u, 0, out, 2, u.length)
        out
    }
    (headerFor(a, d), payload)
  }

  def encodeCharsetDocs(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs.filter(col("text").isNotNull), idCol)
      .map { id =>
        val (ct, payload) = fixtureRecord(id)
        (id, ct, payload)
      }
      .toDF("doc_id", "content_type", "payload")
  }

  /** Expected outcome per (actual, declaration, piece) combo, computed
    * with the JDK's decoders as the INDEPENDENT reference (the from-
    * scratch decoders above never touch this path): the oracle embeds
    * these as a closed-form VALUES table. Rows: (a, d, p, metaPrefix,
    * decodedPiece, detectedName, source).
    */
  private[graft] def oracleCombos: Seq[(Int, Int, Int, String, String, String, String)] = {
    import java.nio.charset.{Charset => JCharset, CodingErrorAction}
    def jdkDecode(bytes: Array[Byte], cs: String): String = {
      val dec = JCharset.forName(cs).newDecoder()
        .onMalformedInput(CodingErrorAction.REPLACE)
        .onUnmappableCharacter(CodingErrorAction.REPLACE)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    }
    for {
      a <- 0 to 3
      d <- 0 to 4
      p <- 0 to 7
    } yield {
      val piece = Pieces(p)
      val (detected, source): (String, String) =
        if (a == 2) ("utf-8", "bom")
        else if (a == 3) ("utf-16le", "bom")
        else d match {
          case 0 => (correctLabel(a), "header")
          case 1 => (correctLabel(a), "meta")
          case 2 => (if (a == 1) "utf-8" else "windows-1252", "header")
          case 3 => ("windows-1252", "default")
          case _ => ("windows-1252", "header") // ISO-8859-1 alias resolves here
        }
      val actualBytes: Array[Byte] = a match {
        case 1 => cp1252Encode(piece)
        case _ => piece.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val decodedPiece: String = detected match {
        case "utf-8"        => if (a == 1) jdkDecode(actualBytes, "UTF-8") else piece
        case "windows-1252" => if (a == 0) jdkDecode(actualBytes, "windows-1252") else piece
        case _              => piece // utf-16 path: BOM-selected, encode/decode round-trips
      }
      val prefix = metaFor(a, d).map(l => s"""<meta charset="$l">""").getOrElse("")
      (a, d, p, prefix, decodedPiece, detected, source)
    }
  }
}
