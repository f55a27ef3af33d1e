package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== PDF text extraction (classic + 1.5 xref forms, from scratch) ========
  *
  * Books and papers — the largest non-HTML text shelf in a crawled corpus —
  * ship as PDF, and a training-data pipeline has to get the text OUT of the
  * object graph: cross-reference data → trailer → catalog → page tree →
  * per-page content streams → text-showing operators. This module implements
  * BOTH cross-reference forms end to end — the classic table AND the PDF 1.5
  * form modern writers emit (cross-reference STREAMS with /W-packed binary
  * entries, plus /ObjStm object streams holding the non-stream objects,
  * reached through type-2 entries) — with hybrid /Prev chains (a classic
  * append over a modern base, the Acrobat update shape) dispatched per
  * section:
  *
  *  - '''lexer/object model''': the eight PDF object kinds — numbers, names
  *    (with `#xx` escapes), literal strings (balanced parens, `\`-escapes,
  *    octal escapes, line continuations, EOL normalization), hex strings
  *    (odd-digit pad), arrays, dictionaries, booleans/null, and `N G R`
  *    indirect references (resolved by integer-lookahead with rewind);
  *    comments (`%` to EOL) are whitespace everywhere.
  *  - '''xref walk''': `startxref` located from the tail, classic `xref`
  *    tables with multiple subsections, free (`f`) entries skipped, and the
  *    incremental-update chain via trailer `/Prev` — walked newest-first
  *    with first-seen-wins per object number, exactly the later-update-
  *    shadows-original semantics Acrobat appends produce. Chain capped.
  *  - '''streams''': `/Length` direct or INDIRECT (a real-producer habit:
  *    writers emit the length object after the stream), validated against
  *    the remaining bytes BEFORE any slice (a hostile declared length can't
  *    allocate); `/Filter` as a single name OR a chain array —
  *    `/FlateDecode` rides the repo's own zlib/DEFLATE decoder
  *    ([[Multimodal.zlibInflate]]) with the family 1<<26 output cap and an
  *    explicit size hint (the inflate hint contract), `/LZWDecode` the
  *    in-house early-change LZW kernel (the [[Tiff]] convention, with
  *    `/EarlyChange 0` supported), and `/ASCIIHexDecode`/`/ASCII85Decode`
  *    the armorings scanned/legacy producers wrap them in; per-entry
  *    `/DecodeParms` PNG predictors invert after their filter.
  *  - '''page tree''': `/Root → /Pages → /Kids` recursion with interior
  *    `/Pages` nodes, a visited set (cycle guard) and a depth cap; page
  *    `/Contents` as a single stream or an array of streams (concatenated
  *    with one newline, per spec).
  *  - '''text extractor''': BT/ET blocks, `Tj`/`'`/`"`/`TJ` show operators
  *    (TJ's kerning numbers skipped), with the classical line model — any
  *    positioning operator (`Td`/`TD`/`Tm`/`T*`) or next-line show (`'`/`"`)
  *    breaks the line iff text was shown since the last break. Per-font
  *    decode via `Tf`: WinAnsi simple fonts ride [[Charset.cp1252Decode]]
  *    (WinAnsi and cp1252 agree on every assigned slot), `/Differences`
  *    simple fonts build base-plus-overrides maps through the AGL-subset
  *    glyph table, Type0 fonts decode 2-byte CIDs through their ToUnicode
  *    CMap; a `Tf` naming a font absent from a non-empty resource map
  *    quarantines at show time instead of falling back.
  *
  *  - '''encryption''': the standard security handler's four living
  *    generations with an EMPTY user password — the owner-locked shape
  *    most "encrypted" corpus PDFs have: V1/R2 40-bit and V2/R3 128-bit
  *    RC4 (Algorithm 2 key derivation, 50 re-hash rounds on R3, /U
  *    verified via Algorithms 4/5 before any decrypt, per-object keys
  *    per Algorithm 1); V4/R4 /AESV2 (AES-128-CBC from scratch —
  *    [[Aes]] — same RC4-era derivation plus the sAlT object-key
  *    suffix, IV-prefixed data with validated padding, crypt-filter
  *    routing checked); and V5/R6 /AESV3 (AES-256, the ISO 32000-2
  *    SHA-2 handler: Algorithm 2.B iterated hash validates /U, the
  *    file key unwraps from /UE, and /Perms must decrypt to the 'adb'
  *    magic echoing /P before anything else decrypts). Streams decrypt
  *    BEFORE their filters decode, strings decrypt after parse; the
  *    cross-reference stream and the encrypt dictionary stay cleartext
  *    per spec. A real user password, the withdrawn R5 handler,
  *    non-StdCF crypt filters, or any check value mismatch quarantines
  *    — clean fail, never silently-wrong text.
  *
  * STRICT container semantics like every archive family here: a bad header,
  * a dangling xref offset, an object-number mismatch at an offset, a
  * truncated or over-declared stream, a broken Flate stream, or a cyclic
  * page tree quarantines the whole document — a damaged PDF signals a
  * damaged fetch, and partial text from a broken object graph is worse than
  * none.
  *
  * Scale shape: map-only per document (parse + extract inside one typed
  * flatMap), zero shuffles; decoded output is bounds-capped before
  * allocation. No reference citation possible — the reference
  * (`src/flinkarima.py:379-416`) has no file surface; north-star scope next
  * to the HTML/mbox/subtitle text extractors.
  */
object Pdf {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---------------------------------------------- standard security handler
  //
  // ISO 32000-1 §7.6.3, the RC4 revisions (V1/R2 40-bit, V2/R3 up to
  // 128-bit). The overwhelmingly common "encrypted" corpus PDF has an OWNER
  // password only — the user password is EMPTY, so conforming readers (and
  // this extractor) decrypt transparently. The reader attempts exactly that:
  // derive the key from the empty user password (Algorithm 2), check it
  // against /U (Algorithms 4/5), and quarantine on mismatch (a real user
  // password) or on any other handler (/V 4+ AES — a documented clean-fail
  // restriction, never a wrong answer).

  /** The 32-byte standard padding string (ISO 32000-1 Table 22 context). */
  private[ext] val PdfPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** RC4 (spec-published KSA + PRGA), the cipher of revisions 2/3. */
  private[ext] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + (s(i) & 0xff) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + (s(x) & 0xff)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s(((s(x) & 0xff) + (s(y) & 0xff)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private def md5bytes(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Algorithm 2: the document key from the EMPTY user password. /P is
    * hashed as a sign-extended 32-bit little-endian int; R3 re-hashes the
    * first `keyLen` bytes 50 times.
    */
  private[ext] def pdfDocKey(r: Int, keyLen: Int, o: Array[Byte], p: Int,
                             idFirst: Array[Byte]): Array[Byte] = {
    val pBytes = Array[Byte](
      (p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    var h = md5bytes(PdfPad, o, pBytes, idFirst)
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5bytes(java.util.Arrays.copyOf(h, keyLen)); i += 1 }
    }
    java.util.Arrays.copyOf(h, keyLen)
  }

  /** Algorithm 3 for owner == user == empty password: /O is the padding
    * string RC4'd under MD5(padding) (R3: 50 extra hash rounds, then the
    * 19 XOR-keyed re-encryptions).
    */
  private[ext] def pdfOwnerValue(r: Int, keyLen: Int): Array[Byte] = {
    var h = md5bytes(PdfPad)
    if (r >= 3) { var i = 0; while (i < 50) { h = md5bytes(h); i += 1 } }
    val rk = java.util.Arrays.copyOf(h, keyLen)
    var o = rc4(rk, PdfPad)
    if (r >= 3) {
      var i = 1
      while (i <= 19) { o = rc4(rk.map(b => (b ^ i).toByte), o); i += 1 }
    }
    o
  }

  /** Algorithm 4 (R2) / Algorithm 5 (R3): the /U check value. R3's trailing
    * 16 bytes are arbitrary padding per spec (zeros here) and excluded from
    * the reader's comparison.
    */
  private[ext] def pdfUserValue(r: Int, key: Array[Byte],
                                idFirst: Array[Byte]): Array[Byte] = {
    if (r == 2) rc4(key, PdfPad)
    else {
      var u = rc4(key, md5bytes(PdfPad, idFirst))
      var i = 1
      while (i <= 19) { u = rc4(key.map(b => (b ^ i).toByte), u); i += 1 }
      u ++ new Array[Byte](16)
    }
  }

  /** Algorithm 1: the per-object key — MD5(docKey ‖ objnum LE24 ‖ gen LE16),
    * truncated to min(keyLen + 5, 16).
    */
  private[ext] def pdfObjectKey(key: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val ext = Array[Byte](
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    java.util.Arrays.copyOf(md5bytes(key, ext), math.min(key.length + 5, 16))
  }

  /** Algorithm 1's /AESV2 variant: the same MD5 with the 4-byte `sAlT`
    * suffix the spec adds for AES crypt filters.
    */
  private[ext] def pdfObjectKeyAes(key: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val ext = Array[Byte](
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte,
      0x73, 0x41, 0x6C, 0x54) // 'sAlT'
    java.util.Arrays.copyOf(md5bytes(key, ext), math.min(key.length + 5, 16))
  }

  /** ISO 32000-2 Algorithm 2.B — the R6 iterated password hash: SHA-256
    * seed, then rounds of (64 copies of pwd‖K‖udata) AES-128-CBC-encrypted
    * under K's halves, re-hashed by SHA-256/384/512 picked by the
    * ciphertext's first-16-byte sum mod 3, until ≥64 rounds AND the last
    * ciphertext byte ≤ rounds−32. `udata` is empty for /U-side hashes and
    * the 48-byte /U value for /O-side ones.
    */
  private[ext] def pdfHash2B(password: Array[Byte], salt: Array[Byte],
                             udata: Array[Byte]): Array[Byte] = {
    val seed = java.security.MessageDigest.getInstance("SHA-256")
    seed.update(password); seed.update(salt); seed.update(udata)
    var k = seed.digest()
    var i = 0
    var last = 0
    while (i < 64 || last > i - 32) {
      val one = password ++ k ++ udata
      val k1 = new Array[Byte](64 * one.length)
      var j = 0
      while (j < 64) { System.arraycopy(one, 0, k1, j * one.length, one.length); j += 1 }
      val e = Aes.cbcEncrypt(java.util.Arrays.copyOf(k, 16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1)
      var sum = 0
      var b = 0
      while (b < 16) { sum += e(b) & 0xff; b += 1 }
      val algo = (sum % 3) match {
        case 0 => "SHA-256"
        case 1 => "SHA-384"
        case _ => "SHA-512"
      }
      k = java.security.MessageDigest.getInstance(algo).digest(e)
      last = e(e.length - 1) & 0xff
      i += 1
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** The CBC padding ISO 32000 mandates for AES filters (PKCS#7 shape:
    * 1–16 bytes, each the pad length).
    */
  private[ext] def aesPad(data: Array[Byte]): Array[Byte] = {
    val padLen = 16 - (data.length % 16)
    val out = java.util.Arrays.copyOf(data, data.length + padLen)
    java.util.Arrays.fill(out, data.length, out.length, padLen.toByte)
    out
  }

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this):
    * doc `id` carries `1 + nib(1)%3` base pages, plus one more appended by
    * an INCREMENTAL UPDATE when `id % 5 == 0`; page `p` carries
    * `2 + nib(2+p)%3` lines; line `l` is fixture words plus a hazard suffix
    * cycling by `(id+p+l)%4`: parens-and-backslash (escape arm), é (WinAnsi
    * high byte), curly quotes (two more high bytes), or nothing.
    */
  private[ext] def basePages(id: Long): Int = {
    val m = md5Hex(s"pdf:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nLines(id: Long, p: Int): Int = {
    val m = md5Hex(s"pdf:$id")
    2 + Integer.parseInt(m.substring(1 + p, 2 + p), 16) % 3
  }

  private[ext] def lineText(id: Long, p: Int, l: Int): String = {
    val m = md5Hex(s"pdf:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(6 + 4 * p + l) % 8)
    val w2 = words(nib(22 + (4 * p + l) % 10) % 8)
    val suffix = ((id + p + l) % 4) match {
      case 0 => " (\\)"
      case 1 => " \u00e9"
      case 2 => " \u201cq\u201d"
      case _ => ""
    }
    s"Line $l of page $p in doc $id: $w1 $w2$suffix"
  }

  private[ext] def pageText(id: Long, p: Int): String =
    (0 until nLines(id, p)).map(l => lineText(id, p, l)).mkString("\n")

  // --------------------------------------------------------------- writer

  /** Escape a WinAnsi-encoded byte string for a PDF literal string. */
  private def escapeLiteral(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length + 8)
    bytes.foreach { b =>
      if (b == '\\' || b == '(' || b == ')') out.write('\\')
      out.write(b)
    }
    out.toByteArray
  }

  private def hexLiteral(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02X").mkString

  /** CID encoding for the fixture's Type0/Identity-H font (/F2): the
    * three WinAnsi-high fixture chars get low CIDs via `bfchar` entries,
    * everything else (printable ASCII) shifts by 0x0100 through the
    * `bfrange` — deliberately NON-identity, so an extractor that skips
    * the ToUnicode CMap (or reads CIDs as UTF-16) produces shifted text
    * and fails the oracle. Two bytes per CID, big-endian.
    */
  private[ext] def cidEncode(s: String): Array[Byte] = {
    val out = new Array[Byte](2 * s.length)
    var i = 0
    while (i < s.length) {
      val cid = s.charAt(i) match {
        case '\u00e9' => 1
        case '\u201c' => 2
        case '\u201d' => 3
        case c if c >= 0x20 && c <= 0x7e => c.toInt + 0x100
        case _ => fail() // fixture text is ASCII + the three high chars
      }
      out(2 * i) = ((cid >> 8) & 0xff).toByte
      out(2 * i + 1) = (cid & 0xff).toByte
      i += 1
    }
    out
  }

  /** The /F2 ToUnicode CMap (the inverse of [[cidEncode]]), in the
    * standard CMap serialization real subset-font producers embed.
    */
  private val FixtureCMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |3 beginbfchar
      |<0001> <00e9>
      |<0002> <201c>
      |<0003> <201d>
      |endbfchar
      |1 beginbfrange
      |<0120> <017e> <0020>
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end
      |""".stripMargin

  /** Whether page `p` of doc `id` shows its text through the CID font
    * (/F2, 2-byte codes through the ToUnicode CMap) instead of /F1
    * WinAnsi — the subset-embedded-font shape modern producers emit.
    */
  private[ext] def cidPage(id: Long, p: Int): Boolean = (id + p) % 4 == 2

  /** Whether page `p` of doc `id` shows its text through /F3 — the simple
    * font whose `/Encoding << /Differences [...] >>` array remaps codes
    * non-identity (a/b swapped; the three fixture high chars moved onto
    * 128..130). Disjoint from [[cidPage]] by construction.
    */
  private[ext] def diffPage(id: Long, p: Int): Boolean = (id + p) % 4 == 0

  /** Encode text under /F3's effective encoding: cp1252, then the
    * /Differences overrides applied in reverse — the writer dual of the
    * reader's base-plus-overrides map.
    */
  private[ext] def diffEncode(s: String): Array[Byte] = {
    val base = Charset.cp1252Encode(s)
    base.map { b =>
      (b & 0xff) match {
        case 0x61 => 0x62.toByte // 'a' shows via code 98 (/a at 98)
        case 0x62 => 0x61.toByte // 'b' shows via code 97 (/b at 97)
        case 0xe9 => 128.toByte  // é via /eacute at 128
        case 0x93 => 129.toByte  // curly open quote via /quotedblleft
        case 0x94 => 130.toByte  // curly close quote via /quotedblright
        case o => o.toByte
      }
    }
  }

  /** Serialize one page's content stream: BT/ET blocks, `Tf`/`TL` setup,
    * and per line one of the show forms — hex-string `Tj`, a kerned `TJ`
    * array, next-line `'`, spacing-operand `"`, or plain `Td` + `Tj` —
    * chosen by `(id + 2p + 3l) % 6`. Pages with ≥3 lines and odd `id+p`
    * split across TWO BT/ET blocks (block-start lines forced to the
    * Td-form so the break model stays one-break-per-line). CID pages
    * ([[cidPage]]) show every string as 2-byte /F2 codes; the TJ cut
    * lands on a CID boundary.
    */
  private[ext] def renderContent(id: Long, p: Int): Array[Byte] = {
    val n = nLines(id, p)
    val cid = cidPage(id, p)
    val diff = diffPage(id, p)
    val font = if (cid) "/F2" else if (diff) "/F3" else "/F1"
    val twoBlocks = (id + p) % 2 == 1 && n >= 3
    val sb = new StringBuilder
    val out = new java.io.ByteArrayOutputStream
    def flush(): Unit = { out.write(sb.toString.getBytes("ISO-8859-1")); sb.clear() }
    def openBlock(first: Boolean): Unit = {
      sb.append(s"BT\n$font 12 Tf\n14 TL\n")
      if (first && (id + p) % 3 == 0) sb.append("1 0 0 1 72 720 Tm\n")
      else if (first) sb.append("72 720 Td\n")
      else sb.append("72 600 Td\n")
    }
    openBlock(first = true)
    var l = 0
    while (l < n) {
      if (twoBlocks && l == 2) { sb.append("ET\n"); openBlock(first = false) }
      val blockStart = l == 0 || (twoBlocks && l == 2)
      val text = lineText(id, p, l)
      val enc =
        if (cid) cidEncode(text)
        else if (diff) diffEncode(text)
        else Charset.cp1252Encode(text)
      val sel = ((id + 2 * p + 3 * l) % 6).toInt
      if (!blockStart && sel == 2) {
        flush(); out.write('('); out.write(escapeLiteral(enc)); sb.append(") '\n")
      } else if (!blockStart && sel == 3) {
        flush(); sb.append("1.5 0 "); flush()
        out.write('('); out.write(escapeLiteral(enc)); sb.append(") \"\n")
      } else {
        if (!blockStart) sb.append("0 -14 Td\n")
        sel match {
          case 0 => sb.append('<').append(hexLiteral(enc)).append("> Tj\n")
          case 1 if enc.length >= 2 =>
            val cut0 = math.min(10, enc.length - 1)
            val cut = if (cid) cut0 & ~1 else cut0 // never split a CID pair
            flush(); out.write('['); out.write('(')
            out.write(escapeLiteral(java.util.Arrays.copyOfRange(enc, 0, cut)))
            sb.append(") -120 ("); flush()
            out.write(escapeLiteral(java.util.Arrays.copyOfRange(enc, cut, enc.length)))
            sb.append(")] TJ\n")
          case _ =>
            flush(); out.write('('); out.write(escapeLiteral(enc)); sb.append(") Tj\n")
        }
      }
      l += 1
    }
    sb.append("ET\n")
    flush()
    out.toByteArray
  }

  private def zlibCompress(data: Array[Byte]): Array[Byte] =
    Bits.zlibWrap(0x9c, Multimodal.deflateDynamic(data), data)

  /** One complete PDF for doc `id`: header with a binary comment line,
    * catalog/pages/font objects, per page a page object + content stream
    * (Flate-compressed on even `id+p`, raw otherwise; `/Length` INDIRECT on
    * `id+p ≡ 0 (mod 3)`), and for `id % 5 == 0` a real INCREMENTAL UPDATE
    * appending one more page. EVEN ids use the classic xref table + trailer;
    * ODD ids use the PDF 1.5 form — every non-stream object packed into one
    * Flate'd /ObjStm (so the mod-3 arm's indirect length is a TYPE-2
    * object), plus a Flate'd cross-reference stream (`/W [1 3 1]`) whose
    * dict is the trailer. The update section is always classic, making odd
    * multiple-of-5 ids hybrid chains.
    */
  private[ext] def renderPdf(id: Long): Array[Byte] = {
    val np = basePages(id)
    val out = new java.io.ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.Map[Int, Long]()
    def raw(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    def obj(num: Int)(body: => Unit): Unit = {
      offsets(num) = out.size.toLong
      raw(s"$num 0 obj\n"); body; raw("endobj\n")
    }
    // encryption arm: `id % 3 == 1` wraps the document in the standard
    // security handler with an EMPTY user password (the owner-locked shape
    // most "encrypted" corpus PDFs have) — the four handler generations
    // cycle by `id / 3`: R2/40-bit RC4, R3/128-bit RC4, R4 /AESV2
    // (AES-128-CBC, the PDF 1.6 default every modern producer emits), and
    // R6 /AESV3 (AES-256, PDF 2.0's SHA-2 handler). Every stream is
    // encrypted AFTER its filters (decrypt-then-decode, the storage order
    // the spec mandates); the cross-reference stream and the encrypt
    // dictionary stay cleartext per spec
    val encArm = id % 3 == 1
    val encR = ((id / 3) % 4) match { case 0 => 2; case 1 => 3; case 2 => 4; case _ => 6 }
    // every second R3 document is the OLD-ACROBAT shape: /V 1 (40-bit, no
    // /Length entry) with /R 3's 50-round derivation — real Distiller
    // output, and the combination a careless version gate drops (the
    // round-15 review caught exactly that regression; this arm pins it)
    val v1r3 = encR == 3 && (id / 12) % 2 == 1
    val encKeyLen = encR match { case 2 => 5; case 3 => if (v1r3) 5 else 16; case 6 => 32; case _ => 16 }
    val encP = -44
    def md5of(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("ISO-8859-1"))
    val fileId = md5of(s"pdfid:$id")
    // R2/R3/R4 share the RC4-era key-derivation algorithms (R4 reuses
    // Algorithms 2/3/5 verbatim per spec, only the cipher changes)
    val encO = if (encArm && encR != 6) pdfOwnerValue(encR, encKeyLen) else null
    val encKey = if (encArm && encR != 6) pdfDocKey(encR, encKeyLen, encO, encP, fileId) else null
    val encU = if (encArm && encR != 6) pdfUserValue(encR, encKey, fileId) else null
    // R6 material: a 32-byte file key and the four 8-byte salts, all
    // deterministic from the id (the fixture convention); /U //UE //O //OE
    // //Perms per ISO 32000-2 Algorithms 8/9/10 with empty passwords
    val empty = Array.emptyByteArray
    val zeroIv = new Array[Byte](16)
    val r6Key = if (encArm && encR == 6) md5of(s"pdfkey:$id") ++ md5of(s"pdfkey2:$id") else null
    val r6U: Array[Byte] = if (r6Key == null) null else {
      val s = md5of(s"pdfsalt:$id") // validation salt 0..8, key salt 8..16
      pdfHash2B(empty, java.util.Arrays.copyOf(s, 8), empty) ++ s
    }
    val r6UE = if (r6Key == null) null else Aes.cbcEncrypt(
      pdfHash2B(empty, java.util.Arrays.copyOfRange(r6U, 40, 48), empty), zeroIv, r6Key)
    val r6O: Array[Byte] = if (r6Key == null) null else {
      val s = md5of(s"pdfosalt:$id")
      pdfHash2B(empty, java.util.Arrays.copyOf(s, 8), r6U) ++ s
    }
    val r6OE = if (r6Key == null) null else Aes.cbcEncrypt(
      pdfHash2B(empty, java.util.Arrays.copyOfRange(r6O, 40, 48), r6U), zeroIv, r6Key)
    val r6Perms = if (r6Key == null) null else {
      val rnd = md5of(s"pdfperm:$id")
      Aes.encryptBlock(r6Key, Array[Byte](
        (encP & 0xff).toByte, ((encP >> 8) & 0xff).toByte,
        ((encP >> 16) & 0xff).toByte, ((encP >> 24) & 0xff).toByte,
        -1, -1, -1, -1, 'T'.toByte, 'a'.toByte, 'd'.toByte, 'b'.toByte,
        rnd(0), rnd(1), rnd(2), rnd(3)))
    }
    def crypt(num: Int, data: Array[Byte]): Array[Byte] =
      if (!encArm) data
      else encR match {
        case 2 | 3 => rc4(pdfObjectKey(encKey, num, 0), data)
        case 4 =>
          val iv = md5of(s"pdfiv:$id:$num")
          iv ++ Aes.cbcEncrypt(pdfObjectKeyAes(encKey, num, 0), iv, aesPad(data))
        case _ =>
          val iv = md5of(s"pdfiv:$id:$num")
          iv ++ Aes.cbcEncrypt(r6Key, iv, aesPad(data))
      }
    def hexOf(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    // every trailer form repeats /Encrypt + /ID (appenders must: the newest
    // trailer is the one a reader consults)
    def encTrailer: String =
      if (!encArm) ""
      else s" /Encrypt 7 0 R /ID [<${hexOf(fileId)}> <${hexOf(fileId)}>]"
    def encryptObj(): Unit = if (encArm) obj(7) {
      if (encR == 6)
        raw("<< /Filter /Standard /V 5 /R 6 /Length 256" +
          " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>" +
          " /StmF /StdCF /StrF /StdCF" +
          s" /O <${hexOf(r6O)}> /U <${hexOf(r6U)}>" +
          s" /OE <${hexOf(r6OE)}> /UE <${hexOf(r6UE)}>" +
          s" /Perms <${hexOf(r6Perms)}> /P $encP >>\n")
      else if (encR == 4)
        raw("<< /Filter /Standard /V 4 /R 4 /Length 128" +
          " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >>" +
          " /StmF /StdCF /StrF /StdCF" +
          s" /O <${hexOf(encO)}> /U <${hexOf(encU)}> /P $encP >>\n")
      else {
        val v = if (encR == 2 || v1r3) 1 else 2
        raw(s"<< /Filter /Standard /V $v /R $encR" +
          (if (encR == 3 && !v1r3) s" /Length ${encKeyLen * 8}" else "") +
          s" /O <${hexOf(encO)}> /U <${hexOf(encU)}> /P $encP >>\n")
      }
    }

    // the indirect-length VALUE lands wherever the arm puts non-stream
    // objects: top-level (classic, null sink) or the ObjStm (modern).
    // Filter arm cycles by (id+p)%6 — even keeps the historical Flate,
    // odd splits raw / LZW (the Tiff.lzwEncode early-change kernel, the
    // PDF default) / an ASCII85-armored Flate CHAIN, so every filter the
    // reader supports is graded end to end by the text oracle
    def contentObj(num: Int, p: Int, packLength: (Int, String) => Unit = null): Unit = {
      val data = renderContent(id, p)
      val (bytes0, filterDecl) = ((id + p) % 6).toInt match {
        case 0 | 2 | 4 => (zlibCompress(data), " /Filter /FlateDecode")
        case 1 => (data, "")
        case 3 => (Tiff.lzwEncode(data), " /Filter /LZWDecode")
        case _ => (ascii85Encode(zlibCompress(data)), " /Filter [/ASCII85Decode /FlateDecode]")
      }
      val bytes = crypt(num, bytes0)
      val indirectLen = (id + p) % 3 == 0
      obj(num) {
        raw("<< /Length " + (if (indirectLen) s"${num + 1} 0 R" else s"${bytes.length}"))
        raw(filterDecl)
        raw(" >>\nstream\n")
        out.write(bytes)
        raw("\nendstream\n")
      }
      if (indirectLen) {
        if (packLength != null) packLength(num + 1, s"${bytes.length}")
        else obj(num + 1) { raw(s"${bytes.length}\n") }
      }
    }

    // object numbering: 1 catalog, 2 pages, 3 /F1, 4 /F2 (Type0), 5 its
    // ToUnicode CMap stream, 6 /F3 (the /Differences simple font), 7 the
    // encryption dictionary when the arm is on (top-level in BOTH forms —
    // the spec bars it from object streams); per page a page obj + content
    // obj (+ length obj on the indirect arm), assigned sequentially
    val pageNum = new Array[Int](np + 1)
    val contNum = new Array[Int](np + 1)
    var next = if (encArm) 8 else 7
    for (p <- 0 to np) { // slot np is the update page (may go unused)
      pageNum(p) = next; contNum(p) = next + 1
      next += (if ((id + p) % 3 == 0) 3 else 2)
    }
    val baseSize = pageNum(np) // first number NOT in the base file
    // modern arm (odd ids): two extra numbers PAST the update range, so a
    // later classic update never collides with them
    val updateEnd = if ((id + np) % 3 == 0) contNum(np) + 2 else contNum(np) + 1
    val modern = id % 2 == 1
    val objStmNum = updateEnd
    val xrefNum = updateEnd + 1

    def catalogBody = "<< /Type /Catalog /Pages 2 0 R >>"
    def pagesBody(k: Int) =
      "<< /Type /Pages /Kids [" + (0 until k).map(p => s"${pageNum(p)} 0 R").mkString(" ") +
        s"] /Count $k >>"
    def fontBody =
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"
    def font2Body =
      "<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID" +
        " /Encoding /Identity-H /ToUnicode 5 0 R >>"
    // the /Differences font: WinAnsi base with a NON-identity override —
    // a/b swapped, and the three fixture high chars moved to 128..130
    // (WinAnsi €//‚ slots), so an extractor that ignores the
    // /Differences array produces different text and fails the hash
    def font3Body =
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding" +
        " << /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences" +
        " [97 /b 98 /a 128 /eacute /quotedblleft /quotedblright] >> >>"
    def pageBody(contentNum: Int) =
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]" +
        " /Resources << /Font << /F1 3 0 R /F2 4 0 R /F3 6 0 R >> >>" +
        s" /Contents $contentNum 0 R >>"
    def pageObj(num: Int, contentNum: Int): Unit = obj(num) {
      raw(pageBody(contentNum) + "\n")
    }
    val cmapBytes = FixtureCMap.getBytes("ISO-8859-1")
    // odd ids armor the CMap stream in ASCIIHexDecode (line-wrapped, so
    // the decoder's whitespace skip is exercised); even ids keep it raw
    def cmapObj(): Unit = obj(5) {
      val hexArm = id % 2 == 1
      val body = crypt(5, if (hexArm) asciiHexEncode(cmapBytes) else cmapBytes)
      raw(s"<< /Length ${body.length}" +
        (if (hexArm) " /Filter /ASCIIHexDecode" else "") + " >>\nstream\n")
      out.write(body)
      raw("\nendstream\n")
    }

    raw("%PDF-" + (if (modern) "1.5" else "1.4") + "\n%")
    out.write(0xe2); out.write(0xe3); out.write(0xcf); out.write(0xd3)
    raw("\n")
    var baseXrefOff = -1L

    if (!modern) { // classic cross-reference table
      obj(1) { raw(catalogBody + "\n") }
      obj(2) { raw(pagesBody(np) + "\n") }
      obj(3) { raw(fontBody + "\n") }
      obj(4) { raw(font2Body + "\n") }
      cmapObj()
      obj(6) { raw(font3Body + "\n") }
      encryptObj()
      for (p <- 0 until np) { pageObj(pageNum(p), contNum(p)); contentObj(contNum(p), p) }
      val xref1 = out.size.toLong
      baseXrefOff = xref1
      raw(s"xref\n0 $baseSize\n")
      raw("0000000000 65535 f \n")
      for (num <- 1 until baseSize) raw(f"${offsets(num)}%010d 00000 n \n")
      raw(s"trailer\n<< /Size $baseSize /Root 1 0 R$encTrailer >>\nstartxref\n$xref1\n%%EOF\n")
    } else {
      // PDF 1.5 form: content streams stay top-level; every non-stream
      // object (catalog, pages, font, page dicts, indirect lengths) lives
      // in ONE Flate-compressed /ObjStm, referenced by type-2 entries of a
      // Flate-compressed cross-reference STREAM whose dict is the trailer
      val packed = Vector.newBuilder[(Int, String)]
      packed += ((1, catalogBody))
      packed += ((2, pagesBody(np)))
      packed += ((3, fontBody))
      packed += ((4, font2Body)) // the CMap is a STREAM: top-level below
      packed += ((6, font3Body))
      cmapObj()
      encryptObj() // top-level even here: the spec bars it from the ObjStm
      for (p <- 0 until np) {
        packed += ((pageNum(p), pageBody(contNum(p))))
        // the length VALUE rides the object stream: a type-2 indirect /Length
        contentObj(contNum(p), p, (n, body) => packed += ((n, body)))
      }
      val entries = packed.result()
      val bodies = new StringBuilder
      val relOffs = entries.map { case (_, body) =>
        val o = bodies.length; bodies.append(body).append('\n'); o
      }
      val header = entries.zip(relOffs).map { case ((num, _), o) => s"$num $o" }.mkString(" ") + "\n"
      val stmRaw = (header + bodies).getBytes("ISO-8859-1")
      val stmZ = crypt(objStmNum, zlibCompress(stmRaw))
      obj(objStmNum) {
        raw(s"<< /Type /ObjStm /N ${entries.length} /First ${header.length}" +
          s" /Length ${stmZ.length} /Filter /FlateDecode >>\nstream\n")
        out.write(stmZ)
        raw("\nendstream\n")
      }
      // cross-reference stream: W = [1 3 1], Index default [0, Size]
      val xrefOff = out.size.toLong
      baseXrefOff = xrefOff
      val packedIdx = entries.map(_._1).zipWithIndex.toMap
      val rows = new java.io.ByteArrayOutputStream()
      def row(t: Int, f2: Long, f3: Int): Unit = {
        if (f2 > 0xffffffL) fail() // 3-byte offset field; fixtures stay far under
        rows.write(t)
        rows.write(((f2 >> 16) & 0xff).toInt); rows.write(((f2 >> 8) & 0xff).toInt)
        rows.write((f2 & 0xff).toInt)
        rows.write(f3 & 0xff)
      }
      row(0, 0L, 255) // object 0: free
      for (num <- 1 to xrefNum) {
        if (num == xrefNum) row(1, xrefOff, 0)
        else if (offsets.contains(num)) row(1, offsets(num), 0)
        else packedIdx.get(num) match {
          case Some(i) => row(2, objStmNum.toLong, i)
          case None => row(0, 0L, 255) // the (unused) update range
        }
      }
      // the real-producer shape: rows PNG-Up filtered (/Predictor 12)
      // before Flate — Acrobat/pdflatex emit exactly this
      val flat = rows.toByteArray
      val rowLen = 5
      val filtered = new java.io.ByteArrayOutputStream(flat.length + flat.length / rowLen)
      var ri = 0
      while (ri < flat.length) {
        filtered.write(2) // PNG filter type: Up
        var j = 0
        while (j < rowLen) {
          val up = if (ri >= rowLen) flat(ri - rowLen + j) & 0xff else 0
          filtered.write(((flat(ri + j) & 0xff) - up) & 0xff)
          j += 1
        }
        ri += rowLen
      }
      val xrefZ = zlibCompress(filtered.toByteArray)
      obj(xrefNum) {
        raw(s"<< /Type /XRef /Size ${xrefNum + 1} /W [1 3 1] /Root 1 0 R$encTrailer" +
          s" /DecodeParms << /Predictor 12 /Columns $rowLen >>" +
          s" /Length ${xrefZ.length} /Filter /FlateDecode >>\nstream\n")
        out.write(xrefZ)
        raw("\nendstream\n")
      }
      raw(s"startxref\n$xrefOff\n%%EOF\n")
    }

    if (id % 5 == 0) { // incremental update: a CLASSIC section appended
      // over EITHER base form — the hybrid chain real Acrobat appends make
      val p = np
      obj(2) { raw(pagesBody(np + 1) + "\n") }
      pageObj(pageNum(p), contNum(p))
      contentObj(contNum(p), p)
      val size2 = if (modern) xrefNum + 1 else updateEnd
      val xref2 = out.size.toLong
      raw(s"xref\n2 1\n")
      raw(f"${offsets(2)}%010d 00000 n \n")
      raw(s"${pageNum(p)} ${updateEnd - pageNum(p)}\n")
      for (num <- pageNum(p) until updateEnd) raw(f"${offsets(num)}%010d 00000 n \n")
      raw(s"trailer\n<< /Size $size2 /Root 1 0 R /Prev $baseXrefOff$encTrailer >>\nstartxref\n$xref2\n%%EOF\n")
    }
    out.toByteArray
  }

  /** Fixture writer: one PDF per document row. */
  def encodePdf(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderPdf)

  // --------------------------------------------------------------- parser

  private final class MalformedPdf
      extends RuntimeException("malformed pdf", null, false, false)
  private def fail(): Nothing = throw new MalformedPdf

  private sealed trait PObj
  private final case class PNum(v: Double) extends PObj {
    def int: Long = { val l = v.toLong; if (l.toDouble != v) fail(); l }
  }
  private final case class PName(s: String) extends PObj
  private final case class PStr(bytes: Array[Byte]) extends PObj
  private final case class PArr(items: Vector[PObj]) extends PObj
  private final case class PDict(m: Map[String, PObj]) extends PObj
  private final case class PRef(num: Int, gen: Int) extends PObj
  private final case class PKeyword(s: String) extends PObj
  private case object PNull extends PObj
  private final case class PBool(b: Boolean) extends PObj

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Tokenizer/parser over a byte range; `%` comments count as whitespace. */
  private final class Lexer(val bytes: Array[Byte], var pos: Int, val end: Int) {
    def eof: Boolean = pos >= end
    def peek: Int = if (eof) -1 else bytes(pos) & 0xff
    def skipWs(): Unit = {
      while (!eof) {
        val c = peek
        if (isWs(c)) pos += 1
        else if (c == '%') { while (!eof && peek != '\n' && peek != '\r') pos += 1 }
        else return
      }
    }
    def keyword(): String = {
      skipWs()
      val start = pos
      if (!eof && (peek == '\'' || peek == '"')) { pos += 1; return new String(bytes, start, 1, "ISO-8859-1") }
      while (!eof && !isWs(peek) && !isDelim(peek)) pos += 1
      if (pos == start) fail()
      new String(bytes, start, pos - start, "ISO-8859-1")
    }
    def expect(kw: String): Unit = if (keyword() != kw) fail()

    def parseNumberToken(): PNum = {
      skipWs()
      val start = pos
      if (peek == '+' || peek == '-') pos += 1
      var digits = false
      while (!eof && peek >= '0' && peek <= '9') { pos += 1; digits = true }
      if (peek == '.') { pos += 1; while (!eof && peek >= '0' && peek <= '9') { pos += 1; digits = true } }
      if (!digits) fail()
      PNum(new String(bytes, start, pos - start, "ISO-8859-1").toDouble)
    }

    private def name(): PName = {
      pos += 1 // '/'
      val sb = new java.lang.StringBuilder
      while (!eof && !isWs(peek) && !isDelim(peek)) {
        val c = peek
        if (c == '#' && pos + 2 < end) {
          val h = Character.digit(bytes(pos + 1) & 0xff, 16)
          val lo = Character.digit(bytes(pos + 2) & 0xff, 16)
          if (h < 0 || lo < 0) fail()
          sb.append(((h << 4) | lo).toChar); pos += 3
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def literalString(): PStr = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream(32)
      var depth = 1
      while (true) {
        if (eof) fail()
        val c = peek; pos += 1
        c match {
          case '(' => depth += 1; out.write('(')
          case ')' =>
            depth -= 1
            if (depth == 0) return PStr(out.toByteArray)
            out.write(')')
          case '\\' =>
            if (eof) fail()
            val e = peek; pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (!eof && peek == '\n') pos += 1 // continuation
              case '\n' => // continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'; var k = 0
                while (k < 2 && !eof && peek >= '0' && peek <= '7') { v = v * 8 + (peek - '0'); pos += 1; k += 1 }
                out.write(v & 0xff)
              case other => out.write(other) // backslash dropped, per spec
            }
          case '\r' => // EOL inside string → one \n (CRLF collapses)
            if (!eof && peek == '\n') pos += 1
            out.write('\n')
          case other => out.write(other)
        }
      }
      fail()
    }

    private def hexString(): PStr = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream(32)
      var hi = -1
      while (true) {
        if (eof) fail()
        val c = peek; pos += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4) // odd digit: pad low nibble 0
          return PStr(out.toByteArray)
        } else if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) fail()
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      fail()
    }

    /** One object; integers look ahead for `N G R` references (rewind on
      * mismatch). Depth-capped against hostile nesting.
      */
    def parseObject(depth: Int = 0): PObj = {
      if (depth > 64) fail()
      skipWs()
      if (eof) fail()
      peek match {
        case '/' => name()
        case '(' => literalString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PObj]
          var n = 0
          while ({ skipWs(); if (eof) fail(); peek != ']' }) {
            items += parseObject(depth + 1)
            n += 1; if (n > (1 << 20)) fail()
          }
          pos += 1
          PArr(items.result())
        case '<' =>
          if (pos + 1 < end && bytes(pos + 1) == '<') {
            pos += 2
            val m = Map.newBuilder[String, PObj]
            var n = 0
            while ({ skipWs(); if (eof) fail(); peek != '>' }) {
              val k = parseObject(depth + 1) match { case PName(s) => s; case _ => fail() }
              m += k -> parseObject(depth + 1)
              n += 1; if (n > (1 << 16)) fail()
            }
            if (pos + 1 >= end || bytes(pos + 1) != '>') fail()
            pos += 2
            PDict(m.result())
          } else hexString()
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val first = parseNumberToken()
          if (first.v >= 0 && first.v == math.floor(first.v) && c != '+' && c != '.') {
            val save = pos
            try {
              skipWs()
              if (!eof && peek >= '0' && peek <= '9') {
                val gen = parseNumberToken()
                skipWs()
                if (!eof && peek == 'R' &&
                    (pos + 1 >= end || isWs(bytes(pos + 1) & 0xff) || isDelim(bytes(pos + 1) & 0xff))) {
                  pos += 1
                  return PRef(first.int.toInt, gen.int.toInt)
                }
              }
            } catch { case _: MalformedPdf => }
            pos = save
          }
          first
        case _ =>
          keyword() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case _ => fail()
          }
      }
    }
  }

  // ----------------------------------------------------- document loading

  private final class PdfDoc(val bytes: Array[Byte]) {
    private val n = bytes.length
    /** object number → byte offset, newest xref section wins. */
    val offsets = scala.collection.mutable.Map[Int, Int]()
    /** object number → (object-stream number, index within it) — PDF 1.5
      * type-2 cross-reference entries (objects living inside /ObjStm
      * streams, the layout every modern writer emits).
      */
    val compressed = scala.collection.mutable.Map[Int, (Int, Int)]()
    private val objStmCache =
      scala.collection.mutable.Map[Int, (Array[Byte], Vector[(Int, Int)], Int)]()
    /** ToUnicode stream object number → parsed CMap — one inflate+parse
      * per font object per document, not per page.
      */
    val cmapCache = scala.collection.mutable.Map[Int, Map[Int, String]]()
    var root: PRef = _
    // standard security handler state: the trailer's /Encrypt target (newest
    // section wins, like /Root), the first /ID element feeding Algorithm 2,
    // the derived document key, and the encrypt dict's own object number
    // (its strings — /O, /U — are stored cleartext and must not decrypt)
    private var encryptTarget: PObj = _
    private var idFirst: Array[Byte] = _
    private var encKey: Array[Byte] = _
    private var encMode: Int = 0 // 0 = RC4, 1 = AESV2, 2 = AESV3
    private var encNum: Int = -1

    locate()
    initEncryption()

    private def known(num: Int): Boolean =
      offsets.contains(num) || compressed.contains(num)

    /** Resolve the standard security handler with the EMPTY user password —
      * the owner-locked shape most encrypted corpus PDFs have. Runs AFTER
      * locate() and BEFORE any content load: the loads it performs itself
      * see `encKey == null` and correctly read the encrypt dict cleartext.
      * Handlers resolved: V1/V2 R2/R3 RC4, V4/R4 /AESV2, V5/R6 /AESV3.
      * Anything else (the withdrawn R5, non-StdCF crypt filters, a real
      * user password) quarantines — a clean fail, never silent garbage.
      */
    private def initEncryption(): Unit = if (encryptTarget != null) {
      val d = encryptTarget match {
        case r: PRef =>
          encNum = r.num
          load(r.num, allowStream = false)._1 match { case d: PDict => d; case _ => fail() }
        case d: PDict => d
        case _ => fail()
      }
      if (!d.m.get("Filter").contains(PName("Standard"))) fail()
      def intOf(k: String, dflt: Long): Long = d.m.get(k) match {
        case Some(p: PNum) => p.int
        case None => dflt
        case _ => fail()
      }
      def strOf(k: String, len: Int): Array[Byte] = d.m.get(k) match {
        case Some(s: PStr) if s.bytes.length >= len => java.util.Arrays.copyOf(s.bytes, len)
        case _ => fail()
      }
      val p = d.m.get("P") match {
        case Some(pn: PNum) => pn.int.toInt
        case _ => fail()
      }
      /** /V 4+ crypt-filter plumbing: the standard /StdCF filter must be
        * the one named CFM, and BOTH the stream and string defaults must
        * route through it (an /Identity default would mean cleartext
        * parts this reader would then wrongly decrypt).
        */
      def requireStdCf(cfm: String): Unit = {
        val cf = d.m.get("CF") match { case Some(c: PDict) => c; case _ => fail() }
        val std = cf.m.get("StdCF") match { case Some(c: PDict) => c; case _ => fail() }
        if (!std.m.get("CFM").contains(PName(cfm))) fail()
        if (!d.m.get("StmF").contains(PName("StdCF"))) fail()
        if (!d.m.get("StrF").contains(PName("StdCF"))) fail()
      }
      val v = intOf("V", 0)
      val r = intOf("R", 0)
      if (idFirst == null) fail()
      (v, r) match {
        case (1, 2) | (1, 3) | (2, 2) | (2, 3) =>
          val bits = if (v == 1) 40L else intOf("Length", 40)
          if (bits < 40 || bits > 128 || bits % 8 != 0) fail()
          if (r == 2 && bits != 40) fail()
          val keyLen = (bits / 8).toInt
          val o = strOf("O", 32)
          val u = strOf("U", 32)
          val key = pdfDocKey(r.toInt, keyLen, o, p, idFirst)
          val expU = pdfUserValue(r.toInt, key, idFirst)
          val matches =
            if (r == 2) java.util.Arrays.equals(expU, u)
            else java.util.Arrays.equals( // R3: the last 16 bytes are arbitrary pad
              java.util.Arrays.copyOf(expU, 16), java.util.Arrays.copyOf(u, 16))
          if (!matches) fail() // a real (non-empty) user password: quarantine
          encMode = 0
          encKey = key
        case (4, 4) =>
          // the PDF 1.6 AES handler: RC4-era key derivation (Algorithms
          // 2/5 verbatim), AES-128-CBC data with the sAlT object key
          if (intOf("Length", 40) != 128) fail()
          requireStdCf("AESV2")
          val o = strOf("O", 32)
          val u = strOf("U", 32)
          val key = pdfDocKey(4, 16, o, p, idFirst)
          val expU = pdfUserValue(4, key, idFirst)
          if (!java.util.Arrays.equals(
            java.util.Arrays.copyOf(expU, 16), java.util.Arrays.copyOf(u, 16))) fail()
          encMode = 1
          encKey = key
        case (5, 6) =>
          // the PDF 2.0 SHA-2 handler: validate the empty user password
          // against /U (Algorithm 2.B over the validation salt), unwrap
          // the 32-byte file key from /UE, then prove the key by
          // decrypting /Perms (the 'adb' magic + /P echo)
          if (intOf("Length", 256) != 256) fail()
          requireStdCf("AESV3")
          val u = strOf("U", 48)
          val empty = Array.emptyByteArray
          val valSalt = java.util.Arrays.copyOfRange(u, 32, 40)
          val keySalt = java.util.Arrays.copyOfRange(u, 40, 48)
          if (!java.util.Arrays.equals(pdfHash2B(empty, valSalt, empty),
            java.util.Arrays.copyOf(u, 32))) fail() // a real user password
          val ue = strOf("UE", 32)
          val key = Aes.cbcDecrypt(pdfHash2B(empty, keySalt, empty),
            new Array[Byte](16), ue)
          val perms = Aes.decryptBlock(key, strOf("Perms", 16))
          if (perms(9) != 'a'.toByte || perms(10) != 'd'.toByte ||
            perms(11) != 'b'.toByte) fail()
          if (perms(8) != 'T'.toByte && perms(8) != 'F'.toByte) fail()
          val pEcho = (perms(0) & 0xff) | ((perms(1) & 0xff) << 8) |
            ((perms(2) & 0xff) << 16) | ((perms(3) & 0xff) << 24)
          if (pEcho != p) fail()
          encMode = 2
          encKey = key
        case _ => fail() // R5 (the withdrawn Acrobat 9 handler) and the rest
      }
    }

    /** Decrypt one object's bytes (stream data or a string) under the
      * resolved handler: RC4 per-object key, AES-128-CBC with the sAlT
      * per-object key, or AES-256-CBC with the file key — the AES forms
      * carry a 16-byte IV prefix and mandatory 1–16 byte padding, both
      * validated (garbage padding = wrong key or damage: quarantine).
      */
    private def decryptBytes(num: Int, gen: Int, data: Array[Byte]): Array[Byte] =
      encMode match {
        case 0 => rc4(pdfObjectKey(encKey, num, gen), data)
        case _ =>
          val key = if (encMode == 1) pdfObjectKeyAes(encKey, num, gen) else encKey
          if (data.length < 32 || data.length % 16 != 0) fail()
          val iv = java.util.Arrays.copyOf(data, 16)
          val pt = Aes.cbcDecrypt(key, iv,
            java.util.Arrays.copyOfRange(data, 16, data.length))
          val pad = pt(pt.length - 1) & 0xff
          if (pad < 1 || pad > 16) fail()
          var i = pt.length - pad
          while (i < pt.length) { if ((pt(i) & 0xff) != pad) fail(); i += 1 }
          java.util.Arrays.copyOf(pt, pt.length - pad)
      }

    /** RC4-decrypt every string in an object parsed from a top-level
      * position (strings inside object streams ride the stream's own
      * decryption and must NOT decrypt again).
      */
    private def decryptStrings(o: PObj, num: Int, gen: Int): PObj = o match {
      case PStr(b) => PStr(decryptBytes(num, gen, b))
      case PArr(items) => PArr(items.map(decryptStrings(_, num, gen)))
      case PDict(m) => PDict(m.map { case (k, v) => k -> decryptStrings(v, num, gen) })
      case other => other
    }

    private def locate(): Unit = {
      if (n < 16) fail()
      val head = new String(bytes, 0, math.min(8, n), "ISO-8859-1")
      if (!head.startsWith("%PDF-1.")) fail()
      // find `startxref` in the tail — the spec tolerates up to 1024 bytes
      // of trailing junk after %%EOF (truncating proxies and appenders
      // produce exactly this), so the scan window is 1024, not a tight 64
      val tailFrom = math.max(0, n - 1024)
      val tail = new String(bytes, tailFrom, n - tailFrom, "ISO-8859-1")
      val sx = tail.lastIndexOf("startxref")
      if (sx < 0) fail()
      val lex = new Lexer(bytes, tailFrom + sx + "startxref".length, n)
      val off = lex.parseNumberToken().int
      if (off < 0 || off >= n) fail()
      var at = off.toInt
      var sections = 0
      while (at >= 0) {
        sections += 1; if (sections > 16) fail() // Prev-chain cap
        // dispatch per section: a classic table starts with the `xref`
        // keyword, a PDF 1.5 cross-reference STREAM with `N G obj` —
        // hybrid /Prev chains (classic update over a modern base, the
        // Acrobat append shape) mix both forms
        val probe = new Lexer(bytes, at, n)
        probe.skipWs()
        val trailer =
          if (probe.peek == 'x') locateClassic(at) else locateXrefStream(at)
        if (root == null) trailer.m.get("Root") match {
          case Some(r: PRef) => root = r
          case _ => // absent here; maybe in an older section
        }
        if (encryptTarget == null) trailer.m.get("Encrypt") match {
          case Some(e @ (_: PRef | _: PDict)) => encryptTarget = e
          case Some(_) => fail()
          case None =>
        }
        if (idFirst == null) trailer.m.get("ID") match {
          case Some(PArr(items)) if items.length == 2 =>
            items.head match { case s: PStr => idFirst = s.bytes; case _ => fail() }
          case Some(_) => fail()
          case None =>
        }
        at = trailer.m.get("Prev") match {
          case Some(p: PNum) => val v = p.int; if (v < 0 || v >= n) fail(); v.toInt
          case None => -1
          case _ => fail()
        }
      }
      if (root == null) fail()
    }

    private def locateClassic(at: Int): PDict = {
      val x = new Lexer(bytes, at, n)
      x.expect("xref")
      var done = false
      while (!done) {
        x.skipWs()
        if (x.eof) fail()
        if (x.peek >= '0' && x.peek <= '9') {
          val start = x.parseNumberToken().int
          val count = x.parseNumberToken().int
          if (start < 0 || count < 0 || count > (1 << 20)) fail()
          var k = 0L
          while (k < count) {
            val entryOff = x.parseNumberToken().int
            x.parseNumberToken() // generation
            val kw = x.keyword()
            val num = (start + k).toInt
            if (kw == "n") {
              if (entryOff < 0 || entryOff >= n) fail()
              if (num > 0 && !known(num)) offsets(num) = entryOff.toInt
            } else if (kw != "f") fail()
            k += 1
          }
        } else done = true
      }
      x.expect("trailer")
      x.parseObject() match { case d: PDict => d; case _ => fail() }
    }

    /** PDF 1.5 cross-reference stream: an indirect stream object whose
      * dict is also the trailer — /W field widths, /Index subsections
      * (default [0, Size]), binary big-endian entries of types 0 (free),
      * 1 (offset) and 2 (object-stream member). /Length must be direct
      * (resolving an indirect one would need the xref being built).
      */
    private def locateXrefStream(at: Int): PDict = {
      val lex = new Lexer(bytes, at, n)
      lex.parseNumberToken(); lex.parseNumberToken()
      lex.expect("obj")
      val dict = lex.parseObject() match { case d: PDict => d; case _ => fail() }
      if (!dict.m.get("Type").contains(PName("XRef"))) fail()
      lex.expect("stream")
      if (lex.peek == '\r') lex.pos += 1
      if (lex.peek != '\n') fail()
      lex.pos += 1
      val len = dict.m.getOrElse("Length", fail()) match {
        case l: PNum => l.int
        case _ => fail()
      }
      if (len < 0 || len > n - lex.pos) fail()
      val data = decodeStreamData(dict,
        java.util.Arrays.copyOfRange(bytes, lex.pos, lex.pos + len.toInt))
      val w = dict.m.getOrElse("W", fail()) match {
        case PArr(items) if items.length == 3 =>
          items.map { case p: PNum => p.int.toInt; case _ => fail() }
        case _ => fail()
      }
      if (w.exists(x => x < 0 || x > 4)) fail()
      val rowLen = w.sum
      if (rowLen <= 0) fail()
      val size = dict.m.getOrElse("Size", fail()) match { case p: PNum => p.int; case _ => fail() }
      if (size < 0 || size > (1 << 20)) fail()
      val index: Vector[(Long, Long)] = dict.m.get("Index") match {
        case None => Vector((0L, size))
        case Some(PArr(items)) if items.length % 2 == 0 =>
          items.grouped(2).map {
            case Vector(a: PNum, b: PNum) => (a.int, b.int)
            case _ => fail()
          }.toVector
        case _ => fail()
      }
      var p = 0
      index.foreach { case (start, count) =>
        if (start < 0 || count < 0 || count > (1 << 20)) fail()
        var k = 0L
        while (k < count) {
          if (p + rowLen > data.length) fail()
          def field(i: Int): Long = {
            var v = 0L
            val from = p + w.take(i).sum
            var j = 0
            while (j < w(i)) { v = (v << 8) | (data(from + j) & 0xffL); j += 1 }
            v
          }
          val typ = if (w(0) == 0) 1L else field(0)
          val num = (start + k).toInt
          if (num > 0 && !known(num)) typ match {
            case 0L => // free
            case 1L =>
              val o = field(1)
              if (o < 0 || o >= n) fail()
              offsets(num) = o.toInt
            case 2L =>
              compressed(num) = (field(1).toInt, field(2).toInt)
            case _ => fail()
          }
          p += rowLen
          k += 1
        }
      }
      dict
    }

    /** Parse the indirect object `num` — at its xref offset, or out of
      * its /ObjStm for type-2 entries; verifies the header/pair matches.
      * Returns (object, stream bytes or null).
      */
    def load(num: Int, allowStream: Boolean): (PObj, Array[Byte]) = {
      if (!offsets.contains(num) && compressed.contains(num))
        return (loadCompressed(num), null) // objects in streams carry no stream
      val off = offsets.getOrElse(num, fail())
      val lex = new Lexer(bytes, off, n)
      if (lex.parseNumberToken().int != num) fail()
      val gen = lex.parseNumberToken().int.toInt // feeds the per-object key
      lex.expect("obj")
      val body0 = lex.parseObject()
      val body =
        if (encKey != null && num != encNum) decryptStrings(body0, num, gen) else body0
      // `stream` follows a dict; `endobj` follows everything else
      val kw = lex.keyword()
      if (kw == "stream") {
        if (!allowStream) fail()
        val dict = body match { case d: PDict => d; case _ => fail() }
        // EOL after `stream`: CRLF or LF only
        if (lex.peek == '\r') lex.pos += 1
        if (lex.peek != '\n') fail()
        lex.pos += 1
        val len = dict.m.getOrElse("Length", fail()) match {
          case l: PNum => l.int
          case r: PRef =>
            load(r.num, allowStream = false)._1 match { case l: PNum => l.int; case _ => fail() }
          case _ => fail()
        }
        // hostile /Length guard: validate against remaining bytes BEFORE
        // slicing — a 2^31 declared length must not allocate
        if (len < 0 || len > n - lex.pos) fail()
        val data0 = java.util.Arrays.copyOfRange(bytes, lex.pos, lex.pos + len.toInt)
        // decrypt-then-decode: stored stream bytes are RC4'd AFTER filters,
        // so decryption comes first; the xref stream never takes this path
        // (it decodes inside locate(), before encryption init — cleartext
        // per spec), and the encrypt object's own data never decrypts
        val data =
          if (encKey != null && num != encNum) decryptBytes(num, gen, data0)
          else data0
        lex.pos += len.toInt
        lex.expect("endstream")
        lex.expect("endobj")
        (body, data)
      } else if (kw == "endobj") (body, null)
      else fail()
    }

    /** Pull object `num` out of its /ObjStm: the stream object itself
      * must be a TOP-LEVEL type-1 entry (the spec forbids nesting object
      * streams, which also bounds this recursion), its decoded bytes
      * start with /N (objnum, offset) integer pairs, offsets relative to
      * /First. Decoded streams are cached per document.
      */
    private def loadCompressed(num: Int): PObj = {
      val (stmNum, idx) = compressed(num)
      if (!offsets.contains(stmNum)) fail() // objstm-in-objstm: out of spec
      val (data, pairs, first) = objStmCache.getOrElseUpdate(stmNum, {
        val (obj, raw) = load(stmNum, allowStream = true)
        if (raw == null) fail()
        val dict = obj match { case d: PDict => d; case _ => fail() }
        if (!dict.m.get("Type").contains(PName("ObjStm"))) fail()
        val count = dict.m.getOrElse("N", fail()) match { case p: PNum => p.int; case _ => fail() }
        val firstOff = dict.m.getOrElse("First", fail()) match { case p: PNum => p.int; case _ => fail() }
        if (count < 0 || count > (1 << 16)) fail()
        val decoded = decodeStreamData(dict, raw)
        if (firstOff < 0 || firstOff > decoded.length) fail()
        val hl = new Lexer(decoded, 0, firstOff.toInt)
        val ps = Vector.newBuilder[(Int, Int)]
        var k = 0L
        while (k < count) {
          ps += ((hl.parseNumberToken().int.toInt, hl.parseNumberToken().int.toInt))
          k += 1
        }
        (decoded, ps.result(), firstOff.toInt)
      })
      if (idx < 0 || idx >= pairs.length) fail()
      val (declaredNum, rel) = pairs(idx)
      if (declaredNum != num) fail() // the xref entry and the header must agree
      val at = first + rel
      if (at < 0 || at > data.length) fail()
      new Lexer(data, at, data.length).parseObject()
    }

    def loadDict(r: PRef): PDict =
      load(r.num, allowStream = false)._1 match { case d: PDict => d; case _ => fail() }
  }

  /** ASCIIHexDecode: hex digits to bytes, whitespace skipped, `>` is the
    * required EOD marker, an odd final digit pads a low 0 nibble. Bytes
    * past the marker are ignored (the /Length slice may overshoot).
    */
  private[ext] def asciiHexDecode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 1)
    var hi = -1
    var i = 0
    while (i < src.length) {
      val c = src(i) & 0xff
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        return out.toByteArray
      }
      if (!isWs(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) fail()
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    fail() // missing EOD marker
  }

  /** ASCIIHexDecode's writer side (the fixture's CMap arm): wrapped hex
    * lines plus the `>` EOD.
    */
  private[ext] def asciiHexEncode(src: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(src.length * 2 + src.length / 32 + 2)
    var i = 0
    while (i < src.length) {
      sb.append(f"${src(i) & 0xff}%02X")
      if ((i + 1) % 32 == 0) sb.append('\n')
      i += 1
    }
    sb.append('>')
    sb.toString.getBytes("ISO-8859-1")
  }

  /** ASCII85Decode: base-85 groups of 5 chars `!`..`u` → 4 bytes, `z` a
    * whole zero group (only BETWEEN groups), whitespace skipped, `~>` the
    * required EOD; a partial final group of n chars pads with `u` and
    * yields n−1 bytes (n = 1 is malformed). Group values above 2^32−1
    * quarantine.
    */
  private[ext] def ascii85Decode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var k = 0
    var i = 0
    def flush(n: Int): Unit = {
      if (n == 1) fail()
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + (if (j < n) grp(j) else 84); j += 1 }
      if (v > 0xffffffffL) fail()
      var sh = 24
      var m = 0
      while (m < n - 1) { out.write(((v >> sh) & 0xff).toInt); sh -= 8; m += 1 }
    }
    while (i < src.length) {
      val c = src(i) & 0xff
      if (c == '~') {
        if (i + 1 >= src.length || src(i + 1) != '>') fail()
        if (k > 0) flush(k)
        return out.toByteArray
      } else if (c == 'z') {
        if (k != 0) fail() // z inside a group is malformed
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (!isWs(c)) {
        if (c < '!' || c > 'u') fail()
        grp(k) = c - '!'; k += 1
        if (k == 5) { flush(5); k = 0 }
      }
      i += 1
    }
    fail() // missing ~> EOD
  }

  /** ASCII85Decode's writer side (the chain arm): `z` for zero groups,
    * line-wrapped (exercising the decoder's whitespace skip), `~>` EOD.
    */
  private[ext] def ascii85Encode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length * 5 / 4 + 8)
    var col = 0
    var i = 0
    while (i < src.length) {
      val n = math.min(4, src.length - i)
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (if (j < n) src(i + j) & 0xffL else 0L); j += 1 }
      if (v == 0L && n == 4) { out.write('z'); col += 1 }
      else {
        val cs = new Array[Int](5)
        var k = 4
        var r = v
        while (k >= 0) { cs(k) = (r % 85).toInt; r /= 85; k -= 1 }
        var m = 0
        while (m <= n) { out.write('!' + cs(m)); m += 1 }
        col += n + 1
      }
      if (col >= 72) { out.write('\n'); col = 0 }
      i += 4
    }
    out.write('~'); out.write('>')
    out.toByteArray
  }

  /** PDF LZWDecode: MSB-first code packing, Clear=256, EOD=257, first
    * dynamic code 258, widths 9→12. With `/EarlyChange 1` (the default)
    * the width bumps one code early — byte-identical to the TIFF variant
    * (the [[Tiff.lzwDecode]] loop this repeats over the same
    * [[Bits.MsbReader]], which is also why the fixture writer encodes
    * through `Tiff.lzwEncode`);
    * `/EarlyChange 0` bumps at the exact table-full point. Unlike the TIFF
    * side the decoded size is unknown in advance, so output grows up to
    * `maxOut` and the EOD code is REQUIRED — exhaustion without it, an
    * out-of-range code, or an oversized output quarantines.
    */
  private[ext] def lzwDecode(src: Array[Byte], maxOut: Int, earlyChange: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(src.length.toLong * 4 + 64, maxOut.toLong).toInt)
    val in = new Bits.MsbReader(src, 0, src.length) { def fail(): Nothing = Pdf.fail() }
    def read(width: Int): Int = if (in.bitsLeft < width) -1 else in.read(width)
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val length = new Array[Int](4096)
    val scratch = new Array[Byte](4096)
    def emit(code: Int): Unit = {
      val len = if (code < 256) 1 else length(code)
      if (out.size.toLong + len > maxOut) fail()
      var c = code
      var p = len - 1
      while (c >= 256) { scratch(p) = append(c); p -= 1; c = prefix(c) }
      scratch(p) = c.toByte
      out.write(scratch, 0, len)
    }
    def firstByte(code: Int): Byte = { var c = code; while (c >= 256) c = prefix(c); c.toByte }
    var width = 9
    var next = 258
    var prev = -1
    val bump = if (earlyChange) 1 else 0
    def add(p: Int, b: Byte): Unit =
      if (next < 4096) {
        prefix(next) = p; append(next) = b
        length(next) = (if (p < 256) 1 else length(p)) + 1
        next += 1
        if (next == (1 << width) - bump && width < 12) width += 1
      }
    while (true) {
      val code = read(width)
      if (code < 0) fail() // exhaustion before EOD
      else if (code == 257) return out.toByteArray
      else if (code == 256) { width = 9; next = 258; prev = -1 }
      else {
        if (prev < 0) { if (code > 255) fail(); emit(code) }
        else if (code < next) { emit(code); add(prev, firstByte(code)) }
        else if (code == next) { add(prev, firstByte(prev)); emit(code) } // KwKwK
        else fail()
        prev = code
      }
    }
    fail() // unreachable
  }

  /** Decode one stream's data per its dict's /Filter — a single name or a
    * CHAIN (an array applied in list order, the spec's decode order):
    * FlateDecode via the repo's own zlib decoder (output capped under the
    * family budget, hint passed per the inflate contract), LZWDecode via
    * the in-house early-change kernel (the /EarlyChange DecodeParms
    * toggles the GIF-style late bump), and the two ASCII armorings real
    * producers wrap binary filters in. /DecodeParms aligns with /Filter
    * (a single dict for a single filter, an array with null holes for a
    * chain) and each entry's PNG predictor is inverted after its filter —
    * real PDF 1.5 writers emit cross-reference streams almost universally
    * with /Predictor 12, so ignoring it would misparse the very files the
    * 1.5 path exists for. An unknown filter name quarantines. Shared by
    * content, cross-reference, object and CMap streams.
    */
  private def decodeStreamData(dict: PDict, data: Array[Byte]): Array[Byte] = {
    val filters: Vector[String] = dict.m.get("Filter") match {
      case None => Vector.empty
      case Some(PName(f)) => Vector(f)
      case Some(PArr(items)) => items.map { case PName(f) => f; case _ => fail() }
      case _ => fail()
    }
    if (filters.length > 8) fail() // hostile filter-chain depth
    val parms: Vector[Option[PDict]] = dict.m.get("DecodeParms") match {
      case None | Some(PNull) => Vector.fill(filters.length)(None)
      case Some(dp: PDict) =>
        // a stale /DecodeParms on an UNFILTERED stream is spec-tolerable
        // (writers leave them behind); apply the predictor directly —
        // a no-op without /Predictor — instead of quarantining
        if (filters.isEmpty) return applyPredictor(dp, data)
        if (filters.length != 1) fail()
        Vector(Some(dp))
      case Some(PArr(items)) =>
        if (items.length != filters.length) fail()
        items.map { case dp: PDict => Some(dp); case PNull => None; case _ => fail() }
      case _ => fail()
    }
    var cur = data
    var i = 0
    while (i < filters.length) {
      val dp = parms(i)
      cur = filters(i) match {
        case "FlateDecode" =>
          Multimodal.zlibInflate(cur, 0, cur.length, 1 << 26,
            sizeHint = math.min(16L * cur.length + 1024L, 1L << 26).toInt)
        case "LZWDecode" =>
          val early = dp.flatMap(_.m.get("EarlyChange")) match {
            case Some(p: PNum) => p.int match { case 0L => false; case 1L => true; case _ => fail() }
            case None => true // the spec default
            case _ => fail()
          }
          lzwDecode(cur, 1 << 26, early)
        case "ASCIIHexDecode" => asciiHexDecode(cur)
        case "ASCII85Decode" => ascii85Decode(cur)
        case _ => fail() // unsupported filter: quarantine
      }
      // the entry's predictor (if declared) inverts AFTER its filter;
      // applyPredictor is a no-op for dicts without /Predictor (LZW's
      // bare /EarlyChange dict lands here)
      dp.foreach(p => cur = applyPredictor(p, cur))
      i += 1
    }
    cur
  }

  /** Invert the /DecodeParms predictor: 1 = none; 10–15 = the PNG row
    * filters (every row prefixed by its filter-type byte — None, Sub, Up,
    * Average, Paeth — over `Colors`×`Columns` 8-bit components). The TIFF
    * predictor (2) is out of profile and quarantines.
    */
  private def applyPredictor(parms: PDict, data: Array[Byte]): Array[Byte] = {
    def intOf(k: String, dflt: Long): Long = parms.m.get(k) match {
      case Some(p: PNum) => p.int
      case None => dflt
      case _ => fail()
    }
    val pred = intOf("Predictor", 1)
    if (pred == 1) return data
    if (pred < 10 || pred > 15) fail()
    val colors = intOf("Colors", 1)
    val bpc = intOf("BitsPerComponent", 8)
    val columns = intOf("Columns", 1)
    if (colors < 1 || colors > 4 || bpc != 8 || columns < 1 || columns > (1 << 20)) fail()
    val bpp = colors.toInt
    val rowLen = (colors * columns).toInt
    if (rowLen <= 0 || data.length % (rowLen + 1) != 0) fail()
    val rows = data.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var j = 0
      while (j < rowLen) {
        val x = data(src + j) & 0xff
        val left = if (j >= bpp) out(dst + j - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rowLen + j) & 0xff else 0
        val upLeft = if (r > 0 && j >= bpp) out(dst - rowLen + j - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + ((left + up) >> 1)
          case 4 =>
            val pth = left + up - upLeft
            val pa = math.abs(pth - left); val pb = math.abs(pth - up); val pc = math.abs(pth - upLeft)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case _ => fail()
        }
        out(dst + j) = (v & 0xff).toByte
        j += 1
      }
      r += 1
    }
    out
  }

  // --------------------------------------------------------- text extract

  /** Decode one content stream object via the shared filter plane. */
  private def decodeContent(doc: PdfDoc, r: PRef): Array[Byte] = {
    val (obj, data) = doc.load(r.num, allowStream = true)
    if (data == null) fail()
    val dict = obj match { case d: PDict => d; case _ => fail() }
    decodeStreamData(dict, data)
  }

  /** Parse a ToUnicode CMap stream's `bfchar`/`bfrange` sections into a
    * CID → text map (2-byte sources; range destinations increment their
    * last UTF-16 code unit, per the CMap spec). Everything else in the
    * PostScript-ish wrapper — names, numbers, `findresource`/`dict`
    * bookkeeping — is skipped by the shared lexer. Entry counts capped.
    */
  private[ext] def parseCMap(data: Array[Byte]): Map[Int, String] = {
    val lex = new Lexer(data, 0, data.length)
    val out = Map.newBuilder[Int, String]
    var entries = 0
    def cidOf(o: PObj): Int = o match {
      case PStr(b) if b.length == 2 => ((b(0) & 0xff) << 8) | (b(1) & 0xff)
      case _ => fail()
    }
    def dstOf(o: PObj): String = o match {
      case PStr(b) if b.length >= 2 && b.length % 2 == 0 =>
        new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
      case _ => fail()
    }
    def bump(): Unit = { entries += 1; if (entries > (1 << 16)) fail() }
    while ({ lex.skipWs(); !lex.eof }) {
      val c = lex.peek
      if (c == '/' || c == '<' || c == '(' || c == '[' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        lex.parseObject() // operands and wrapper values: discarded
      } else lex.keyword() match {
        case "beginbfchar" =>
          while ({ lex.skipWs(); !lex.eof && lex.peek == '<' }) {
            val src = cidOf(lex.parseObject())
            out += src -> dstOf(lex.parseObject())
            bump()
          }
          lex.expect("endbfchar")
        case "beginbfrange" =>
          while ({ lex.skipWs(); !lex.eof && lex.peek == '<' }) {
            val lo = cidOf(lex.parseObject())
            val hi = cidOf(lex.parseObject())
            val dst = dstOf(lex.parseObject())
            if (hi < lo || hi - lo > (1 << 16)) fail()
            val head = dst.substring(0, dst.length - 1)
            val lastU = dst.charAt(dst.length - 1).toInt
            var cid = lo
            while (cid <= hi) {
              if (lastU + (cid - lo) > 0xffff) fail()
              out += cid -> (head + (lastU + (cid - lo)).toChar)
              bump()
              cid += 1
            }
          }
          lex.expect("endbfrange")
        case _ => // wrapper keywords (begincmap, dict, begin, ...): skipped
      }
    }
    out.result()
  }

  /** How a font's show strings decode — dispatched on the font dict's
    * /Subtype, not on ToUnicode presence: simple fonts (Type1/TrueType)
    * carry ONE-byte codes, mapped through their ToUnicode CMap when the
    * producer embedded one (pdflatex does on nearly every subset font) and
    * WinAnsi otherwise; Type0 fonts carry TWO-byte CIDs and are
    * text-extractable ONLY through a ToUnicode CMap — a Type0 without one
    * quarantines at show time rather than emitting cp1252 garbage.
    */
  private[ext] sealed trait FontDecode
  private[ext] case object WinAnsiFont extends FontDecode
  private[ext] final case class SimpleMapped(cmap: Map[Int, String]) extends FontDecode
  private[ext] final case class CidMapped(cmap: Map[Int, String]) extends FontDecode
  private[ext] case object CidUnmapped extends FontDecode
  /** `Tf` named a font ABSENT from the page's (non-empty) resource map: a
    * show under it quarantines instead of silently decoding as WinAnsi —
    * the content stream may be carrying 2-byte CIDs for a font the broken
    * object graph lost, and cp1252 garbage would violate the module's
    * partial-text-is-worse-than-none policy. When the page declares NO
    * font resources at all, WinAnsi stays the decode (the classic
    * minimal-PDF shape, where /Resources is legitimately absent).
    */
  private[ext] case object MissingFont extends FontDecode

  /** The glyph names a simple-font `/Differences` array may carry in this
    * profile — the Adobe Glyph List rows for ASCII letters/digits/
    * punctuation plus the Latin-1 accents and typographic quotes real
    * Type1 subsets re-encode. A name outside the table quarantines the
    * document (decoding an unknown glyph as anything would be a guess).
    */
  private[ext] val GlyphNames: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    ('a' to 'z').foreach(c => b += c.toString -> c.toString)
    ('A' to 'Z').foreach(c => b += c.toString -> c.toString)
    Vector("zero", "one", "two", "three", "four", "five", "six", "seven", "eight", "nine")
      .zipWithIndex.foreach { case (nm, i) => b += nm -> ('0' + i).toChar.toString }
    b += "space" -> " "
    b += "exclam" -> "!"
    b += "quotedbl" -> "\""
    b += "numbersign" -> "#"
    b += "dollar" -> "$"
    b += "percent" -> "%"
    b += "ampersand" -> "&"
    b += "quotesingle" -> "'"
    b += "parenleft" -> "("
    b += "parenright" -> ")"
    b += "asterisk" -> "*"
    b += "plus" -> "+"
    b += "comma" -> ","
    b += "hyphen" -> "-"
    b += "period" -> "."
    b += "slash" -> "/"
    b += "colon" -> ":"
    b += "semicolon" -> ";"
    b += "less" -> "<"
    b += "equal" -> "="
    b += "greater" -> ">"
    b += "question" -> "?"
    b += "at" -> "@"
    b += "bracketleft" -> "["
    b += "backslash" -> "\\"
    b += "bracketright" -> "]"
    b += "underscore" -> "_"
    b += "braceleft" -> "{"
    b += "bar" -> "|"
    b += "braceright" -> "}"
    b += "quoteleft" -> "‘"
    b += "quoteright" -> "’"
    b += "quotedblleft" -> "“"
    b += "quotedblright" -> "”"
    b += "endash" -> "–"
    b += "emdash" -> "—"
    b += "bullet" -> "•"
    b += "Euro" -> "€"
    b += "agrave" -> "à"
    b += "aacute" -> "á"
    b += "acircumflex" -> "â"
    b += "adieresis" -> "ä"
    b += "ccedilla" -> "ç"
    b += "egrave" -> "è"
    b += "eacute" -> "é"
    b += "ecircumflex" -> "ê"
    b += "edieresis" -> "ë"
    b += "igrave" -> "ì"
    b += "iacute" -> "í"
    b += "ograve" -> "ò"
    b += "oacute" -> "ó"
    b += "odieresis" -> "ö"
    b += "ugrave" -> "ù"
    b += "uacute" -> "ú"
    b += "udieresis" -> "ü"
    b += "ntilde" -> "ñ"
    b.result()
  }

  /** WinAnsi as a code → text map (one entry per byte, the cp1252 plane
    * [[extractText]]'s default decode rides) — the base a `/Differences`
    * array overrides.
    */
  private lazy val WinAnsiMap: Map[Int, String] =
    (0 to 255).map(c => c -> Charset.cp1252Decode(Array(c.toByte))).toMap

  /** The printable-ASCII sub-map every standard simple-font base encoding
    * agrees on — the decode for MacRoman/Standard-encoded fonts, where a
    * high byte (the bytes those tables DISAGREE on) must quarantine.
    */
  private lazy val AsciiOnlyMap: Map[Int, String] =
    (0x20 to 0x7e).map(c => c -> c.toChar.toString).toMap

  /** Build a simple font's effective decode map from its `/Encoding`
    * dictionary: the base (absent or /WinAnsiEncoding — other named bases
    * are out of profile and quarantine) overridden by the `/Differences`
    * array's (code, glyph-name...) runs — an integer sets the next code,
    * each following name assigns consecutive codes, per spec.
    */
  private[ext] def differencesMap(ed: PDict): Map[Int, String] = {
    ed.m.get("BaseEncoding") match {
      case None | Some(PName("WinAnsiEncoding")) => // the supported profile
      case _ => fail()
    }
    val diffs = ed.m.get("Differences") match {
      case Some(PArr(items)) => items
      case None => Vector.empty[PObj]
      case _ => fail()
    }
    var code = -1
    var m = WinAnsiMap
    diffs.foreach {
      case p: PNum =>
        val v = p.int
        if (v < 0 || v > 255) fail()
        code = v.toInt
      case PName(g) =>
        if (code < 0 || code > 255) fail()
        m += code -> GlyphNames.getOrElse(g, fail())
        code += 1
      case _ => fail()
    }
    m
  }

  /** The classical line-model extractor over one page's content bytes:
    * positioning ops (`Td`/`TD`/`Tm`/`T*`) and next-line shows (`'`/`"`)
    * break the line iff text was shown since the last break; `Tj`/`'`/`"`
    * show their string operand, `TJ` its array's strings (kern numbers
    * skipped). `fonts` maps resource names to their [[FontDecode]]; `Tf`
    * switches the active decode — the subset-embedded-font reality of
    * modern PDFs. Returns (text, nLines).
    */
  private[ext] def extractText(content: Array[Byte],
      fonts: Map[String, FontDecode] = Map.empty): (String, Long) = {
    val lex = new Lexer(content, 0, content.length)
    val sb = new java.lang.StringBuilder
    var lines = 0L
    var shownSinceBreak = false
    var anyText = false
    val stack = scala.collection.mutable.ArrayBuffer[PObj]()
    def break(): Unit = if (shownSinceBreak) { sb.append('\n'); lines += 1; shownSinceBreak = false }
    var curFont: FontDecode = WinAnsiFont
    def show(o: PObj): Unit = o match {
      case PStr(b) =>
        curFont match {
          case WinAnsiFont => sb.append(Charset.cp1252Decode(b))
          case SimpleMapped(m) =>
            var i = 0
            while (i < b.length) {
              sb.append(m.getOrElse(b(i) & 0xff, fail())) // unmapped code: quarantine
              i += 1
            }
          case CidMapped(m) =>
            if (b.length % 2 != 0) fail() // CID strings are 2 bytes per code
            var i = 0
            while (i < b.length) {
              val cid = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
              sb.append(m.getOrElse(cid, fail())) // unmapped CID: quarantine
              i += 2
            }
          case CidUnmapped => fail() // Type0 without ToUnicode: no text
          case MissingFont => fail() // show under an unresolvable Tf name
        }
        shownSinceBreak = true; anyText = true
      case _ => fail()
    }
    var ops = 0
    while ({ lex.skipWs(); !lex.eof }) {
      ops += 1; if (ops > (1 << 22)) fail()
      val c = lex.peek
      if (c == '(' || c == '<' || c == '[' || c == '/' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        if (stack.size > 64) fail()
        stack += lex.parseObject()
      } else {
        lex.keyword() match {
          case "Tf" => // operands: /FontName size — switch the decode map
            stack.headOption match {
              case Some(PName(f)) =>
                // a name missing from a NON-EMPTY resource map is a broken
                // graph: decode under it must fail, not fall back (see
                // [[MissingFont]]); with no declared fonts at all WinAnsi
                // remains the classic default
                curFont = fonts.getOrElse(f, if (fonts.isEmpty) WinAnsiFont else MissingFont)
              case _ => // malformed Tf: keep the current font (lenient)
            }
          case "Td" | "TD" | "Tm" | "T*" => break()
          case "Tj" => if (stack.isEmpty) fail(); show(stack.last)
          case "'" => if (stack.isEmpty) fail(); break(); show(stack.last)
          case "\"" => if (stack.isEmpty) fail(); break(); show(stack.last)
          case "TJ" =>
            stack.lastOption match {
              case Some(PArr(items)) => items.foreach {
                case s: PStr => show(s)
                case _: PNum => // kerning adjustment: skipped
                case _ => fail()
              }
              case _ => fail()
            }
          case _ => // graphics/state operators: operands consumed below
        }
        stack.clear()
      }
    }
    val total = if (anyText) lines + 1 else 0L
    (sb.toString, total)
  }

  final case class PdfPage(doc_id: Long, page_idx: Long, n_lines: Long,
      n_chars: Long, checksum: Long)

  /** Parse one document: xref walk → page tree (cycle-guarded) → per page
    * decode `/Contents` (single or array; concatenated with one newline) →
    * text extraction.
    */
  private[ext] def parsePdf(id: Long, bytes: Array[Byte]): Seq[PdfPage] = {
    val doc = new PdfDoc(bytes)
    val catalog = doc.loadDict(doc.root)
    val pagesRef = catalog.m.getOrElse("Pages", fail()) match { case r: PRef => r; case _ => fail() }
    val leaves = Vector.newBuilder[PDict]
    val visited = scala.collection.mutable.Set[Int]()
    var count = 0
    def walk(r: PRef, depth: Int): Unit = {
      if (depth > 32 || visited.contains(r.num)) fail()
      visited += r.num
      val d = doc.loadDict(r)
      d.m.get("Type") match {
        case Some(PName("Pages")) =>
          d.m.getOrElse("Kids", fail()) match {
            case PArr(kids) => kids.foreach {
              case k: PRef => walk(k, depth + 1)
              case _ => fail()
            }
            case _ => fail()
          }
        case Some(PName("Page")) =>
          count += 1; if (count > (1 << 16)) fail()
          leaves += d
        case _ => fail()
      }
    }
    walk(pagesRef, 0)
    leaves.result().zipWithIndex.map { case (page, idx) =>
      val content = page.m.getOrElse("Contents", fail()) match {
        case r: PRef => decodeContent(doc, r)
        case PArr(refs) =>
          val out = new java.io.ByteArrayOutputStream
          refs.foreach {
            case r: PRef =>
              if (out.size > 0) out.write('\n') // spec: whitespace between
              out.write(decodeContent(doc, r))
            case _ => fail()
          }
          out.toByteArray
        case _ => fail()
      }
      // page font resources: name -> FontDecode, dispatched on /Subtype
      // (Type0 = 2-byte CIDs, anything else = 1-byte codes); the entry
      // value may be an indirect ref OR a direct dict — both legal PDF.
      // CMaps are cached per document via the ToUnicode ref's number.
      def fontDecodeOf(fontDict: PDict): FontDecode = {
        val isType0 = fontDict.m.get("Subtype").contains(PName("Type0"))
        val cmap: Map[Int, String] = fontDict.m.get("ToUnicode") match {
          case Some(tu: PRef) => doc.cmapCache.getOrElseUpdate(tu.num, {
            val (obj, data) = doc.load(tu.num, allowStream = true)
            if (data == null) fail()
            val d = obj match { case dd: PDict => dd; case _ => fail() }
            parseCMap(decodeStreamData(d, data))
          })
          case None => null
          case _ => fail()
        }
        (isType0, cmap) match {
          case (true, null) => CidUnmapped
          case (true, m) => CidMapped(m)
          case (false, m) if m != null => SimpleMapped(m) // ToUnicode wins
          case (false, _) =>
            // no ToUnicode: the /Encoding entry decides — a dictionary
            // (direct or indirect, both legal) carries /Differences over
            // its base; a named base or nothing is the WinAnsi plane
            val encObj = fontDict.m.get("Encoding") match {
              case Some(r: PRef) => Some(doc.load(r.num, allowStream = false)._1)
              case other => other
            }
            encObj match {
              case Some(ed: PDict) => SimpleMapped(differencesMap(ed))
              case None | Some(PName("WinAnsiEncoding")) => WinAnsiFont
              case Some(PName("MacRomanEncoding")) | Some(PName("StandardEncoding")) =>
                // these bases agree with WinAnsi on ASCII only — decode
                // that, and let a high byte quarantine at show time
                // rather than silently decoding it under the wrong table
                SimpleMapped(AsciiOnlyMap)
              case _ => fail()
            }
        }
      }
      val fonts: Map[String, FontDecode] = page.m.get("Resources") match {
        case Some(res: PDict) => res.m.get("Font") match {
          case Some(fd: PDict) => fd.m.map {
            case (name, r: PRef) => name -> fontDecodeOf(doc.loadDict(r))
            case (name, d: PDict) => name -> fontDecodeOf(d) // inline dict
            case _ => fail()
          }
          case _ => Map.empty[String, FontDecode]
        }
        case _ => Map.empty[String, FontDecode]
      }
      val (text, nLines) = extractText(content, fonts)
      val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var cs = 0L
      utf8.foreach(b => cs = (cs * 31 + (b & 0xff)) % 1000000007L)
      PdfPage(id, idx.toLong, nLines, utf8.length.toLong, cs)
    }
  }

  /** [[parsePdf]] with the operator's quarantine semantics (Nil on any
    * structural damage) — the unit the spec's malformed table drives.
    */
  private[ext] def parsePdfSafe(id: Long, bytes: Array[Byte]): Seq[PdfPage] =
    try parsePdf(id, bytes) catch { case scala.util.control.NonFatal(_) => Nil }

  /** The operator: PDF documents → the per-page text table; any structural
    * damage quarantines the whole document. Map-only, zero shuffles.
    */
  def pdfExtract(pdfs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[PdfPage] = {
    val spark = pdfs.sparkSession
    import spark.implicits._
    pdfs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parsePdf(id, payload) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}
