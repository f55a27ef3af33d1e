package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BitTorrent metainfo (.torrent) ingestion, from scratch — crawled
  * corpora and public-dataset mirrors distribute manifests as bencoded
  * metainfo files, and a data engine inventories them the way it
  * inventories any other manifest: one row per torrent with the fields
  * a mirror-health pipeline keys on (name, piece geometry, total
  * payload size, single- vs multi-file mode, the exact byte span of
  * the `info` dict — the span the BEP 3 infohash is computed over).
  *
  * Implemented per the published bencoding rules (BEP 3):
  *
  *  - integers `i<base10>e` — no leading zeros (`i03e` is damage), no
  *    `-0`, bounded to i64;
  *  - byte strings `<len>:<bytes>` — length with no leading zeros,
  *    allocation-capped;
  *  - lists `l...e`, dicts `d...e` with STRING keys in STRICTLY
  *    ascending raw-byte order (BEP 3: "Keys must be strings and
  *    appear in sorted order") — disorder or duplicates quarantine;
  *  - the file is ONE top-level dict consumed exactly — trailing
  *    garbage is damage; nesting depth capped.
  *
  * Metainfo-level rules: `info` must hold exactly one of `length`
  * (single-file) / `files` (multi-file, each entry a dict with
  * `length` + non-empty `path` list of strings), `pieces` must be a
  * non-empty multiple of 20 bytes (one SHA-1 per piece). The reader
  * records the raw [start, end) of the `info` value while parsing —
  * `info_len` grades that span, so a parser that re-serializes instead
  * of slicing (the classic infohash bug) fails the oracle.
  *
  * Scale shape: map-only per torrent, zero shuffles.
  */
object Torrent {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"torrent:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nameOf(id: Long): String =
    s"${words(nib(id, 1) % 8)}-set-$id"
  private[ext] def commentOf(id: Long): String =
    s"Mirror of ${words(nib(id, 2) % 8)} corpus $id"
  private[ext] def creationDateOf(id: Long): Long = 1700000000L + id
  private[ext] def pieceLengthOf(id: Long): Long = 16384L * (1 + nib(id, 3) % 4)
  private[ext] def nPiecesOf(id: Long): Int = 1 + nib(id, 4) % 3
  private[ext] def isMulti(id: Long): Boolean = id % 2 == 1
  private[ext] def hasAnnounceList(id: Long): Boolean = id % 3 == 0
  private[ext] def nFilesOf(id: Long): Int = if (isMulti(id)) 1 + nib(id, 5) % 3 else 1
  private[ext] def fileLenOf(id: Long, k: Int): Long = 1000L + id * 7 + k * 31 + nib(id, 6 + k)
  private[ext] def fileNameOf(id: Long, k: Int): String =
    s"${words(nib(id, 9 + k) % 8)}_$k.bin"
  private[ext] def announceOf(id: Long): String =
    s"http://tracker${nib(id, 12) % 4}.example.org/announce"

  /** 20 bytes per piece, from two md5 streams (16 + 4). */
  private[ext] def pieceBytes(id: Long, p: Int): Array[Byte] = {
    val hx = md5Hex(s"piece:$id:$p") + md5Hex(s"piece:$id:$p:b").take(8)
    (0 until 20).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte).toArray
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def int(v: Long): Unit = raw(utf8(s"i${v}e"))
    def str(b: Array[Byte]): Unit = { raw(utf8(s"${b.length}:")); raw(b) }
    def str(s: String): Unit = str(utf8(s))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  private def benDict(build: W => Unit): Array[Byte] = {
    val w = new W
    build(w)
    utf8("d") ++ w.out.toByteArray ++ utf8("e")
  }

  private[ext] def renderInfo(id: Long): Array[Byte] = benDict { w =>
    // keys in raw-byte order: files < length < name < piece length < pieces
    if (isMulti(id)) {
      w.str("files")
      w.raw(utf8("l"))
      (0 until nFilesOf(id)).foreach { k =>
        w.raw(benDict { f =>
          f.str("length"); f.int(fileLenOf(id, k))
          f.str("path")
          f.raw(utf8("l"))
          if (k % 2 == 1) f.str("sub")
          f.str(fileNameOf(id, k))
          f.raw(utf8("e"))
        })
      }
      w.raw(utf8("e"))
    } else {
      w.str("length"); w.int(fileLenOf(id, 0))
    }
    w.str("name"); w.str(nameOf(id))
    w.str("piece length"); w.int(pieceLengthOf(id))
    w.str("pieces")
    w.str((0 until nPiecesOf(id)).flatMap(p => pieceBytes(id, p)).toArray)
  }

  private[ext] def renderTorrent(id: Long): Array[Byte] = benDict { w =>
    // announce < announce-list < comment < created by < creation date < info
    w.str("announce"); w.str(announceOf(id))
    if (hasAnnounceList(id)) {
      w.str("announce-list")
      w.raw(utf8("ll"))
      w.str(announceOf(id))
      w.raw(utf8("el"))
      w.str("http://backup.example.org/announce")
      w.raw(utf8("ee"))
    }
    w.str("comment"); w.str(commentOf(id))
    w.str("created by"); w.str("graft/1.0")
    w.str("creation date"); w.int(creationDateOf(id))
    w.str("info"); w.raw(renderInfo(id))
  }

  /** Fixture writer: one .torrent per document row. */
  def encodeTorrent(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "torrent")(renderTorrent)

  // --------------------------------------------------------------- reader

  private final class MalformedTorrent
      extends RuntimeException("malformed torrent", null, false, false)
  private def fail(): Nothing = throw new MalformedTorrent

  private val MaxStr = 1 << 26
  private val MaxDepth = 32

  private[ext] sealed trait B
  private[ext] final case class BInt(v: Long) extends B
  private[ext] final case class BStr(b: Array[Byte]) extends B
  private[ext] final case class BList(items: Vector[B]) extends B
  /** Dict keeps insertion order (already validated ascending) plus the
    * raw byte span [from, until) of the whole `d...e` value.
    */
  private[ext] final case class BDict(fields: Vector[(String, B)], from: Int, until: Int) extends B {
    def get(k: String): Option[B] = fields.find(_._1 == k).map(_._2)
  }

  /** Parse one bencode value at `p`; returns (value, end). */
  private[ext] def parseValue(b: Array[Byte], p: Int, depth: Int): (B, Int) = {
    if (depth > MaxDepth) fail()
    if (p >= b.length) fail()
    (b(p) & 0xff).toChar match {
      case 'i' =>
        var q = p + 1
        val neg = q < b.length && b(q) == '-'
        if (neg) q += 1
        val ds = q
        while (q < b.length && b(q) >= '0' && b(q) <= '9') q += 1
        if (q == ds || q >= b.length || b(q) != 'e') fail()
        val nd = q - ds
        // no leading zeros ("i03e"), no "-0"
        if (nd > 1 && b(ds) == '0') fail()
        if (neg && nd == 1 && b(ds) == '0') fail()
        if (nd > 19) fail()
        val mag = new String(b, ds, nd, java.nio.charset.StandardCharsets.US_ASCII)
        val v = try { val x = java.lang.Long.parseLong(mag); if (neg) -x else x }
        catch { case _: NumberFormatException => fail() }
        (BInt(v), q + 1)
      case c if c >= '0' && c <= '9' =>
        var q = p
        while (q < b.length && b(q) >= '0' && b(q) <= '9') q += 1
        if (q >= b.length || b(q) != ':') fail()
        val nd = q - p
        if (nd > 1 && b(p) == '0') fail() // "03:..." is damage
        if (nd > 8) fail()
        val n = Integer.parseInt(new String(b, p, nd, java.nio.charset.StandardCharsets.US_ASCII))
        if (n > MaxStr || q + 1 + n > b.length) fail()
        (BStr(java.util.Arrays.copyOfRange(b, q + 1, q + 1 + n)), q + 1 + n)
      case 'l' =>
        var q = p + 1
        val items = Vector.newBuilder[B]
        while (q < b.length && b(q) != 'e') {
          val (v, e) = parseValue(b, q, depth + 1)
          items += v
          q = e
        }
        if (q >= b.length) fail()
        (BList(items.result()), q + 1)
      case 'd' =>
        var q = p + 1
        val fields = Vector.newBuilder[(String, B)]
        var prev: Array[Byte] = null
        while (q < b.length && b(q) != 'e') {
          val (k, e1) = parseValue(b, q, depth + 1)
          val kb = k match { case BStr(x) => x; case _ => fail() }
          // strictly ascending raw-byte key order (BEP 3); catches
          // duplicates too
          if (prev != null && byteCompare(prev, kb) >= 0) fail()
          prev = kb
          val (v, e2) = parseValue(b, e1, depth + 1)
          fields += ((new String(kb, java.nio.charset.StandardCharsets.UTF_8), v))
          q = e2
        }
        if (q >= b.length) fail()
        (BDict(fields.result(), p, q + 1), q + 1)
      case _ => fail()
    }
  }

  private def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  final case class TorrentRec(
    doc_id: Long, n_keys: Long, announce: String, has_announce_list: Boolean,
    comment: String, created_by: String, creation_date: Long, name: String,
    piece_length: Long, n_pieces: Long, pieces_checksum: Long, mode: String,
    n_files: Long, total_length: Long, info_len: Long)

  private def asStr(v: Option[B]): String = v match {
    case Some(BStr(b)) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case _ => fail()
  }
  private def asInt(v: Option[B]): Long = v match {
    case Some(BInt(x)) => x
    case _ => fail()
  }

  private[ext] def parseTorrent(id: Long, b: Array[Byte]): TorrentRec = {
    if (b == null || b.length < 2) fail()
    val (top, end) = parseValue(b, 0, 0)
    if (end != b.length) fail() // exact consumption
    val d = top match { case x: BDict => x; case _ => fail() }
    val info = d.get("info") match { case Some(x: BDict) => x; case _ => fail() }
    val pieces = info.get("pieces") match {
      case Some(BStr(x)) if x.length > 0 && x.length % 20 == 0 => x
      case _ => fail()
    }
    val (mode, nFiles, totalLen) = (info.get("length"), info.get("files")) match {
      case (Some(BInt(n)), None) =>
        if (n < 0) fail()
        ("single", 1L, n)
      case (None, Some(BList(fs))) =>
        if (fs.isEmpty) fail()
        var total = 0L
        fs.foreach {
          case fd: BDict =>
            val n = asInt(fd.get("length"))
            if (n < 0) fail()
            fd.get("path") match {
              case Some(BList(segs)) if segs.nonEmpty =>
                segs.foreach { case BStr(s) if s.nonEmpty => (); case _ => fail() }
              case _ => fail()
            }
            total += n
          case _ => fail()
        }
        ("multi", fs.length.toLong, total)
      case _ => fail() // exactly one of length/files
    }
    var cks = 0L
    pieces.foreach(x => cks = (cks * 31 + (x & 0xff)) % 1000000007L)
    TorrentRec(
      doc_id = id,
      n_keys = d.fields.length.toLong,
      announce = asStr(d.get("announce")),
      has_announce_list = d.get("announce-list").isDefined,
      comment = asStr(d.get("comment")),
      created_by = asStr(d.get("created by")),
      creation_date = asInt(d.get("creation date")),
      name = asStr(info.get("name")),
      piece_length = asInt(info.get("piece length")),
      n_pieces = pieces.length.toLong / 20,
      pieces_checksum = cks,
      mode = mode,
      n_files = nFiles,
      total_length = totalLen,
      info_len = (info.until - info.from).toLong)
  }

  private[ext] def parseTorrentSafe(id: Long, b: Array[Byte]): Seq[TorrentRec] =
    try Seq(parseTorrent(id, b))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `torrent_meta`: the metainfo inventory. Map-only. */
  def torrentMeta(docs: DataFrame, idCol: String = "doc_id",
                  binCol: String = "torrent"): Dataset[TorrentRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseTorrentSafe(id, b) }
  }
}
