package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Git packfile ingestion — the code-repo shelf.
  *
  * Code training corpora are mined from git repositories, and a repo's
  * canonical on-disk/on-wire form is the PACKFILE (`pack-format` in the
  * git documentation; the same bytes move over the smart-HTTP fetch
  * protocol): `PACK` + version 2 + object count, then per object a
  * type/size varint header and a ZLIB stream, two delta encodings
  * (OFS_DELTA against an earlier in-pack offset, REF_DELTA against a
  * SHA-1), and a trailing SHA-1 over the whole pack. This module
  * implements the format end to end, from scratch:
  *
  *  - '''[[sha1]]''': FIPS 180 SHA-1, from scratch (80-round compression,
  *    standard K constants), differentialed against the JDK in the spec.
  *    Object ids are `sha1(type ++ " " ++ size ++ NUL ++ content)` — the
  *    git object-id rule — and the pack trailer is the SHA-1 of every
  *    byte before it. BOTH are verified on read: a wrong trailer
  *    quarantines the pack, and a wrong OBJECT id breaks REF_DELTA
  *    resolution (the delta names its base by id), so id computation is
  *    graded structurally, not just asserted.
  *  - '''object walk''': pack entries carry no compressed length — the
  *    reader must inflate to FIND each object's end. The ZLIB streams
  *    ride [[Multimodal.inflateWithEnd]] (the in-house DEFLATE) plus the
  *    RFC 1950 header/Adler-32 checks, with declared-size-exact output
  *    (the header varint gives the inflated size; mismatch is damage).
  *  - '''deltas''': the delta script (base-size varint, result-size
  *    varint, copy ops with sparse offset/size bytes — the size-0 =
  *    0x10000 quirk handled — and literal inserts) applied over
  *    recursively-resolved bases (chain depth capped); OFS_DELTA's
  *    big-endian "+1 bias" offset varint decoded exactly.
  *
  * Strict container semantics: bad magic/version, a hostile declared
  * size (capped BEFORE allocation), a broken ZLIB stream, a delta whose
  * output length misses its declared result size, a REF_DELTA naming an
  * id not in the pack (thin packs need an external store — out of scope,
  * a clean fail), or a trailer mismatch quarantines the whole pack.
  *
  * Fixture: [[encodePack]] builds a closed-form repo per document — 2-4
  * blobs (blob 1 stored as a REAL delta: one copy op + one insert,
  * OFS_DELTA on even ids, REF_DELTA on odd), the tree referencing every
  * blob by raw 20-byte id, and 1-2 commits (the second carrying
  * `parent`). The oracle replays object order, types, content lengths
  * (tree entries are fixed-width here; commit lengths use 40-char id
  * placeholders), and a per-object text probe: blob text, tree entry
  * names, commit message — everything SQL-expressible without SHA-1,
  * while id correctness rides the REF_DELTA/trailer checks above.
  *
  * Scale shape: map-only per repository (one typed flatMap: walk +
  * inflate + resolve), zero shuffles — repositories are independent
  * units exactly like archives. No reference citation possible — the
  * reference (`src/flinkarima.py:379-416`) has no file surface;
  * north-star scope beside the tar/zip/7z container shelf.
  */
object Git {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ---------------------------------------------------------------- SHA-1

  /** FIPS 180-4 SHA-1, from scratch (the JDK digest appears only in the
    * spec differential, per house convention).
    */
  private[ext] def sha1(data: Array[Byte]): Array[Byte] = {
    val ml = data.length.toLong * 8
    val padded = data.length + 1 + 8
    val total = ((padded + 63) / 64) * 64
    val msg = java.util.Arrays.copyOf(data, total)
    msg(data.length) = 0x80.toByte
    var i = 0
    while (i < 8) { msg(total - 1 - i) = ((ml >>> (8 * i)) & 0xff).toByte; i += 1 }
    var h0 = 0x67452301; var h1 = 0xEFCDAB89; var h2 = 0x98BADCFE
    var h3 = 0x10325476; var h4 = 0xC3D2E1F0
    val w = new Array[Int](80)
    var block = 0
    while (block < total) {
      var t = 0
      while (t < 16) {
        val p = block + 4 * t
        w(t) = ((msg(p) & 0xff) << 24) | ((msg(p + 1) & 0xff) << 16) |
          ((msg(p + 2) & 0xff) << 8) | (msg(p + 3) & 0xff)
        t += 1
      }
      while (t < 80) {
        w(t) = Integer.rotateLeft(w(t - 3) ^ w(t - 8) ^ w(t - 14) ^ w(t - 16), 1)
        t += 1
      }
      var a = h0; var b = h1; var c = h2; var d = h3; var e = h4
      t = 0
      while (t < 80) {
        val (f, k) =
          if (t < 20) ((b & c) | (~b & d), 0x5A827999)
          else if (t < 40) (b ^ c ^ d, 0x6ED9EBA1)
          else if (t < 60) ((b & c) | (b & d) | (c & d), 0x8F1BBCDC.toInt)
          else (b ^ c ^ d, 0xCA62C1D6.toInt)
        val tmp = Integer.rotateLeft(a, 5) + f + e + k + w(t)
        e = d; d = c; c = Integer.rotateLeft(b, 30); b = a; a = tmp
        t += 1
      }
      h0 += a; h1 += b; h2 += c; h3 += d; h4 += e
      block += 64
    }
    val out = new Array[Byte](20)
    def put(at: Int, v: Int): Unit = {
      out(at) = (v >>> 24).toByte; out(at + 1) = (v >>> 16).toByte
      out(at + 2) = (v >>> 8).toByte; out(at + 3) = v.toByte
    }
    put(0, h0); put(4, h1); put(8, h2); put(12, h3); put(16, h4)
    out
  }

  private[ext] def objectId(typ: String, content: Array[Byte]): Array[Byte] = {
    val header = s"$typ ${content.length}".getBytes("US-ASCII") :+ 0.toByte
    sha1(header ++ content)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nBlobs(id: Long): Int = {
    val m = md5Hex(s"git:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nCommits(id: Long): Int = {
    val m = md5Hex(s"git:$id")
    1 + Integer.parseInt(m.substring(9, 10), 16) % 2
  }

  /** Prefix length blob 1 copies out of blob 0 (the delta's copy op). */
  private[ext] def deltaPrefix(id: Long): Int = {
    val m = md5Hex(s"git:$id")
    8 + Integer.parseInt(m.substring(1, 2), 16)
  }

  private[ext] def blobText(id: Long, k: Int): String = {
    val m = md5Hex(s"git:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    if (k == 1)
      blobText(id, 0).take(deltaPrefix(id)) + " tail " + words(nib(3) % 8)
    else
      s"blob $k of repo $id: " + words(nib(4 + k) % 8) + " " + words(nib(9 + k) % 8)
  }

  private[ext] def commitMessage(id: Long, c: Int): String = {
    val m = md5Hex(s"git:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    s"commit $c of repo $id: " + words(nib(12 + c) % 8)
  }

  private def personLine(role: String, c: Int): String =
    s"$role Graft Author <author@example.com> ${1700000000L + c} +0000"

  private[ext] def treeContent(id: Long, blobIds: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    blobIds.zipWithIndex.foreach { case (sha, k) =>
      out.write(s"100644 f$k.txt".getBytes("US-ASCII")); out.write(0)
      out.write(sha)
    }
    out.toByteArray
  }

  private[ext] def commitContent(id: Long, c: Int, treeId: Array[Byte],
                                 parent: Option[Array[Byte]]): Array[Byte] = {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val sb = new StringBuilder
    sb.append("tree ").append(hex(treeId)).append('\n')
    parent.foreach(p => sb.append("parent ").append(hex(p)).append('\n'))
    sb.append(personLine("author", c)).append('\n')
    sb.append(personLine("committer", c)).append('\n')
    sb.append('\n').append(commitMessage(id, c)).append('\n')
    sb.toString.getBytes("UTF-8")
  }

  private def zlibDeflate(data: Array[Byte]): Array[Byte] =
    Bits.zlibWrap(0x9c, Multimodal.deflateDynamic(data), data)

  /** The delta script rebuilding blob 1 from blob 0: one copy op (offset
    * 0, the prefix) + one literal insert (the tail).
    */
  private[ext] def blob1Delta(id: Long): Array[Byte] = {
    val base = blobText(id, 0).getBytes("UTF-8")
    val target = blobText(id, 1).getBytes("UTF-8")
    val c = deltaPrefix(id)
    val out = new java.io.ByteArrayOutputStream(32)
    Bits.writeUvarint(out, base.length)
    Bits.writeUvarint(out, target.length)
    out.write(0x90); out.write(c) // copy: no offset bytes, one size byte
    val tail = java.util.Arrays.copyOfRange(target, c, target.length)
    require(tail.length >= 1 && tail.length < 128)
    out.write(tail.length)
    out.write(tail)
    out.toByteArray
  }

  /** Serialize one complete pack for repo `id`. Object order: blob 0,
    * blob 1 (as OFS_DELTA on even ids / REF_DELTA on odd), blobs 2..,
    * tree, commits.
    */
  private[ext] def renderPack(id: Long): Array[Byte] = {
    val nb = nBlobs(id)
    val nc = nCommits(id)
    val blobs = (0 until nb).map(k => blobText(id, k).getBytes("UTF-8"))
    val blobIds = blobs.map(objectId("blob", _))
    val tree = treeContent(id, blobIds)
    val treeId = objectId("tree", tree)
    val commits = Vector.newBuilder[Array[Byte]]
    var parent: Option[Array[Byte]] = None
    for (c <- 0 until nc) {
      val cc = commitContent(id, c, treeId, parent)
      commits += cc
      parent = Some(objectId("commit", cc))
    }
    val commitArr = commits.result()

    val out = new java.io.ByteArrayOutputStream(1024)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    out.write("PACK".getBytes("US-ASCII"))
    be32(2)
    be32(nb + 1 + nc)
    def objHeader(typ: Int, size0: Int): Unit = {
      var size = size0
      var b = (typ << 4) | (size & 0x0f)
      size >>>= 4
      while (size != 0) {
        out.write(b | 0x80)
        b = size & 0x7f
        size >>>= 7
      }
      out.write(b)
    }
    def ofsVarint(dist0: Long): Unit = {
      // git's big-endian groups with the +1 bias on continuations
      var v = dist0
      var bytes = List((v & 0x7f).toInt)
      v >>= 7
      while (v > 0) {
        v -= 1
        bytes = (0x80 | (v & 0x7f).toInt) :: bytes
        v >>= 7
      }
      bytes.foreach(out.write)
    }

    val offsets = new Array[Long](nb + 1 + nc)
    var idx = 0
    def full(typ: Int, content: Array[Byte]): Unit = {
      offsets(idx) = out.size.toLong; idx += 1
      objHeader(typ, content.length)
      out.write(zlibDeflate(content))
    }

    full(3, blobs(0)) // blob 0
    // blob 1 as a delta
    val delta = blob1Delta(id)
    offsets(idx) = out.size.toLong; idx += 1
    if (id % 2 == 0) {
      objHeader(6, delta.length) // OFS_DELTA
      ofsVarint(offsets(1) - offsets(0))
    } else {
      objHeader(7, delta.length) // REF_DELTA
      out.write(blobIds(0))
    }
    out.write(zlibDeflate(delta))
    for (k <- 2 until nb) full(3, blobs(k))
    full(2, tree)
    commitArr.foreach(full(1, _))

    val body = out.toByteArray
    val trailer = sha1(body)
    out.write(trailer)
    out.toByteArray
  }

  /** Fixture writer: one packfile per document row. */
  def encodePack(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0)
      .select(col(idCol).cast("long"))
      // one round-robin staging exchange: the bench's documents table is
      // a single parquet row group (one scan partition), which would
      // serialize the per-document render+extract CPU onto one thread; a
      // real corpus is many files (many partitions), so this models the
      // production layout (see Pdf.encodePdf for the full rationale)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Long]
      .map(id => (id, renderPack(id)))
      .toDF("doc_id", "payload")
  }

  // --------------------------------------------------------------- parser

  private final class MalformedPack
      extends RuntimeException("malformed pack", null, false, false)
  private def fail(): Nothing = throw new MalformedPack

  private val SizeCap = 1 << 26

  private final case class RawEntry(offset: Long, typ: Int, size: Int,
                                    data: Array[Byte], base: Either[Long, Seq[Byte]])

  final case class GitObject(
      repo_id: Long, obj_idx: Long, obj_type: String, n_bytes: Long,
      probe: String, checksum: Long)

  private val TypeNames = Map(1 -> "commit", 2 -> "tree", 3 -> "blob", 4 -> "tag")

  private[ext] def parsePack(id: Long, bytes: Array[Byte]): Seq[GitObject] = {
    val n = bytes.length
    if (n < 32) fail()
    if (!(bytes(0) == 'P' && bytes(1) == 'A' && bytes(2) == 'C' && bytes(3) == 'K')) fail()
    def be32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    if (be32(4) != 2) fail()
    val count = be32(8)
    if (count < 0 || count > (1 << 16)) fail()

    // trailer first: SHA-1 over everything before it must match — a
    // damaged pack quarantines before any object parse
    val body = java.util.Arrays.copyOfRange(bytes, 0, n - 20)
    if (!java.util.Arrays.equals(sha1(body), java.util.Arrays.copyOfRange(bytes, n - 20, n)))
      fail()

    var p = 12
    val entries = Vector.newBuilder[RawEntry]
    var k = 0L
    while (k < count) {
      val offset = p.toLong
      if (p >= n - 20) fail()
      var b = bytes(p) & 0xff; p += 1
      val typ = (b >> 4) & 0x7
      var size = (b & 0x0f).toLong
      var shift = 4
      while ((b & 0x80) != 0) {
        if (p >= n - 20 || shift > 32) fail()
        b = bytes(p) & 0xff; p += 1
        size |= (b & 0x7fL) << shift
        shift += 7
      }
      if (size > SizeCap) fail() // hostile declared size: before allocation
      if (typ == 0 || typ == 5) fail()
      val base: Either[Long, Seq[Byte]] = typ match {
        case 6 => // OFS_DELTA: big-endian groups, +1 bias on continuations
          var ob = bytes(p) & 0xff; p += 1
          var off = (ob & 0x7f).toLong
          var hops = 0
          while ((ob & 0x80) != 0) {
            hops += 1; if (hops > 8 || p >= n - 20) fail()
            ob = bytes(p) & 0xff; p += 1
            off = ((off + 1) << 7) | (ob & 0x7f).toLong
          }
          val baseOff = offset - off
          if (baseOff < 12 || baseOff >= offset) fail()
          Left(baseOff)
        case 7 => // REF_DELTA: 20-byte base id
          if (p + 20 > n - 20) fail()
          val sha = bytes.slice(p, p + 20).toSeq
          p += 20
          Right(sha)
        case _ => Left(-1L)
      }
      // zlib stream: end unknown until inflated
      if (p + 6 > n - 20) fail()
      val cmf = bytes(p) & 0xff
      val flg = bytes(p + 1) & 0xff
      if ((cmf & 0x0f) != 8 || (cmf * 256 + flg) % 31 != 0 || (flg & 0x20) != 0) fail()
      val (data, dEnd) =
        try Multimodal.inflateWithEnd(bytes, p + 2, n - 20, SizeCap, sizeHint = size.toInt)
        catch { case scala.util.control.NonFatal(_) => fail() } // MalformedPng is a checked Exception
      if (data.length != size) fail() // header size is the inflated size
      if (dEnd + 4 > n - 20) fail()
      val adler = be32(dEnd).toInt
      if (adler != Bits.adler32(data, 0, data.length)) fail()
      p = dEnd + 4
      entries += RawEntry(offset, typ, size.toInt, data, base)
      k += 1
    }
    if (p != n - 20) fail() // exactly consumed
    val all = entries.result()
    val byOffset = all.map(e => e.offset -> e).toMap

    // resolve: delta chains capped; object ids computed bottom-up so
    // REF_DELTA bases resolve by id (a miss = thin pack = quarantine)
    val resolved = new scala.collection.mutable.HashMap[Long, (String, Array[Byte])]
    lazy val byId = new scala.collection.mutable.HashMap[Seq[Byte], Long]
    def resolve(e: RawEntry, depth: Int): (String, Array[Byte]) = {
      if (depth > 32) fail()
      resolved.get(e.offset) match {
        case Some(r) => r
        case None =>
          val r = e.typ match {
            case 1 | 2 | 3 | 4 => (TypeNames(e.typ), e.data)
            case 6 =>
              val baseOff = e.base match { case Left(o) => o; case _ => fail() }
              val base = byOffset.getOrElse(baseOff, fail())
              val (bt, bc) = resolve(base, depth + 1)
              (bt, applyDelta(bc, e.data))
            case 7 =>
              val sha = e.base.getOrElse(fail())
              val baseOff = byId.getOrElse(sha, fail())
              val base = byOffset.getOrElse(baseOff, fail())
              val (bt, bc) = resolve(base, depth + 1)
              (bt, applyDelta(bc, e.data))
            case _ => fail()
          }
          resolved(e.offset) = r
          r
      }
    }
    // seed ids of non-delta objects first (bases precede deltas in
    // well-formed packs; REF_DELTA to a LATER non-delta object also works
    // because all full objects are seeded before any delta resolves) —
    // but only when a REF_DELTA exists at all: OFS-only packs (most real
    // ones) skip the per-object SHA-1 cost entirely
    if (all.exists(_.typ == 7)) all.foreach { e =>
      if (e.typ <= 4) byId(objectId(TypeNames(e.typ), e.data).toSeq) = e.offset
    }
    all.zipWithIndex.map { case (e, i) =>
      val (typ, content) = resolve(e, 0)
      val probe = typ match {
        case "blob" => new String(content, "UTF-8")
        case "tree" => treeNames(content).mkString(",")
        case "commit" =>
          val text = new String(content, "UTF-8")
          val at = text.indexOf("\n\n")
          if (at < 0) fail()
          text.substring(at + 2).stripSuffix("\n")
        case _ => ""
      }
      val pb = probe.getBytes("UTF-8")
      var cs = 0L
      pb.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      GitObject(id, i.toLong, typ, content.length.toLong, probe, cs)
    }
  }

  /** Tree entries: `mode SP name NUL id20` repeated; returns the names. */
  private def treeNames(content: Array[Byte]): Seq[String] = {
    val names = Vector.newBuilder[String]
    var p = 0
    var guard = 0
    while (p < content.length) {
      guard += 1; if (guard > (1 << 16)) fail()
      val sp = content.indexOf(' '.toByte, p)
      if (sp < 0) fail()
      var nul = sp + 1
      while (nul < content.length && content(nul) != 0) nul += 1
      if (nul + 21 > content.length) fail()
      names += new String(content, sp + 1, nul - sp - 1, "UTF-8")
      p = nul + 21
    }
    names.result()
  }

  /** Apply a git delta script to its base. */
  private[ext] def applyDelta(base: Array[Byte], delta: Array[Byte]): Array[Byte] = {
    val r = new Bits.Cursor(delta, 0, delta.length) { def fail(): Nothing = Git.fail() }
    def varint(): Int = {
      val v = r.uvarint(5)
      if (v > SizeCap) fail()
      v.toInt
    }
    val baseSize = varint()
    if (baseSize != base.length) fail()
    val resultSize = varint()
    var p = r.pos
    val out = new Array[Byte](resultSize)
    var w = 0
    while (p < delta.length) {
      val op = delta(p) & 0xff; p += 1
      if ((op & 0x80) != 0) { // copy
        var off = 0; var sz = 0
        var i = 0
        while (i < 4) {
          if ((op & (1 << i)) != 0) {
            if (p >= delta.length) fail()
            off |= (delta(p) & 0xff) << (8 * i); p += 1
          }
          i += 1
        }
        i = 0
        while (i < 3) {
          if ((op & (0x10 << i)) != 0) {
            if (p >= delta.length) fail()
            sz |= (delta(p) & 0xff) << (8 * i); p += 1
          }
          i += 1
        }
        if (sz == 0) sz = 0x10000 // the spec's size-0 quirk
        // off can carry 4 hostile bytes (up to 0x7FFFFFFF): compare in Long
        // so off + sz cannot wrap negative and sneak past the bound
        if (off < 0 || sz < 0 || off.toLong + sz > base.length || w + sz > resultSize) fail()
        System.arraycopy(base, off, out, w, sz)
        w += sz
      } else { // insert
        if (op == 0) fail() // reserved
        if (p + op > delta.length || w + op > resultSize) fail()
        System.arraycopy(delta, p, out, w, op)
        p += op; w += op
      }
    }
    if (w != resultSize) fail()
    out
  }

  private[ext] def parsePackSafe(id: Long, bytes: Array[Byte]): Seq[GitObject] =
    try parsePack(id, Option(bytes).getOrElse(Array.empty))
    catch { case _: MalformedPack => Seq.empty }

  /** `git_objects`: every object of every pack — blobs (full text probe),
    * trees (entry names), commits (message) — with delta resolution and
    * both SHA-1 gates. Map-only, zero shuffles.
    */
  def gitObjects(packs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "payload"): Dataset[GitObject] = {
    val spark = packs.sparkSession
    import spark.implicits._
    packs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => parsePackSafe(id, bytes) }
  }
}
