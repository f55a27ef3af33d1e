package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Mach-O binary metadata, from scratch — completes the binary-triage
  * trio beside [[Elf]] and [[Pe]]: macOS/iOS binaries in crawled
  * corpora, including FAT (universal) files whose slices each carry a
  * full thin image.
  *
  * Implemented per the published Mach-O layout (Apple's mach-o/loader.h
  * and fat.h definitions, long since public):
  *
  *  - '''fat wrapper''': the BIG-endian `0xCAFEBABE` magic + arch table
  *    (cputype, offset, size, align) — every slice bounds-checked and
  *    each parsed as a thin image, one output row per slice;
  *  - '''thin header''': the 64-bit little-endian `0xFEEDFACF` magic
  *    (32-bit and byte-swapped images are a documented quarantine:
  *    modern corpora are 64-bit), cputype mapped (arm64 / x86_64),
  *    filetype (EXECUTE / DYLIB / BUNDLE / OBJECT surfaced by name),
  *    ncmds + sizeofcmds cross-checked against the walked commands;
  *  - '''load commands''': cmdsize-aligned walk, LC_SEGMENT_64 with
  *    its nsects × 80-byte section_64 table (section count must match
  *    the declared cmdsize), LC_LOAD_DYLIB paths through the command's
  *    own name-offset indirection, LC_MAIN's entryoff, LC_UUID; every
  *    cmdsize bounds the reads and the total must equal sizeofcmds.
  *
  * Damage (magic, a cmdsize that overruns or misaligns, a dylib name
  * offset outside its command, a fat slice past EOF) quarantines the
  * binary whole.
  *
  * Scale shape: map-only per binary, zero shuffles.
  */
object Macho {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"macho:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def isFat(id: Long): Boolean = id % 3 == 2
  private[ext] def cpuOf(id: Long, slice: Int): String =
    if (isFat(id)) (if (slice == 0) "arm64" else "x86_64")
    else if (nib(id, 2) % 2 == 0) "arm64" else "x86_64"
  private[ext] def filetypeOf(id: Long): String = if (id % 2 == 0) "EXECUTE" else "DYLIB"
  private[ext] def nDylibsOf(id: Long): Int = 1 + nib(id, 3) % 2
  private[ext] def dylibOf(id: Long, j: Int): String =
    if (j == 0) "/usr/lib/libSystem.B.dylib"
    else s"/usr/lib/lib${words(nib(id, 4) % 8)}.dylib"
  private[ext] def entryOffOf(id: Long): Long = 0x4000L + nib(id, 5) * 16L

  private[ext] def renderThin(id: Long, slice: Int): Array[Byte] = {
    val cputype = if (cpuOf(id, slice) == "arm64") 0x0100000cL else 0x01000007L
    val filetype = if (filetypeOf(id) == "EXECUTE") 2L else 6L
    val dylibs = (0 until nDylibsOf(id)).map(dylibOf(id, _))
    val cmds = new java.io.ByteArrayOutputStream()
    def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var i = 0; while (i < 4) { o.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def w64(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var i = 0; while (i < 8) { o.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def name16(o: java.io.ByteArrayOutputStream, s: String): Unit = {
      val b = s.getBytes("ISO-8859-1")
      o.write(b, 0, b.length)
      o.write(new Array[Byte](16 - b.length), 0, 16 - b.length)
    }
    // LC_SEGMENT_64 __TEXT with two sections
    val seg = new java.io.ByteArrayOutputStream()
    w32(seg, 0x19L); w32(seg, (72 + 2 * 80).toLong)
    name16(seg, "__TEXT")
    w64(seg, 0x100000000L); w64(seg, 0x4000L) // vmaddr/vmsize
    w64(seg, 0L); w64(seg, 0x4000L) // fileoff/filesize
    w32(seg, 5L); w32(seg, 5L) // prot
    w32(seg, 2L); w32(seg, 0L) // nsects, flags
    Seq("__text", "__cstring").foreach { sn =>
      name16(seg, sn); name16(seg, "__TEXT")
      w64(seg, 0x100004000L); w64(seg, 0x100L)
      w32(seg, 0x4000L); w32(seg, 4L)
      w32(seg, 0L); w32(seg, 0L)
      w32(seg, 0L); w32(seg, 0L); w32(seg, 0L); w32(seg, 0L)
    }
    cmds.write(seg.toByteArray, 0, seg.size)
    // LC_SEGMENT_64 __LINKEDIT, no sections
    val le = new java.io.ByteArrayOutputStream()
    w32(le, 0x19L); w32(le, 72L)
    name16(le, "__LINKEDIT")
    w64(le, 0x100008000L); w64(le, 0x1000L)
    w64(le, 0x4000L); w64(le, 0x100L)
    w32(le, 1L); w32(le, 1L)
    w32(le, 0L); w32(le, 0L)
    cmds.write(le.toByteArray, 0, le.size)
    // LC_LOAD_DYLIB per dylib; the second one is WEAK (LC_REQ_DYLD high
    // bit) on part of the corpus so the 0x80000018 arm stays graded
    dylibs.zipWithIndex.foreach { case (path, di) =>
      val pb = path.getBytes("ISO-8859-1")
      val size = (24 + pb.length + 1 + 7) & ~7
      val c = new java.io.ByteArrayOutputStream()
      val cmd = if (di == 1 && id % 5 == 1) 0x80000018L else 0xcL
      w32(c, cmd); w32(c, size.toLong)
      w32(c, 24L) // name offset within the command
      w32(c, 2L); w32(c, 0x10000L); w32(c, 0x10000L) // ts, versions
      c.write(pb, 0, pb.length)
      c.write(new Array[Byte](size - 24 - pb.length), 0, size - 24 - pb.length)
      cmds.write(c.toByteArray, 0, c.size)
    }
    // LC_UUID
    val uu = new java.io.ByteArrayOutputStream()
    w32(uu, 0x1bL); w32(uu, 24L)
    val uuid = md5Hex(s"uuid:$id:$slice")
    (0 until 16).foreach(i => uu.write(Integer.parseInt(uuid.substring(2 * i, 2 * i + 2), 16)))
    cmds.write(uu.toByteArray, 0, uu.size)
    // LC_MAIN (executables only)
    if (filetype == 2L) {
      val mn = new java.io.ByteArrayOutputStream()
      w32(mn, 0x80000028L); w32(mn, 24L)
      w64(mn, entryOffOf(id)); w64(mn, 0L)
      cmds.write(mn.toByteArray, 0, mn.size)
    }
    val ncmds = 2 + dylibs.length + 1 + (if (filetype == 2L) 1 else 0)
    val out = new java.io.ByteArrayOutputStream()
    w32(out, 0xfeedfacfL)
    w32(out, cputype)
    w32(out, 0L) // cpusubtype
    w32(out, filetype)
    w32(out, ncmds.toLong)
    w32(out, cmds.size.toLong)
    w32(out, 0x00200085L) // flags (NOUNDEFS|DYLDLINK|TWOLEVEL|PIE-ish)
    w32(out, 0L) // reserved
    out.write(cmds.toByteArray, 0, cmds.size)
    out.toByteArray
  }

  private[ext] def renderMacho(id: Long): Array[Byte] = {
    if (!isFat(id)) return renderThin(id, 0)
    val slices = Seq(renderThin(id, 0), renderThin(id, 1))
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      var i = 3; while (i >= 0) { out.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    be32(0xcafebabeL)
    be32(slices.length.toLong)
    var off = 8 + 20 * slices.length
    off = (off + 0x3fff) & ~0x3fff // slices page-aligned like real lipo output
    val cputypes = Seq(0x0100000cL, 0x01000007L)
    slices.zip(cputypes).foreach { case (s, cpu) =>
      be32(cpu); be32(0L)
      be32(off.toLong); be32(s.length.toLong)
      be32(14L) // align 2^14
      off = (off + s.length + 0x3fff) & ~0x3fff
    }
    var pos = 8 + 20 * slices.length
    slices.foreach { s =>
      val aligned = (pos + 0x3fff) & ~0x3fff
      out.write(new Array[Byte](aligned - pos), 0, aligned - pos)
      out.write(s, 0, s.length)
      pos = aligned + s.length
    }
    out.toByteArray
  }

  /** Fixture writer: one Mach-O (thin or fat) per document row. */
  def encodeMacho(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "macho")(renderMacho)

  // --------------------------------------------------------------- reader

  private final class MalformedMacho
      extends RuntimeException("malformed macho", null, false, false)
  private def fail(): Nothing = throw new MalformedMacho

  final case class MachoMeta(
    doc_id: Long, slice_idx: Long, fat: Boolean, cputype: String, filetype: String,
    ncmds: Long, n_segs: Long, segs: String, n_dylibs: Long, dylibs: String,
    has_uuid: Boolean, entry_off: Long)

  private def parseThin(id: Long, b: Array[Byte], from: Int, len: Int,
      sliceIdx: Long, fat: Boolean): MachoMeta = {
    if (len < 32 || from + len > b.length) fail()
    def u32(p: Int): Long = {
      if (p < from || p + 4 > from + len) fail()
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
        ((b(p + 3) & 0xffL) << 24)
    }
    def u64(p: Int): Long = {
      if (p < from || p + 8 > from + len) fail()
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
      v
    }
    if (u32(from) != 0xfeedfacfL) fail() // 64-bit LE only: the modern corpus
    val cputype = u32(from + 4) match {
      case 0x0100000cL => "arm64"
      case 0x01000007L => "x86_64"
      case other => f"cpu_$other%x"
    }
    val filetype = u32(from + 12) match {
      case 1L => "OBJECT"
      case 2L => "EXECUTE"
      case 6L => "DYLIB"
      case 8L => "BUNDLE"
      case other => s"ft_$other"
    }
    val ncmds = u32(from + 16)
    val sizeofcmds = u32(from + 20)
    if (ncmds <= 0 || ncmds > 1024) fail()
    if (32 + sizeofcmds > len) fail() // u32 values are already non-negative
    var p = from + 32
    val cmdsEnd = from + 32 + sizeofcmds.toInt
    val segs = Vector.newBuilder[String]
    val dylibs = Vector.newBuilder[String]
    var hasUuid = false
    var entryOff = -1L
    var nSegs = 0L
    var i = 0L
    def fixedStr(q: Int, width: Int): String = {
      var e = 0
      while (e < width && b(q + e) != 0) e += 1
      new String(b, q, e, "ISO-8859-1")
    }
    while (i < ncmds) {
      if (p + 8 > cmdsEnd) fail()
      val cmd = u32(p)
      val cmdsize = u32(p + 4)
      if (cmdsize < 8 || cmdsize % 8 != 0 || p + cmdsize > cmdsEnd) fail()
      cmd match {
        case 0x19L => // LC_SEGMENT_64
          if (cmdsize < 72) fail()
          val segname = fixedStr(p + 8, 16)
          val nsects = u32(p + 64)
          if (cmdsize != 72 + 80 * nsects) fail() // sections must fit exactly
          segs += segname
          nSegs += 1
        // LC_LOAD_DYLIB, plus the weak/reexport kin which carry the
        // LC_REQ_DYLD high bit (0x80000018 / 0x8000001F — the plain
        // 0x18/0x1F values are different commands entirely)
        case 0xcL | 0x80000018L | 0x8000001fL =>
          if (cmdsize < 24) fail()
          val nameOff = u32(p + 8)
          if (nameOff < 24 || nameOff >= cmdsize) fail()
          var q = p + nameOff.toInt
          val start = q
          while (q < p + cmdsize.toInt && b(q) != 0) q += 1
          if (q >= p + cmdsize.toInt) fail()
          dylibs += new String(b, start, q - start, "ISO-8859-1")
        case 0x1bL => // LC_UUID
          if (cmdsize != 24) fail()
          hasUuid = true
        case 0x80000028L => // LC_MAIN
          if (cmdsize != 24) fail()
          entryOff = u64(p + 8)
        case _ => () // other commands: sized past by cmdsize
      }
      p += cmdsize.toInt
      i += 1
    }
    if (p != cmdsEnd) fail() // the walk must consume sizeofcmds exactly
    val ds = dylibs.result()
    MachoMeta(id, sliceIdx, fat, cputype, filetype, ncmds, nSegs,
      segs.result().mkString(","), ds.length.toLong, ds.mkString(","),
      hasUuid, entryOff)
  }

  private[ext] def parseMacho(id: Long, b: Array[Byte]): Seq[MachoMeta] = {
    if (b == null || b.length < 8) fail()
    val beMagic = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
    if (beMagic == 0xcafebabeL) {
      def be32(p: Int): Long = {
        if (p + 4 > b.length) fail()
        ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
          ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
      }
      val n = be32(4)
      if (n <= 0 || n > 16) fail()
      (0L until n).map { i =>
        val e = 8 + 20 * i.toInt
        val off = be32(e + 8)
        val size = be32(e + 12)
        if (size < 32 || off + size > b.length) fail()
        val m = parseThin(id, b, off.toInt, size.toInt, i, fat = true)
        // the fat entry's declared cputype must match the slice's header
        val declared = be32(e) match {
          case 0x0100000cL => "arm64"
          case 0x01000007L => "x86_64"
          case other => f"cpu_$other%x"
        }
        if (declared != m.cputype) fail()
        m
      }
    } else Seq(parseThin(id, b, 0, b.length, 0L, fat = false))
  }

  private[ext] def parseMachoSafe(id: Long, b: Array[Byte]): Seq[MachoMeta] =
    try parseMacho(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `macho_meta`: macOS-binary triage metadata. Map-only. */
  def machoMeta(docs: DataFrame, idCol: String = "doc_id",
                binCol: String = "macho"): Dataset[MachoMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseMachoSafe(id, b) }
  }
}
