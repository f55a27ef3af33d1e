package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Debian package (.deb) ingestion, from scratch — the package-mining
  * shelf: a code corpus crawled from mirrors and container layers is
  * full of .deb files, and the metadata inside (package, version,
  * dependencies, payload inventory) is exactly what dataset curation
  * filters on.
  *
  * A .deb is a Unix `ar` archive (the common variant dpkg writes) with
  * three members in order: `debian-binary` (the literal version text
  * `2.0\n`), `control.tar.gz` and `data.tar.gz`. Implemented per the
  * published formats (deb(5), ar(5)):
  *
  *  - '''ar layer''': `!<arch>\n` global magic, 60-byte member headers
  *    (16-byte name, decimal mtime/uid/gid/octal mode, 10-byte decimal
  *    size, the 0x60 0x0A end magic), data padded to 2 bytes with
  *    `\n`; GNU-style trailing-slash names accepted alongside
  *    space-padded ones;
  *  - '''gzip layer''': the shared [[Archives.gzipMember]] /
  *    [[Archives.gunzipMember]] machinery — the fixture cycles all
  *    three DEFLATE block strategies and all header-flag variants
  *    (FNAME / FEXTRA / FHCRC), so RFC 1952 stays graded end-to-end;
  *  - '''tar layer''': a local ustar walk (names, octal sizes, type
  *    flags, 512-byte blocks) — directories counted out, payload files
  *    inventoried;
  *  - '''control file''': RFC-822-style fields with continuation-line
  *    folding (the multi-line `Description:` shape), `Package` /
  *    `Version` / `Architecture` / `Installed-Size` / optional
  *    `Depends` extracted.
  *
  * Damage anywhere (ar magic, member magic, size overruns, a
  * debian-binary that is not 2.0, gzip CRC, tar truncation, a control
  * file missing mandatory fields) quarantines the package whole.
  *
  * Scale shape: map-only per package, zero shuffles.
  */
object Deb {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"deb:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def pkgName(id: Long): String = s"pkg-${words(nib(id, 2) % 8)}"
  private[ext] def version(id: Long): String = s"1.${nib(id, 3)}.${nib(id, 4)}"
  private[ext] def arch(id: Long): String = if (id % 2 == 0) "amd64" else "arm64"
  private[ext] def installedSize(id: Long): Long = 100L + nib(id, 5) * 7L
  private[ext] def depends(id: Long): Option[String] =
    if (id % 3 == 0) Some(s"libc6 (>= 2.${nib(id, 6)})") else None
  private[ext] def nFiles(id: Long): Int = 1 + nib(id, 7) % 3
  private[ext] def fileBody(id: Long, j: Int): String =
    s"payload $j of deb $id: ${words(nib(id, 8 + j) % 8)}\n" * (1 + ((id + j) % 4)).toInt

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // ---- minimal ustar writer (local: the deb payload shape, not Tar's
  // document-corpus fixture)

  private def tarHeader(name: String, size: Long, typeFlag: Byte): Array[Byte] = {
    val b = new Array[Byte](512)
    val nb = utf8(name)
    System.arraycopy(nb, 0, b, 0, nb.length)
    def octal(off: Int, width: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (width - 1 - s.length)) + s
      System.arraycopy(utf8(padded), 0, b, off, width - 1)
      b(off + width - 1) = 0
    }
    octal(100, 8, 420L) // mode 0644
    octal(108, 8, 0L)
    octal(116, 8, 0L)
    octal(124, 12, size)
    octal(136, 12, 1700000000L)
    b(156) = typeFlag
    System.arraycopy(utf8("ustar"), 0, b, 257, 5)
    b(263) = '0'; b(264) = '0'
    java.util.Arrays.fill(b, 148, 156, ' '.toByte)
    var sum = 0L
    b.foreach(x => sum += (x & 0xff))
    val cs = java.lang.Long.toOctalString(sum)
    val padded = ("0" * (6 - cs.length)) + cs
    System.arraycopy(utf8(padded), 0, b, 148, 6)
    b(154) = 0; b(155) = ' '
    b
  }

  private def tarFile(entries: Seq[(String, Array[Byte], Byte)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data, tf) =>
      out.write(tarHeader(name, if (tf == '5') 0L else data.length.toLong, tf), 0, 512)
      if (tf != '5') {
        out.write(data, 0, data.length)
        val rem = data.length % 512
        if (rem != 0) out.write(new Array[Byte](512 - rem), 0, 512 - rem)
      }
    }
    out.write(new Array[Byte](1024), 0, 1024)
    out.toByteArray
  }

  private def controlText(id: Long): String = {
    val dep = depends(id).map(d => s"Depends: $d\n").getOrElse("")
    // a folded Description: the continuation-line parse is always graded
    s"""Package: ${pkgName(id)}
       |Version: ${version(id)}
       |Architecture: ${arch(id)}
       |Installed-Size: ${installedSize(id)}
       |${dep}Description: synthetic fixture package
       | extended description line for ${pkgName(id)}
       |""".stripMargin
  }

  private def arMember(name: String, data: Array[Byte], gnuSlash: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(60 + data.length + 1)
    val nm = (if (gnuSlash) name + "/" else name).padTo(16, ' ')
    out.write(utf8(nm.take(16)), 0, 16)
    out.write(utf8("1700000000".padTo(12, ' ')), 0, 12)
    out.write(utf8("0".padTo(6, ' ')), 0, 6)
    out.write(utf8("0".padTo(6, ' ')), 0, 6)
    out.write(utf8("100644".padTo(8, ' ')), 0, 8)
    out.write(utf8(data.length.toString.padTo(10, ' ')), 0, 10)
    out.write(0x60); out.write(0x0a)
    out.write(data, 0, data.length)
    if (data.length % 2 != 0) out.write(0x0a) // ar pads odd members with \n
    out.toByteArray
  }

  private[ext] def renderDeb(id: Long): Array[Byte] = {
    val controlTar = tarFile(Seq(
      ("./", Array.emptyByteArray, '5'.toByte),
      ("./control", utf8(controlText(id)), '0'.toByte)))
    val dataTar = tarFile(
      Seq((s"./usr/", Array.emptyByteArray, '5'.toByte)) ++
        (0 until nFiles(id)).map(j =>
          (s"./usr/share/doc$j.txt", utf8(fileBody(id, j)), '0'.toByte)))
    val out = new java.io.ByteArrayOutputStream()
    out.write(utf8("!<arch>\n"), 0, 8)
    val gnu = id % 2 == 1 // alternate the two real-world ar name styles
    def w(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    w(arMember("debian-binary", utf8("2.0\n"), gnu))
    w(arMember("control.tar.gz",
      Archives.gzipMember(controlTar, (id % 4).toInt, id, method = (id % 3).toInt), gnu))
    w(arMember("data.tar.gz",
      Archives.gzipMember(dataTar, ((id + 1) % 4).toInt, id, method = ((id + 1) % 3).toInt), gnu))
    out.toByteArray
  }

  /** Fixture writer: one .deb per document row (per-document DEFLATE of
    * two tars).
    */
  def encodeDeb(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "deb")(renderDeb)

  // --------------------------------------------------------------- reader

  private final class MalformedDeb
      extends RuntimeException("malformed deb", null, false, false)
  private def fail(): Nothing = throw new MalformedDeb

  private val MaxMember = 1 << 26

  /** ar walk → (name, data) members in order. */
  private[ext] def parseAr(b: Array[Byte]): Seq[(String, Array[Byte])] = {
    if (b.length < 8 || new String(b, 0, 8, "ISO-8859-1") != "!<arch>\n") fail()
    val out = Vector.newBuilder[(String, Array[Byte])]
    var p = 8
    while (p < b.length) {
      if (p + 60 > b.length) fail()
      if ((b(p + 58) & 0xff) != 0x60 || (b(p + 59) & 0xff) != 0x0a) fail()
      val rawName = new String(b, p, 16, "ISO-8859-1").trim
      val name = if (rawName.endsWith("/") && rawName.length > 1) rawName.dropRight(1) else rawName
      val sizeStr = new String(b, p + 48, 10, "ISO-8859-1").trim
      if (sizeStr.isEmpty || !sizeStr.forall(c => c >= '0' && c <= '9')) fail()
      val size = sizeStr.toLong
      if (size < 0 || size > MaxMember || p + 60 + size > b.length) fail()
      out += ((name, java.util.Arrays.copyOfRange(b, p + 60, p + 60 + size.toInt)))
      p += 60 + size.toInt
      if (size % 2 != 0) { // odd members padded with one \n
        if (p < b.length && (b(p) & 0xff) != 0x0a) fail()
        p += 1
      }
    }
    out.result()
  }

  private def parseOctal(b: Array[Byte], off: Int, width: Int): Long = {
    var i = off
    val end = off + width
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var any = false
    while (i < end && b(i) >= '0' && b(i) <= '7') { v = v * 8 + (b(i) - '0'); i += 1; any = true }
    if (!any) fail()
    v
  }

  /** Local ustar walk → (name, typeFlag, data). */
  private[ext] def parseTarMembers(b: Array[Byte]): Seq[(String, Byte, Array[Byte])] = {
    val out = Vector.newBuilder[(String, Byte, Array[Byte])]
    var p = 0
    var done = false
    while (!done) {
      if (p + 512 > b.length) fail()
      if ((0 until 512).forall(i => b(p + i) == 0)) { done = true }
      else {
        var nameEnd = 0
        while (nameEnd < 100 && b(p + nameEnd) != 0) nameEnd += 1
        val name = new String(b, p, nameEnd, java.nio.charset.StandardCharsets.UTF_8)
        if (name.isEmpty) fail()
        val size = parseOctal(b, p + 124, 12)
        if (size < 0 || size > MaxMember) fail()
        val tf = b(p + 156)
        // header checksum: bytes 148-155 read as spaces
        var sum = 0L
        for (i <- 0 until 512) sum += (if (i >= 148 && i < 156) ' '.toInt else b(p + i) & 0xff)
        if (parseOctal(b, p + 148, 8) != sum) fail()
        val dataLen = if (tf == '5') 0 else size.toInt
        if (p + 512 + dataLen > b.length) fail()
        out += ((name, tf, java.util.Arrays.copyOfRange(b, p + 512, p + 512 + dataLen)))
        p += 512 + ((dataLen + 511) / 512) * 512
      }
    }
    out.result()
  }

  /** RFC-822-style control fields with continuation folding. */
  private[ext] def parseControl(text: String): Map[String, String] = {
    var out = Map.empty[String, String]
    var lastKey: String = null
    text.split("\n", -1).foreach { line =>
      if (line.nonEmpty) {
        if (line.head == ' ' || line.head == '\t') {
          if (lastKey == null) fail()
          out += (lastKey -> (out(lastKey) + "\n" + line.drop(1)))
        } else {
          val colon = line.indexOf(':')
          if (colon <= 0) fail()
          val k = line.substring(0, colon)
          val v = line.substring(colon + 1).dropWhile(_ == ' ')
          if (out.contains(k)) fail() // duplicate field
          out += (k -> v)
          lastKey = k
        }
      }
    }
    out
  }

  final case class DebMeta(
    doc_id: Long, package_name: String, version: String, arch: String,
    installed_size: Long, depends: Option[String],
    n_files: Long, data_bytes: Long, data_checksum: Long)

  private[ext] def parseDeb(id: Long, b: Array[Byte]): DebMeta = {
    val members = parseAr(b)
    if (members.length < 3) fail()
    if (members(0)._1 != "debian-binary" ||
      new String(members(0)._2, "UTF-8") != "2.0\n") fail()
    val byName = members.map(m => m._1 -> m._2).toMap
    val controlGz = byName.getOrElse("control.tar.gz", fail())
    val dataGz = byName.getOrElse("data.tar.gz", fail())
    val controlTar =
      try Archives.gunzipMember(controlGz, 0, controlGz.length, MaxMember)._1
      catch { case scala.util.control.NonFatal(_) => fail() }
    val dataTar =
      try Archives.gunzipMember(dataGz, 0, dataGz.length, MaxMember)._1
      catch { case scala.util.control.NonFatal(_) => fail() }
    val control = parseTarMembers(controlTar)
      .find(m => m._1 == "./control" || m._1 == "control").getOrElse(fail())
    val fields = parseControl(new String(control._3, java.nio.charset.StandardCharsets.UTF_8))
    val pkg = fields.getOrElse("Package", fail())
    val ver = fields.getOrElse("Version", fail())
    val ar = fields.getOrElse("Architecture", fail())
    val isize = fields.get("Installed-Size").map { s =>
      if (s.isEmpty || !s.forall(c => c >= '0' && c <= '9')) fail()
      s.toLong
    }.getOrElse(fail())
    val files = parseTarMembers(dataTar).filter(_._2 != '5')
    var ck = 0L
    var nb = 0L
    files.foreach { case (_, _, data) =>
      data.foreach(x => ck = (ck * 31 + (x & 0xff)) % 1000000007L)
      nb += data.length
    }
    DebMeta(id, pkg, ver, ar, isize, fields.get("Depends"),
      files.length.toLong, nb, ck)
  }

  private[ext] def parseDebSafe(id: Long, b: Array[Byte]): Option[DebMeta] =
    try Some(parseDeb(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `deb_extract`: package metadata + payload inventory. Map-only. */
  def debExtract(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "deb"): Dataset[DebMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parseDebSafe(id, b) }
  }
}
