package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** NumPy array-file ingestion (.npy v1/v2 + .npz), from scratch — the
  * other half of the ML-artifact shelf beside [[Safetensors]]: feature
  * dumps, embedding matrices and label arrays ship as .npy/.npz, and a
  * corpus pass needs their dtype/shape/stats without NumPy.
  *
  * Implemented per the published NPY format specification (numpy's
  * `format.py` docstring, the NEP-style spec):
  *
  *  - magic `\\x93NUMPY`, version 1.0 (u16 LE header length) and 2.0
  *    (u32 LE) both written and read; the total header must be
  *    64-byte aligned and newline-terminated, as the spec requires —
  *    both enforced;
  *  - the header is a PYTHON DICT LITERAL, not JSON: a strict local
  *    parser for the `{'descr': '<f8', 'fortran_order': False,
  *    'shape': (3, 4), }` grammar — quoted keys/values, booleans,
  *    int tuples incl. the 1-element `(5,)` and 0-d `()` forms,
  *    trailing commas, arbitrary spacing;
  *  - '''dtypes''': little-endian f8/f4/i8/i4/i2/i1/u1 and `|b1`
  *    decoded with value sums; fortran_order surfaced (sums are
  *    order-invariant, so both orders grade);
  *  - '''.npz''': the standard zip container ([[Zip]]'s reader, stored
  *    and deflated members both), one row per member array.
  *
  * Damage (magic, a header that is not the documented dict shape,
  * misaligned header, dtype/shape disagreeing with the payload size)
  * quarantines the file whole.
  *
  * Scale shape: map-only per file, zero shuffles.
  */
object Npy {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"npy:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  /** Container arm: id % 3 == 2 is an .npz of two arrays. */
  private[ext] def isNpz(id: Long): Boolean = id % 3 == 2
  private[ext] def nArrays(id: Long): Int = if (isNpz(id)) 2 else 1
  private[ext] def descrOf(id: Long, j: Int): String =
    Seq("<f8", "<f4", "<i8", "<i4")(((id + j) % 4).toInt)
  private[ext] def shapeOf(id: Long, j: Int): Seq[Int] = {
    val k = 2 + nib(id, 3 + j) % 3
    if ((id + j) % 2 == 1) Seq(2, k) else Seq(k)
  }
  private[ext] def fortranOf(id: Long, j: Int): Boolean = nib(id, 6 + j) % 2 == 1
  private[ext] def elemValue(id: Long, j: Int, e: Int): Double = {
    val q = (id % 7).toInt + j + e
    if (descrOf(id, j).contains("i")) q.toDouble else q / 4.0
  }
  /** The v2.0 header arm. */
  private[ext] def isV2(id: Long): Boolean = nib(id, 2) % 4 == 0

  private def descrSize(d: String): Int = d match {
    case "<f8" | "<i8" | "<u8" => 8
    case "<f4" | "<i4" | "<u4" => 4
    case "<i2" | "<u2" => 2
    case "<i1" | "|i1" | "|u1" | "|b1" => 1
    case _ => -1
  }

  private[ext] def renderNpy(id: Long, j: Int): Array[Byte] = {
    val descr = descrOf(id, j)
    val shape = shapeOf(id, j)
    val fortran = fortranOf(id, j)
    val shapeStr = shape.length match {
      case 1 => s"(${shape.head},)"
      case _ => s"(${shape.mkString(", ")})"
    }
    val dict = s"{'descr': '$descr', 'fortran_order': ${if (fortran) "True" else "False"}, " +
      s"'shape': $shapeStr, }"
    val v2 = isV2(id)
    val magicLen = 6 + 2 + (if (v2) 4 else 2)
    // header (dict + padding + \n) must make magicLen + headerLen % 64 == 0
    val unpadded = magicLen + dict.length + 1
    val pad = (64 - unpadded % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x93)
    out.write("NUMPY".getBytes("ISO-8859-1"), 0, 5)
    out.write(if (v2) 2 else 1)
    out.write(0)
    val hb = header.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    out.write(hb.length & 0xff)
    out.write((hb.length >> 8) & 0xff)
    if (v2) { out.write((hb.length >> 16) & 0xff); out.write((hb.length >>> 24) & 0xff) }
    out.write(hb, 0, hb.length)
    val n = shape.product
    val size = descrSize(descr)
    (0 until n).foreach { e =>
      val v = elemValue(id, j, e)
      val bits = descr match {
        case "<f8" => java.lang.Double.doubleToLongBits(v)
        case "<f4" => java.lang.Float.floatToIntBits(v.toFloat).toLong & 0xffffffffL
        case _ => v.toLong
      }
      var i = 0
      while (i < size) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.toByteArray
  }

  private[ext] def renderFile(id: Long): Array[Byte] =
    if (isNpz(id))
      Zip.buildZip((0 until nArrays(id)).map(j =>
        (s"arr_$j.npy", renderNpy(id, j), if (j % 2 == 0) 0 else 8)))
    else renderNpy(id, 0)

  /** Fixture writer: one .npy or .npz per document row. */
  def encodeNpy(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "npy")(renderFile)

  // --------------------------------------------------------------- reader

  private final class MalformedNpy
      extends RuntimeException("malformed npy", null, false, false)
  private def fail(): Nothing = throw new MalformedNpy

  private val MaxElems = 1 << 24

  /** The spec's header grammar: a dict literal with exactly the three
    * documented keys. Returns (descr, fortran, shape).
    */
  private[ext] def parseHeaderDict(s: String): (String, Boolean, Seq[Long]) = {
    var p = 0
    def ws(): Unit = while (p < s.length && s(p) == ' ') p += 1
    def expect(c: Char): Unit = { ws(); if (p >= s.length || s(p) != c) fail(); p += 1 }
    def quoted(): String = {
      ws()
      if (p >= s.length || s(p) != '\'') fail()
      p += 1
      val start = p
      while (p < s.length && s(p) != '\'') p += 1
      if (p >= s.length) fail()
      val v = s.substring(start, p)
      p += 1
      v
    }
    expect('{')
    var descr: String = null
    var fortran: Option[Boolean] = None
    var shape: Seq[Long] = null
    var more = true
    while (more) {
      ws()
      if (p < s.length && s(p) == '}') { p += 1; more = false }
      else {
        val key = quoted()
        expect(':')
        ws()
        key match {
          case "descr" => descr = quoted()
          case "fortran_order" =>
            if (s.startsWith("True", p)) { fortran = Some(true); p += 4 }
            else if (s.startsWith("False", p)) { fortran = Some(false); p += 5 }
            else fail()
          case "shape" =>
            expect('(')
            val dims = Vector.newBuilder[Long]
            ws()
            if (p < s.length && s(p) == ')') p += 1
            else {
              var inTuple = true
              while (inTuple) {
                ws()
                val start = p
                while (p < s.length && s(p) >= '0' && s(p) <= '9') p += 1
                if (p == start) fail()
                dims += s.substring(start, p).toLong
                ws()
                if (p < s.length && s(p) == ',') { p += 1; ws() }
                else if (p < s.length && s(p) == ')') { p += 1; inTuple = false }
                else fail()
                if (inTuple && p < s.length && s(p) == ')') { p += 1; inTuple = false }
              }
            }
            shape = dims.result()
          case _ => fail() // the spec names exactly three keys
        }
        ws()
        if (p < s.length && s(p) == ',') p += 1
      }
    }
    ws()
    if (p != s.length) fail()
    if (descr == null || fortran.isEmpty || shape == null) fail()
    (descr, fortran.get, shape)
  }

  final case class NpyMeta(
    doc_id: Long, member: String, version: Long, descr: String,
    fortran: Boolean, n_dims: Long, n_elems: Long, val_sum: Double)

  private[ext] def parseNpy(id: Long, member: String, b: Array[Byte]): NpyMeta = {
    if (b == null || b.length < 10) fail()
    if ((b(0) & 0xff) != 0x93 || new String(b, 1, 5, "ISO-8859-1") != "NUMPY") fail()
    val major = b(6) & 0xff
    val minor = b(7) & 0xff
    if ((major != 1 && major != 2) || minor != 0) fail()
    val (hlen, hStart) =
      if (major == 1) ((b(8) & 0xff) | ((b(9) & 0xff) << 8), 10)
      else {
        if (b.length < 12) fail()
        ((b(8) & 0xff) | ((b(9) & 0xff) << 8) | ((b(10) & 0xff) << 16) |
          ((b(11) & 0xff) << 24), 12)
      }
    if (hlen <= 0 || hStart + hlen > b.length) fail()
    if ((hStart + hlen) % 64 != 0) fail() // the spec's alignment rule
    if (b(hStart + hlen - 1) != '\n') fail() // newline-terminated
    val header = new String(b, hStart, hlen - 1, "ISO-8859-1").reverse.dropWhile(_ == ' ').reverse
    val (descr, fortran, shape) = parseHeaderDict(header)
    val size = descrSize(descr)
    if (size < 0) fail()
    val nElems = shape.foldLeft(1L)((a, d) => {
      // per-dimension bound BEFORE the multiply: a crafted 2^24 x 2^40
      // shape would otherwise wrap the Long product past the cap
      if (d < 0 || d > MaxElems) fail()
      val m = a * d
      if (m > MaxElems) fail()
      m
    })
    val dataStart = hStart + hlen
    if (dataStart + nElems * size != b.length) fail() // exact payload size
    var sum = 0.0
    var e = 0L
    while (e < nElems) {
      val p = (dataStart + e * size).toInt
      var bits = 0L
      var i = size - 1
      while (i >= 0) { bits = (bits << 8) | (b(p + i) & 0xffL); i -= 1 }
      sum += (descr match {
        case "<f8" => java.lang.Double.longBitsToDouble(bits)
        case "<f4" => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
        case "<i8" => bits.toDouble
        case "<i4" => bits.toInt.toDouble
        case "<i2" => bits.toShort.toDouble
        case "<i1" | "|i1" => bits.toByte.toDouble
        case "|u1" => (bits & 0xff).toDouble
        case "|b1" => (bits & 1).toDouble
        case _ => fail()
      })
      e += 1
    }
    NpyMeta(id, member, major.toLong, descr, fortran, shape.length.toLong, nElems, sum)
  }

  private[ext] def parseFileSafe(id: Long, b: Array[Byte]): Seq[NpyMeta] =
    try {
      if (b == null) fail()
      if (b.length >= 4 && b(0) == 'P' && b(1) == 'K') {
        val members = Zip.parseArchiveFiles(b, 1 << 26)
        if (members.isEmpty) fail()
        members.map { case (name, data, _) =>
          if (!name.endsWith(".npy")) fail()
          parseNpy(id, name, data)
        }
      } else Seq(parseNpy(id, "", b))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `npy_meta`: the array inventory (.npy and .npz). Map-only. */
  def npyMeta(docs: DataFrame, idCol: String = "doc_id",
              binCol: String = "npy"): Dataset[NpyMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseFileSafe(id, b) }
  }
}
