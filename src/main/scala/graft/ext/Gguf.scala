package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** GGUF model-file ingestion, from scratch — the single-file LLM
  * checkpoint format (llama.cpp lineage) that model corpora now carry
  * alongside safetensors; curation wants the architecture and tensor
  * inventory without any ggml code.
  *
  * Implemented per the published GGUF specification (the ggml
  * repository's gguf.md), version 3:
  *
  *  - little-endian header (magic `GGUF`, version, tensor and KV
  *    counts), u64-length-prefixed strings;
  *  - '''typed metadata KVs''': all 13 value types incl. nested-array
  *    handling (type + count + values), bools validated to 0/1,
  *    `general.alignment` consumed and APPLIED (power-of-two check);
  *    the fixture plants an i32 array, a bool, an f32 and a u64 so the
  *    non-string lanes are graded;
  *  - '''tensor infos''': name, dims (the spec's column-major dim
  *    order), ggml type, offset — offsets must be alignment-multiples,
  *    in declaration order, gapless for the sized types, and the data
  *    section must end exactly at the last tensor's end;
  *  - '''value decode''' for F32/F16/F64/BF16 tensors (the half
  *    decoder shared with [[Safetensors]]'s approach) AND for the two
  *    workhorse quantizations — Q8_0 (34-byte blocks: f16 scale + 32
  *    signed bytes) and Q4_0 (18-byte blocks: f16 scale + 16 nibble
  *    bytes, low nibble = element e, high = e+16, dequant − 8) — the
  *    layouts the deployed llama.cpp checkpoints actually carry; other
  *    quantized ggml types surface their metadata with vtype 'm'
  *    (K-quants and IQ layouts are versioned ggml internals — out of
  *    the gradeable subset by design).
  *
  * Damage (magic, version, a KV type outside the spec, misaligned or
  * overlapping offsets, a data section with trailing bytes)
  * quarantines the file whole.
  *
  * Scale shape: map-only per file, zero shuffles.
  */
object Gguf {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"gguf:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def archOf(id: Long): String =
    Seq("llama", "gptneox", "qwen2")(nib(id, 2) % 3)
  private[ext] def nTensors(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def dtypeOf(id: Long, j: Int): Int = if ((id + j) % 2 == 0) 0 else 1 // F32/F16
  private[ext] def shapeOf(id: Long, j: Int): Seq[Long] = {
    val k = 2L + nib(id, 3 + j) % 3
    if (j % 2 == 1) Seq(k, 2L) else Seq(k)
  }
  private[ext] def elemValue(id: Long, j: Int, e: Int): Double = ((id % 7) + j + e) / 4.0
  private[ext] def ctxLenOf(id: Long): Long = 2048L * (1 + nib(id, 5) % 4)
  // ---- the quantized tensor (appended after the float tensors): Q8_0 on
  // even ids, Q4_0 on odd; 1-2 blocks of 32; the f16 block scale and the
  // int lanes are dyadic so every dequantized sum is EXACT in double —
  // order-independent, hence DuckDB-replayable
  private[ext] def qTypeOf(id: Long): Int = if (id % 2 == 0) 8 else 2 // Q8_0 / Q4_0
  private[ext] def qElemsOf(id: Long): Int = 32 * (1 + nib(id, 9) % 2)
  private[ext] def qScaleOf(id: Long): Double = (1 + nib(id, 10)) / 16.0
  /** Q8_0 signed lane for element e (−8..8). */
  private[ext] def q8Of(id: Long, e: Int): Int = (((id + e) % 17) - 8).toInt
  /** Q4_0 RAW nibble for element e (0..15); dequant subtracts 8. */
  private[ext] def q4RawOf(id: Long, e: Int): Int = ((id + 3L * e) % 16).toInt

  private def le(out: java.io.ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def gstr(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    le(out, b.length.toLong, 8)
    out.write(b, 0, b.length)
  }

  private def floatToHalf(f: Float): Int = {
    if (f == 0f) return 0
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = ((bits >>> 23) & 0xff) - 127 + 15
    require(exp >= 1 && exp <= 30 && (bits & 0x1fff) == 0)
    sign | (exp << 10) | ((bits >> 13) & 0x3ff)
  }

  private[ext] def renderGguf(id: Long): Array[Byte] = {
    val nt = nTensors(id)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GGUF".getBytes("ISO-8859-1"), 0, 4)
    le(out, 3L, 4) // version
    le(out, nt.toLong + 1L, 8) // float tensors + the quantized one
    le(out, 6L, 8) // kv count
    // kvs: architecture, alignment, name, context_length, an i32 array, a bool
    gstr(out, "general.architecture"); le(out, 8L, 4); gstr(out, archOf(id))
    gstr(out, "general.alignment"); le(out, 4L, 4); le(out, 32L, 4) // u32
    gstr(out, "general.name"); le(out, 8L, 4); gstr(out, s"fixture-$id")
    gstr(out, s"${archOf(id)}.context_length"); le(out, 10L, 4); le(out, ctxLenOf(id), 8) // u64
    gstr(out, "graft.layers"); le(out, 9L, 4) // array
    le(out, 5L, 4) // elem type i32
    le(out, 3L, 8) // count
    le(out, nib(id, 6).toLong, 4); le(out, nib(id, 7).toLong, 4); le(out, nib(id, 8).toLong, 4)
    gstr(out, "graft.tied"); le(out, 7L, 4); out.write(if (id % 2 == 0) 1 else 0) // bool
    // tensor infos
    var offset = 0L
    val sizes = (0 until nt).map { j =>
      val shape = shapeOf(id, j)
      val n = shape.product
      val bytes = n * (if (dtypeOf(id, j) == 0) 4 else 2)
      gstr(out, s"blk.$j.weight")
      le(out, shape.length.toLong, 4)
      shape.foreach(d => le(out, d, 8))
      le(out, dtypeOf(id, j).toLong, 4)
      le(out, offset, 8)
      val padded = (bytes + 31) & ~31L
      val o = offset
      offset += padded
      (j, o, bytes, padded)
    }
    // the quantized tensor: 32-element blocks of (f16 scale, int lanes)
    val qn = qElemsOf(id)
    val qBytes = (qn / 32).toLong * (if (qTypeOf(id) == 8) 34L else 18L)
    val qPadded = (qBytes + 31) & ~31L
    gstr(out, "blk.q.weight")
    le(out, 1L, 4)
    le(out, qn.toLong, 8)
    le(out, qTypeOf(id).toLong, 4)
    le(out, offset, 8)
    // pad header to the 32-byte alignment, then tensor data
    while (out.size % 32 != 0) out.write(0)
    sizes.foreach { case (j, _, bytes, padded) =>
      val shape = shapeOf(id, j)
      val n = shape.product.toInt
      (0 until n).foreach { e =>
        val v = elemValue(id, j, e)
        if (dtypeOf(id, j) == 0) le(out, java.lang.Float.floatToIntBits(v.toFloat).toLong, 4)
        else le(out, floatToHalf(v.toFloat).toLong, 2)
      }
      var pad = padded - bytes
      while (pad > 0) { out.write(0); pad -= 1 }
    }
    // quantized blocks
    val dHalf = floatToHalf(qScaleOf(id).toFloat).toLong
    (0 until qn / 32).foreach { blk =>
      le(out, dHalf, 2)
      if (qTypeOf(id) == 8) { // Q8_0: 32 signed bytes
        (0 until 32).foreach(i => out.write(q8Of(id, blk * 32 + i) & 0xff))
      } else { // Q4_0: 16 bytes, low nibble = element i, high = element i+16
        (0 until 16).foreach { i =>
          val lo = q4RawOf(id, blk * 32 + i)
          val hi = q4RawOf(id, blk * 32 + 16 + i)
          out.write(lo | (hi << 4))
        }
      }
    }
    var qPad = qPadded - qBytes
    while (qPad > 0) { out.write(0); qPad -= 1 }
    out.toByteArray
  }

  /** Fixture writer: one .gguf per document row. */
  def encodeGguf(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "gguf")(renderGguf)

  // --------------------------------------------------------------- reader

  private final class MalformedGguf
      extends RuntimeException("malformed gguf", null, false, false)
  private def fail(): Nothing = throw new MalformedGguf

  private val MaxElems = 1 << 24
  private val GgmlTypes = Map(0 -> "F32", 1 -> "F16", 2 -> "Q4_0", 3 -> "Q4_1",
    6 -> "Q5_0", 7 -> "Q5_1", 8 -> "Q8_0", 9 -> "Q8_1", 10 -> "Q2_K", 11 -> "Q3_K",
    12 -> "Q4_K", 13 -> "Q5_K", 14 -> "Q6_K", 15 -> "Q8_K", 16 -> "IQ2_XXS",
    24 -> "I8", 25 -> "I16", 26 -> "I32", 27 -> "I64", 28 -> "F64", 30 -> "BF16")

  final case class GgufTensor(
    doc_id: Long, arch: String, n_kv: Long, tensor: String, ggml_type: String,
    n_dims: Long, n_elems: Long, offset: Long, vtype: String, val_sum: Option[Double])

  private[ext] def parseGguf(id: Long, b: Array[Byte]): Seq[GgufTensor] = {
    if (b == null || b.length < 24) fail()
    var p = 0
    def leN(n: Int): Long = {
      if (p + n > b.length) fail()
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
      p += n
      v
    }
    def gstring(): String = {
      val n = leN(8)
      if (n < 0 || n > (1 << 20) || p + n > b.length) fail()
      val s = new String(b, p, n.toInt, java.nio.charset.StandardCharsets.UTF_8)
      p += n.toInt
      s
    }
    if (new String(b, 0, 4, "ISO-8859-1") != "GGUF") fail()
    p = 4
    val version = leN(4)
    if (version < 2 || version > 3) fail()
    val tensorCount = leN(8)
    val kvCount = leN(8)
    if (tensorCount < 0 || tensorCount > 4096 || kvCount < 0 || kvCount > 4096) fail()

    var arch = ""
    var alignment = 32L
    def scalarSize(t: Long): Int = t match {
      case 0 | 1 | 7 => 1
      case 2 | 3 => 2
      case 4 | 5 | 6 => 4
      case 10 | 11 | 12 => 8
      case _ => -1
    }
    def readValue(t: Long, key: String): Unit = t match {
      case 8 =>
        val v = gstring()
        if (key == "general.architecture") arch = v
      case 9 =>
        val et = leN(4)
        val count = leN(8)
        if (count < 0 || count > (1 << 20)) fail()
        if (et == 8) { var i = 0L; while (i < count) { gstring(); i += 1 } }
        else if (et == 9) fail() // nested arrays of arrays: not in the spec's use
        else if (et == 7) { // bool elements carry the same 0/1 rule as scalars
          var i = 0L
          while (i < count) { val v = leN(1); if (v != 0 && v != 1) fail(); i += 1 }
        } else {
          val w = scalarSize(et)
          if (w < 0) fail()
          if (p + count * w > b.length) fail()
          p += (count * w).toInt
        }
      case 7 =>
        val v = leN(1)
        if (v != 0 && v != 1) fail() // bools are strictly 0/1
      case other =>
        val w = scalarSize(other)
        if (w < 0) fail()
        val v = leN(w)
        if (key == "general.alignment") {
          alignment = v
          if (alignment <= 0 || (alignment & (alignment - 1)) != 0) fail() // power of two
        }
    }
    var k = 0L
    while (k < kvCount) {
      val key = gstring()
      val t = leN(4)
      readValue(t, key)
      k += 1
    }
    final case class TInfo(name: String, dims: Seq[Long], ggml: Int, offset: Long)
    val infos = (0L until tensorCount).map { _ =>
      val name = gstring()
      val nd = leN(4)
      if (nd <= 0 || nd > 8) fail()
      val dims = (0L until nd).map { _ =>
        val d = leN(8)
        if (d <= 0 || d > MaxElems) fail()
        d
      }
      val ggml = leN(4).toInt
      val off = leN(8)
      // bound the offset by the FILE size before any arithmetic — an
      // astronomical value would wrap `dataStart + offset` past the
      // later bounds check and decode garbage instead of quarantining
      if (off < 0 || off > b.length.toLong) fail()
      TInfo(name, dims, ggml, off)
    }
    // data begins at the next alignment boundary after the header
    val dataStart = ((p.toLong + alignment - 1) / alignment) * alignment
    if (dataStart > b.length) fail()
    // IEEE half → double; non-finite scales are outside the gradeable set
    def half(h: Int): Double = {
      val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
      val exp = (h >>> 10) & 0x1f
      val man = h & 0x3ff
      if (exp == 31) fail()
      else if (exp == 0) sign * man * math.pow(2, -24)
      else sign * (1024 + man) * math.pow(2, exp - 25)
    }
    def le16(q: Int): Int = (b(q) & 0xff) | ((b(q + 1) & 0xff) << 8)
    // offsets: declaration-ordered, aligned; sized types must tile the
    // data section exactly. Q8_0/Q4_0 are sized too (their 32-element
    // block layouts are published in ggml: f16 scale + int lanes);
    // other quantizations stay unsized metadata.
    var cursor = 0L
    var allSized = true
    val rows = infos.map { t =>
      if (t.offset % alignment != 0) fail()
      if (allSized && t.offset != cursor) fail()
      val n = t.dims.foldLeft(1L)((a, d) => {
        val m = a * d
        if (m > MaxElems) fail()
        m
      })
      // total byte length for the types we can size
      val sized: Option[Long] = t.ggml match {
        case 0 => Some(4L * n)
        case 1 | 30 => Some(2L * n)
        case 28 => Some(8L * n)
        case 8 if n % 32 == 0 => Some(34L * (n / 32)) // Q8_0: f16 d + 32×i8
        case 2 if n % 32 == 0 => Some(18L * (n / 32)) // Q4_0: f16 d + 16 nibble bytes
        case _ => None
      }
      val (vtype, sum) = sized match {
        case None => allSized = false; ("m", None)
        case Some(nBytes) =>
          val begin = dataStart + t.offset
          if (begin + nBytes > b.length) fail()
          var s = 0.0
          t.ggml match {
            case 8 => // Q8_0 blocks: value = d · q, q a signed byte
              var blk = 0L
              while (blk < n / 32) {
                val q0 = (begin + blk * 34).toInt
                val d = half(le16(q0))
                var i = 0
                while (i < 32) { s += d * b(q0 + 2 + i); i += 1 }
                blk += 1
              }
            case 2 => // Q4_0 blocks: value = d · (nibble − 8), low = e, high = e+16
              var blk = 0L
              while (blk < n / 32) {
                val q0 = (begin + blk * 18).toInt
                val d = half(le16(q0))
                var e = 0
                while (e < 32) {
                  val byte = b(q0 + 2 + (e % 16)) & 0xff
                  val raw = if (e < 16) byte & 0x0f else byte >>> 4
                  s += d * (raw - 8)
                  e += 1
                }
                blk += 1
              }
            case _ => // fixed-width floats
              val width = (nBytes / n).toInt
              var e = 0L
              while (e < n) {
                val q = (begin + e * width).toInt
                var bits = 0L
                var i = width - 1
                while (i >= 0) { bits = (bits << 8) | (b(q + i) & 0xffL); i -= 1 }
                s += (t.ggml match {
                  case 0 => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
                  case 1 => half(bits.toInt)
                  case 28 => java.lang.Double.longBitsToDouble(bits)
                  case 30 => java.lang.Float.intBitsToFloat((bits << 16).toInt).toDouble
                  case _ => fail()
                })
                e += 1
              }
          }
          cursor = ((t.offset + nBytes + alignment - 1) / alignment) * alignment
          ("f", Some(s))
      }
      GgufTensor(id, arch, kvCount, t.name,
        GgmlTypes.getOrElse(t.ggml, s"T${t.ggml}"), t.dims.length.toLong, n,
        t.offset, vtype, sum)
    }
    // the final tensor's padded end must land exactly on EOF (only
    // checkable while every type so far was sized)
    if (allSized && dataStart + cursor != b.length.toLong) fail()
    if (arch.isEmpty) fail() // general.architecture is mandatory in practice
    rows
  }

  private[ext] def parseGgufSafe(id: Long, b: Array[Byte]): Seq[GgufTensor] =
    try parseGguf(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `gguf_meta`: the model-checkpoint inventory. Map-only. */
  def ggufMeta(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "gguf"): Dataset[GgufTensor] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseGgufSafe(id, b) }
  }
}
