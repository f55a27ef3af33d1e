package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north star, SURVEY §7.6): image/audio/video
  * travel as opaque `binary` columns with a typed metadata struct; decoding
  * and feature extraction run batch-wise per partition.
  *
  * Every modality here is a real codec — no stubs. IMAGE: binary PPM (P6)
  * needs no image library — [[parsePpm]] performs an actual header parse
  * (magic, comments, whitespace, dimensions, maxval) plus raw RGB
  * extraction, [[encodePpm]] writes the format, and
  * [[ppmFeatures]]/[[resizePpm]] operate on decoded pixels. AUDIO: raw
  * s16le PCM ([[decodePcm16Frames]], [[resamplePcm16]],
  * [[resamplePcm16Filtered]]) is an actual byte-level decode (and a real
  * anti-aliasing FIR). VIDEO: RIFF/AVI needs no library either —
  * [[parseAvi]] is a genuine RIFF chunk walker (hdrl/avih header, movi
  * frame chunks, padding rules, rec groups) and [[sampleAviFrames]] emits
  * real demuxed frames; what WOULD need a codec library is decoding
  * compressed frame payloads — our containers carry uncompressed RGB24.
  * Everything replays byte-for-byte in the SQL oracle. Swapping in a
  * JNI/ONNX decoder for compressed payloads changes only the per-row
  * decode function.
  */
object Multimodal {

  /** Null-safe UTF-8 bytes of a doc's text — the shared plane/payload
    * source for every synthetic encoder here (null text encodes as empty,
    * which each writer paints as zeros).
    */
  private def utf8Bytes(textOrNull: String): Array[Byte] =
    Option(textOrNull).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8)


  /** Attach a binary payload + metadata struct to a text-bearing table
    * (bytes = UTF-8 of the text here; in production the binary comes from the
    * source parquet/blob store directly).
    */
  def attachBinary(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      col(textCol).cast("binary").as("payload"),
      struct(
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        hex(substring(col(textCol), 1, 8).cast("binary")).as("header_hex"),
        lit("application/octet-stream").as("mime")).as("meta"))

  /** A decoded binary-PPM image: dimensions, sample depth, and the raw
    * interleaved RGB plane (3 bytes per pixel, row-major).
    */
  final case class PpmImage(width: Int, height: Int, maxval: Int, pixels: Array[Byte])

  /** ======== REAL codec: PPM (P6) parse ========
    * An actual format decode, the image analog of [[decodePcm16Frames]]:
    * binary PPM is the uncompressed interchange format every image
    * toolchain reads and writes without a library, so the full codec —
    * magic check, `#` comments, arbitrary header whitespace, decimal
    * dimension/maxval parse, the single post-maxval whitespace byte, raw
    * RGB extraction — fits in plain JVM code.
    *
    * Returns None for malformed payloads (wrong magic, missing/overflowing
    * header fields, maxval outside [1, 255] — 2-byte-sample images are out
    * of scope — or a pixel plane shorter than 3*w*h): the metric_parse
    * malformed-drop convention. The 3L*w*h length check runs in Long, so a
    * hostile header claiming a multi-GB image fails cleanly instead of
    * allocating.
    */
  private[ext] def parsePpm(bytes: Array[Byte]): Option[PpmImage] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == 0x0c
    def skipWsAndComments(): Unit = {
      var done = false
      while (!done && i < bytes.length) {
        if (isWs(bytes(i))) i += 1
        else if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else done = true
      }
    }
    def parseNat(): Long = { // -1 = malformed; values capped at 2^31
      skipWsAndComments()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        if (v <= Int.MaxValue) v = v * 10 + (bytes(i) - '0')
        i += 1
      }
      if (i == start || v > Int.MaxValue) -1L else v
    }
    val w = parseNat()
    val h = parseNat()
    val maxval = parseNat()
    if (w < 1 || h < 1 || maxval < 1 || maxval > 255) return None
    // exactly ONE whitespace byte separates the header from the pixel plane
    if (i >= bytes.length || !isWs(bytes(i))) return None
    i += 1
    val need = 3L * w * h
    if (bytes.length - i < need) return None
    Some(PpmImage(w.toInt, h.toInt, maxval.toInt,
      java.util.Arrays.copyOfRange(bytes, i, i + need.toInt)))
  }

  /** ======== REAL codec: PPM (P6) encode ========
    * Attach a genuine binary-PPM payload to a text-bearing table: per doc,
    * a deterministic w x h canvas (w = 8 + id % 8, h = 8 + (id/8) % 8 —
    * floor semantics, matching SQL `//`/`%` on non-negative ids) whose RGB
    * plane is the doc's UTF-8 bytes cycled to fill 3*w*h (an empty or null
    * text paints black). In production the payload column comes from a blob
    * store; this writer exists so the decode path has real images to parse
    * end to end, fixture-deterministically, with a SQL-replayable byte
    * model. Null and negative ids are excluded: the canvas derivation uses
    * floorMod/floorDiv while the SQL oracles replay it with truncating
    * `%`/`//` — the two agree only on non-negative ids, so the filter
    * ENFORCES the domain the equivalence needs instead of assuming it.
    */
  def encodePpm(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val w = 8 + java.lang.Math.floorMod(id, 8L).toInt
        val h = 8 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 8L), 8L).toInt
        val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val plane = 3 * w * h
        val out = new Array[Byte](header.length + plane)
        System.arraycopy(header, 0, out, 0, header.length)
        if (data.length > 0) {
          var k = 0
          while (k < plane) { out(header.length + k) = data(k % data.length); k += 1 }
        }
        (id, out, w, h)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/x-portable-pixmap").as("mime")).as("meta"))
  }

  final case class PpmFeatures(
      doc_id: Long, width: Int, height: Int, maxval: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Partition-batched REAL image decode + per-channel statistics: parse
    * each payload as binary PPM ([[parsePpm]]) and reduce the pixel plane
    * to exact per-channel sums plus means — the brightness/color-cast
    * numbers an image-curation filter thresholds on. Malformed payloads
    * are dropped (the decode's analog of malformed-JSON drop); sums are
    * exact integers and each mean is one IEEE division of exact operands,
    * so the whole operator is engine-portable bitwise.
    */
  def ppmFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[PpmFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder setup would go here (expensive init amortized)
        it.flatMap { case (id, bytesOrNull) =>
          parsePpm(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var p = 0
            while (p < img.pixels.length) {
              r += img.pixels(p) & 0xff
              g += img.pixels(p + 1) & 0xff
              b += img.pixels(p + 2) & 0xff
              p += 3
            }
            val n = img.width.toLong * img.height
            PpmFeatures(id, img.width, img.height, img.maxval, n, r, g, b,
              r.toDouble / n, g.toDouble / n, b.toDouble / n)
          }
        }
      }
  }

  final case class PpmResized(
      doc_id: Long, src_w: Int, src_h: Int, out_w: Int, out_h: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** REAL image resize on decoded pixels: nearest-neighbor resample of the
    * parsed PPM grid to `targetW` x `targetH` — source pixel (tx*W/tw,
    * ty*H/th), floor division, the integer-exact choice that a SQL oracle
    * can replay byte for byte (bilinear's fractional weights cannot be
    * compared bitwise across engines). Output per image: exact per-channel
    * sums of the resized plane plus a base-31 rolling checksum over its
    * bytes in RGB scan order (the [[graft.ext.TextAnalysis.fingerprints]]
    * modulus), which pins every byte position, not just totals. Malformed
    * payloads are dropped, like [[ppmFeatures]].
    */
  /** Nearest-neighbor resample of a parsed image's RGB plane to tw x th:
    * source pixel (tx*W/tw, ty*H/th), floor division — the integer-exact
    * choice a SQL oracle can replay byte for byte. Shared by the stats
    * view ([[resizePpm]]) and the thumbnail emitter ([[resizePpmImage]]),
    * so the two cannot disagree on an index.
    */
  private def resizePlane(img: PpmImage, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](3 * tw * th)
    var o = 0
    var ty = 0
    while (ty < th) {
      val sy = ty * img.height / th
      var tx = 0
      while (tx < tw) {
        val base = 3 * (sy * img.width + tx * img.width / tw)
        out(o) = img.pixels(base)
        out(o + 1) = img.pixels(base + 1)
        out(o + 2) = img.pixels(base + 2)
        o += 3
        tx += 1
      }
      ty += 1
    }
    out
  }

  def resizePpm(
      withBinary: DataFrame,
      targetW: Int,
      targetH: Int,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[PpmResized] = {
    require(targetW >= 1 && targetH >= 1)
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parsePpm(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            val plane = resizePlane(img, targetW, targetH)
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < plane.length) {
              val v = plane(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            PpmResized(id, img.width, img.height, targetW, targetH, r, g, b, checksum)
          }
        }
      }
  }

  /** REAL image resize emitting a REAL image: parse the PPM, resample the
    * pixel grid ([[resizePlane]] — the same indexing [[resizePpm]] audits),
    * and re-encode as canonical P6 — the thumbnail-production step a
    * vision-encoder prep pipeline runs, completing the image path's
    * decode -> transform -> re-encode round trip (the audio path's
    * resample already has this shape). Output: (id, payload, meta);
    * malformed inputs drop; map-only.
    */
  def resizePpmImage(
      withBinary: DataFrame,
      targetW: Int,
      targetH: Int,
      idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame = {
    require(targetW >= 1 && targetH >= 1)
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parsePpm(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            val header = s"P6\n$targetW $targetH\n255\n"
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val plane = resizePlane(img, targetW, targetH)
            val out = new Array[Byte](header.length + plane.length)
            System.arraycopy(header, 0, out, 0, header.length)
            System.arraycopy(plane, 0, out, header.length, plane.length)
            (id, out)
          }
        }
      }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          lit(targetW).as("width"), lit(targetH).as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/x-portable-pixmap").as("mime")).as("meta"))
  }

  /** 64-bit difference hash (dHash) of a decoded image: nearest-neighbor
    * resample to a 9×8 luma grid (the [[resizePlane]] floor indexing, so
    * the SQL oracle replays the exact same source pixels), integer
    * ITU-601 luma `(299·r + 587·g + 114·b) / 1000`, then one bit per
    * horizontally-adjacent comparison `g(x,y) > g(x+1,y)` — 8 bits × 8
    * rows. Rendered as 16 uppercase hex chars (row bytes in y order, bit
    * x at weight `1 << x`): a string key avoids int64 sign traps across
    * engines. Pure integer arithmetic end to end — bitwise portable.
    */
  private[ext] def dhash64(img: PpmImage): String = {
    val g = new Array[Int](9 * 8)
    var ty = 0
    while (ty < 8) {
      val sy = ty * img.height / 8
      var tx = 0
      while (tx < 9) {
        val base = 3 * (sy * img.width + tx * img.width / 9)
        g(ty * 9 + tx) = (299 * (img.pixels(base) & 0xff) +
          587 * (img.pixels(base + 1) & 0xff) +
          114 * (img.pixels(base + 2) & 0xff)) / 1000
        tx += 1
      }
      ty += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var y = 0
    while (y < 8) {
      var rowByte = 0
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x) > g(y * 9 + x + 1)) rowByte |= 1 << x
        x += 1
      }
      sb.append(f"$rowByte%02X")
      y += 1
    }
    sb.toString
  }

  /** Perceptual hash column over a binary image table: (id, dhash).
    * Malformed payloads drop (the decode convention). Map-only — the
    * image-dedup analog of [[Dedup]]'s text fingerprints: dHash is
    * invariant to absolute brightness/color (it compares adjacent luma),
    * so re-encoded, brightness-shifted, or format-converted copies of
    * one image land on the same or nearby hash.
    */
  def dhashPpm(withBinary: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parsePpm(Option(bytesOrNull).getOrElse(Array.empty)).map(img => (id, dhash64(img)))
        }
      }
      .toDF(idCol, "dhash")
  }

  /** Near-duplicate image pairs by dHash block LSH: the 64-bit hash splits
    * into four 16-bit blocks (4 hex chars); candidates share at least one
    * block; the verify computes the exact Hamming distance with two
    * 32-bit `bit_count(xor)` kernels. For `maxHamming <= 3` the LSH is
    * EXACT by pigeonhole (3 differing bits cannot touch all 4 blocks), so
    * the output equals the brute-force pair set and the oracle replays it
    * from an all-pairs scan. Above 3 it is the standard recall-bounded
    * candidate surface ([[Dedup.simhashMd5]]'s banding argument; at
    * corpus scale the block join is the admission-cappable stage).
    *
    * Scale shape: one narrow (id, dhash) relation, a 4-way block explode,
    * the (block_idx, block_value) self-join — candidates only — then a
    * distinct + the integer verify. Nothing quadratic outside a shared
    * block bucket.
    */
  def dhashPairs(hashes: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", hashCol: String = "dhash"): DataFrame = {
    val blocks = hashes
      .select(col(idCol).as("id"), col(hashCol).as("dhash"),
        posexplode(array((0 until 4).map(b =>
          substring(col(hashCol), 1 + 4 * b, 4)): _*)).as(Seq("block_idx", "block_val")))
    val cand = blocks.as("a")
      .join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      .distinct()
    def half(c: org.apache.spark.sql.Column, lo: Int) =
      conv(substring(c, lo, 8), 16, 10).cast("long")
    cand
      .withColumn("hamming",
        (bit_count(half(col("ha"), 1).bitwiseXOR(half(col("hb"), 1))) +
          bit_count(half(col("ha"), 9).bitwiseXOR(half(col("hb"), 9)))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Deterministic near-duplicate VARIANT of a PPM payload for fixtures
    * and tests: re-encode the same image with the first plane byte
    * complemented when `flip` — a one-pixel perturbation that moves the
    * dHash by at most a couple of bits (a genuine near-dup), or byte-for-
    * byte identity when not.
    */
  def ppmVariant(withBinary: DataFrame, idShift: Long, flipCol: String,
      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol), col(flipCol).cast("boolean"))
      .as[(Long, Array[Byte], Boolean)]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull, flip) =>
          parsePpm(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            val px = img.pixels.clone()
            if (flip && px.nonEmpty) px(0) = (~px(0)).toByte
            val header = s"P6\n${img.width} ${img.height}\n${img.maxval}\n"
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val out = new Array[Byte](header.length + px.length)
            System.arraycopy(header, 0, out, 0, header.length)
            System.arraycopy(px, 0, out, header.length, px.length)
            (id + idShift, out)
          }
        }
      }
      .toDF(idCol, binCol)
  }

  /** ======== REAL codec: BMP (BITMAPINFOHEADER, 24-bit) ========
    * A second real image format, and a genuinely different parse from PPM:
    * binary little-endian headers instead of ASCII, BOTTOM-UP row order
    * (positive biHeight stores the last scanline first), BGR channel order
    * instead of RGB, and each row padded to a 4-byte boundary — so a
    * decoder that ignores any of flip/swap/stride reads garbage, and the
    * oracle's byte replay catches it. Parses the uncompressed
    * BI_RGB 24-bit subset (the format every paint/screenshot tool emits);
    * anything else — bad magic, biSize < 40, other bit depths or
    * compressions, pixel data out of bounds — returns None, the
    * malformed-drop convention. Negative biHeight (top-down BMP, rare but
    * legal) is handled: rows are then already in logical order. Returns
    * the image normalized to a [[PpmImage]] — logical top-down RGB plane —
    * so every downstream pixel operator (features, resize, thumbnail)
    * works on BMP input unchanged.
    */
  private[ext] def parseBmp(bytes: Array[Byte]): Option[PpmImage] = {
    val n = bytes.length
    if (n < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    def u16(pos: Int): Int = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
    def u32(pos: Int): Long =
      (bytes(pos) & 0xffL) | ((bytes(pos + 1) & 0xffL) << 8) |
        ((bytes(pos + 2) & 0xffL) << 16) | ((bytes(pos + 3) & 0xffL) << 24)
    val dataOffset = u32(10)
    val biSize = u32(14)
    val width = u32(18).toInt // i32: top bit would make it negative below
    val rawHeight = u32(22).toInt
    if (biSize < 40L) return None
    if (u16(26) != 1 || u16(28) != 24 || u32(30) != 0L) return None // planes/BI_RGB 24bpp only
    val topDown = rawHeight < 0
    val height = if (topDown) -rawHeight else rawHeight
    if (width <= 0 || height <= 0) return None
    // dims are attacker-controlled: all products in Long before any allocate
    val stride = ((3L * width + 3L) / 4L) * 4L
    val need = stride * height
    if (width > (1 << 14) || height > (1 << 14)) return None // 16k x 16k cap
    if (dataOffset < 14L + biSize || dataOffset + need > n) return None
    val out = new Array[Byte](3 * width * height)
    var y = 0
    while (y < height) {
      val fileRow = if (topDown) y else height - 1 - y
      val rowBase = (dataOffset + fileRow * stride).toInt
      var x = 0
      while (x < width) {
        val src = rowBase + 3 * x
        val dst = 3 * (y * width + x)
        out(dst) = bytes(src + 2) // R <- file's B,G,R triple reversed
        out(dst + 1) = bytes(src + 1)
        out(dst + 2) = bytes(src)
        x += 1
      }
      y += 1
    }
    Some(PpmImage(width, height, 255, out))
  }

  /** ======== REAL codec: BMP encode ========
    * The BMP analog of [[encodePpm]], same deterministic canvas (w = 8 +
    * id % 8, h = 8 + (id/8) % 8 — w in 8..15 makes the row stride exercise
    * every padding width 0..3) and the same SQL-replayable byte model:
    * the 54-byte BITMAPFILEHEADER + BITMAPINFOHEADER, then file byte
    * 54 + k = text byte k % n for the WHOLE stride*h pixel area — pad
    * bytes carry cycled text too (BMP leaves pad content unspecified;
    * cycling through them keeps the byte model one modulus, and the
    * decoder must SKIP them to read correct pixels, which the oracle's
    * logical-order replay verifies). Null and negative ids are excluded
    * ([[encodePpm]]'s floorMod-vs-`%` rationale).
    */
  def encodeBmp(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val w = 8 + java.lang.Math.floorMod(id, 8L).toInt
        val h = 8 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 8L), 8L).toInt
        val stride = ((3 * w + 3) / 4) * 4
        val area = stride * h
        val bb = java.nio.ByteBuffer
          .allocate(54 + area)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte)
        bb.putInt(54 + area) // bfSize
        bb.putInt(0) // bfReserved
        bb.putInt(54) // bfOffBits
        bb.putInt(40) // biSize
        bb.putInt(w)
        bb.putInt(h) // positive: bottom-up
        bb.putShort(1) // biPlanes
        bb.putShort(24) // biBitCount
        bb.putInt(0) // BI_RGB
        bb.putInt(area) // biSizeImage
        bb.putInt(2835).putInt(2835) // 72 DPI
        bb.putInt(0).putInt(0) // biClrUsed/Important
        var k = 0
        while (k < area) {
          bb.put(if (data.length == 0) 0.toByte else data(k % data.length))
          k += 1
        }
        (id, bb.array(), w, h)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/bmp").as("mime")).as("meta"))
  }

  final case class BmpFeatures(
      doc_id: Long, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** BMP decode + statistics: parse each payload ([[parseBmp]]) and reduce
    * the normalized logical RGB plane to exact per-channel sums plus a
    * base-31 rolling checksum over the plane in scan order (the
    * [[resizePpm]] modulus). The checksum is what makes the bottom-up flip
    * observable: channel sums alone are row-order-invariant, but the
    * rolling hash pins every byte POSITION, so reading rows in file order
    * (or forgetting the BGR swap, or reading pad bytes as pixels) fails
    * the oracle. Malformed payloads drop; map-only, no shuffle.
    */
  def bmpFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[BmpFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parseBmp(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            BmpFeatures(id, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }

  /** Signals any structural defect found while parsing a PNG payload; the
    * decode entry point catches it and returns None (malformed-drop). A
    * control-flow exception beats threading Option through the bit-level
    * inflate loops.
    */
  private final class MalformedPng extends Exception(null, null, false, false)

  /** An inflate prefix code: over-subscribed lengths are damage; an
    * incomplete code is kept (zlib emits a one-distance-code block), and
    * decoding one of its unused paths fails.
    */
  private def inflateCode(lengths: Array[Int]): Bits.PrefixCode = {
    val code = Bits.PrefixCode(lengths)
    if (code.slack < 0) throw new MalformedPng
    code
  }

  // RFC 1951 §3.2.5: length symbols 257..285 and distance symbols 0..29
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35,
    43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
    257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  // order in which code-length-code lengths appear in a dynamic block header
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  private val FixedLitCode = Bits.PrefixCode(Array.tabulate(288) { i =>
    if (i < 144) 8 else if (i < 256) 9 else if (i < 280) 7 else 8
  })
  private val FixedDistCode = Bits.PrefixCode(Array.fill(30)(5))

  /** ======== REAL decompressor: DEFLATE (RFC 1951), from scratch ========
    * All three block types: stored (byte-aligned LEN/~LEN copy), fixed
    * Huffman, and dynamic Huffman (code-length alphabet with 16/17/18
    * repeats, then LZ77 literal/length+distance decoding with the RFC's
    * extra-bit tables and overlapping back-reference copy semantics).
    * `expectedMax` bounds the output buffer — a declared-size guard, so a
    * hostile stream can't balloon memory; exceeding it is malformed.
    */
  private[ext] def inflate(bytes: Array[Byte], from: Int, until: Int, expectedMax: Int): Array[Byte] =
    inflateWithEnd(bytes, from, until, expectedMax)._1

  /** [[inflate]] plus the input position just past the final block (byte-
    * aligned) — what a container with a trailer after the DEFLATE stream
    * (gzip CRC32/ISIZE) or with CONCATENATED members (multi-member .gz,
    * WARC) needs to find where the next structure starts.
    */
  private[ext] def inflateWithEnd(bytes: Array[Byte], from: Int, until: Int, expectedMax: Int,
      sizeHint: Int = -1): (Array[Byte], Int) = {
    // callers that know the exact output size (PNG: the scanline model)
    // pass no hint and get one exact allocation; callers that only have a
    // cap (gzip: size is in a trailer AFTER the stream) pass a small hint
    // and the buffer doubles geometrically up to the cap
    var out = new Array[Byte](if (sizeHint >= 0) math.min(math.max(sizeHint, 16), expectedMax) else expectedMax)
    var outLen = 0
    def put(b: Byte): Unit = {
      if (outLen >= out.length) {
        if (outLen >= expectedMax) throw new MalformedPng
        out = java.util.Arrays.copyOf(out, math.min(math.max(out.length * 2, 64), expectedMax))
      }
      out(outLen) = b; outLen += 1
    }
    val br = new Bits.LsbReader(bytes, from, until) { def fail(): Nothing = throw new MalformedPng }
    var fin = false
    while (!fin) {
      fin = br.read(1) == 1
      br.read(2) match {
        case 0 => // stored
          br.alignByte()
          val lenPos = br.bytePos
          br.skip(32)
          val len = (bytes(lenPos) & 0xff) | ((bytes(lenPos + 1) & 0xff) << 8)
          val nlen = (bytes(lenPos + 2) & 0xff) | ((bytes(lenPos + 3) & 0xff) << 8)
          if ((len ^ 0xffff) != nlen) throw new MalformedPng
          val dataPos = br.bytePos
          br.skip(8 * len)
          var i = 0
          while (i < len) { put(bytes(dataPos + i)); i += 1 }
        case bt if bt == 1 || bt == 2 =>
          val (lit, dist) =
            if (bt == 1) (FixedLitCode, FixedDistCode)
            else {
              val hlit = br.read(5) + 257
              val hdist = br.read(5) + 1
              val hclen = br.read(4) + 4
              val clLens = new Array[Int](19)
              var i = 0
              while (i < hclen) { clLens(ClOrder(i)) = br.read(3); i += 1 }
              val clCode = inflateCode(clLens)
              val lens = new Array[Int](hlit + hdist)
              var n = 0
              while (n < hlit + hdist) {
                clCode.decode(br) match {
                  case 16 =>
                    if (n == 0) throw new MalformedPng
                    val rep = 3 + br.read(2)
                    val prev = lens(n - 1)
                    var r = 0
                    while (r < rep) {
                      if (n >= lens.length) throw new MalformedPng
                      lens(n) = prev; n += 1; r += 1
                    }
                  case 17 => n += 3 + br.read(3)
                  case 18 => n += 11 + br.read(7)
                  case s => lens(n) = s; n += 1
                }
              }
              if (n > lens.length || lens(256) == 0) throw new MalformedPng
              (inflateCode(lens.take(hlit)), inflateCode(lens.drop(hlit)))
            }
          var eob = false
          while (!eob) {
            val sym = lit.decode(br)
            if (sym < 256) put(sym.toByte)
            else if (sym == 256) eob = true
            else {
              if (sym > 285) throw new MalformedPng
              val li = sym - 257
              val len = LenBase(li) + br.read(LenExtra(li))
              val ds = dist.decode(br)
              if (ds > 29) throw new MalformedPng
              val d = DistBase(ds) + br.read(DistExtra(ds))
              if (d > outLen) throw new MalformedPng // reference before stream start
              var i = 0
              while (i < len) { put(out(outLen - d)); i += 1 } // overlap-safe: byte-at-a-time
            }
          }
        case _ => throw new MalformedPng
      }
    }
    br.alignByte() // a trailer after the final block starts on a byte boundary
    (java.util.Arrays.copyOf(out, outLen), br.bytePos)
  }

  /** zlib wrapper (RFC 1950) around [[inflate]]: validate CMF/FLG (deflate
    * method, header check mod 31, no preset dictionary), inflate, then
    * verify the trailing big-endian Adler-32 against the decompressed
    * bytes — a real decoder's integrity check, not an option.
    */
  private[ext] def zlibInflate(bytes: Array[Byte], from: Int, until: Int, expectedMax: Int,
      sizeHint: Int = -1): Array[Byte] = {
    if (until - from < 6) throw new MalformedPng
    val cmf = bytes(from) & 0xff
    val flg = bytes(from + 1) & 0xff
    if ((cmf & 0x0f) != 8 || (cmf * 256 + flg) % 31 != 0 || (flg & 0x20) != 0)
      throw new MalformedPng
    // sizeHint < 0 keeps the one-exact-allocation contract (PNG knows the
    // decoded size); callers that only hold a CAP must hint, or every
    // record pays an expectedMax-sized zeroed allocation up front
    val data = inflateWithEnd(bytes, from + 2, until - 4, expectedMax, sizeHint)._1
    val stored = ((bytes(until - 4) & 0xff) << 24) | ((bytes(until - 3) & 0xff) << 16) |
      ((bytes(until - 2) & 0xff) << 8) | (bytes(until - 1) & 0xff)
    if (stored != Bits.adler32(data, 0, data.length)) throw new MalformedPng
    data
  }

  /* ======== REAL compressor: DEFLATE (RFC 1951), from scratch ========
    * The inverse of [[inflate]] — an actual LZ77 compressor, not the
    * stored-block framing the image writers use for SQL-replayability.
    * The matcher ([[lz77Tokens]]) is shared by both emitters: hash-chain
    * search (3-byte hash heads + prev chains over the 32 KiB window,
    * chain depth capped), greedy length/distance pairs (3..258 /
    * 1..32768). [[deflateFixed]] packs the token stream with the FIXED
    * Huffman code (BTYPE=01); [[deflateDynamic]] builds per-input
    * Huffman trees (BTYPE=10) — depth-limited tree construction,
    * canonical code assignment, and the RLE 16/17/18 code-length-code
    * header, the full §3.2.7 machinery. Both write through
    * [[Bits.LsbWriter]]: extra bits LSB-first, Huffman codes MSB-first
    * (`putCode`), one final block, byte-aligned flush. Output
    * decodes through [[inflate]] AND through
    * `java.util.zip.Inflater(nowrap)` — the cross-decoder differential
    * in ArchivesSpec is what makes the streams real rather than
    * self-consistent.
    */

  /** LZ77 token stream: literals as 0..255, matches packed as
    * `0x40000000 | (len << 16) | dist` (len 3..258 in bits 16..24, dist
    * 1..32768 in bits 0..15), terminated implicitly by the caller's EOB.
    */
  private def lz77Tokens(data: Array[Byte]): Array[Int] = {
    val n = data.length
    val toks = new Array[Int](math.max(n, 1))
    var nt = 0
    if (n >= 3) {
      val HashBits = 15
      val head = Array.fill(1 << HashBits)(-1)
      val prev = new Array[Int](n)
      def hashAt(i: Int): Int =
        (((data(i) & 0xff) << 10) ^ ((data(i + 1) & 0xff) << 5) ^ (data(i + 2) & 0xff)) & ((1 << HashBits) - 1)
      def insert(i: Int): Unit = { val h = hashAt(i); prev(i) = head(h); head(h) = i }
      var i = 0
      while (i < n) {
        var bestLen = 0
        var bestDist = 0
        if (i + 2 < n) {
          var cand = head(hashAt(i))
          var chain = 64
          val maxLen = math.min(258, n - i)
          while (cand >= 0 && chain > 0 && i - cand <= 32768) {
            var l = 0
            while (l < maxLen && data(cand + l) == data(i + l)) l += 1
            if (l > bestLen) { bestLen = l; bestDist = i - cand }
            cand = prev(cand)
            chain -= 1
          }
        }
        if (bestLen >= 3) {
          toks(nt) = 0x40000000 | (bestLen << 16) | bestDist; nt += 1
          val stop = i + bestLen
          while (i < stop) { if (i + 2 < n) insert(i); i += 1 }
        } else {
          toks(nt) = data(i) & 0xff; nt += 1
          if (i + 2 < n) insert(i)
          i += 1
        }
      }
    } else {
      var i = 0
      while (i < n) { toks(nt) = data(i) & 0xff; nt += 1; i += 1 }
    }
    java.util.Arrays.copyOf(toks, nt)
  }

  // length symbol for len 3..258: scan LenBase (29 entries — linear is fine)
  private def lengthSymbol(len: Int): Int = {
    var s = 28
    while (LenBase(s) > len) s -= 1
    s
  }
  private def distanceSymbol(d: Int): Int = {
    var s = 29
    while (DistBase(s) > d) s -= 1
    s
  }

  private[ext] def deflateFixed(data: Array[Byte]): Array[Byte] = {
    val bw = new Bits.LsbWriter(data.length / 2 + 64)
    def litCode(sym: Int): Unit =
      if (sym < 144) bw.putCode(0x30 + sym, 8)
      else if (sym < 256) bw.putCode(0x190 + (sym - 144), 9)
      else if (sym < 280) bw.putCode(sym - 256, 7)
      else bw.putCode(0xc0 + (sym - 280), 8)
    bw.put(1, 1) // BFINAL
    bw.put(1, 2) // BTYPE = fixed Huffman
    lz77Tokens(data).foreach { t =>
      if (t < 0x40000000) litCode(t)
      else {
        val len = (t >> 16) & 0x1ff
        val d = t & 0xffff
        val ls = lengthSymbol(len)
        litCode(257 + ls); bw.put(len - LenBase(ls), LenExtra(ls))
        val ds = distanceSymbol(d)
        bw.putCode(ds, 5); bw.put(d - DistBase(ds), DistExtra(ds))
      }
    }
    litCode(256) // end of block
    bw.toArray
  }

  /** Depth-limited Huffman code lengths for a frequency table: the
    * leaf depths of [[Bits.huffmanDepths]] over the used symbols, and
    * while the deepest leaf exceeds `maxLen` the weights are halved
    * (floor at 1) and the tree rebuilt, which provably converges to
    * uniform weights whose depth is ceil(log2 n) <= 9 for n <= 286. A
    * lone used symbol gets length 1 (DEFLATE requires a decodable tree).
    * zstd's literal encoder ([[Zstd]]'s `HufEncoder`) shares it at
    * `maxLen` 11.
    */
  private[ext] def huffmanLengths(freq: Array[Int], maxLen: Int): Array[Int] = {
    val lens = new Array[Int](freq.length)
    val used = freq.indices.filter(freq(_) > 0)
    if (used.isEmpty) return lens
    var w = used.map(freq(_).toLong).toArray
    var depths = Bits.huffmanDepths(w)
    while (depths.max > maxLen) {
      w = w.map(x => math.max(1L, x >> 1))
      depths = Bits.huffmanDepths(w)
    }
    var k = 0
    while (k < used.size) { lens(used(k)) = depths(k); k += 1 }
    lens
  }

  /** DEFLATE with per-input DYNAMIC Huffman trees (BTYPE=10): token
    * histograms -> depth-limited literal/length and distance trees ->
    * canonical codes -> the §3.2.7 header (HLIT/HDIST/HCLEN, the
    * code-length code in ClOrder, and the tree lengths themselves
    * RLE-compressed with symbols 16/17/18) -> the token stream under the
    * new codes. One final block; this is the layout every real gzip/zlib
    * stream uses for text.
    */
  private[ext] def deflateDynamic(data: Array[Byte]): Array[Byte] = {
    val toks = lz77Tokens(data)
    // ---- histograms (EOB counts once; unused distance tree handled below)
    val litFreq = new Array[Int](286)
    val distFreq = new Array[Int](30)
    litFreq(256) = 1
    toks.foreach { t =>
      if (t < 0x40000000) litFreq(t) += 1
      else {
        litFreq(257 + lengthSymbol((t >> 16) & 0x1ff)) += 1
        distFreq(distanceSymbol(t & 0xffff)) += 1
      }
    }
    val litLens = huffmanLengths(litFreq, 15)
    val distLens = huffmanLengths(distFreq, 15)
    // a block with no matches still must declare a decodable distance tree
    if (distLens.forall(_ == 0)) distLens(0) = 1
    val litCodes = Bits.PrefixCode(litLens).codes
    val distCodes = Bits.PrefixCode(distLens).codes
    val hlit = math.max(257, 286 - litLens.reverse.takeWhile(_ == 0).length)
    val hdist = math.max(1, 30 - distLens.reverse.takeWhile(_ == 0).length)
    // ---- RLE the combined length array with 16 (repeat 3-6) / 17 (zeros
    // 3-10) / 18 (zeros 11-138); build the 7-bit-limited CL tree over it
    val combined = new Array[Int](hlit + hdist)
    var i = 0
    while (i < hlit) { combined(i) = litLens(i); i += 1 }
    while (i < hlit + hdist) { combined(i) = distLens(i - hlit); i += 1 }
    val clSyms = new scala.collection.mutable.ArrayBuffer[(Int, Int)] // (symbol, extraValue)
    i = 0
    while (i < combined.length) {
      val v = combined(i)
      var run = 1
      while (i + run < combined.length && combined(i + run) == v) run += 1
      if (v == 0) {
        var left = run
        while (left >= 11) { val take = math.min(138, left); clSyms += ((18, take - 11)); left -= take }
        if (left >= 3) { clSyms += ((17, left - 3)); left = 0 }
        while (left > 0) { clSyms += ((0, 0)); left -= 1 }
      } else {
        clSyms += ((v, 0))
        var left = run - 1
        while (left >= 3) { val take = math.min(6, left); clSyms += ((16, take - 3)); left -= take }
        while (left > 0) { clSyms += ((v, 0)); left -= 1 }
      }
      i += run
    }
    val clFreq = new Array[Int](19)
    clSyms.foreach { case (s, _) => clFreq(s) += 1 }
    val clLens = huffmanLengths(clFreq, 7)
    val clCodes = Bits.PrefixCode(clLens).codes
    var hclen = 19
    while (hclen > 4 && clLens(ClOrder(hclen - 1)) == 0) hclen -= 1
    // ---- emit
    val bw = new Bits.LsbWriter(data.length / 2 + 64)
    bw.put(1, 1) // BFINAL
    bw.put(2, 2) // BTYPE = dynamic
    bw.put(hlit - 257, 5)
    bw.put(hdist - 1, 5)
    bw.put(hclen - 4, 4)
    i = 0
    while (i < hclen) { bw.put(clLens(ClOrder(i)), 3); i += 1 }
    clSyms.foreach { case (s, extra) =>
      bw.putCode(clCodes(s), clLens(s))
      if (s == 16) bw.put(extra, 2)
      else if (s == 17) bw.put(extra, 3)
      else if (s == 18) bw.put(extra, 7)
    }
    toks.foreach { t =>
      if (t < 0x40000000) bw.putCode(litCodes(t), litLens(t))
      else {
        val len = (t >> 16) & 0x1ff
        val d = t & 0xffff
        val ls = lengthSymbol(len)
        bw.putCode(litCodes(257 + ls), litLens(257 + ls)); bw.put(len - LenBase(ls), LenExtra(ls))
        val ds = distanceSymbol(d)
        bw.putCode(distCodes(ds), distLens(ds)); bw.put(d - DistBase(ds), DistExtra(ds))
      }
    }
    bw.putCode(litCodes(256), litLens(256)) // end of block
    bw.toArray
  }

  private val PngSignature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Adam7 pass grid (xStart, yStart, xStep, yStep) per RFC 2083 §2.6;
    * a single full-frame "pass" expresses the non-interlaced layout
    * through the same decode path. */
  private val PngAdam7: Array[(Int, Int, Int, Int)] =
    Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** ======== REAL codec: PNG parse (chunks + zlib + unfilter) ========
    * The first COMPRESSED real-world format in the ladder: signature, a
    * big-endian chunk walk that verifies each chunk's CRC-32,
    * concatenation of ALL IDAT chunks into one zlib stream (a real
    * decoder must — writers may split IDAT anywhere), a from-scratch
    * DEFLATE inflate with Adler-32 verification, and the five PNG
    * scanline unfilters (None/Sub/Up/Average/Paeth, RFC 2083 §6) applied
    * per row at the color type's pixel stride. Accepts the full
    * real-world profile matrix of §11.2.2: grayscale (0) at depths
    * 1/2/4/8/16, truecolor (2) at 8/16, palette (3, via PLTE lookup) at
    * 1/2/4/8, gray+alpha (4) and RGBA (6) at 8/16 — sub-byte samples are
    * MSB-first bit-packed and gray values scale up by 255/(2^d−1);
    * 16-bit samples reduce to their big-endian high byte (the standard
    * 8-bit significance reduction) — each in both progressive orders:
    * sequential and Adam7 interlaced (seven independently-filtered
    * sub-images scattered back onto the pixel grid). Alpha is dropped,
    * not composited: curation statistics read the stored channel values.
    * Normalizes to the shared [[PpmImage]] logical RGB plane. Anything
    * structurally off — bad magic, CRC or Adler mismatch, a depth the
    * color type doesn't permit, missing or short PLTE, truncated,
    * over-declared dimensions, bad filter byte, pixel data not matching
    * the declared pass layout — returns None.
    */
  private[ext] def parsePng(bytes: Array[Byte]): Option[PpmImage] =
    try {
      val n = bytes.length
      if (n < 8) return None
      var i = 0
      while (i < 8) { if (bytes(i) != PngSignature(i)) return None; i += 1 }
      def u32(pos: Int): Long =
        ((bytes(pos) & 0xffL) << 24) | ((bytes(pos + 1) & 0xffL) << 16) |
          ((bytes(pos + 2) & 0xffL) << 8) | (bytes(pos + 3) & 0xffL)
      var w = -1; var h = -1
      var colorType = -1; var depth = 8; var interlace = 0
      var palette: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var p = 8L
      var sawEnd = false
      while (!sawEnd) {
        if (p + 12 > n) throw new MalformedPng
        val len = u32(p.toInt)
        if (len > Int.MaxValue - 12 || p + 12 + len > n) throw new MalformedPng
        val typePos = p.toInt + 4
        val dataPos = typePos + 4
        if (Bits.crc32(bytes, typePos, dataPos + len.toInt) != u32(dataPos + len.toInt).toInt)
          throw new MalformedPng
        val ctype = new String(bytes, typePos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        ctype match {
          case "IHDR" =>
            if (len != 13 || w != -1) throw new MalformedPng
            val dw = u32(dataPos); val dh = u32(dataPos + 4)
            depth = bytes(dataPos + 8) & 0xff
            colorType = bytes(dataPos + 9) & 0xff
            interlace = bytes(dataPos + 12) & 0xff
            // compression 0, filter method 0; color types 0/2/3/4/6 at
            // the depths §11.2.2 permits each; sequential or Adam7
            val depthOk = colorType match {
              case 0 => depth == 1 || depth == 2 || depth == 4 || depth == 8 || depth == 16
              case 2 | 4 | 6 => depth == 8 || depth == 16
              case 3 => depth == 1 || depth == 2 || depth == 4 || depth == 8
              case _ => false
            }
            if (dw < 1 || dh < 1 || dw * dh > (1L << 22) || !depthOk ||
              bytes(dataPos + 10) != 0 || bytes(dataPos + 11) != 0 ||
              interlace > 1) throw new MalformedPng
            w = dw.toInt; h = dh.toInt
          case "PLTE" =>
            if (w == -1 || len == 0 || len % 3 != 0 || len > 768 || palette != null)
              throw new MalformedPng
            palette = java.util.Arrays.copyOfRange(bytes, dataPos, dataPos + len.toInt)
          case "IDAT" =>
            if (w == -1) throw new MalformedPng
            idat.write(bytes, dataPos, len.toInt)
          case "IEND" =>
            if (len != 0) throw new MalformedPng
            sawEnd = true
          case _ => () // ancillary chunks (tEXt, pHYs, tRNS, ...) are skipped
        }
        p += 12 + len
      }
      if (w == -1 || (colorType == 3 && palette == null)) throw new MalformedPng
      val channels = colorType match {
        case 0 | 3 => 1; case 4 => 2; case 2 => 3; case 6 => 4
      }
      val bitsPP = depth * channels
      // filter stride: bytes per complete pixel, rounded up to one (§9.2)
      val fstride = math.max(1, bitsPP / 8)
      def rowBytesOf(pw: Int): Int = (pw * bitsPP + 7) / 8
      val passes = if (interlace == 0) Array((0, 0, 1, 1)) else PngAdam7
      def passDims(pass: (Int, Int, Int, Int)): (Int, Int) = {
        val (xs, ys, xStep, yStep) = pass
        (if (w > xs) (w - xs + xStep - 1) / xStep else 0,
          if (h > ys) (h - ys + yStep - 1) / yStep else 0)
      }
      // empty passes contribute no scanlines at all (RFC 2083 §2.6)
      val expected = passes.map { pass =>
        val (pw, ph) = passDims(pass)
        if (pw > 0 && ph > 0) ph.toLong * (1 + rowBytesOf(pw)) else 0L
      }.sum
      val z = idat.toByteArray
      val raw = zlibInflate(z, 0, z.length, expected.toInt)
      if (raw.length != expected) throw new MalformedPng
      // unfilter (RFC 2083 §6) per pass — each pass's filtering is
      // independent, prior row all-zero at pass start — then extract each
      // pixel's channels at its bit position (MSB-first packing for
      // sub-byte depths, high byte for 16-bit: the standard 8-bit
      // significance reduction) and scatter onto the image grid
      val grayScaleUp = if (colorType == 0 && depth < 8) 255 / ((1 << depth) - 1) else 1
      val samples = new Array[Byte](channels * w * h)
      var off = 0
      for (pass <- passes) {
        val (xs, ys, xStep, yStep) = pass
        val (pw, ph) = passDims(pass)
        if (pw > 0 && ph > 0) {
          val rowBytes = rowBytesOf(pw)
          val prior = new Array[Byte](rowBytes)
          val cur = new Array[Byte](rowBytes)
          var y = 0
          while (y < ph) {
            val filter = raw(off) & 0xff
            if (filter > 4) throw new MalformedPng
            off += 1
            var x = 0
            while (x < rowBytes) {
              val c = raw(off + x) & 0xff
              val left = if (x >= fstride) cur(x - fstride) & 0xff else 0
              val up = prior(x) & 0xff
              val ul = if (x >= fstride) prior(x - fstride) & 0xff else 0
              val rec = filter match {
                case 0 => c
                case 1 => c + left
                case 2 => c + up
                case 3 => c + (left + up) / 2
                case 4 =>
                  val pp = left + up - ul
                  val pa = math.abs(pp - left); val pb = math.abs(pp - up); val pc = math.abs(pp - ul)
                  val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
                  c + pred
              }
              cur(x) = (rec & 0xff).toByte
              x += 1
            }
            off += rowBytes
            var px = 0
            while (px < pw) {
              val base = ((ys + y * yStep) * w + xs + px * xStep) * channels
              var ch = 0
              while (ch < channels) {
                val bitPos = px * bitsPP + ch * depth
                val v =
                  if (depth >= 8) cur(bitPos >> 3) & 0xff // 16-bit: big-endian high byte
                  else {
                    val b = cur(bitPos >> 3) & 0xff
                    ((b >> (8 - depth - (bitPos & 7))) & ((1 << depth) - 1)) * grayScaleUp
                  }
                samples(base + ch) = v.toByte
                ch += 1
              }
              px += 1
            }
            System.arraycopy(cur, 0, prior, 0, rowBytes)
            y += 1
          }
        }
      }
      // expand per-pixel samples to the logical RGB plane
      val pixels = new Array[Byte](3 * w * h)
      var si = 0; var pi = 0; var k = 0
      while (k < w * h) {
        (colorType: @annotation.switch) match {
          case 0 | 4 =>
            val g = samples(si)
            pixels(pi) = g; pixels(pi + 1) = g; pixels(pi + 2) = g
          case 2 | 6 =>
            pixels(pi) = samples(si); pixels(pi + 1) = samples(si + 1); pixels(pi + 2) = samples(si + 2)
          case 3 =>
            val idx = samples(si) & 0xff
            if (3 * idx + 2 >= palette.length) throw new MalformedPng
            pixels(pi) = palette(3 * idx); pixels(pi + 1) = palette(3 * idx + 1)
            pixels(pi + 2) = palette(3 * idx + 2)
        }
        si += channels; pi += 3; k += 1
      }
      Some(PpmImage(w, h, 255, pixels))
    } catch {
      case _: MalformedPng => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  /** ======== REAL codec: PNG encode ========
    * Write genuine PNG files over the SAME logical byte model as
    * [[encodePpm]] (w = 8 + id % 8, h = 8 + (id/8) % 8, plane byte k =
    * text byte k % n): each scanline is FORWARD-FILTERED with filter type
    * y % 5 — so all five filters (incl. Paeth) are live on every image
    * taller than four rows and the decoder must invert them exactly — the
    * filtered stream is wrapped in stored-block DEFLATE (byte-aligned
    * LEN/~LEN blocks: valid input to ANY inflate, written without an
    * entropy coder), the zlib header + computed Adler-32, and real chunks
    * with computed CRC-32s. Because unfilter(filter(plane)) is the
    * identity, the DECODED plane equals the PPM byte model — which is
    * what keeps the whole compressed round trip SQL-replayable. Null and
    * negative ids are excluded (floorMod vs truncating `%` agree only on
    * non-negative ids, as with the other encoders).
    */
  def encodePng(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val w = 8 + java.lang.Math.floorMod(id, 8L).toInt
        val h = 8 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 8L), 8L).toInt
        // logical plane, then per-row forward filtering
        val plane = new Array[Byte](3 * w * h)
        if (data.length > 0) {
          var k = 0
          while (k < plane.length) { plane(k) = data(k % data.length); k += 1 }
        }
        val rowBytes = 1 + 3 * w
        val raw = new Array[Byte](rowBytes * h)
        var y = 0
        while (y < h) {
          val filter = y % 5
          raw(y * rowBytes) = filter.toByte
          var x = 0
          while (x < 3 * w) {
            val cur = plane(y * 3 * w + x) & 0xff
            val left = if (x >= 3) plane(y * 3 * w + x - 3) & 0xff else 0
            val up = if (y > 0) plane((y - 1) * 3 * w + x) & 0xff else 0
            val ul = if (y > 0 && x >= 3) plane((y - 1) * 3 * w + x - 3) & 0xff else 0
            val filt = filter match {
              case 0 => cur
              case 1 => cur - left
              case 2 => cur - up
              case 3 => cur - (left + up) / 2
              case 4 =>
                val pp = left + up - ul
                val pa = math.abs(pp - left); val pb = math.abs(pp - up); val pc = math.abs(pp - ul)
                val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
                cur - pred
            }
            raw(y * rowBytes + 1 + x) = (filt & 0xff).toByte
            x += 1
          }
          y += 1
        }
        // zlib stream (FLG 0x01: 0x7801 % 31 == 0) around stored blocks
        val zOut = new java.io.ByteArrayOutputStream()
        var off = 0
        do {
          val len = math.min(65535, raw.length - off)
          val last = off + len == raw.length
          zOut.write(if (last) 1 else 0) // BFINAL + BTYPE=00 (stored)
          zOut.write(len & 0xff); zOut.write(len >> 8)
          zOut.write(~len & 0xff); zOut.write((~len >> 8) & 0xff)
          zOut.write(raw, off, len)
          off += len
        } while (off < raw.length)
        val z = Bits.zlibWrap(0x01, zOut.toByteArray, raw)
        // chunks
        val out = new java.io.ByteArrayOutputStream()
        out.write(PngSignature, 0, 8)
        def writeChunk(ctype: String, body: Array[Byte]): Unit = {
          val chunk = new Array[Byte](4 + body.length)
          System.arraycopy(ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, chunk, 0, 4)
          System.arraycopy(body, 0, chunk, 4, body.length)
          def be32(v: Int): Unit = {
            out.write(v >>> 24); out.write((v >> 16) & 0xff); out.write((v >> 8) & 0xff); out.write(v & 0xff)
          }
          be32(body.length)
          out.write(chunk, 0, chunk.length)
          be32(Bits.crc32(chunk, 0, chunk.length))
        }
        val ihdr = new Array[Byte](13)
        ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >> 16).toByte; ihdr(2) = (w >> 8).toByte; ihdr(3) = w.toByte
        ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >> 16).toByte; ihdr(6) = (h >> 8).toByte; ihdr(7) = h.toByte
        ihdr(8) = 8; ihdr(9) = 2 // 8-bit, truecolor RGB
        writeChunk("IHDR", ihdr)
        writeChunk("IDAT", z)
        writeChunk("IEND", Array.emptyByteArray)
        (id, out.toByteArray, w, h)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/png").as("mime")).as("meta"))
  }

  final case class PngFeatures(
      doc_id: Long, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** PNG decode + statistics: parse each payload through the full
    * compressed path ([[parsePng]]: chunk CRCs → zlib/Adler → inflate →
    * unfilter) and reduce the recovered logical plane to per-channel sums
    * plus the base-31 positional rolling checksum. The checksum is what
    * makes the filter inversion observable: a single mis-unfiltered byte
    * anywhere in any row shifts it. Malformed payloads drop; map-only, no
    * shuffle — at 100 TB this is pure scan-side CPU that scales linearly
    * with executors.
    */
  def pngFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[PngFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parsePng(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            PngFeatures(id, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }

  /** ======== REAL decompressor: GIF LZW, from scratch ========
    * The second entropy coder in the ladder, genuinely different from
    * DEFLATE: variable-width codes growing 9→12 bits as the dictionary
    * fills, an explicit CLEAR code that resets it, the first-code-after-
    * clear-must-be-a-literal rule, the KwKwK case (a code equal to the
    * next unassigned entry), deferred-clear streams (a full 4096-entry
    * dictionary that keeps emitting codes without adding), and LSB-first
    * packing across 255-byte-max data sub-blocks. Decodes the code stream
    * for one GIF image given its minimum code size and the concatenated
    * sub-block payload; returns exactly `expected` pixel indices or
    * throws (malformed). The dictionary is two flat arrays (prefix link +
    * suffix byte) with stack-based string reconstruction — no per-entry
    * allocation.
    */
  private[ext] def lzwDecode(data: Array[Byte], minCodeSize: Int, expected: Int): Array[Byte] = {
    if (minCodeSize < 2 || minCodeSize > 8) throw new MalformedPng
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    var outLen = 0
    val stack = new Array[Byte](4096)
    var width = minCodeSize + 1
    var next = clear + 2
    var prev = -1
    val br = new Bits.LsbReader(data, 0, data.length) { def fail(): Nothing = throw new MalformedPng }
    var done = false
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    def emit(code: Int): Unit = {
      var sp = 0
      var c = code
      while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      if (outLen + sp + 1 > expected) throw new MalformedPng
      out(outLen) = c.toByte; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
    }
    while (!done) {
      val code = br.read(width)
      if (code == clear) {
        width = minCodeSize + 1; next = clear + 2; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) throw new MalformedPng // first code after clear: literal only
        emit(code); prev = code
      } else {
        if (code > next || (code >= next && next >= 4096)) throw new MalformedPng
        if (code == next) { // KwKwK: string(prev) + first(prev)
          if (next >= 4096) throw new MalformedPng
          prefix(next) = prev; suffix(next) = firstByte(prev); next += 1
          emit(code)
        } else {
          emit(code)
          if (next < 4096) { prefix(next) = prev; suffix(next) = firstByte(code); next += 1 }
        }
        prev = code
        // widen when the NEXT assignable entry crosses the width limit
        if (next == (1 << width) && width < 12) width += 1
      }
    }
    if (outLen != expected) throw new MalformedPng
    out
  }

  /** ======== REAL codec: GIF parse (89a/87a, LZW) ========
    * A complete single-frame GIF reader: signature, logical screen
    * descriptor, global color table, extension blocks skipped by walking
    * their length-prefixed sub-block chains (a real reader must — GIF89a
    * writers emit graphic-control extensions before every frame), the
    * image descriptor with an optional LOCAL color table overriding the
    * global one, and a full [[lzwDecode]] of the pixel index stream.
    * INTERLACED frames are de-interlaced (the four-pass row order rows
    * 0,8,16…; 4,12…; 2,6…; 1,3,5… — ImageIO's own GIF writer interlaces
    * by default, so the differential spec exercises this path against
    * real streams); indices are mapped through the active palette to the
    * shared top-down RGB [[PpmImage]] plane. Anything structurally off —
    * bad magic, missing palette, index out of palette range, truncated
    * sub-blocks, LZW defects, pixel count mismatch — returns None.
    */
  private[ext] def parseGif(bytes: Array[Byte]): Option[PpmImage] =
    try {
      val n = bytes.length
      if (n < 13) return None
      val sig = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
      if (sig != "GIF89a" && sig != "GIF87a") return None
      def u16(pos: Int): Int = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
      val packed = bytes(10) & 0xff
      var p = 13
      var globalPal: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val entries = 1 << ((packed & 0x07) + 1)
        globalPal = java.util.Arrays.copyOfRange(bytes, p, p + 3 * entries)
        p += 3 * entries
      }
      // block stream: extensions (0x21) are skipped, one image (0x2C) is read
      while (true) {
        if (p >= n) throw new MalformedPng
        (bytes(p) & 0xff) match {
          case 0x21 => // extension: label byte, then sub-block chain
            p += 2
            var len = bytes(p) & 0xff
            while (len != 0) { p += 1 + len; len = bytes(p) & 0xff }
            p += 1
          case 0x2c =>
            val w = u16(p + 5); val h = u16(p + 7)
            val ipacked = bytes(p + 9) & 0xff
            val interlaced = (ipacked & 0x40) != 0
            p += 10
            var pal = globalPal
            if ((ipacked & 0x80) != 0) {
              val entries = 1 << ((ipacked & 0x07) + 1)
              pal = java.util.Arrays.copyOfRange(bytes, p, p + 3 * entries)
              p += 3 * entries
            }
            if (pal == null || w < 1 || h < 1 || w.toLong * h > (1L << 22)) throw new MalformedPng
            val minCodeSize = bytes(p) & 0xff
            p += 1
            val data = new java.io.ByteArrayOutputStream()
            var len = bytes(p) & 0xff
            while (len != 0) {
              if (p + 1 + len > n) throw new MalformedPng
              data.write(bytes, p + 1, len)
              p += 1 + len
              len = bytes(p) & 0xff
            }
            val indices = lzwDecode(data.toByteArray, minCodeSize, w * h)
            // stream row s lands on physical row rows(s): identity when
            // sequential, the four interlace passes otherwise
            val rows = new Array[Int](h)
            if (interlaced) {
              var s = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var y = start
                while (y < h) { rows(s) = y; s += 1; y += step }
              }
            } else {
              var y = 0
              while (y < h) { rows(y) = y; y += 1 }
            }
            val palEntries = pal.length / 3
            val out = new Array[Byte](3 * w * h)
            var s = 0
            while (s < h) {
              val y = rows(s)
              var x = 0
              while (x < w) {
                val idx = indices(s * w + x) & 0xff
                if (idx >= palEntries) throw new MalformedPng
                val d = 3 * (y * w + x)
                out(d) = pal(3 * idx); out(d + 1) = pal(3 * idx + 1); out(d + 2) = pal(3 * idx + 2)
                x += 1
              }
              s += 1
            }
            return Some(PpmImage(w, h, 255, out))
          case 0x3b => throw new MalformedPng // trailer before any image
          case _ => throw new MalformedPng
        }
      }
      None // unreachable
    } catch {
      case _: MalformedPng => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  /** ======== REAL codec: GIF encode ========
    * Write genuine GIF89a files over a single-channel byte model: the
    * frame is a w × h INDEXED image (same canvas derivation as the other
    * encoders) whose pixel index k = text byte k % n, under a 256-entry
    * identity GRAYSCALE global palette (entry i = (i,i,i)) — so the
    * decoded RGB plane has r = g = b = the model byte, and the oracle
    * replays it in SQL with no palette table. The LZW stream is written
    * the way "uncompressed GIF" writers do: a CLEAR code before every
    * literal keeps the dictionary empty and the code width pinned at 9
    * bits — valid input to any LZW decoder, written without implementing
    * a match searcher; [[lzwDecode]]'s dictionary-growth path is covered
    * differentially by real ImageIO-written streams in the spec. Emits a
    * graphic-control extension so the skip path is live on every payload.
    */
  def encodeGif(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val w = 8 + java.lang.Math.floorMod(id, 8L).toInt
        val h = 8 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 8L), 8L).toInt
        val out = new java.io.ByteArrayOutputStream()
        def b(v: Int): Unit = out.write(v & 0xff)
        def le16(v: Int): Unit = { b(v); b(v >> 8) }
        out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        le16(w); le16(h)
        b(0xf7) // global table present, 8 bits/pixel, 256 entries
        b(0); b(0) // background index, no aspect ratio
        var i = 0
        while (i < 256) { b(i); b(i); b(i); i += 1 } // identity grayscale palette
        b(0x21); b(0xf9); b(4); b(0); le16(0); b(0); b(0) // graphic control ext (no-op)
        b(0x2c); le16(0); le16(0); le16(w); le16(h); b(0) // image descriptor, no local table
        b(8) // LZW minimum code size
        // 9-bit codes, LSB-first: CLEAR (256) before every literal, then EOI
        val codes = new Bits.LsbWriter
        var k = 0
        while (k < w * h) {
          codes.put(256, 9)
          codes.put(if (data.length > 0) data(k % data.length) & 0xff else 0, 9)
          k += 1
        }
        codes.put(257, 9)
        val cb = codes.toArray
        var off = 0
        while (off < cb.length) { // 255-byte-max sub-blocks
          val len = math.min(255, cb.length - off)
          b(len); out.write(cb, off, len)
          off += len
        }
        b(0) // sub-block terminator
        b(0x3b) // trailer
        (id, out.toByteArray, w, h)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/gif").as("mime")).as("meta"))
  }

  final case class GifFeatures(
      doc_id: Long, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** GIF decode + statistics: parse each payload through the full LZW
    * path ([[parseGif]]) and reduce the palette-mapped RGB plane with the
    * same sums + positional rolling checksum as the other image formats.
    * Under the identity-grayscale byte model r = g = b, so an oracle
    * divergence between the channel sums is itself diagnostic of a
    * palette-mapping defect. Malformed payloads drop; map-only, no
    * shuffle.
    */
  def gifFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[GifFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parseGif(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            GifFeatures(id, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }

  private final class MalformedJpeg extends Exception(null, null, false, false)

  /** Natural-order positions of the JPEG zigzag sequence (ISO/IEC
    * 10918-1 Figure A.6), generated by the diagonal walk rather than
    * transcribed — odd anti-diagonals run top-right → bottom-left, even
    * ones the reverse, exactly the snake the figure draws.
    */
  private[ext] val JpegZigzag: Array[Int] = {
    val zz = new Array[Int](64)
    var k = 0
    var d = 0
    while (d <= 14) {
      val range = math.max(0, d - 7) to math.min(7, d)
      val rows = if (d % 2 == 1) range else range.reverse
      rows.foreach { i => zz(k) = i * 8 + (d - i); k += 1 }
      d += 1
    }
    zz
  }

  /** A JPEG entropy-coding table: canonical codes assigned from the DHT
    * BITS/HUFFVAL lists per ISO/IEC 10918-1 Annex C (generate_size_table /
    * generate_code_table), decoded with the Annex F DECODE procedure's
    * mincode/maxcode/valptr walk. maxcode stays -1 at lengths with no
    * codes so the `code > maxcode` descent skips them.
    */
  private final class JpegHuffTable(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valPtr(l) = k; minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
          if (maxCode(l) >= (1 << l)) throw new MalformedJpeg // over-full table
        }
        code <<= 1
        l += 1
      }
      if (k != vals.length) throw new MalformedJpeg
    }
    def decode(er: JpegEntropyReader): Int = {
      var code = er.bit()
      var l = 1
      while (code > maxCode(l)) {
        if (l >= 16) throw new MalformedJpeg
        code = (code << 1) | er.bit()
        l += 1
      }
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first bit reader over JPEG entropy-coded data. Handles the byte
    * stuffing rule (a data 0xFF is followed by 0x00; the 0x00 is
    * consumed and discarded) and the unstuffed legal variant where a
    * pad-bearing 0xFF is followed directly by a marker — there the 0xFF
    * is served as data and `pos` is left ON the marker so [[restart]]
    * finds it after byte-aligning.
    */
  private final class JpegEntropyReader(bytes: Array[Byte], var pos: Int, until: Int) {
    private var buf = 0
    private var cnt = 0
    def bit(): Int = {
      if (cnt == 0) {
        if (pos >= until) throw new MalformedJpeg
        val b0 = bytes(pos) & 0xff
        pos += 1
        if (b0 == 0xff) {
          if (pos < until && bytes(pos) == 0) pos += 1 // stuffed data byte
          else pos -= 1 // marker follows: b0 carries the final pad bits
        }
        buf = b0; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def receive(nbits: Int): Int = {
      var v = 0; var i = 0
      while (i < nbits) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Discard pad bits, then consume the expected RSTm (ISO F.2.1.3.1). */
    def restart(m: Int): Unit = {
      cnt = 0
      if (pos + 2 > until || (bytes(pos) & 0xff) != 0xff || (bytes(pos + 1) & 0xff) != (0xd0 + m))
        throw new MalformedJpeg
      pos += 2
    }
  }

  /** The Annex F EXTEND procedure: a category-t amplitude whose top bit
    * is 0 encodes a negative value, recovered as v - 2^t + 1. */
  private def jpegExtend(v: Int, t: Int): Int =
    if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Orthonormal 1-D DCT-III basis, basis(u)(x) = C(u)/2 · cos((2x+1)uπ/16)
    * with C(0) = 1/√2 — two separable passes of this give the 2-D IDCT of
    * Annex A.3.3 in double precision, well inside the ±1 conformance
    * envelope of any compliant integer IDCT. */
  private val JpegIdctBasis: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) * math.cos((2 * x + 1) * u * math.Pi / 16.0) / 2.0
  }

  /** Separable double-precision IDCT + level shift + clamp. `coef` is in
    * natural (row-major frequency) order; `out` receives the 8×8 spatial
    * block. `tmp` is caller-provided scratch (one row-pass plane). */
  private def jpegIdct(coef: Array[Int], tmp: Array[Double], out: Array[Byte]): Unit = {
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += JpegIdctBasis(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var vv = 0
        while (vv < 8) { s += JpegIdctBasis(vv)(y) * tmp(vv * 8 + x); vv += 1 }
        val px = Math.round(s).toInt + 128
        out(y * 8 + x) = (if (px < 0) 0 else if (px > 255) 255 else px).toByte
        x += 1
      }
      y += 1
    }
  }

  private final case class JpegComponent(id: Int, h: Int, v: Int, tq: Int)

  /** ======== REAL codec: JPEG decode, from scratch ========
    * The fifth real image format and the third entropy coder in the
    * ladder (after DEFLATE and GIF-LZW): ISO/IEC 10918-1 DCT decode in
    * BOTH the baseline-sequential (SOF0/SOF1) and PROGRESSIVE (SOF2)
    * modes — the latter is what most crawled web JPEGs actually are.
    * The marker walk handles APPn/COM skipping, multi-table DQT (8- and
    * 16-bit precision) and DHT segments, DRI, and any number of SOS
    * scans; coefficients accumulate per component over the interleaved-
    * padded block grid and dequantization + IDCT are deferred until EOI,
    * so spectral-selection bands and successive-approximation bit planes
    * compose in any spec-legal order. Scan decode covers canonical-
    * Huffman DC difference + AC run/size with ZRL and EOB, EXTEND sign
    * recovery, progressive DC/AC first passes (point transform << Al,
    * EOB-run block skipping per G.1.2.2) and refinement passes (DC bit
    * append; the G.1.2.3 correction-bit walk where nonzero-history
    * coefficients consume a bit without consuming the zero run),
    * restart-marker realignment with DC-predictor and EOB-run reset, and
    * byte-unstuffing. Grayscale maps straight to the shared [[PpmImage]]
    * RGB plane; 3-component scans are upsampled by replication against
    * Hmax/Vmax and converted with the JFIF YCbCr formulas. Structural
    * damage — lossless/arithmetic/hierarchical SOFs, over-full Huffman
    * tables, coefficient overrun, missing tables, truncation, a wrong
    * restart marker, a band or approximation header the mode forbids —
    * returns None: the malformed-drop convention. Differentially
    * verified in MultimodalSpec against javax.imageio on real DCT-coded
    * payloads in both modes (gradient/noise images exercise every AC
    * category and, progressively, the EOB-run and refinement paths),
    * pixel-exact to the JPEG conformance tolerance.
    */
  private[ext] def parseJpeg(bytes: Array[Byte]): Option[PpmImage] =
    try {
      val n = bytes.length
      if (n < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
      def u16(p: Int): Int = {
        if (p + 2 > n) throw new MalformedJpeg
        ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
      }
      val qt = Array.ofDim[Int](4, 64)
      val qtSet = new Array[Boolean](4)
      val huffs = new Array[JpegHuffTable](8) // tc * 4 + th
      var width = -1; var height = -1
      var progressive = false
      var comps: Array[JpegComponent] = null
      var restartInterval = 0
      // per-component coefficient stores over the interleaved-padded block
      // grid; any number of scans accumulate into them, dequant + IDCT
      // run once at EOI
      var mcusX = 0; var mcusY = 0; var hmax = 1; var vmax = 1
      var blocksW: Array[Int] = null; var blocksH: Array[Int] = null
      var scanBW: Array[Int] = null; var scanBH: Array[Int] = null
      var coefs: Array[Array[Int]] = null
      var scans = 0

      def decodeScan(er: JpegEntropyReader, scanComp: Array[Int], scanTd: Array[Int],
          scanTa: Array[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
        val ns = scanComp.length
        val pred = new Array[Int](ns)
        var eobrun = 0
        val dcT = Array.tabulate(ns) { i =>
          if (ss == 0 && ah == 0) {
            val t = huffs(scanTd(i)); if (t == null) throw new MalformedJpeg; t
          } else null // DC refinement reads raw bits, no table
        }
        val acT = Array.tabulate(ns) { i =>
          if (se > 0) {
            val t = huffs(4 + scanTa(i)); if (t == null) throw new MalformedJpeg; t
          } else null
        }
        def dcDiff(i: Int): Int = {
          val t = dcT(i).decode(er)
          if (t > 11) throw new MalformedJpeg
          if (t == 0) 0 else jpegExtend(er.receive(t), t)
        }
        // sequential: DC difference + AC run/size through the full band
        def blockFull(i: Int, base: Int): Unit = {
          pred(i) += dcDiff(i)
          val cf = coefs(scanComp(i))
          cf(base) = pred(i)
          var k = 1
          var done = false
          while (!done && k < 64) {
            val rs = acT(i).decode(er)
            val r = rs >> 4; val sz = rs & 0x0f
            if (sz == 0) {
              if (r == 15) k += 16 else done = true // ZRL vs EOB
            } else {
              k += r
              if (k > 63) throw new MalformedJpeg
              cf(base + JpegZigzag(k)) = jpegExtend(er.receive(sz), sz)
              k += 1
            }
          }
        }
        def dcFirst(i: Int, base: Int): Unit = {
          pred(i) += dcDiff(i)
          coefs(scanComp(i))(base) = pred(i) << al
        }
        def dcRefine(i: Int, base: Int): Unit =
          if (er.bit() == 1) coefs(scanComp(i))(base) |= (1 << al)
        // G.1.2.2: AC first pass — band values << Al, EOBn starts a run of
        // entirely-zero-band blocks (this block included)
        def acFirst(i: Int, base: Int): Unit = {
          if (eobrun > 0) { eobrun -= 1; return }
          val cf = coefs(scanComp(i))
          var k = ss
          var done = false
          while (!done && k <= se) {
            val rs = acT(i).decode(er)
            val r = rs >> 4; val sz = rs & 0x0f
            if (sz == 0) {
              if (r == 15) k += 16
              else {
                eobrun = (1 << r) - 1
                if (r > 0) eobrun += er.receive(r)
                done = true
              }
            } else {
              k += r
              if (k > se) throw new MalformedJpeg
              cf(base + JpegZigzag(k)) = jpegExtend(er.receive(sz), sz) << al
              k += 1
            }
          }
        }
        // G.1.2.3: AC refinement — each nonzero-history coefficient passed
        // consumes a correction bit WITHOUT consuming the zero run; a run
        // value r counts only zero-history slots; EOBn switches the rest
        // of this block (and the next eobrun blocks) to corrections only
        def acRefine(i: Int, base: Int): Unit = {
          val cf = coefs(scanComp(i))
          val p1 = 1 << al; val m1 = -1 << al
          def correct(z: Int): Unit =
            if (er.bit() == 1 && (cf(z) & p1) == 0)
              cf(z) += (if (cf(z) >= 0) p1 else m1)
          var k = ss
          if (eobrun > 0) {
            while (k <= se) { val z = base + JpegZigzag(k); if (cf(z) != 0) correct(z); k += 1 }
            eobrun -= 1
            return
          }
          var inEob = false
          while (!inEob && k <= se) {
            val rs = acT(i).decode(er)
            var r = rs >> 4; val sz = rs & 0x0f
            var newval = 0
            if (sz != 0) {
              if (sz != 1) throw new MalformedJpeg // refinement codes only ±1
              newval = if (er.bit() == 1) p1 else m1
            } else if (r < 15) {
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += er.receive(r)
              inEob = true
            }
            if (!inEob) {
              var placed = false
              while (k <= se && !placed) {
                val z = base + JpegZigzag(k)
                if (cf(z) != 0) correct(z)
                else if (r == 0) { if (newval != 0) cf(z) = newval; placed = true }
                else r -= 1
                k += 1
              }
              if (!placed && newval != 0) throw new MalformedJpeg // band overrun
            }
          }
          while (k <= se) { val z = base + JpegZigzag(k); if (cf(z) != 0) correct(z); k += 1 }
        }
        def decodeBlock(i: Int, base: Int): Unit =
          if (!progressive) blockFull(i, base)
          else if (ss == 0) { if (ah == 0) dcFirst(i, base) else dcRefine(i, base) }
          else { if (ah == 0) acFirst(i, base) else acRefine(i, base) }
        var rst = 0
        def restart(): Unit = {
          er.restart(rst); rst = (rst + 1) % 8
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
        if (ns == 1) {
          // A.2.2: single-component scans are non-interleaved — one block
          // per MCU over the component's own ceiling grid, indexed into
          // the padded store by row stride
          val ci = scanComp(0)
          val bw = scanBW(ci); val stride = blocksW(ci)
          val total = bw * scanBH(ci)
          var mcu = 0
          while (mcu < total) {
            if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) restart()
            decodeBlock(0, ((mcu / bw) * stride + (mcu % bw)) * 64)
            mcu += 1
          }
        } else {
          val total = mcusX * mcusY
          var mcu = 0
          while (mcu < total) {
            if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) restart()
            val mx = mcu % mcusX; val my = mcu / mcusX
            var i = 0
            while (i < ns) {
              val ci = scanComp(i)
              val comp = comps(ci)
              var bi = 0
              while (bi < comp.v) {
                var bj = 0
                while (bj < comp.h) {
                  decodeBlock(i, ((my * comp.v + bi) * blocksW(ci) + mx * comp.h + bj) * 64)
                  bj += 1
                }
                bi += 1
              }
              i += 1
            }
            mcu += 1
          }
        }
      }

      var p = 2
      var sawEoi = false
      while (!sawEoi) {
        if (p >= n || (bytes(p) & 0xff) != 0xff) throw new MalformedJpeg
        var q = p + 1 // optional 0xFF fill bytes precede the marker code
        while (q < n && (bytes(q) & 0xff) == 0xff) q += 1
        if (q >= n) throw new MalformedJpeg
        val m = bytes(q) & 0xff
        p = q + 1
        m match {
          case 0x01 => () // TEM: standalone
          case mm if mm >= 0xd0 && mm <= 0xd7 => () // stray RST: standalone
          case 0xd8 => throw new MalformedJpeg // SOI again
          case 0xd9 => sawEoi = true
          case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 sequential DCT, SOF2 progressive
            progressive = m == 0xc2
            val len = u16(p)
            if (comps != null || len < 11 || (bytes(p + 2) & 0xff) != 8) throw new MalformedJpeg
            height = u16(p + 3); width = u16(p + 5)
            val nc = bytes(p + 7) & 0xff
            if (width < 1 || height < 1 || width.toLong * height > (1L << 22) ||
              (nc != 1 && nc != 3) || len != 8 + 3 * nc) throw new MalformedJpeg
            comps = Array.tabulate(nc) { c =>
              val b0 = p + 8 + 3 * c
              val hv = bytes(b0 + 1) & 0xff
              val comp = JpegComponent(bytes(b0) & 0xff, hv >> 4, hv & 0x0f, bytes(b0 + 2) & 0xff)
              if (comp.h < 1 || comp.h > 4 || comp.v < 1 || comp.v > 4 || comp.tq > 3)
                throw new MalformedJpeg
              comp
            }
            hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
            mcusX = (width + 8 * hmax - 1) / (8 * hmax)
            mcusY = (height + 8 * vmax - 1) / (8 * vmax)
            blocksW = Array.tabulate(nc)(c => mcusX * comps(c).h)
            blocksH = Array.tabulate(nc)(c => mcusY * comps(c).v)
            // non-interleaved grids from the component ceiling dimensions
            scanBW = Array.tabulate(nc)(c => ((width * comps(c).h + hmax - 1) / hmax + 7) / 8)
            scanBH = Array.tabulate(nc)(c => ((height * comps(c).v + vmax - 1) / vmax + 7) / 8)
            coefs = Array.tabulate(nc)(c => new Array[Int](blocksW(c) * blocksH(c) * 64))
            p += len
          case mm if mm >= 0xc3 && mm <= 0xcf && mm != 0xc4 && mm != 0xc8 && mm != 0xcc =>
            throw new MalformedJpeg // lossless/arithmetic/hierarchical: unsupported
          case 0xc4 => // DHT: one segment may carry several tables
            val len = u16(p)
            var s = p + 2
            val end = p + len
            while (s < end) {
              val tcth = bytes(s) & 0xff
              val tc = tcth >> 4; val th = tcth & 0x0f
              if (tc > 1 || th > 3 || s + 17 > end) throw new MalformedJpeg
              val bits = new Array[Int](17)
              var total = 0
              var l = 1
              while (l <= 16) { bits(l) = bytes(s + l) & 0xff; total += bits(l); l += 1 }
              if (total > 256 || s + 17 + total > end) throw new MalformedJpeg
              val vals = Array.tabulate(total)(i => bytes(s + 17 + i) & 0xff)
              huffs(tc * 4 + th) = new JpegHuffTable(bits, vals)
              s += 17 + total
            }
            p += len
          case 0xdb => // DQT: one segment may carry several tables
            val len = u16(p)
            var s = p + 2
            val end = p + len
            while (s < end) {
              val pqtq = bytes(s) & 0xff
              val pq = pqtq >> 4; val tq = pqtq & 0x0f
              val step = if (pq == 0) 1 else 2
              if (pq > 1 || tq > 3 || s + 1 + 64 * step > end) throw new MalformedJpeg
              var k = 0
              while (k < 64) {
                qt(tq)(k) = if (pq == 0) bytes(s + 1 + k) & 0xff else u16(s + 1 + 2 * k)
                k += 1
              }
              qtSet(tq) = true
              s += 1 + 64 * step
            }
            p += len
          case 0xdd => // DRI
            if (u16(p) != 4) throw new MalformedJpeg
            restartInterval = u16(p + 2)
            p += 4
          case 0xda => // SOS: any number of scans until EOI
            val len = u16(p)
            if (comps == null) throw new MalformedJpeg
            val ns = bytes(p + 2) & 0xff
            if (ns < 1 || ns > comps.length || len != 6 + 2 * ns) throw new MalformedJpeg
            val scanComp = new Array[Int](ns)
            val scanTd = new Array[Int](ns); val scanTa = new Array[Int](ns)
            var c = 0
            while (c < ns) {
              val ci = comps.indexWhere(_.id == (bytes(p + 3 + 2 * c) & 0xff))
              if (ci < 0) throw new MalformedJpeg
              scanComp(c) = ci
              val tdta = bytes(p + 4 + 2 * c) & 0xff
              scanTd(c) = tdta >> 4; scanTa(c) = tdta & 0x0f
              c += 1
            }
            val ss = bytes(p + 3 + 2 * ns) & 0xff
            val se = bytes(p + 4 + 2 * ns) & 0xff
            val ahal = bytes(p + 5 + 2 * ns) & 0xff
            val ah = ahal >> 4; val al = ahal & 0x0f
            if (progressive) {
              // B.2.3: DC scans are band 0..0; AC scans are single-
              // component bands within 1..63; refinement steps Al by one
              if (ss == 0 && se != 0) throw new MalformedJpeg
              if (ss > 0 && (ns != 1 || se < ss || se > 63)) throw new MalformedJpeg
              if (ss > 63 || al > 13 || (ah != 0 && ah != al + 1)) throw new MalformedJpeg
            } else if (ss != 0 || se != 63 || ah != 0 || al != 0) throw new MalformedJpeg
            val er = new JpegEntropyReader(bytes, p + len, n)
            decodeScan(er, scanComp, scanTd, scanTa, ss, se, ah, al)
            scans += 1
            // resume the marker walk at the first real marker after the
            // entropy data (skip stuffed bytes, fill bytes, trailing RSTs)
            var sp = er.pos
            var next = -1
            while (next < 0) {
              while (sp < n && (bytes(sp) & 0xff) != 0xff) sp += 1
              if (sp + 1 >= n) throw new MalformedJpeg
              val mm = bytes(sp + 1) & 0xff
              if (mm == 0x00) sp += 2
              else if (mm == 0xff) sp += 1
              else if (mm >= 0xd0 && mm <= 0xd7) sp += 2
              else next = sp
            }
            p = next
          case _ => // APPn / COM / DNL / unknown: skip by declared length
            val len = u16(p)
            if (len < 2) throw new MalformedJpeg
            p += len
        }
      }
      if (comps == null || scans == 0) throw new MalformedJpeg
      // ---- dequantize + IDCT every block into per-component planes ----
      val nc = comps.length
      comps.foreach(c => if (!qtSet(c.tq)) throw new MalformedJpeg)
      val qNat = Array.tabulate(nc) { c =>
        val zq = qt(comps(c).tq)
        val out = new Array[Int](64)
        var k = 0
        while (k < 64) { out(JpegZigzag(k)) = zq(k); k += 1 }
        out
      }
      val planeW = Array.tabulate(nc)(c => blocksW(c) * 8)
      val planes = Array.tabulate(nc)(c => new Array[Byte](planeW(c) * blocksH(c) * 8))
      val coefQ = new Array[Int](64)
      val tmp = new Array[Double](64)
      val block = new Array[Byte](64)
      var c = 0
      while (c < nc) {
        val cf = coefs(c); val qn = qNat(c)
        val bw = blocksW(c)
        val nb = bw * blocksH(c)
        var b = 0
        while (b < nb) {
          val base = b * 64
          var j = 0
          while (j < 64) { coefQ(j) = cf(base + j) * qn(j); j += 1 }
          jpegIdct(coefQ, tmp, block)
          val x0 = (b % bw) * 8
          val y0 = (b / bw) * 8
          var yy = 0
          while (yy < 8) {
            System.arraycopy(block, yy * 8, planes(c), (y0 + yy) * planeW(c) + x0, 8)
            yy += 1
          }
          b += 1
        }
        c += 1
      }
      // ---- assemble the logical RGB plane ----
      val pixels = new Array[Byte](3 * width * height)
      if (nc == 1) {
        val pw = planeW(0)
        var y = 0; var j = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val g = planes(0)(y * pw + x)
            pixels(j) = g; pixels(j + 1) = g; pixels(j + 2) = g
            j += 3; x += 1
          }
          y += 1
        }
      } else {
        // replication upsampling against Hmax/Vmax, then JFIF YCbCr->RGB
        def clamp(d: Double): Byte = {
          val v = Math.round(d).toInt
          (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        }
        var y = 0; var j = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val yy = planes(0)((y * comps(0).v / vmax) * planeW(0) + x * comps(0).h / hmax) & 0xff
            val cb = (planes(1)((y * comps(1).v / vmax) * planeW(1) + x * comps(1).h / hmax) & 0xff) - 128
            val cr = (planes(2)((y * comps(2).v / vmax) * planeW(2) + x * comps(2).h / hmax) & 0xff) - 128
            pixels(j) = clamp(yy + 1.402 * cr)
            pixels(j + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
            pixels(j + 2) = clamp(yy + 1.772 * cb)
            j += 3; x += 1
          }
          y += 1
        }
      }
      Some(PpmImage(width, height, 255, pixels))
    } catch {
      case _: MalformedJpeg => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  /** ======== REAL codec: baseline JPEG encode (DC-exact profile) ========
    * Write genuine baseline JPEGs whose DECODE is bit-replayable in SQL:
    * a grayscale canvas of bw × bh flat 8×8 blocks (bw = 1 + id % 4,
    * bh = 1 + (id/4) % 3), block k's gray level = text byte k % n. Each
    * block is coded as a real DC difference (category + EXTEND amplitude
    * against the running predictor) followed by a real EOB — so the
    * decoder's Huffman, predictor, dequant, IDCT, and restart machinery
    * all run — with quantizer Q[0] = 8, which cancels the IDCT's 1/8
    * exactly: decoded pixel ≡ 128 + (v−128)·8/8 = v, no rounding
    * ambiguity for ANY compliant IDCT. DRI = 3 puts RSTn markers (with
    * predictor resets and 1-bit padding) inside every payload wider than
    * three blocks. The DHT tables are small custom canonical tables
    * (12 four-bit DC categories, EOB/ZRL at two bits) — parsed from the
    * stream like any table, while the spec's javax differential covers
    * the standard Annex K tables. Payloads are verified decodable by
    * javax.imageio in the spec, pinning standards conformance of the
    * writer itself.
    */
  def encodeJpeg(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val nTxt = data.length
        val bw = 1 + (id % 4).toInt
        val bh = 1 + ((id / 4) % 3).toInt
        val out = new java.io.ByteArrayOutputStream()
        def b(v: Int): Unit = out.write(v & 0xff)
        def be16(v: Int): Unit = { b(v >> 8); b(v) }
        def marker(m: Int): Unit = { b(0xff); b(m) }
        marker(0xd8) // SOI
        marker(0xe0); be16(16) // APP0/JFIF v1.1, no density, no thumbnail
        out.write("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)); b(0)
        b(1); b(1); b(0); be16(1); be16(1); b(0); b(0)
        marker(0xdb); be16(67); b(0x00) // DQT: 8-bit table 0; Q[0]=8 cancels the IDCT 1/8
        var k = 0
        while (k < 64) { b(if (k == 0) 8 else 16 + k); k += 1 }
        // DHT: DC table 0 = 12 categories at 4 bits; AC table 0 = EOB,ZRL at 2 bits
        marker(0xc4); be16(2 + (1 + 16 + 12) + (1 + 16 + 2))
        b(0x00); (1 to 16).foreach(l => b(if (l == 4) 12 else 0)); (0 to 11).foreach(b)
        b(0x10); (1 to 16).foreach(l => b(if (l == 2) 2 else 0)); b(0x00); b(0xf0)
        marker(0xdd); be16(4); be16(3) // DRI: restart every 3 MCUs
        marker(0xc0); be16(11) // SOF0: 8-bit grayscale, 1x1 sampling
        b(8); be16(8 * bh); be16(8 * bw); b(1); b(1); b(0x11); b(0)
        marker(0xda); be16(8) // SOS
        b(1); b(1); b(0x00); b(0); b(63); b(0)
        // entropy-coded data: MSB-first bit writer with 0xFF00 stuffing
        var acc = 0; var nb = 0
        def put(v: Int, bits: Int): Unit = {
          acc = (acc << bits) | (v & ((1 << bits) - 1)); nb += bits
          while (nb >= 8) {
            val byte = (acc >> (nb - 8)) & 0xff
            b(byte); if (byte == 0xff) b(0x00)
            nb -= 8
          }
        }
        def alignOnes(): Unit = if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
        var predDc = 0
        var rst = 0
        k = 0
        while (k < bw * bh) {
          if (k > 0 && k % 3 == 0) { // restart: pad, RSTm, reset predictor
            alignOnes(); marker(0xd0 + rst); rst = (rst + 1) % 8
            predDc = 0
          }
          val v = if (nTxt == 0) 0 else data(k % nTxt) & 0xff
          val diff = (v - 128) - predDc
          predDc = v - 128
          val cat = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
          put(cat, 4) // DC canonical code for category `cat` IS `cat` (12 codes at 4 bits)
          if (cat > 0) put(if (diff < 0) diff + (1 << cat) - 1 else diff, cat)
          put(0, 2) // EOB
          k += 1
        }
        alignOnes()
        marker(0xd9) // EOI
        (id, out.toByteArray, 8 * bw, 8 * bh)
      }
      .toDF(idCol, "payload", "w", "h")
      .select(
        col(idCol), col("payload"),
        struct(
          col("w").as("width"), col("h").as("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("image/jpeg").as("mime")).as("meta"))
  }

  final case class JpegFeatures(
      doc_id: Long, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** JPEG decode + statistics: run every payload through the full
    * baseline pipeline ([[parseJpeg]]: marker walk → Huffman → EXTEND →
    * dequant → IDCT → restart handling) and reduce the recovered RGB
    * plane with the shared per-channel sums + base-31 positional rolling
    * checksum. Under the DC-exact byte model the three channel sums are
    * equal by construction, and the checksum pins every decoded byte —
    * a predictor slip, a mis-walked restart, or an off-by-one in the
    * block raster shifts it. Malformed payloads drop; map-only, no
    * shuffle — at 100 TB this is pure scan-side CPU that scales linearly
    * with executors.
    */
  def jpegFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[JpegFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          parseJpeg(Option(bytesOrNull).getOrElse(Array.empty)).map { img =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            JpegFeatures(id, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }

  /** Magic-byte dispatch across every image codec in the module: route a
    * payload to the right parser by its leading signature (P6 → PPM, BM →
    * BMP, 0x89'P' → PNG, GI → GIF, 0xFFD8 → JPEG) and return the decoded
    * logical plane with a format tag. Unknown signatures and payloads the
    * routed parser rejects both return None — a mixed corpus degrades
    * row-by-row, never job-wide.
    */
  private[ext] def sniffImage(bytes: Array[Byte]): Option[(String, PpmImage)] =
    if (bytes.length < 2) None
    else ((bytes(0) & 0xff, bytes(1) & 0xff) match {
      case (0x50, 0x36) => parsePpm(bytes).map(("ppm", _)) // "P6"
      case (0x42, 0x4d) => parseBmp(bytes).map(("bmp", _)) // "BM"
      case (0x89, 0x50) => parsePng(bytes).map(("png", _)) // \x89"P"
      case (0x47, 0x49) => parseGif(bytes).map(("gif", _)) // "GI"
      case (0xff, 0xd8) => parseJpeg(bytes).map(("jpeg", _)) // SOI
      case (0x52, 0x49) // "RI" — RIFF: WEBP only (AVI has its own operator)
          if bytes.length >= 12 && bytes(8) == 'W' && bytes(9) == 'E' &&
            bytes(10) == 'B' && bytes(11) == 'P' =>
        Webp.parseWebp(bytes).map(("webp", _))
      case _ => None
    })

  /** A deterministically mixed-format corpus: document id % 6 picks the
    * encoder (0 PPM, 1 BMP, 2 PNG, 3 GIF, 4 JPEG, 5 WebP/VP8L), modeling
    * the real shape of a crawled 100 TB image set where format is data,
    * not schema. Six disjoint filters over one scan union into a single
    * binary column; all encoders share the (payload, meta) contract so
    * the union is by name.
    */
  def encodeMixed(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def slice(k: Int) = docs.filter(col(idCol).cast("long") % 6 === k)
    encodePpm(slice(0), idCol, textCol)
      .unionByName(encodeBmp(slice(1), idCol, textCol))
      .unionByName(encodePng(slice(2), idCol, textCol))
      .unionByName(encodeGif(slice(3), idCol, textCol))
      .unionByName(encodeJpeg(slice(4), idCol, textCol))
      .unionByName(Webp.encodeWebp(slice(5), idCol, textCol))
  }

  final case class SniffedImageFeatures(
      doc_id: Long, format: String, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** Format-sniffing decode + unified statistics: every payload goes
    * through [[sniffImage]]'s magic-byte dispatch and the five decoders'
    * logical RGB planes are reduced identically — per-channel sums and the
    * base-31 positional rolling checksum — so one operator serves a
    * mixed-format corpus and its output is comparable across formats.
    * This is the capstone gate for the codec ladder: the oracle replays
    * each format's distinct byte model (PPM/PNG identity plane, GIF's
    * palette-tripled indices, BMP's flip/swap/stride arithmetic, JPEG's
    * DC-exact block raster) in one UNION, so a regression in ANY parser,
    * or a mis-routed signature, fails the hash. Map-only after a unioned
    * scan — no shuffle; at 100 TB this scales linearly with executors.
    */
  def sniffFeatures(withBinary: DataFrame, idCol: String = "doc_id", binCol: String = "payload"): Dataset[SniffedImageFeatures] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          sniffImage(Option(bytesOrNull).getOrElse(Array.empty)).map { case (format, img) =>
            var r = 0L; var g = 0L; var b = 0L
            var checksum = 0L
            var j = 0
            while (j < img.pixels.length) {
              val v = img.pixels(j) & 0xff
              (j % 3: @annotation.switch) match {
                case 0 => r += v
                case 1 => g += v
                case 2 => b += v
              }
              checksum = (checksum * 31 + v) % 1000000007L
              j += 1
            }
            SniffedImageFeatures(
              id, format, img.width, img.height, img.width.toLong * img.height, r, g, b, checksum)
          }
        }
      }
  }

  final case class PcmFrameStats(doc_id: Long, frame_idx: Int, n_samples: Long, rms: Double, peak: Long)

  /** ======== REAL codec: raw s16le PCM ========
    * Like the PPM and AVI codecs in this module, this decode is the actual
    * format: the payload is interpreted as raw little-endian signed 16-bit
    * PCM (the interchange format every audio toolchain reads and writes
    * without a container), framed into `frameSize`-sample windows, and
    * reduced to the waveform statistics an audio-curation pipeline filters
    * on — per-frame RMS (silence / clipping detection) and peak |sample|.
    * A trailing odd byte is ignored; an empty or null payload yields no
    * frames. No codec library is involved because raw PCM needs none —
    * this is the one modality the sandbox lets us decode for real.
    *
    * Exactness: samples and peaks are integers; each frame's sum of
    * squares fits a long at any frame size up to 2^23; `rms` is one IEEE
    * division + sqrt on exact operands — so the whole operator is bitwise
    * engine-portable, and the oracle replays the byte-level decode in SQL
    * (substring/hex on the blob, the same sign fix-up).
    */
  def decodePcm16Frames(
      withBinary: DataFrame,
      frameSize: Int = 256,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[PcmFrameStats] = {
    require(frameSize >= 1 && frameSize <= (1 << 23), "need 1 <= frameSize <= 2^23")
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
        val nSamples = bytes.length / 2
        val nFrames = (nSamples + frameSize - 1) / frameSize
        (0 until nFrames).map { f =>
          val from = f * frameSize
          val until = math.min(nSamples, from + frameSize)
          var sumSq = 0L
          var peak = 0L
          var i = from
          while (i < until) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1) & 0xff
            val u = hi * 256 + lo
            val s = if (u > 32767) u - 65536 else u
            sumSq += s.toLong * s
            val a = math.abs(s.toLong)
            if (a > peak) peak = a
            i += 1
          }
          val n = until - from
          PcmFrameStats(id, f, n.toLong, math.sqrt(sumSq.toDouble / n), peak)
        }
      }
  }

  /** 64-bit audio fingerprint over raw s16le PCM: the waveform's sample
    * range splits into 65 proportional windows (floor boundaries
    * `k·ns/65` — the [[resizePlane]] arithmetic on the time axis), each
    * reduced to its exact integer energy Σs², and bit k compares adjacent
    * windows `E(k) > E(k+1)` — the audio analog of [[dhash64]]: a
    * loudness-PROFILE hash, invariant to exact global gain (both sides of
    * every comparison scale together) and stable under time stretching
    * (windows are proportional — exact when the boundary arithmetic
    * aligns, e.g. integer-factor resampling of a 65-multiple length;
    * otherwise boundary rounding can move isolated bits, which the
    * Hamming-tolerant pairing absorbs), sensitive to where in the clip
    * the energy lives.
    * Clips shorter than 65 samples cannot fill every window and are
    * dropped. Rendered as 16 uppercase hex chars (byte k/8, bit weight
    * `1 << (k%8)`), ready for [[dhashPairs]]' block LSH. Pure integer
    * arithmetic — bitwise portable.
    */
  def afpPcm16(withBinary: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytesOrNull) =>
          val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
          val ns = bytes.length / 2
          if (ns < 65) None
          else {
            val e = new Array[Long](65)
            var k = 0
            while (k < 65) {
              val from = k * ns / 65
              val until = (k + 1) * ns / 65
              var sumSq = 0L
              var i = from
              while (i < until) {
                val u = (bytes(2 * i + 1) & 0xff) * 256 + (bytes(2 * i) & 0xff)
                val s = if (u > 32767) u - 65536 else u
                sumSq += s.toLong * s
                i += 1
              }
              e(k) = sumSq
              k += 1
            }
            val sb = new java.lang.StringBuilder(16)
            var b = 0
            while (b < 8) {
              var byteVal = 0
              var j = 0
              while (j < 8) {
                if (e(b * 8 + j) > e(b * 8 + j + 1)) byteVal |= 1 << j
                j += 1
              }
              sb.append(f"$byteVal%02X")
              b += 1
            }
            Some((id, sb.toString))
          }
        }
      }
      .toDF(idCol, "afp")
  }

  /** Deterministic near-duplicate variant of a RAW binary payload (no
    * container header): byte 0 complemented when `flip`, identity
    * otherwise; ids shift by `idShift`. The audio twin of [[ppmVariant]].
    */
  def binaryVariant(withBinary: DataFrame, idShift: Long, flipCol: String,
      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol), col(flipCol).cast("boolean"))
      .as[(Long, Array[Byte], Boolean)]
      .map { case (id, bytesOrNull, flip) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte]).clone()
        if (flip && bytes.nonEmpty) bytes(0) = (~bytes(0)).toByte
        (id + idShift, bytes)
      }
      .toDF(idCol, binCol)
  }

  final case class WavAudio(sampleRate: Int, fmtTag: Int, bits: Int, dataOffset: Int, dataLen: Int)

  /** ======== REAL codec: WAV container (RIFF/WAVE) ========
    * The third RIFF-family parse (after AVI): WAV is a RIFF file whose
    * `fmt ` chunk describes the sample format and whose `data` chunk holds
    * the samples. The walker verifies the `RIFF`/`WAVE` magic, iterates
    * chunks honoring the even-byte padding rule (skipping `LIST`/`fact`/
    * unknown chunks, as a real reader must), validates the fmt contract
    * against the two mono profiles this engine's audio operators decode —
    * linear PCM (wFormatTag 1, 16-bit) and G.711 μ-law (wFormatTag 7,
    * 8-bit) — and returns the parsed format plus the bounds-checked data
    * window; each downstream operator re-checks the tag it handles.
    * Everything else (bad magic, missing or short fmt/data, float/ADPCM
    * formats, multi-channel, mismatched tag/bits pairs) returns None: the
    * malformed-drop convention. `dataLen` is the raw chunk size; 16-bit
    * consumers floor-divide by 2, ignoring a trailing odd byte, matching
    * [[decodePcm16Frames]]'s raw-stream convention.
    */
  private[ext] def parseWav(bytes: Array[Byte]): Option[WavAudio] = {
    val n = bytes.length
    def u16(pos: Int): Int = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
    def u32(pos: Int): Long =
      (bytes(pos) & 0xffL) | ((bytes(pos + 1) & 0xffL) << 8) |
        ((bytes(pos + 2) & 0xffL) << 16) | ((bytes(pos + 3) & 0xffL) << 24)
    def fourcc(pos: Int): String =
      new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (n < 12 || fourcc(0) != "RIFF" || fourcc(8) != "WAVE") return None
    var rate = -1
    var tag = -1
    var bitsPer = -1
    var data: Option[(Int, Int)] = None
    val until = math.min(n.toLong, 8L + u32(4))
    var p = 12L
    while (p + 8 <= until) {
      val id = fourcc(p.toInt)
      val sz = u32(p.toInt + 4)
      val ds = p + 8
      if (ds + sz > until) return None // truncated chunk
      if (id == "fmt ") {
        if (sz < 16) return None
        val fmtTag = u16(ds.toInt)
        val channels = u16(ds.toInt + 2)
        val bits = u16(ds.toInt + 14)
        val supported = channels == 1 &&
          ((fmtTag == 1 && bits == 16) || (fmtTag == 7 && bits == 8))
        if (!supported) return None
        tag = fmtTag; bitsPer = bits
        rate = u32(ds.toInt + 4).toInt
      } else if (id == "data" && data.isEmpty) {
        data = Some((ds.toInt, sz.toInt))
      }
      p = ds + sz + (sz & 1L) // RIFF pads chunks to even length
    }
    (rate, data) match {
      case (r, Some((off, len))) if r > 0 => Some(WavAudio(r, tag, bitsPer, off, len))
      case _ => None
    }
  }

  /** ======== REAL codec: minimal WAV writer ========
    * Attach a genuine RIFF/WAVE payload so the container path has real
    * files to parse end to end: the canonical 44-byte mono 16 kHz s16le
    * header followed by the doc's UTF-8 bytes as the data chunk (truncated
    * to an even length — samples are 2 bytes). The byte model is
    * SQL-trivial: data byte i IS text byte i, so the oracle replays the
    * decode from the text column while the operator must first FIND the
    * data window through a real chunk walk. Null ids are excluded; null
    * text writes an empty data chunk (zero frames downstream).
    */
  def encodeWav(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      // staging exchange (optimization guide §2.5): the per-doc kernel must
      // not inherit the scan's split count — one round-robin exchange of the
      // narrow pre-kernel rows spreads it across every core
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val d = data.length & ~1
        val bb = java.nio.ByteBuffer
          .allocate(44 + d)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def cc(s: String): Unit = bb.put(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        cc("RIFF"); bb.putInt(36 + d); cc("WAVE")
        cc("fmt "); bb.putInt(16)
        bb.putShort(1) // PCM
        bb.putShort(1) // mono
        bb.putInt(16000) // sample rate
        bb.putInt(32000) // byte rate
        bb.putShort(2) // block align
        bb.putShort(16) // bits/sample
        cc("data"); bb.putInt(d)
        bb.put(data, 0, d)
        (id, bb.array())
      }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("audio/wav").as("mime")).as("meta"))
  }

  final case class WavFrameStats(
      doc_id: Long, sample_rate: Int, frame_idx: Int, n_samples: Long, rms: Double, peak: Long)

  /** Frame statistics over CONTAINED audio: locate the sample window
    * through the real WAV parse ([[parseWav]]), then reduce it with
    * exactly [[decodePcm16Frames]]'s per-frame integer RMS/peak kernel.
    * The emitted `sample_rate` comes from the parsed fmt chunk — a
    * misread header is visible in every row, not just malformed drops.
    * Malformed containers drop; map-only, no shuffle.
    */
  def wavFrameStats(
      withBinary: DataFrame,
      frameSize: Int = 256,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[WavFrameStats] = {
    require(frameSize >= 1 && frameSize <= (1 << 23), "need 1 <= frameSize <= 2^23")
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
        parseWav(bytes).filter(w => w.fmtTag == 1 && w.bits == 16).toSeq.flatMap { wav =>
          val nSamples = wav.dataLen / 2
          val nFrames = (nSamples + frameSize - 1) / frameSize
          (0 until nFrames).map { f =>
            val from = f * frameSize
            val until = math.min(nSamples, from + frameSize)
            var sumSq = 0L
            var peak = 0L
            var i = from
            while (i < until) {
              val lo = bytes(wav.dataOffset + 2 * i) & 0xff
              val hi = bytes(wav.dataOffset + 2 * i + 1) & 0xff
              val u = hi * 256 + lo
              val s = if (u > 32767) u - 65536 else u
              sumSq += s.toLong * s
              val a = math.abs(s.toLong)
              if (a > peak) peak = a
              i += 1
            }
            val n = until - from
            WavFrameStats(id, wav.sampleRate, f, n.toLong, math.sqrt(sumSq.toDouble / n), peak)
          }
        }
      }
  }

  /** ======== REAL codec: G.711 μ-law expansion ========
    * The telephony companding standard, implemented from the published
    * CCITT algorithm: complement the code byte, rebuild the mantissa with
    * the hidden bias bit (+0x84), shift by the 3-bit exponent, undo the
    * bias, apply the sign. Maps the 8-bit code space onto [-32124, 32124]
    * — e.g. 0x00 → -32124, 0xFF → 0, 0x7F → 0 (negative zero collapses).
    * Pure integer arithmetic, so the oracle replays it in SQL exactly.
    */
  private[ext] def ulawExpand(code: Int): Int = {
    val c = ~code & 0xff
    var t = ((c & 0x0f) << 3) + 0x84
    t <<= (c >> 4) & 7
    if ((c & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ======== REAL codec: WAV/μ-law writer ========
    * The μ-law sibling of [[encodeWav]]: a genuine RIFF/WAVE file whose
    * fmt chunk declares wFormatTag 7 (G.711 μ-law), mono, 8 kHz, 8 bits
    * per sample — the telephony profile — and whose data chunk is the
    * doc's UTF-8 bytes, each byte one μ-law code. The byte model stays
    * SQL-trivial (code i IS text byte i) while the decoder must both
    * find the window through the chunk walk AND run the real expansion.
    */
  def encodeWavUlaw(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      // staging exchange (optimization guide §2.5): the per-doc kernel must
      // not inherit the scan's split count — one round-robin exchange of the
      // narrow pre-kernel rows spreads it across every core
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val d = data.length
        val bb = java.nio.ByteBuffer
          .allocate(44 + d + (d & 1))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def cc(s: String): Unit = bb.put(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        cc("RIFF"); bb.putInt(36 + d + (d & 1)); cc("WAVE")
        cc("fmt "); bb.putInt(16)
        bb.putShort(7) // G.711 mu-law
        bb.putShort(1) // mono
        bb.putInt(8000) // sample rate
        bb.putInt(8000) // byte rate
        bb.putShort(1) // block align
        bb.putShort(8) // bits/sample
        cc("data"); bb.putInt(d)
        bb.put(data, 0, d)
        if ((d & 1) == 1) bb.put(0.toByte) // RIFF even-byte pad after odd chunk
        (id, bb.array())
      }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("audio/basic").as("mime")).as("meta"))
  }

  final case class UlawFrameStats(
      doc_id: Long, sample_rate: Int, frame_idx: Int, n_samples: Long, rms: Double, peak: Long)

  /** Frame statistics over COMPRESSED (companded) audio: locate the data
    * window through the WAV chunk walk, require the μ-law profile
    * (wFormatTag 7, 8-bit), expand every code byte to its 16-bit linear
    * sample via [[ulawExpand]], then reduce with the shared integer
    * RMS/peak kernel. One byte per sample — half the container bytes of
    * the PCM path for the same duration, which is the point of companding.
    * Malformed containers and non-μ-law profiles drop; map-only.
    */
  def ulawFrameStats(
      withBinary: DataFrame,
      frameSize: Int = 256,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[UlawFrameStats] = {
    require(frameSize >= 1 && frameSize <= (1 << 23), "need 1 <= frameSize <= 2^23")
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
        parseWav(bytes).filter(w => w.fmtTag == 7 && w.bits == 8).toSeq.flatMap { wav =>
          val nSamples = wav.dataLen
          val nFrames = (nSamples + frameSize - 1) / frameSize
          (0 until nFrames).map { f =>
            val from = f * frameSize
            val until = math.min(nSamples, from + frameSize)
            var sumSq = 0L
            var peak = 0L
            var i = from
            while (i < until) {
              val s = ulawExpand(bytes(wav.dataOffset + i) & 0xff)
              sumSq += s.toLong * s
              val a = math.abs(s.toLong)
              if (a > peak) peak = a
              i += 1
            }
            val n = until - from
            UlawFrameStats(id, wav.sampleRate, f, n.toLong, math.sqrt(sumSq.toDouble / n), peak)
          }
        }
      }
  }

  final case class ResampledPcm(doc_id: Long, n_samples_in: Long, n_samples_out: Long, resampled: Array[Byte])

  /** Decimation resample of the raw s16le PCM payload: keep every
    * `factor`-th sample (sample 0, factor, 2*factor, ...) and re-encode
    * as s16le. Decimation WITHOUT a low-pass aliases anything above the
    * target Nyquist — this raw form exists as the indexing/re-encoding
    * baseline; [[resamplePcm16Filtered]] is the production path (same
    * output contract, windowed-sinc anti-aliasing first).
    *
    * A trailing odd byte is ignored; empty/null payloads yield 0-sample
    * outputs with empty binary; null ids are excluded.
    */
  def resamplePcm16(
      withBinary: DataFrame,
      factor: Int,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[ResampledPcm] = {
    require(factor >= 1, "need factor >= 1")
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
        val nIn = bytes.length / 2
        val nOut = (nIn + factor - 1) / factor
        val out = new Array[Byte](nOut * 2)
        var j = 0
        while (j < nOut) {
          out(2 * j) = bytes(2 * j * factor)
          out(2 * j + 1) = bytes(2 * j * factor + 1)
          j += 1
        }
        ResampledPcm(id, nIn.toLong, nOut.toLong, out)
      }
  }

  /** Q15 fixed-point windowed-sinc low-pass for decimation by `factor`:
    * cutoff 0.45/factor of the source rate (just under the target Nyquist),
    * Hamming window, `2*halfTaps + 1` taps (default halfTaps = 2*factor),
    * coefficients rounded to integers scaled by 2^15 so the convolution is
    * EXACT integer arithmetic — engine-portable and SQL-replayable. DC gain
    * is ~1 (sum of taps ~ 32768). Pure and deterministic: the oracle
    * inlines these exact integers into its SQL, so the two engines cannot
    * disagree on a coefficient.
    */
  def firLowpassQ15(factor: Int, halfTaps: Int = -1): Array[Int] = {
    require(factor >= 1, "need factor >= 1")
    val h = if (halfTaps > 0) halfTaps else 2 * factor
    val fc = 0.45 / factor
    Array.tabulate(2 * h + 1) { t =>
      val k = t - h
      val sinc = if (k == 0) 2 * fc else math.sin(2 * math.Pi * fc * k) / (math.Pi * k)
      val win = 0.54 + 0.46 * math.cos(math.Pi * k / h)
      Math.round(sinc * win * 32768.0).toInt
    }
  }

  /** Anti-aliased s16le resample: windowed-sinc low-pass ([[firLowpassQ15]])
    * + decimation in ONE pass — the real 48 kHz -> 16 kHz shape, unlike
    * [[resamplePcm16]]'s documented decimation-only scope. The convolution
    * is evaluated ONLY at the decimated positions (keep-every-`factor`-th),
    * so per-payload cost is `taps * nOut`, not `taps * nIn` — still
    * map-only, no shuffle, no state.
    *
    * Exactness: samples and Q15 taps are integers, each accumulator fits a
    * long with 2^5 headroom, the >>15 normalize is `Math.floorDiv` (the SQL
    * replay adds a positive offset first so truncating division IS floor
    * division), and the result clamps to s16 before re-encoding — every
    * byte of the output is integer-determined, so the whole filter sits
    * under the bitwise oracle. Signal edges are zero-padded; a trailing odd
    * byte is ignored; empty/null payloads yield 0-sample outputs; null ids
    * are excluded.
    */
  def resamplePcm16Filtered(
      withBinary: DataFrame,
      factor: Int,
      halfTaps: Int = -1,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[ResampledPcm] = {
    require(factor >= 1, "need factor >= 1")
    val q = firLowpassQ15(factor, halfTaps)
    val h = (q.length - 1) / 2
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty[Byte])
        val nIn = bytes.length / 2
        val nOut = (nIn + factor - 1) / factor
        val out = new Array[Byte](nOut * 2)
        var j = 0
        while (j < nOut) {
          val center = j * factor
          var acc = 0L
          var t = 0
          while (t < q.length) {
            val idx = center + t - h
            if (idx >= 0 && idx < nIn) {
              val lo = bytes(2 * idx) & 0xff
              val hi = bytes(2 * idx + 1) & 0xff
              val u = hi * 256 + lo
              val s = if (u > 32767) u - 65536 else u
              acc += q(t).toLong * s
            }
            t += 1
          }
          var y = Math.floorDiv(acc, 32768L).toInt
          if (y > 32767) y = 32767
          if (y < -32768) y = -32768
          val u = y & 0xffff
          out(2 * j) = (u & 0xff).toByte
          out(2 * j + 1) = (u >> 8).toByte
          j += 1
        }
        ResampledPcm(id, nIn.toLong, nOut.toLong, out)
      }
  }

  /** A parsed RIFF/AVI container: dimensions + declared frame count from
    * the `avih` main header, and the (data offset, length) of every video
    * frame chunk (`00db`/`00dc`) in the `movi` list, in stream order.
    */
  final case class AviIndex(
      width: Int, height: Int, totalFrames: Int, frames: Seq[(Long, Int)])

  /** ======== REAL codec: RIFF/AVI demux ========
    * An actual container parse — the video analog of [[parsePpm]]: AVI is a
    * RIFF file, and RIFF needs no library, just a chunk walker. The parser
    * verifies the `RIFF`/`AVI ` magic, walks top-level chunks honoring the
    * even-byte padding rule, finds the `avih` main header wherever the
    * `hdrl` list put it, reads width/height/frame count little-endian,
    * and scans the `strl` stream-description lists for the FIRST stream
    * whose `strh` declares fccType `vids` — AVI numbers streams by strl
    * order, and data chunks carry that number as a two-digit prefix. The
    * `movi` walk then collects only THAT stream's `NNdb`/`NNdc` frame
    * chunks — including inside `rec ` groups — with their REAL byte
    * offsets and lengths, so a multi-stream container (audio at stream 00,
    * video at 01, or a second video stream) cannot interleave foreign
    * chunks into the frame list. A container with no strl lists at all
    * (the minimal-writer subset) defaults to stream 00, the number a
    * sole video stream gets. Returns None for malformed containers (bad
    * magic, truncated chunk, no avih, no movi): the malformed-drop
    * convention. All sizes are read into Long before bounds checks, so a
    * hostile header cannot index out or allocate.
    */
  private[ext] def parseAvi(bytes: Array[Byte]): Option[AviIndex] = {
    val n = bytes.length
    def u32(pos: Int): Long =
      (bytes(pos) & 0xffL) | ((bytes(pos + 1) & 0xffL) << 8) |
        ((bytes(pos + 2) & 0xffL) << 16) | ((bytes(pos + 3) & 0xffL) << 24)
    def fourcc(pos: Int): String =
      new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (n < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var avih: Option[(Int, Int, Int)] = None
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var sawMovi = false
    var nStreams = 0 // strl lists seen, in order = AVI stream numbering
    var videoStream = -1 // first stream whose strh says fccType 'vids'
    // walk a chunk range; `inMovi` collects the video stream's frame
    // chunks, recursing into `rec ` groups; `inHdrl` scans for avih and
    // the strl stream descriptions; `inStrl` scans one stream's headers
    def walk(from: Long, until: Long, inMovi: Boolean, inHdrl: Boolean, inStrl: Boolean): Boolean = {
      var p = from
      while (p + 8 <= until) {
        val id = fourcc(p.toInt)
        val sz = u32(p.toInt + 4)
        val dataStart = p + 8
        if (dataStart + sz > until) return false // truncated chunk
        if (id == "LIST") {
          if (sz < 4) return false
          val listType = fourcc(dataStart.toInt)
          if (listType == "hdrl") { if (!walk(dataStart + 4, dataStart + sz, inMovi = false, inHdrl = true, inStrl = false)) return false }
          else if (listType == "movi") { sawMovi = true; if (!walk(dataStart + 4, dataStart + sz, inMovi = true, inHdrl = false, inStrl = false)) return false }
          else if (inMovi && listType == "rec ") { if (!walk(dataStart + 4, dataStart + sz, inMovi = true, inHdrl = false, inStrl = false)) return false }
          else if (inHdrl && listType == "strl") {
            if (!walk(dataStart + 4, dataStart + sz, inMovi = false, inHdrl = false, inStrl = true)) return false
            nStreams += 1
          }
        } else if (inHdrl && id == "avih") {
          if (sz < 40) return false
          avih = Some((u32(dataStart.toInt + 32).toInt, u32(dataStart.toInt + 36).toInt, u32(dataStart.toInt + 16).toInt))
        } else if (inStrl && id == "strh") {
          if (sz < 4) return false
          if (videoStream < 0 && fourcc(dataStart.toInt) == "vids") videoStream = nStreams
        } else if (inMovi && (id.endsWith("db") || id.endsWith("dc"))) {
          // two-digit decimal stream prefix; -1 = not a data chunk
          val c0 = id.charAt(0); val c1 = id.charAt(1)
          val streamNo =
            if (c0 >= '0' && c0 <= '9' && c1 >= '0' && c1 <= '9') (c0 - '0') * 10 + (c1 - '0') else -1
          // no strl (minimal writer) -> a sole video stream is number 00
          val want = if (videoStream >= 0) videoStream else 0
          if (streamNo == want) frames += ((dataStart, sz.toInt))
        }
        p = dataStart + sz + (sz & 1L) // RIFF pads chunks to even length
      }
      true
    }
    val riffEnd = math.min(n.toLong, 8L + u32(4))
    if (!walk(12L, riffEnd, inMovi = false, inHdrl = false, inStrl = false)) return None
    avih match {
      case Some((w, h, tf)) if sawMovi => Some(AviIndex(w, h, tf, frames.toSeq))
      case _ => None
    }
  }

  /** ======== REAL codec: minimal AVI writer ========
    * Attach a genuine RIFF/AVI payload to a text-bearing table so the
    * demux path has real containers to parse end to end: per doc,
    * `1 + id % 5` uncompressed 8x6 RGB24 frames (144 bytes each), frame
    * k's plane being the doc's UTF-8 bytes cycled starting at offset k
    * (frames differ, deterministically). The writer emits the minimal
    * structurally-valid subset (RIFF/AVI + hdrl/avih + movi/00db);
    * [[parseAvi]] is the general walker and is additionally spec-tested
    * against containers with strl lists, junk chunks, odd-size padding,
    * and rec-grouped frames. Null and negative ids are excluded (the
    * frame-count derivation is floorMod vs the oracle's truncating `%`,
    * [[encodePpm]]'s rationale); null text paints black frames.
    */
  def encodeAvi(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (w, h) = (8, 6)
    val fb = 3 * w * h // 144, even: no pad bytes
    Stage.docTexts(docs, idCol, textCol)
      .map { case (id, textOrNull) =>
        val data = utf8Bytes(textOrNull)
        val nf = (1 + java.lang.Math.floorMod(id, 5L)).toInt
        val bb = java.nio.ByteBuffer
          .allocate(12 + 76 + 12 + nf * (8 + fb))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def cc(s: String): Unit = bb.put(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        cc("RIFF"); bb.putInt(bb.capacity - 8); cc("AVI ")
        cc("LIST"); bb.putInt(68); cc("hdrl")
        cc("avih"); bb.putInt(56)
        bb.putInt(100000) // dwMicroSecPerFrame (10 fps)
        bb.putInt(0); bb.putInt(0); bb.putInt(0) // maxBytesPerSec, padding, flags
        bb.putInt(nf) // dwTotalFrames
        bb.putInt(0); bb.putInt(1); bb.putInt(fb) // initialFrames, streams, bufSize
        bb.putInt(w); bb.putInt(h)
        (0 until 4).foreach(_ => bb.putInt(0)) // dwReserved
        cc("LIST"); bb.putInt(4 + nf * (8 + fb)); cc("movi")
        var k = 0
        while (k < nf) {
          cc("00db"); bb.putInt(fb)
          var j = 0
          while (j < fb) {
            bb.put(if (data.length == 0) 0.toByte else data((k + j) % data.length))
            j += 1
          }
          k += 1
        }
        (id, bb.array())
      }
      .toDF(idCol, "payload")
      .select(
        col(idCol), col("payload"),
        struct(
          octet_length(col("payload")).cast("long").as("n_bytes"),
          lit("video/x-msvideo").as("mime")).as("meta"))
  }

  final case class AviFrameStats(
      doc_id: Long, frame_idx: Int, width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Per-frame channel statistics over demuxed RIFF/AVI video — the video
    * analog of [[decodePcm16Frames]]: every frame the container indexes is
    * reduced to exact per-channel sums over its uncompressed RGB24 plane,
    * the brightness/color numbers a video-curation filter thresholds on
    * (black-frame detection, color-cast drift across frames). Real demux
    * ([[parseAvi]]) + exact integer sums; frames whose chunk length is not
    * 3*width*height (a compressed or foreign stream) are skipped rather
    * than misread; malformed containers drop; map-only.
    */
  def aviFrameStats(
      withBinary: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[AviFrameStats] = {
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty)
        parseAvi(bytes).toSeq.flatMap { avi =>
          val np = avi.width.toLong * avi.height
          avi.frames.zipWithIndex.collect {
            case ((off, len), k) if len == 3L * np =>
              var r = 0L; var g = 0L; var b = 0L
              var j = off.toInt
              val end = off.toInt + len
              while (j < end) {
                r += bytes(j) & 0xff
                g += bytes(j + 1) & 0xff
                b += bytes(j + 2) & 0xff
                j += 3
              }
              AviFrameStats(id, k, avi.width, avi.height, np, r, g, b)
          }
        }
      }
  }

  final case class SampledFrame(
      doc_id: Long, frame_idx: Int, offset: Long, n_bytes: Int,
      width: Int, height: Int, checksum: Long)

  /** REAL video frame sampling: demux the payload as RIFF/AVI
    * ([[parseAvi]]) and emit every `everyN`-th video frame up to
    * `maxFrames` — each with its REAL parsed byte offset, length, the
    * container's dimensions, and the base-31 rolling checksum over the
    * frame's bytes (pins every byte position). One input row fans out to
    * multiple typed frame rows; malformed containers are dropped; null
    * ids excluded. Map-only, like every decode in this module.
    */
  def sampleAviFrames(
      withBinary: DataFrame,
      everyN: Int = 2,
      maxFrames: Int = 8,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[SampledFrame] = {
    require(everyN >= 1 && maxFrames >= 1)
    val spark = withBinary.sparkSession
    import spark.implicits._
    withBinary
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes = Option(bytesOrNull).getOrElse(Array.empty)
        parseAvi(bytes).toSeq.flatMap { avi =>
          avi.frames.indices.collect {
            case k if k % everyN == 0 && k / everyN < maxFrames =>
              val (off, len) = avi.frames(k)
              var cs = 0L
              var j = 0
              while (j < len) { cs = (cs * 31 + (bytes((off + j).toInt) & 0xff)) % 1000000007L; j += 1 }
              SampledFrame(id, k, off, len, avi.width, avi.height, cs)
          }
        }
      }
  }
}
