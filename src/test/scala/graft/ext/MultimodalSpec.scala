package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("ppm parse: a real P6 decode — header, comments, whitespace, raw RGB") {
    val px = Array[Byte](10, 20, 30, 40, 50, 60) // 2x1, two RGB pixels
    val canonical = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ px
    val parsed = Multimodal.parsePpm(canonical).get
    assert(parsed.width == 2 && parsed.height == 1 && parsed.maxval == 255)
    assert(parsed.pixels.toSeq == px.toSeq)
    // case-class equality is reference-based on the Array field — compare fields
    def same(a: Multimodal.PpmImage, b: Multimodal.PpmImage): Boolean =
      a.width == b.width && a.height == b.height && a.maxval == b.maxval &&
        a.pixels.toSeq == b.pixels.toSeq
    // comments + arbitrary whitespace are part of the format
    val commented = "P6 # a comment\n  2\t1 # dims\n255\n".getBytes("US-ASCII") ++ px
    assert(same(Multimodal.parsePpm(commented).get, parsed))
    // maxval < 255 is legal 1-byte-sample PPM
    val lowMax = "P6\n2 1\n63\n".getBytes("US-ASCII") ++ px
    assert(Multimodal.parsePpm(lowMax).get.maxval == 63)
    // trailing extra bytes are tolerated (stream-concatenated payloads)
    assert(same(Multimodal.parsePpm(canonical ++ Array[Byte](99)).get, parsed))
  }

  test("ppm parse: malformed payloads are dropped, hostile headers don't allocate") {
    val px = Array[Byte](1, 2, 3)
    assert(Multimodal.parsePpm("P5\n1 1\n255\n".getBytes("US-ASCII") ++ px).isEmpty) // wrong magic
    assert(Multimodal.parsePpm("P6\n1 1\n255\n".getBytes("US-ASCII")).isEmpty) // truncated plane
    assert(Multimodal.parsePpm("P6\n0 1\n255\n".getBytes("US-ASCII") ++ px).isEmpty) // zero dim
    assert(Multimodal.parsePpm("P6\n1 1\n256\n".getBytes("US-ASCII") ++ px).isEmpty) // 2-byte samples
    assert(Multimodal.parsePpm("P6\n1 1\n0\n".getBytes("US-ASCII") ++ px).isEmpty) // maxval 0
    assert(Multimodal.parsePpm(Array[Byte]()).isEmpty)
    // a header claiming a multi-GB plane must fail the Long length check,
    // not allocate: 60000*60000*3 overflows Int
    assert(Multimodal.parsePpm("P6\n60000 60000\n255\n".getBytes("US-ASCII") ++ px).isEmpty)
  }

  test("ppm encode -> decode round trip: real images, cycled text plane, exact stats") {
    import spark.implicits._
    // id 9: w = 8 + 1 = 9, h = 8 + 1 = 9; id 0: w = 8, h = 8
    val docs = Seq((9L, "ab"), (0L, "")).toDF("doc_id", "text")
    val feats = Multimodal.ppmFeatures(Multimodal.encodePpm(docs)).collect().sortBy(_.doc_id)
    assert(feats.length == 2)
    val black = feats(0)
    assert(black.width == 8 && black.height == 8 && black.maxval == 255)
    assert(black.n_pixels == 64 && black.sum_r == 0 && black.mean_g == 0.0)
    val ab = feats(1)
    assert(ab.width == 9 && ab.height == 9 && ab.n_pixels == 81)
    // plane = "ababab..." (243 bytes): position k holds 'a' (97) if k even
    // else 'b' (98); channel c sums positions 3p+c, p in 0..80, so R gets
    // ceil(81/2)=41 a's + 40 b's, G gets 3p+1 (odd when p even) = 41 b's...
    val a = 'a'.toInt; val b = 'b'.toInt
    assert(ab.sum_r == 41 * a + 40 * b)
    assert(ab.sum_g == 41 * b + 40 * a)
    assert(ab.sum_b == ab.sum_r)
    assert(ab.mean_r == ab.sum_r.toDouble / 81)
    // deterministic across partitionings
    val again = Multimodal.ppmFeatures(Multimodal.encodePpm(docs.repartition(7)))
      .collect().sortBy(_.doc_id)
    assert(again.toSeq == feats.toSeq)
  }

  test("ppm nearest-neighbor resize: exact source indexing on a known grid") {
    import spark.implicits._
    // hand-build a 2x2 image with distinct per-pixel values and resize 1x1:
    // nearest-neighbor with floor picks source pixel (0, 0)
    val px = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val df = Seq((1L, img)).toDF("doc_id", "payload")
    val one = Multimodal.resizePpm(df, targetW = 1, targetH = 1).collect().head
    assert(one.src_w == 2 && one.src_h == 2 && one.out_w == 1 && one.out_h == 1)
    assert((one.sum_r, one.sum_g, one.sum_b) == (1L, 2L, 3L))
    assert(one.checksum == ((1L * 31 + 2) * 31 + 3) % 1000000007L)
    // upscale 2x2 -> 4x4 replicates each source pixel 4x: sums scale by 4
    val up = Multimodal.resizePpm(df, targetW = 4, targetH = 4).collect().head
    assert(up.sum_r == 4L * (1 + 4 + 7 + 10))
    assert(up.sum_g == 4L * (2 + 5 + 8 + 11))
    assert(up.sum_b == 4L * (3 + 6 + 9 + 12))
    // malformed payloads drop out
    val bad = Seq((2L, "not an image".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    assert(Multimodal.resizePpm(bad, 2, 2).collect().isEmpty)
    assert(Multimodal.ppmFeatures(bad).collect().isEmpty)
  }

  test("ppm thumbnail: resize emits a REAL image that parses back to the resized grid") {
    import spark.implicits._
    // 2x2 source with distinct pixels, upscaled 4x4: the emitted payload
    // must be valid P6 whose parse returns exactly the nearest-neighbor
    // replicated plane (each source pixel 4x)
    val px = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val df = Seq((1L, img)).toDF("doc_id", "payload")
    val out = Multimodal.resizePpmImage(df, targetW = 4, targetH = 4).collect().head
    val payload = out.getAs[Array[Byte]]("payload")
    val parsed = Multimodal.parsePpm(payload).get
    assert(parsed.width == 4 && parsed.height == 4 && parsed.maxval == 255)
    def pixAt(sx: Int, sy: Int): Seq[Byte] = px.slice(3 * (sy * 2 + sx), 3 * (sy * 2 + sx) + 3).toSeq
    val expect = (0 until 4).flatMap { ty =>
      (0 until 4).flatMap(tx => pixAt(tx * 2 / 4, ty * 2 / 4))
    }
    assert(parsed.pixels.toSeq == expect)
    // and the stats view over the emitted thumbnail agrees with resizePpm
    // on the original (shared resizePlane — the two cannot diverge)
    val statsDirect = Multimodal.resizePpm(df, 4, 4).collect().head
    val statsOfThumb = Multimodal.ppmFeatures(
      Multimodal.resizePpmImage(df, 4, 4)).collect().head
    assert((statsOfThumb.sum_r, statsOfThumb.sum_g, statsOfThumb.sum_b) ==
      ((statsDirect.sum_r, statsDirect.sum_g, statsDirect.sum_b)))
    // malformed inputs drop
    assert(Multimodal.resizePpmImage(
      Seq((2L, "junk".getBytes("US-ASCII"))).toDF("doc_id", "payload"), 4, 4).collect().isEmpty)
  }

  test("avi demux: encode -> parse round trip with real offsets and frame bytes") {
    import spark.implicits._
    // id 7 -> 1 + 7%5 = 3 frames; every 2nd up to 4 -> frames 0, 2
    val docs = Seq((7L, "abc")).toDF("doc_id", "text")
    val frames = Multimodal.sampleAviFrames(Multimodal.encodeAvi(docs), everyN = 2, maxFrames = 4)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames.map(_.offset).toSeq == Seq(108L, 108L + 2 * 152L)) // writer layout
    assert(frames.forall(f => f.n_bytes == 144 && f.width == 8 && f.height == 6))
    // frame k byte j = text byte (k+j) % 3: replicate the checksum directly
    def cs(k: Int): Long =
      (0 until 144).foldLeft(0L)((a, j) => (a * 31 + "abc".charAt((k + j) % 3).toInt) % 1000000007L)
    assert(frames.map(_.checksum).toSeq == Seq(cs(0), cs(2)))
  }

  test("avi frame stats: exact channel sums per demuxed frame; foreign-length frames skipped") {
    import spark.implicits._
    // id 0 -> 1 frame; plane = "ab" cycled: byte j = 'a' if j even else 'b'
    // (k = 0). Channels: r = positions 3p (even iff p even): 24 a + 24 b...
    // 48 pixels: p in 0..47 -> 3p parity = p parity -> 24 each
    val docs = Seq((0L, "ab")).toDF("doc_id", "text")
    val st = Multimodal.aviFrameStats(Multimodal.encodeAvi(docs)).collect()
    assert(st.length == 1)
    val f = st.head
    assert(f.width == 8 && f.height == 6 && f.n_pixels == 48)
    val a = 'a'.toInt; val b = 'b'.toInt
    assert(f.sum_r == 24 * a + 24 * b)
    // g: 3p+1 parity = opposite of p parity -> also 24/24, same sum
    assert(f.sum_g == f.sum_r && f.sum_b == f.sum_r)
    // a frame whose chunk length isn't 3*w*h (compressed/foreign stream)
    // must be skipped, not misread: hand-build a 2x1 avi with one 6-byte
    // frame and one 4-byte frame
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def cc(s: String) = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]) = cc(id) ++ le32(body.length) ++ body
    def list(tpe: String, body: Array[Byte]) = cc("LIST") ++ le32(4 + body.length) ++ cc(tpe)
      .++(body)
    val avih = chunk("avih", le32(100000) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(2) ++
      le32(0) ++ le32(1) ++ le32(6) ++ le32(2) ++ le32(1) ++ Array.fill(16)(0.toByte))
    val movi = list("movi", chunk("00db", Array[Byte](10, 20, 30, 40, 50, 60)) ++
      chunk("00db", Array[Byte](1, 2, 3, 4)))
    val body = list("hdrl", avih) ++ movi
    val avi = cc("RIFF") ++ le32(4 + body.length) ++ cc("AVI ") ++ body
    val st2 = Multimodal.aviFrameStats(Seq((1L, avi)).toDF("doc_id", "payload")).collect()
    assert(st2.length == 1 && st2.head.frame_idx == 0)
    assert((st2.head.sum_r, st2.head.sum_g, st2.head.sum_b) == ((10L + 40L, 20L + 50L, 30L + 60L)))
  }

  test("avi walker: strl lists, junk chunks, odd-size padding, rec groups, malformed drops") {
    def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(body.length) ++ body ++ (if (body.length % 2 == 1) Array[Byte](0) else Array[Byte]())
    def list(tpe: String, body: Array[Byte]): Array[Byte] =
      cc("LIST") ++ le32(4 + body.length) ++ cc(tpe) ++ body
    val avih = chunk("avih",
      le32(100000) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(2) ++ le32(0) ++ le32(1) ++
        le32(6) ++ le32(2) ++ le32(1) ++ Array.fill(16)(0.toByte)) // 2 frames, 2x1
    // a hostile-ish but VALID container: junk chunk of odd size (padded),
    // an strl sub-list the walker must skip, one bare frame + one inside
    // a rec group, and a trailing non-frame chunk in movi
    val hdrl = list("hdrl", avih ++ list("strl", chunk("strh", Array.fill(11)(7.toByte))))
    val movi = list("movi",
      chunk("00db", Array[Byte](1, 2, 3, 4, 5, 6)) ++
        chunk("idx1", Array[Byte](9, 9)) ++
        list("rec ", chunk("00dc", Array[Byte](6, 5, 4, 3, 2, 1))))
    val body = chunk("JUNK", Array.fill(5)(1.toByte)) ++ hdrl ++ movi
    val avi = cc("RIFF") ++ le32(4 + body.length) ++ cc("AVI ") ++ body
    val parsed = Multimodal.parseAvi(avi).get
    assert(parsed.width == 2 && parsed.height == 1 && parsed.totalFrames == 2)
    assert(parsed.frames.map(_._2) == Seq(6, 6))
    val (o0, _) = parsed.frames.head
    assert(avi.slice(o0.toInt, o0.toInt + 6).toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    // malformed containers drop
    assert(Multimodal.parseAvi(cc("RIFF") ++ le32(4) ++ cc("WAVE")).isEmpty) // not AVI
    assert(Multimodal.parseAvi(avi.dropRight(3)).isEmpty) // truncated final chunk
    assert(Multimodal.parseAvi(cc("RIFF") ++ le32(4 + movi.length) ++ cc("AVI ") ++ movi).isEmpty) // no avih
    assert(Multimodal.parseAvi(cc("RIFF") ++ le32(4 + hdrl.length) ++ cc("AVI ") ++ hdrl).isEmpty) // no movi
    assert(Multimodal.parseAvi(Array[Byte]()).isEmpty)
  }

  test("pcm16 decode: little-endian sign fix-up, frame stats, odd tail ignored") {
    import spark.implicits._
    // samples (s16le): 1, -1, 32767, -32768, 0 — plus one odd trailing byte
    val bytes = Array[Byte](
      0x01, 0x00, // 1
      0xFF.toByte, 0xFF.toByte, // -1
      0xFF.toByte, 0x7F, // 32767
      0x00, 0x80.toByte, // -32768
      0x00, 0x00, // 0
      0x7F) // trailing odd byte -> ignored
    val df = Seq((1L, bytes)).toDF("doc_id", "payload")
    val out = Multimodal.decodePcm16Frames(df, frameSize = 2).collect().sortBy(_.frame_idx)
    assert(out.map(f => (f.frame_idx, f.n_samples, f.peak)).toSeq ==
      Seq((0, 2L, 1L), (1, 2L, 32768L), (2, 1L, 0L)))
    assert(math.abs(out(0).rms - math.sqrt((1.0 + 1.0) / 2)) < 1e-15)
    assert(out(1).rms == math.sqrt((32767.0 * 32767 + 32768.0 * 32768) / 2))
    assert(out(2).rms == 0.0)
  }

  test("pcm16 decode: empty, sub-sample, and null payloads yield no frames; null ids excluded") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(Array[Byte](0x42))), // 1 byte < 1 sample
      (Some(2L), Some(Array.emptyByteArray)),
      (Some(3L), None),
      (None, Some(Array[Byte](1, 0, 2, 0)))).toDF("doc_id", "payload")
    assert(Multimodal.decodePcm16Frames(df).collect().isEmpty)
  }

  test("pcm16 resample: every factor-th sample survives, byte-exact; guards hold") {
    import spark.implicits._
    // samples 1,2,3,4,5,6,7 (s16le) + odd trailing byte
    val bytes = (1 to 7).flatMap(v => Seq(v.toByte, 0.toByte)).toArray :+ 0x7F.toByte
    val df = Seq((1L, bytes)).toDF("doc_id", "payload")
    val out = Multimodal.resamplePcm16(df, factor = 3).collect().head
    assert(out.n_samples_in == 7 && out.n_samples_out == 3)
    // samples 1, 4, 7 re-encoded little-endian
    assert(out.resampled.toSeq == Seq[Byte](1, 0, 4, 0, 7, 0))
    val identity = Multimodal.resamplePcm16(df, factor = 1).collect().head
    assert(identity.resampled.toSeq == bytes.dropRight(1).toSeq)
    intercept[IllegalArgumentException](Multimodal.resamplePcm16(df, factor = 0))
    val empties = Multimodal.resamplePcm16(
      Seq((Some(2L), Some(Array.emptyByteArray)), (Some(3L), None), (None, Some(bytes)))
        .toDF("doc_id", "payload"), factor = 2).collect()
    assert(empties.map(r => (r.doc_id, r.n_samples_out, r.resampled.length)).toSet ==
      Set((2L, 0L, 0), (3L, 0L, 0)))
  }

  test("filtered resample: DC passes at unit gain, Nyquist-rate tones are crushed") {
    import spark.implicits._
    def encode(samples: Seq[Int]): Array[Byte] =
      samples.flatMap { v => val u = v & 0xffff; Seq((u & 0xff).toByte, (u >> 8).toByte) }.toArray
    def decode(bytes: Array[Byte]): Seq[Int] =
      bytes.grouped(2).map { p =>
        val u = (p(1) & 0xff) * 256 + (p(0) & 0xff); if (u > 32767) u - 65536 else u
      }.toSeq
    val factor = 3
    val q = Multimodal.firLowpassQ15(factor)
    val h = (q.length - 1) / 2
    // DC: constant 1000. Interior outputs (all taps inside the signal) must
    // be EXACTLY floorDiv(1000 * sum(q), 2^15) — unit gain up to Q15 round
    val dcIn = Seq.fill(60)(1000)
    val dc = Multimodal.resamplePcm16Filtered(
      Seq((1L, encode(dcIn))).toDF("doc_id", "payload"), factor).collect().head
    assert(dc.n_samples_in == 60 && dc.n_samples_out == 20)
    val expectDc = Math.floorDiv(1000L * q.map(_.toLong).sum, 32768L).toInt
    val dcOut = decode(dc.resampled)
    val interior = dcOut.zipWithIndex.filter { case (_, j) =>
      j * factor - h >= 0 && j * factor + h < dcIn.length
    }.map(_._1)
    assert(interior.nonEmpty && interior.forall(_ == expectDc))
    assert(math.abs(expectDc - 1000) <= 2, s"DC gain off: $expectDc")
    // aliasing: a +A/-A tone at the SOURCE Nyquist rate. Raw decimation by 3
    // aliases it to a full-amplitude +A/-A tone; the filter must crush it.
    val a = 8000
    val nyq = Seq.tabulate(60)(i => if (i % 2 == 0) a else -a)
    val raw = Multimodal.resamplePcm16(
      Seq((1L, encode(nyq))).toDF("doc_id", "payload"), factor).collect().head
    assert(decode(raw.resampled).forall(v => math.abs(v) == a)) // the aliasing artifact
    val filt = Multimodal.resamplePcm16Filtered(
      Seq((1L, encode(nyq))).toDF("doc_id", "payload"), factor).collect().head
    val filtInterior = decode(filt.resampled).zipWithIndex.filter { case (_, j) =>
      j * factor - h >= 0 && j * factor + h < nyq.length
    }.map(_._1)
    assert(filtInterior.nonEmpty && filtInterior.forall(v => math.abs(v) < a / 20),
      s"Nyquist tone survived the low-pass: $filtInterior")
    // saturating clamp: full-scale DC cannot wrap (sum q > 2^15 by rounding)
    val loud = Multimodal.resamplePcm16Filtered(
      Seq((1L, encode(Seq.fill(60)(32767)))).toDF("doc_id", "payload"), factor).collect().head
    assert(decode(loud.resampled).forall(v => v >= -32768 && v <= 32767))
    // empty payload + odd-byte + count contracts match the raw resampler
    val empt = Multimodal.resamplePcm16Filtered(
      Seq((2L, Array.emptyByteArray)).toDF("doc_id", "payload"), factor).collect().head
    assert(empt.n_samples_out == 0 && empt.resampled.isEmpty)
  }

  test("avi walker: multi-stream container takes the strl-declared video stream only") {
    def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(body.length) ++ body ++ (if (body.length % 2 == 1) Array[Byte](0) else Array[Byte]())
    def list(tpe: String, body: Array[Byte]): Array[Byte] =
      cc("LIST") ++ le32(4 + body.length) ++ cc(tpe) ++ body
    val avih = chunk("avih",
      le32(100000) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(2) ++
        le32(6) ++ le32(2) ++ le32(1) ++ Array.fill(16)(0.toByte)) // 1 frame, 2x1, 2 streams
    // stream 00 = audio (auds), stream 01 = video (vids): data chunks are
    // prefixed by stream NUMBER, so the video frames are 01db/01dc
    val hdrl = list("hdrl", avih ++
      list("strl", chunk("strh", cc("auds") ++ Array.fill(7)(0.toByte))) ++
      list("strl", chunk("strh", cc("vids") ++ Array.fill(7)(0.toByte))))
    val movi = list("movi",
      chunk("00dc", Array[Byte](9, 9, 9, 9, 9, 9)) ++ // audio-stream chunk: must NOT be a frame
        chunk("01db", Array[Byte](1, 2, 3, 4, 5, 6)))
    val body = hdrl ++ movi
    val avi = cc("RIFF") ++ le32(4 + body.length) ++ cc("AVI ") ++ body
    val parsed = Multimodal.parseAvi(avi).get
    assert(parsed.frames.length == 1)
    val (off, len) = parsed.frames.head
    assert(len == 6 && avi.slice(off.toInt, off.toInt + 6).toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    // and a vids stream at number 00 keeps its 00db chunks (regression
    // guard for the no-strl default path exercised by the writer tests)
    val hdrl0 = list("hdrl", avih ++ list("strl", chunk("strh", cc("vids") ++ Array.fill(7)(0.toByte))))
    val movi0 = list("movi", chunk("00db", Array[Byte](1, 2, 3, 4, 5, 6)))
    val b0 = hdrl0 ++ movi0
    val avi0 = cc("RIFF") ++ le32(4 + b0.length) ++ cc("AVI ") ++ b0
    assert(Multimodal.parseAvi(avi0).get.frames.length == 1)
  }

  test("bmp parse: bottom-up flip, BGR swap, stride padding — a real decode") {
    // 2x2, 24bpp: stride = ((3*2+3)/4)*4 = 8, two pad bytes per row.
    // File rows (bottom-up): row0 = LOGICAL bottom row, row1 = top row.
    def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte)
    val header =
      "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
        le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    // logical top row pixels (RGB): (1,2,3) (4,5,6); bottom: (7,8,9) (10,11,12)
    val fileRows = Array[Byte](
      9, 8, 7, 12, 11, 10, 99, 99, // file row 0 = logical bottom, BGR, pads 99
      3, 2, 1, 6, 5, 4, 88, 88) // file row 1 = logical top
    val img = Multimodal.parseBmp(header ++ fileRows).get
    assert(img.width == 2 && img.height == 2)
    assert(img.pixels.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    // negative height = top-down: same bytes now read in file order
    val headerTd =
      "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(-2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
        le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    val td = Multimodal.parseBmp(headerTd ++ fileRows).get
    assert(td.pixels.toSeq == Seq[Byte](7, 8, 9, 10, 11, 12, 1, 2, 3, 4, 5, 6))
    // malformed drops: bad magic, wrong depth, truncated pixel area,
    // hostile dims (multi-GB claim must not allocate)
    assert(Multimodal.parseBmp(("XX".getBytes("US-ASCII") ++ header.drop(2) ++ fileRows)).isEmpty)
    val header8 = header.take(28) ++ le16(8) ++ header.drop(30)
    assert(Multimodal.parseBmp(header8 ++ fileRows).isEmpty)
    assert(Multimodal.parseBmp(header ++ fileRows.take(10)).isEmpty)
    val headerHuge =
      "BM".getBytes("US-ASCII") ++ le32(54) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(60000) ++ le32(60000) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    assert(Multimodal.parseBmp(headerHuge).isEmpty)
    assert(Multimodal.parseBmp(Array[Byte]()).isEmpty)
  }

  test("bmp encode -> decode round trip: features match the byte model") {
    import spark.implicits._
    // id 1 -> w = 9, h = 8; stride = ((27+3)/4)*4 = 28 (1 pad byte/row);
    // text "ab" cycled over the whole 224-byte area
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    val enc = Multimodal.encodeBmp(docs).collect().head
    val payload = enc.getAs[Array[Byte]]("payload")
    assert(payload.length == 54 + 28 * 8)
    val f = Multimodal.bmpFeatures(Multimodal.encodeBmp(docs)).collect().head
    assert(f.width == 9 && f.height == 8 && f.n_pixels == 72)
    // replicate the byte model: logical (x,y,c) -> file byte (h-1-y)*st + 3x + (2-c)
    val data = "ab".getBytes("UTF-8")
    def fileByte(k: Int): Int = data(k % 2) & 0xff
    var (r, g, b, cs) = (0L, 0L, 0L, 0L)
    for (y <- 0 until 8; x <- 0 until 9; c <- 0 until 3) {
      val v = fileByte((8 - 1 - y) * 28 + 3 * x + (2 - c))
      if (c == 0) r += v else if (c == 1) g += v else b += v
      cs = (cs * 31 + v) % 1000000007L
    }
    assert((f.sum_r, f.sum_g, f.sum_b, f.checksum) == ((r, g, b, cs)))
    // null and negative ids are excluded (the floorMod-vs-% domain guard)
    val mixed = Seq((Some(-3L), "x"), (None, "y"), (Some(2L), "z"))
      .toDF("doc_id", "text")
    assert(Multimodal.encodeBmp(mixed).select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("wav container: encode -> parse round trip; chunk walk skips foreign chunks") {
    import spark.implicits._
    // "abcd" -> 4 data bytes = 2 samples; canonical header is 44 bytes
    val docs = Seq((3L, "abcd")).toDF("doc_id", "text")
    val payload = Multimodal.encodeWav(docs).collect().head.getAs[Array[Byte]]("payload")
    assert(payload.length == 48)
    val wav = Multimodal.parseWav(payload).get
    assert(wav.sampleRate == 16000 && wav.dataOffset == 44 && wav.dataLen == 4)
    // frame stats agree with the raw-PCM kernel over the same bytes
    val viaWav = Multimodal.wavFrameStats(Multimodal.encodeWav(docs)).collect().head
    val viaRaw = Multimodal.decodePcm16Frames(Multimodal.attachBinary(docs)).collect().head
    assert((viaWav.n_samples, viaWav.rms, viaWav.peak) == ((viaRaw.n_samples, viaRaw.rms, viaRaw.peak)))
    assert(viaWav.sample_rate == 16000)
    // odd text byte count: the trailing byte is truncated at ENCODE
    val odd = Multimodal.encodeWav(Seq((4L, "abcde")).toDF("doc_id", "text"))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.parseWav(odd).get.dataLen == 4)
    // a hostile-ish but VALID container: LIST INFO chunk before fmt,
    // an odd-size junk chunk (padded), fmt, then data
    def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(body.length) ++ body ++ (if (body.length % 2 == 1) Array[Byte](0) else Array[Byte]())
    val fmt = chunk("fmt ", le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16))
    val data = chunk("data", Array[Byte](1, 2, 3, 4, 5, 6))
    val body = chunk("LIST", cc("INFO") ++ chunk("IART", Array.fill(3)(65.toByte))) ++
      chunk("junk", Array.fill(5)(9.toByte)) ++ fmt ++ data
    val wavBytes = cc("RIFF") ++ le32(4 + body.length) ++ cc("WAVE") ++ body
    val parsed = Multimodal.parseWav(wavBytes).get
    assert(parsed.sampleRate == 8000 && parsed.dataLen == 6)
    assert(wavBytes.slice(parsed.dataOffset, parsed.dataOffset + 6).toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6))
    // malformed / unsupported drop: bad magic, stereo, 8-bit, float tag,
    // missing fmt, missing data, truncated chunk
    assert(Multimodal.parseWav(cc("RIFF") ++ le32(4) ++ cc("AVI ")).isEmpty)
    val stereoFmt = chunk("fmt ", le16(1) ++ le16(2) ++ le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16))
    assert(Multimodal.parseWav(cc("RIFF") ++ le32(4 + (stereoFmt ++ data).length) ++ cc("WAVE") ++ stereoFmt ++ data).isEmpty)
    val floatFmt = chunk("fmt ", le16(3) ++ le16(1) ++ le32(8000) ++ le32(32000) ++ le16(4) ++ le16(32))
    assert(Multimodal.parseWav(cc("RIFF") ++ le32(4 + (floatFmt ++ data).length) ++ cc("WAVE") ++ floatFmt ++ data).isEmpty)
    assert(Multimodal.parseWav(cc("RIFF") ++ le32(4 + data.length) ++ cc("WAVE") ++ data).isEmpty)
    assert(Multimodal.parseWav(cc("RIFF") ++ le32(4 + fmt.length) ++ cc("WAVE") ++ fmt).isEmpty)
    assert(Multimodal.parseWav(wavBytes.dropRight(3)).isEmpty)
    assert(Multimodal.parseWav(Array[Byte]()).isEmpty)
  }

  test("png: encode -> parse round trip recovers the byte model through all five filters") {
    import spark.implicits._
    // id 0 -> 8x8: rows exercise filters 0,1,2,3,4,0,1,2 (y % 5)
    val docs = Seq((0L, "the quick brown fox"), (13L, ""), (27L, "zz")).toDF("doc_id", "text")
    val rows = Multimodal.encodePng(docs).collect()
    for (r <- rows) {
      val id = r.getAs[Long]("doc_id")
      val payload = r.getAs[Array[Byte]]("payload")
      val img = Multimodal.parsePng(payload).get
      val w = 8 + (id % 8).toInt
      val h = 8 + ((id / 8) % 8).toInt
      assert(img.width == w && img.height == h && img.maxval == 255)
      val data = docs.filter($"doc_id" === id).head().getString(1).getBytes("UTF-8")
      val expect = Array.tabulate(3 * w * h)(k => if (data.isEmpty) 0.toByte else data(k % data.length))
      assert(img.pixels.toSeq == expect.toSeq, s"plane mismatch for id $id")
    }
    // cross-codec consistency: PNG shares the PPM byte model exactly (BMP's
    // logical plane is the BGR-swapped model, so it is NOT comparable here)
    val viaPng = Multimodal.pngFeatures(Multimodal.encodePng(docs)).collect()
      .map(f => (f.doc_id, f.width, f.height, f.sum_r, f.sum_g, f.sum_b)).toSet
    val viaPpm = Multimodal.ppmFeatures(Multimodal.encodePpm(docs)).collect()
      .map(f => (f.doc_id, f.width, f.height, f.sum_r, f.sum_g, f.sum_b)).toSet
    assert(viaPng == viaPpm)
  }

  test("inflate: differential against JDK Deflater across levels, sizes, and block types") {
    val rnd = new scala.util.Random(42)
    val corpora = Seq(
      Array.emptyByteArray,
      Array[Byte](7),
      Array.fill(100)(rnd.nextInt(256).toByte),
      ("the quick brown fox jumps over the lazy dog " * 1600).getBytes("UTF-8"), // ~70 KB, repetitive
      Array.fill(70000)(rnd.nextInt(256).toByte)) // > one stored block at level 0
    for (data <- corpora; level <- Seq(0, 1, 6, 9)) {
      val d = new java.util.zip.Deflater(level, false) // zlib-wrapped
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
      d.end()
      val z = out.toByteArray
      val back = Multimodal.zlibInflate(z, 0, z.length, data.length)
      assert(back.sameElements(data), s"level $level size ${data.length}")
    }
  }

  test("inflate: hand-built fixed-Huffman block with an overlapping back-reference") {
    // LSB-first bit writer; Huffman codes are emitted MSB-of-code-first
    val bytes = scala.collection.mutable.ArrayBuffer[Byte]()
    var cur = 0; var nb = 0
    def bit(b: Int): Unit = { cur |= (b & 1) << nb; nb += 1; if (nb == 8) { bytes += cur.toByte; cur = 0; nb = 0 } }
    def bits(v: Int, k: Int): Unit = (0 until k).foreach(i => bit((v >> i) & 1))
    def huff(code: Int, len: Int): Unit = (len - 1 to 0 by -1).foreach(i => bit((code >> i) & 1))
    bits(1, 1) // BFINAL
    bits(1, 2) // BTYPE = fixed
    huff(0x30 + 'a', 8) // literal 'a' (codes 0..143 are 8-bit starting at 0x30)
    huff(0x30 + 'b', 8) // literal 'b'
    huff(2, 7) // length symbol 258 = base length 4, no extra bits
    huff(1, 5) // distance symbol 1 = distance 2, no extra bits
    huff(0, 7) // end of block (symbol 256)
    if (nb > 0) bytes += cur.toByte
    val arr = bytes.toArray
    // dist 2 < len 4: the copy must read bytes it just wrote ("ab" -> "ababab")
    assert(new String(Multimodal.inflate(arr, 0, arr.length, 6), "US-ASCII") == "ababab")

    // dynamic blocks (RFC 1951 §3.2.7) by hand: `cl` is the code-length
    // code's lengths, `lens` the HLIT literal/length lengths then the
    // distance lengths, each sent as one code-length symbol; `body` is
    // (distance alphabet?, symbol) under the codes `lens` makes, every
    // symbol chosen without extra bits
    def canon(l: Array[Int]): Array[Int] = {
      val codes = new Array[Int](l.length)
      var code = 0
      var prev = 0
      for (s <- l.indices.filter(l(_) > 0).sortBy(s => (l(s), s))) {
        code <<= l(s) - prev; prev = l(s); codes(s) = code; code += 1
      }
      codes
    }
    def dynamic(cl: Map[Int, Int], hlit: Int, lens: Map[Int, Int], hdist: Int,
        body: Seq[(Boolean, Int)]): Array[Byte] = {
      val clLens = Array.tabulate(19)(cl.getOrElse(_, 0))
      val all = Array.tabulate(hlit + hdist)(lens.getOrElse(_, 0))
      val (clCodes, lit, dist) = (canon(clLens), canon(all.take(hlit)), canon(all.drop(hlit)))
      val w = new Bits.LsbWriter
      w.put(1, 1); w.put(2, 2) // BFINAL, BTYPE = dynamic
      w.put(hlit - 257, 5); w.put(hdist - 1, 5); w.put(19 - 4, 4)
      Seq(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15).foreach(s => w.put(clLens(s), 3))
      all.foreach(l => w.putCode(clCodes(l), clLens(l)))
      body.foreach { case (isDist, s) =>
        if (isDist) w.putCode(dist(s), all(hlit + s)) else w.putCode(lit(s), all(s))
      }
      w.toArray
    }
    def ours(b: Array[Byte]): Option[String] =
      try Some(new String(Multimodal.inflate(b, 0, b.length, 16), "US-ASCII"))
      catch { case _: Exception => None }
    def zlib(b: Array[Byte]): Option[String] = {
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b :+ 0.toByte) // nowrap wants one byte past the stream
      val out = new Array[Byte](16)
      try { val n = inf.inflate(out); if (inf.finished()) Some(new String(out, 0, n, "US-ASCII")) else None }
      catch { case _: java.util.zip.DataFormatException => None }
      finally inf.end()
    }
    val (a, b, c, eob, len3) = ('a'.toInt, 'b'.toInt, 'c'.toInt, 256, 257)
    // zlib's one-distance-code block: a complete literal/length code and
    // a single length-1 distance code, incomplete; both decoders take it
    val oneDist = dynamic(cl = Map(0 -> 1, 2 -> 2, 3 -> 3, 1 -> 3), hlit = 258,
      lens = Map(a -> 2, b -> 2, c -> 2, eob -> 3, len3 -> 3, 258 + 2 -> 1), hdist = 3,
      body = Seq(false -> a, false -> b, false -> c, false -> len3, true -> 2, false -> eob))
    assert(ours(oneDist).contains("abcabc") && zlib(oneDist).contains("abcabc"))
    // an over-subscribed code-length code (1 + 1 + 2 bits) and an
    // over-subscribed literal code (1 + 1 + 8 bits) are dropped, though
    // `body` only takes paths a first-match decoder would resolve
    val overCl = dynamic(cl = Map(0 -> 1, 8 -> 1, 1 -> 2), hlit = 257,
      lens = Map(a -> 8, eob -> 8), hdist = 1, body = Seq(false -> a, false -> eob))
    val overLit = dynamic(cl = Map(0 -> 1, 1 -> 2, 8 -> 2), hlit = 257,
      lens = Map(a -> 1, eob -> 1, b -> 8), hdist = 1, body = Seq(false -> a, false -> eob))
    for (over <- Seq(overCl, overLit)) assert(ours(over).isEmpty && zlib(over).isEmpty)
  }

  test("deflateDynamic: output bytes are pinned over the fixed input set") {
    val got = EncoderPins.digest(EncoderPins.inputs.map(Multimodal.deflateDynamic))
    assert(got == "b87f5f08cab1fc44c722c6e9311eae2e2c9575988658ef6e821528cdabb433c4", "deflateDynamic output moved")
  }

  test("png: multiple IDAT chunks concatenate; malformed payloads drop") {
    import spark.implicits._
    val payload = Multimodal.encodePng(Seq((0L, "abc")).toDF("doc_id", "text"))
      .collect().head.getAs[Array[Byte]]("payload")
    val reference = Multimodal.parsePng(payload).get
    def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(ctype: String, body: Array[Byte]): Array[Byte] = {
      val tb = ctype.getBytes("US-ASCII") ++ body
      be32(body.length) ++ tb ++ be32(Bits.crc32(tb, 0, tb.length))
    }
    // re-chunk: split the single IDAT into two, insert an ancillary tEXt
    val ihdrLen = 13
    val ihdrChunk = payload.slice(8, 8 + 12 + ihdrLen)
    val idatLen = ((payload(8 + 25) & 0xff) << 24) | ((payload(8 + 26) & 0xff) << 16) |
      ((payload(8 + 27) & 0xff) << 8) | (payload(8 + 28) & 0xff)
    val idatBody = payload.slice(8 + 25 + 8, 8 + 25 + 8 + idatLen)
    val (a, b) = idatBody.splitAt(idatBody.length / 2)
    val rebuilt = payload.slice(0, 8) ++ ihdrChunk ++
      chunk("tEXt", "Comment\u0000hi".getBytes("US-ASCII")) ++
      chunk("IDAT", a) ++ chunk("IDAT", b) ++ chunk("IEND", Array.emptyByteArray)
    val reparsed = Multimodal.parsePng(rebuilt).get
    assert(reparsed.width == reference.width && reparsed.pixels.toSeq == reference.pixels.toSeq)
    // malformed: corrupt one IDAT byte -> chunk CRC fails -> drop
    val corrupt = payload.clone(); corrupt(8 + 25 + 8 + 3) = (corrupt(8 + 25 + 8 + 3) ^ 0xff).toByte
    assert(Multimodal.parsePng(corrupt).isEmpty)
    // corrupt + CRC "fixed" for the new body -> Adler-32 catches it instead
    val fixedBody = corrupt.slice(8 + 25 + 4, 8 + 25 + 8 + idatLen)
    val refixed = corrupt.clone()
    System.arraycopy(be32(Bits.crc32(fixedBody, 0, fixedBody.length)), 0,
      refixed, 8 + 25 + 8 + idatLen, 4)
    assert(Multimodal.parsePng(refixed).isEmpty)
    // interlaced flag set (with CRC recomputed) on sequential data: the
    // stream no longer matches the Adam7 pass layout -> length check drops
    val inter = payload.clone(); inter(8 + 8 + 12) = 1
    val interBody = inter.slice(8 + 4, 8 + 8 + ihdrLen)
    System.arraycopy(be32(Bits.crc32(interBody, 0, interBody.length)), 0,
      inter, 8 + 8 + ihdrLen, 4)
    assert(Multimodal.parsePng(inter).isEmpty)
    assert(Multimodal.parsePng(payload.dropRight(5)).isEmpty) // truncated
    assert(Multimodal.parsePng("BM6".getBytes("US-ASCII")).isEmpty) // wrong magic
    assert(Multimodal.parsePng(Array.emptyByteArray).isEmpty)
  }

  test("png: real-world color types and Adam7 — differential against javax.imageio") {
    import java.awt.image.BufferedImage
    def writePng(bi: BufferedImage, progressive: Boolean): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(os)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      if (progressive) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      writer.dispose(); ios.close()
      os.toByteArray
    }
    val rnd = new scala.util.Random(11)
    // color type 0 (grayscale) and type 2 (RGB), sequential AND Adam7: odd
    // dims exercise the empty/ragged interlace passes
    for ((imgType, bands) <- Seq(BufferedImage.TYPE_BYTE_GRAY -> 1, BufferedImage.TYPE_3BYTE_BGR -> 3);
         progressive <- Seq(false, true)) {
      val w = 21; val h = 13
      val bi = new BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w; b <- 0 until bands)
        bi.getRaster.setSample(x, y, b, rnd.nextInt(256))
      val img = Multimodal.parsePng(writePng(bi, progressive)).get
      assert(img.width == w && img.height == h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val expect = bi.getRaster.getSample(x, y, if (bands == 1) 0 else c)
        assert((img.pixels(3 * (y * w + x) + c) & 0xff) == expect,
          s"type $imgType progressive=$progressive pixel ($x,$y,$c)")
      }
    }
    // color type 3 (palette) through a real PLTE, interlaced as well
    val gray = Array.tabulate(256)(i => i.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    for (progressive <- Seq(false, true)) {
      val w = 17; val h = 9
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w) bi.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val img = Multimodal.parsePng(writePng(bi, progressive)).get
      for (y <- 0 until h; x <- 0 until w)
        assert((img.pixels(3 * (y * w + x)) & 0xff) == bi.getRaster.getSample(x, y, 0),
          s"palette progressive=$progressive pixel ($x,$y)")
    }
    // color type 6 (RGBA): stored channel values survive, alpha is dropped
    val w6 = 11; val h6 = 7
    val argb = new BufferedImage(w6, h6, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h6; x <- 0 until w6)
      argb.setRGB(x, y, (rnd.nextInt(256) << 24) | rnd.nextInt(0x1000000))
    val img6 = Multimodal.parsePng(writePng(argb, progressive = false)).get
    for (y <- 0 until h6; x <- 0 until w6; c <- 0 until 3) {
      val expect = (argb.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      assert((img6.pixels(3 * (y * w6 + x) + c) & 0xff) == expect, s"rgba pixel ($x,$y,$c)")
    }
    // color type 4 (gray+alpha), hand-built: javax won't write it from a
    // standard BufferedImage type, the wire format is simple enough to emit
    def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(ctype: String, body: Array[Byte]): Array[Byte] = {
      val tb = ctype.getBytes("US-ASCII") ++ body
      be32(body.length) ++ tb ++ be32(Bits.crc32(tb, 0, tb.length))
    }
    val w4 = 5; val h4 = 3
    val ga = Array.tabulate(h4)(y => Array.tabulate(w4)(x => (y * w4 + x) * 16 % 256))
    val rawRows = (0 until h4).flatMap { y =>
      0.toByte +: (0 until w4).flatMap(x => Seq(ga(y)(x).toByte, 200.toByte))
    }.toArray
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(rawRows); deflater.finish()
    val zbuf = new Array[Byte](1024)
    val zlen = deflater.deflate(zbuf)
    val ihdr4 = be32(w4) ++ be32(h4) ++ Array[Byte](8, 4, 0, 0, 0)
    val png4 = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr4) ++ chunk("IDAT", zbuf.take(zlen)) ++
      chunk("IEND", Array.emptyByteArray)
    val img4 = Multimodal.parsePng(png4).get
    assert(img4.width == w4 && img4.height == h4)
    for (y <- 0 until h4; x <- 0 until w4; c <- 0 until 3)
      assert((img4.pixels(3 * (y * w4 + x) + c) & 0xff) == ga(y)(x), s"gray+alpha ($x,$y,$c)")
    // palette index past a short PLTE is malformed, not a misread
    val shortPlte = chunk("PLTE", Array[Byte](1, 2, 3, 4, 5, 6)) // 2 entries
    val idxRows = Array[Byte](0, 5) // one row, filter 0, index 5 > max 1
    val d2 = new java.util.zip.Deflater(); d2.setInput(idxRows); d2.finish()
    val z2 = new Array[Byte](64); val z2len = d2.deflate(z2)
    val png3bad = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", be32(1) ++ be32(1) ++ Array[Byte](8, 3, 0, 0, 0)) ++
      shortPlte ++ chunk("IDAT", z2.take(z2len)) ++ chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.parsePng(png3bad).isEmpty)
    // palette color type without any PLTE is malformed
    val png3none = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", be32(1) ++ be32(1) ++ Array[Byte](8, 3, 0, 0, 0)) ++
      chunk("IDAT", z2.take(z2len)) ++ chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.parsePng(png3none).isEmpty)
  }

  test("gif: encode -> parse round trip; grayscale identity palette recovers the byte model") {
    import spark.implicits._
    val docs = Seq((0L, "lzw goes round"), (9L, ""), (42L, "x")).toDF("doc_id", "text")
    for (r <- Multimodal.encodeGif(docs).collect()) {
      val id = r.getAs[Long]("doc_id")
      val img = Multimodal.parseGif(r.getAs[Array[Byte]]("payload")).get
      val w = 8 + (id % 8).toInt
      val h = 8 + ((id / 8) % 8).toInt
      assert(img.width == w && img.height == h)
      val data = docs.filter($"doc_id" === id).head().getString(1).getBytes("UTF-8")
      (0 until w * h).foreach { k =>
        val expect = if (data.isEmpty) 0 else data(k % data.length) & 0xff
        assert((img.pixels(3 * k) & 0xff) == expect, s"id $id pixel $k")
        assert(img.pixels(3 * k + 1) == img.pixels(3 * k) && img.pixels(3 * k + 2) == img.pixels(3 * k))
      }
    }
  }

  test("lzw: KwKwK case, dictionary growth via a real ImageIO stream, malformed drops") {
    // hand-built KwKwK: CLEAR, 'a', then code 258 == next -> "aa"; output "aaa"
    val codes = Seq(256, 97, 258, 257)
    val bytes = scala.collection.mutable.ArrayBuffer[Byte]()
    var buf = 0L; var cnt = 0
    for (c <- codes) {
      buf |= (c & 0x1ffL) << cnt; cnt += 9
      while (cnt >= 8) { bytes += (buf & 0xff).toByte; buf >>>= 8; cnt -= 8 }
    }
    if (cnt > 0) bytes += (buf & 0xff).toByte
    assert(new String(Multimodal.lzwDecode(bytes.toArray, 8, 3), "US-ASCII") == "aaa")
    // differential: ImageIO's GIF writer emits REAL LZW (dictionary growth,
    // width escalation, clears) — decode its stream and compare every pixel
    val size = 200 // 40k pixels: drives the dictionary well past 9-bit codes
    val gray = Array.tabulate(256)(i => i.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val bi = new java.awt.image.BufferedImage(size, size,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val raster = bi.getRaster
    val rnd = new scala.util.Random(7)
    for (y <- 0 until size; x <- 0 until size) {
      // repetitive-with-noise content: long LZW matches AND fresh entries
      val v = if (rnd.nextInt(10) == 0) rnd.nextInt(256) else (x / 4 + y / 4) % 256
      raster.setSample(x, y, 0, v)
    }
    val os = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", os))
    val img = Multimodal.parseGif(os.toByteArray).get
    assert(img.width == size && img.height == size)
    for (y <- 0 until size; x <- 0 until size) {
      val v = raster.getSample(x, y, 0)
      assert((img.pixels(3 * (y * size + x)) & 0xff) == v, s"pixel ($x,$y)")
    }
    // malformed / unsupported drops, built by corrupting a real payload:
    // layout is fixed: 13 (header+LSD) + 768 (palette) = 781 ext, 789 image
    // descriptor, 798 its packed byte
    import spark.implicits._
    val payload = Multimodal.encodeGif(Seq((0L, "abc")).toDF("doc_id", "text"))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.parseGif(payload).nonEmpty)
    val sig87 = payload.clone(); sig87(4) = '7'.toByte // GIF87a still parses
    assert(Multimodal.parseGif(sig87).nonEmpty)
    val badMagic = payload.clone(); badMagic(0) = 'J'.toByte
    assert(Multimodal.parseGif(badMagic).isEmpty)
    // flipping the interlace bit is NOT malformed: the same stream decodes
    // with the four-pass row order, permuting rows but not the pixel bag
    val inter = payload.clone(); inter(798) = (inter(798) | 0x40).toByte
    val permuted = Multimodal.parseGif(inter).get
    val straight = Multimodal.parseGif(payload).get
    assert(permuted.pixels.toSeq != straight.pixels.toSeq) // rows moved
    assert(permuted.pixels.sorted.toSeq == straight.pixels.sorted.toSeq) // same bag
    val tallByOne = payload.clone(); tallByOne(796) = (tallByOne(796) + 1).toByte // h += 1
    assert(Multimodal.parseGif(tallByOne).isEmpty) // LZW pixel count mismatch
    assert(Multimodal.parseGif(payload.dropRight(4)).isEmpty) // truncated
    assert(Multimodal.parseGif(payload.take(20)).isEmpty) // no image block
    assert(Multimodal.parseGif(Array.emptyByteArray).isEmpty)
  }

  test("ulaw: expansion matches G.711 — known values, sign symmetry, javax.sound differential") {
    // canonical extremes of the CCITT table
    assert(Multimodal.ulawExpand(0x00) == -32124)
    assert(Multimodal.ulawExpand(0x80) == 32124)
    assert(Multimodal.ulawExpand(0xff) == 0)
    assert(Multimodal.ulawExpand(0x7f) == 0) // negative zero collapses
    // flipping the sign bit negates the sample, for every code
    (0 until 256).foreach { x =>
      assert(Multimodal.ulawExpand(x ^ 0x80) == -Multimodal.ulawExpand(x), s"code $x")
    }
    // differential: the JDK's own ULAW->PCM converter over all 256 codes
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val codes = Array.tabulate(256)(_.toByte)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(codes), ulawFmt, 256)
    val pcmFmt = new AudioFormat(8000f, 16, 1, true, false) // s16le
    val pcm = AudioSystem.getAudioInputStream(pcmFmt, ais)
    val buf = pcm.readAllBytes()
    assert(buf.length == 512)
    (0 until 256).foreach { x =>
      val u = (buf(2 * x) & 0xff) | ((buf(2 * x + 1) & 0xff) << 8)
      val s = if (u > 32767) u - 65536 else u
      assert(s == Multimodal.ulawExpand(x), s"code $x: jdk $s vs ours")
    }
  }

  test("ulaw wav: container round trip; profile cross-rejection between PCM and ulaw paths") {
    import spark.implicits._
    val docs = Seq((1L, "abcde")).toDF("doc_id", "text") // odd length: pad byte path
    val payload = Multimodal.encodeWavUlaw(docs).collect().head.getAs[Array[Byte]]("payload")
    val wav = Multimodal.parseWav(payload).get
    assert(wav.fmtTag == 7 && wav.bits == 8 && wav.sampleRate == 8000 && wav.dataLen == 5)
    // frame stats expand each text byte
    val stats = Multimodal.ulawFrameStats(Multimodal.encodeWavUlaw(docs)).collect().head
    val expected = "abcde".getBytes("UTF-8").map(b => Multimodal.ulawExpand(b & 0xff))
    assert(stats.sample_rate == 8000 && stats.n_samples == 5)
    assert(stats.peak == expected.map(v => math.abs(v.toLong)).max)
    val rms = math.sqrt(expected.map(v => v.toDouble * v).sum / 5)
    assert(stats.rms == rms)
    // the PCM16 path must NOT consume a ulaw container, and vice versa
    assert(Multimodal.wavFrameStats(Multimodal.encodeWavUlaw(docs)).count() == 0)
    assert(Multimodal.ulawFrameStats(Multimodal.encodeWav(docs)).count() == 0)
  }

  test("jpeg: encode -> decode round trip matches the DC-exact block model") {
    import spark.implicits._
    // id 0 -> 1x1 block (no restart); id 7 -> 4x2 (restarts + rst cycling);
    // id 11 -> 4x3 = 12 blocks (three restart intervals); empty text -> 0-plane
    val docs = Seq((0L, "the quick brown fox"), (5L, ""), (7L, "spark"), (11L, "abcdefgh"))
      .toDF("doc_id", "text")
    val rows = Multimodal.encodeJpeg(docs).collect()
    assert(rows.length == 4)
    for (r <- rows) {
      val id = r.getAs[Long]("doc_id")
      val payload = r.getAs[Array[Byte]]("payload")
      val img = Multimodal.parseJpeg(payload).get
      val bw = 1 + (id % 4).toInt
      val bh = 1 + ((id / 4) % 3).toInt
      assert(img.width == 8 * bw && img.height == 8 * bh && img.maxval == 255)
      val data = docs.filter($"doc_id" === id).head().getString(1).getBytes("UTF-8")
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val k = (y / 8) * bw + (x / 8)
        val v = if (data.isEmpty) 0 else data(k % data.length) & 0xff
        for (c <- 0 until 3)
          assert((img.pixels(3 * (y * img.width + x) + c) & 0xff) == v,
            s"id $id pixel ($x,$y) channel $c")
      }
    }
    // zigzag generator sanity against the published sequence ends/edges
    assert(Multimodal.JpegZigzag.take(10).toSeq == Seq(0, 1, 8, 16, 9, 2, 3, 10, 17, 24))
    assert(Multimodal.JpegZigzag(63) == 63 && Multimodal.JpegZigzag.distinct.length == 64)
  }

  test("jpeg: decode differential against javax.imageio on real DCT-coded payloads") {
    // grayscale gradient + seeded noise: every AC category and both EXTEND
    // signs go live; javax writes with the standard Annex K tables, so this
    // also covers tables our own encoder doesn't use
    val w = 64; val h = 48
    val gray = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(42)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (rnd.nextInt(4) == 0) rnd.nextInt(256) else (x * 4 + y * 2) % 256
      gray.getRaster.setSample(x, y, 0, v)
    }
    val gos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "jpg", gos))
    val ourGray = Multimodal.parseJpeg(gos.toByteArray).get
    val refGray = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gos.toByteArray))
    assert(ourGray.width == w && ourGray.height == h)
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs(refGray.getRaster.getSample(x, y, 0) - (ourGray.pixels(3 * (y * w + x)) & 0xff))
      assert(d <= 1, s"gray ($x,$y) differs by $d") // JPEG conformance envelope
    }
    // 3-component YCbCr: an R=G=B luma gradient keeps both chroma planes
    // constant, so javax's interpolating upsampler and our replication
    // upsampler must agree — isolating the color-convert + 4:2:0 plumbing
    val color = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 3 + y * 5) % 256
      color.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val cos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(color, "jpg", cos))
    val ourColor = Multimodal.parseJpeg(cos.toByteArray).get
    val refColor = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cos.toByteArray))
    assert(ourColor.width == w && ourColor.height == h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val rgb = refColor.getRGB(x, y)
      val ref = (rgb >> (16 - 8 * c)) & 0xff
      val d = math.abs(ref - (ourColor.pixels(3 * (y * w + x) + c) & 0xff))
      assert(d <= 2, s"color ($x,$y) channel $c differs by $d")
    }
  }

  test("jpeg: progressive decode differential against javax.imageio") {
    import java.awt.image.BufferedImage
    def writeJpeg(bi: BufferedImage, progressive: Boolean): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(os)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      if (progressive) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      writer.dispose(); ios.close()
      os.toByteArray
    }
    val rnd = new scala.util.Random(17)
    // grayscale gradient + noise: the standard progressive scan script
    // runs DC successive approximation, banded AC first passes with EOB
    // runs, and AC refinement — every G.1.2 code path goes live. The
    // payload is one coefficient stream two ways: our progressive decode
    // must agree with javax's within the conformance envelope.
    val w = 72; val h = 56
    val gray = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (rnd.nextInt(5) == 0) rnd.nextInt(256) else (x * 3 + y * 4) % 256
      gray.getRaster.setSample(x, y, 0, v)
    }
    val progGray = writeJpeg(gray, progressive = true)
    // confirm the payload really is progressive (SOF2 present)
    assert(progGray.indices.dropRight(1)
      .exists(i => (progGray(i) & 0xff) == 0xff && (progGray(i + 1) & 0xff) == 0xc2))
    val ourGray = Multimodal.parseJpeg(progGray).get
    val refGray = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(progGray))
    assert(ourGray.width == w && ourGray.height == h)
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs(refGray.getRaster.getSample(x, y, 0) - (ourGray.pixels(3 * (y * w + x)) & 0xff))
      assert(d <= 1, s"progressive gray ($x,$y) differs by $d")
    }
    // 3-component progressive with constant chroma (R=G=B): isolates the
    // interleaved-DC / per-component-AC scan structure from upsampler
    // differences
    val color = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 5 + y * 3) % 256
      color.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val progColor = writeJpeg(color, progressive = true)
    val ourColor = Multimodal.parseJpeg(progColor).get
    val refColor = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(progColor))
    assert(ourColor.width == w && ourColor.height == h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val ref = (refColor.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      val d = math.abs(ref - (ourColor.pixels(3 * (y * w + x) + c) & 0xff))
      assert(d <= 2, s"progressive color ($x,$y,$c) differs by $d")
    }
    // progressive and sequential encodes of the same image decode to the
    // same picture through our decoder (modulo per-coefficient rounding:
    // both carry identical quantized coefficients)
    val seqGray = Multimodal.parseJpeg(writeJpeg(gray, progressive = false)).get
    var maxD = 0
    for (j <- seqGray.pixels.indices)
      maxD = math.max(maxD, math.abs((seqGray.pixels(j) & 0xff) - (ourGray.pixels(j) & 0xff)))
    assert(maxD == 0, s"sequential vs progressive self-difference $maxD")
  }

  test("jpeg: javax.imageio decodes our DC-exact payloads to the exact model plane") {
    import spark.implicits._
    val docs = Seq((7L, "spark"), (10L, "graft jpeg")).toDF("doc_id", "text")
    for (r <- Multimodal.encodeJpeg(docs).collect()) {
      val id = r.getAs[Long]("doc_id")
      val payload = r.getAs[Array[Byte]]("payload")
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(bi != null, s"javax rejected our payload for id $id")
      val bw = 1 + (id % 4).toInt
      val bh = 1 + ((id / 4) % 3).toInt
      assert(bi.getWidth == 8 * bw && bi.getHeight == 8 * bh)
      val data = docs.filter($"doc_id" === id).head().getString(1).getBytes("UTF-8")
      for (y <- 0 until bi.getHeight; x <- 0 until bi.getWidth) {
        val k = (y / 8) * bw + (x / 8)
        val v = data(k % data.length) & 0xff
        // DC-only blocks with Q[0]=8 decode exactly in ANY compliant IDCT
        assert(bi.getRaster.getSample(x, y, 0) == v, s"id $id pixel ($x,$y)")
      }
    }
  }

  test("jpeg: malformed payloads drop — progressive, truncation, bad restart, overfull DHT") {
    import spark.implicits._
    val payload = Multimodal.encodeJpeg(Seq((11L, "abcdefgh")).toDF("doc_id", "text"))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.parseJpeg(payload).isDefined)
    def findMarker(m: Int): Int = {
      val i = payload.indices.dropRight(1)
        .find(i => (payload(i) & 0xff) == 0xff && (payload(i + 1) & 0xff) == m)
      i.getOrElse(fail(s"marker $m not found"))
    }
    // SOF0 relabeled SOF2: the full-band sequential scan header is
    // illegal in progressive mode (B.2.3) — rejected, not mis-decoded
    val prog = payload.clone(); prog(findMarker(0xc0) + 1) = 0xc2.toByte
    assert(Multimodal.parseJpeg(prog).isEmpty)
    // first RST0 relabeled RST5: the expected-marker check must fire
    val badRst = payload.clone(); badRst(findMarker(0xd0) + 1) = 0xd5.toByte
    assert(Multimodal.parseJpeg(badRst).isEmpty)
    // truncation mid-entropy-data: the bit reader must not run off the end
    assert(Multimodal.parseJpeg(payload.dropRight(8)).isEmpty)
    // over-full Huffman table (three 1-bit codes) fails at table build
    val overfull = Array[Int](0xff, 0xd8, 0xff, 0xc4, 0x00, 0x16,
      0x00, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3).map(_.toByte)
    assert(Multimodal.parseJpeg(overfull).isEmpty)
    // non-JPEG and empty inputs
    assert(Multimodal.parseJpeg(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.parseJpeg(Array.empty[Byte]).isEmpty)
    // and through the Dataset path: a corrupt row drops, the good row survives
    val good = Multimodal.encodeJpeg(Seq((11L, "abcdefgh")).toDF("doc_id", "text"))
      .select($"doc_id", $"payload")
    val feats = Multimodal.jpegFeatures(good.union(Seq((99L, prog)).toDF("doc_id", "payload")))
      .collect()
    assert(feats.map(_.doc_id).toSeq == Seq(11L))
  }

  test("sniff: magic-byte dispatch routes a mixed corpus to all six decoders") {
    import spark.implicits._
    // ids 0..5 cover each format residue exactly once; 7 re-hits bmp with
    // a second canvas; empty text exercises the 0-plane through gif
    val docs = Seq((0L, "ppm doc"), (1L, "bmp doc"), (2L, "png doc"), (3L, ""),
      (4L, "jpeg doc"), (5L, "webp doc"), (7L, "second bmp")).toDF("doc_id", "text")
    val feats = Multimodal.sniffFeatures(Multimodal.encodeMixed(docs)).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 7L))
    assert(feats(0L).format == "ppm" && feats(1L).format == "bmp" && feats(2L).format == "png")
    assert(feats(3L).format == "gif" && feats(4L).format == "jpeg" && feats(7L).format == "bmp")
    assert(feats(5L).format == "webp")
    // empty-text gif decodes to the all-zero plane
    assert(feats(3L).sum_r == 0 && feats(3L).checksum == 0)
    // cross-check the unified reduction against each single-format path
    val viaPpm = Multimodal.ppmFeatures(Multimodal.encodePpm(docs.filter($"doc_id" === 0))).head()
    assert((feats(0L).sum_r, feats(0L).sum_g, feats(0L).sum_b) ==
      ((viaPpm.sum_r, viaPpm.sum_g, viaPpm.sum_b)))
    val viaJpeg = Multimodal.jpegFeatures(Multimodal.encodeJpeg(docs.filter($"doc_id" === 4))).head()
    assert(feats(4L).checksum == viaJpeg.checksum && feats(4L).sum_g == viaJpeg.sum_g)
    val viaBmp = Multimodal.bmpFeatures(Multimodal.encodeBmp(docs.filter($"doc_id" === 7))).head()
    assert(feats(7L).checksum == viaBmp.checksum && feats(7L).sum_r == viaBmp.sum_r)
    val viaWebp = Webp.webpFeatures(Webp.encodeWebp(docs.filter($"doc_id" === 5))).head()
    assert(feats(5L).checksum == viaWebp.checksum && feats(5L).sum_b == viaWebp.sum_b)
    // unknown signatures and mis-parsing payloads drop row-by-row
    assert(Multimodal.sniffImage("XX not an image".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.sniffImage(Array[Byte](0xff.toByte, 0xd8.toByte, 0, 0)).isEmpty)
    assert(Multimodal.sniffImage(Array[Byte]('P', '6')).isEmpty)
    assert(Multimodal.sniffImage(Array.empty[Byte]).isEmpty)
    // and a PNG payload routed by its real signature decodes identically
    val pngPayload = Multimodal.encodePng(docs.filter($"doc_id" === 2)).head()
      .getAs[Array[Byte]]("payload")
    val (fmt, img) = Multimodal.sniffImage(pngPayload).get
    assert(fmt == "png" && img.pixels.length == 3 * img.width * img.height)
  }

  test("png: sub-byte and 16-bit depths — differential against javax.imageio") {
    import java.awt.image.BufferedImage
    def writePng(bi: BufferedImage): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", os))
      os.toByteArray
    }
    val rnd = new scala.util.Random(99)
    // depths 1, 2, 4 via indexed images with 2/4/16-entry palettes; width
    // 19 leaves a ragged partial byte at every row end
    for (depth <- Seq(1, 2, 4)) {
      val nEntries = 1 << depth
      val comp = Array.tabulate(nEntries)(i => (i * 255 / (nEntries - 1)).toByte)
      val icm = new java.awt.image.IndexColorModel(depth, nEntries, comp, comp, comp)
      val w = 19; val h = 7
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY, icm)
      for (y <- 0 until h; x <- 0 until w) bi.getRaster.setSample(x, y, 0, rnd.nextInt(nEntries))
      val img = Multimodal.parsePng(writePng(bi)).get
      assert(img.width == w && img.height == h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val expect = (bi.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        assert((img.pixels(3 * (y * w + x) + c) & 0xff) == expect, s"depth $depth pixel ($x,$y,$c)")
      }
    }
    // 16-bit grayscale: our 8-bit reduction must be the stored high byte
    val w16 = 9; val h16 = 5
    val g16 = new BufferedImage(w16, h16, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h16; x <- 0 until w16) g16.getRaster.setSample(x, y, 0, rnd.nextInt(65536))
    val img16 = Multimodal.parsePng(writePng(g16)).get
    assert(img16.width == w16 && img16.height == h16)
    for (y <- 0 until h16; x <- 0 until w16) {
      val expect = g16.getRaster.getSample(x, y, 0) >> 8
      assert((img16.pixels(3 * (y * w16 + x)) & 0xff) == expect, s"16-bit pixel ($x,$y)")
    }
    // a depth the color type doesn't permit drops: rewrite our own 8-bit
    // truecolor payload's IHDR to claim depth 16 (data no longer fits)
    import spark.implicits._
    val payload = Multimodal.encodePng(Seq((0L, "abc")).toDF("doc_id", "text"))
      .collect().head.getAs[Array[Byte]]("payload")
    def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val deep = payload.clone(); deep(8 + 8 + 8) = 16 // IHDR depth byte
    val body = deep.slice(8 + 4, 8 + 8 + 13)
    System.arraycopy(be32(Bits.crc32(body, 0, body.length)), 0, deep, 8 + 8 + 13, 4)
    assert(Multimodal.parsePng(deep).isEmpty) // 16-bit data twice as long: length check fires
    val odd = payload.clone(); odd(8 + 8 + 8) = 3 // depth 3 exists in no profile
    System.arraycopy(be32(Bits.crc32(odd.slice(8 + 4, 8 + 8 + 13), 0, 17)), 0, odd, 8 + 8 + 13, 4)
    assert(Multimodal.parsePng(odd).isEmpty)
  }

  test("codec fuzz: corruptions and truncations return None or Some, never throw") {
    import spark.implicits._
    // at 100 TB corrupt payloads are a certainty, and one uncaught throw
    // inside mapPartitions fails the whole task, not the row — so every
    // parser must absorb arbitrary damage. Exhaustive single-byte
    // corruption (two patterns) + every truncation + seeded random
    // multi-byte damage, across all seven binary formats.
    val docs = Seq((3L, "fuzz me gently")).toDF("doc_id", "text")
    def payloadOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.collect().head.getAs[Array[Byte]]("payload")
    val targets: Seq[(String, Array[Byte] => Option[Any])] = Seq(
      "ppm" -> (Multimodal.parsePpm(_)),
      "bmp" -> (Multimodal.parseBmp(_)),
      "png" -> (Multimodal.parsePng(_)),
      "gif" -> (Multimodal.parseGif(_)),
      "jpeg" -> (Multimodal.parseJpeg(_)),
      "wav" -> (Multimodal.parseWav(_)),
      "avi" -> (Multimodal.parseAvi(_)))
    val payloads = Map(
      "ppm" -> payloadOf(Multimodal.encodePpm(docs)),
      "bmp" -> payloadOf(Multimodal.encodeBmp(docs)),
      "png" -> payloadOf(Multimodal.encodePng(docs)),
      "gif" -> payloadOf(Multimodal.encodeGif(docs)),
      "jpeg" -> payloadOf(Multimodal.encodeJpeg(docs)),
      "wav" -> payloadOf(Multimodal.encodeWav(docs)),
      "avi" -> payloadOf(Multimodal.encodeAvi(docs)))
    val rnd = new scala.util.Random(1234)
    for ((fmt, parse) <- targets) {
      val payload = payloads(fmt)
      def check(bytes: Array[Byte], what: String): Unit =
        try parse(bytes)
        catch {
          case e: Throwable => fail(s"$fmt threw ${e.getClass.getSimpleName} on $what")
        }
      for (i <- payload.indices; pattern <- Seq(0xff, 0x55)) {
        val c = payload.clone(); c(i) = (c(i) ^ pattern).toByte
        check(c, s"byte $i ^ $pattern")
        if (fmt != "avi" && fmt != "wav") // image payloads also go through dispatch
          try Multimodal.sniffImage(c)
          catch { case e: Throwable => fail(s"sniff($fmt) threw on byte $i ^ $pattern") }
      }
      for (len <- 0 to payload.length)
        check(payload.take(len), s"truncation to $len")
      for (round <- 0 until 200) {
        val c = payload.clone()
        for (_ <- 0 to rnd.nextInt(8)) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
        check(c, s"random round $round")
      }
    }
  }

  test("metadata struct carries byte length and header hex") {
    val withBin = Multimodal.attachBinary(
      SparkSpec.spark.createDataFrame(Seq((5L, "ABCDEFGHIJ"))).toDF("doc_id", "text"))
    val meta = withBin.select("meta.n_bytes", "meta.header_hex", "meta.mime").collect().head
    assert(meta.getLong(0) == 10)
    assert(meta.getString(1) == "4142434445464748") // first 8 bytes hex
    assert(meta.getString(2) == "application/octet-stream")
  }
}
