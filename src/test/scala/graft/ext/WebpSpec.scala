package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class WebpSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def plane(id: Long, text: String): (Int, Int, Array[Byte]) = {
    val data = text.getBytes("UTF-8")
    val w = 8 + (id % 8).toInt
    val h = 8 + ((id / 8) % 8).toInt
    val p = Array.tabulate(3 * w * h)(k => if (data.isEmpty) 0.toByte else data(k % data.length))
    (w, h, p)
  }

  test("round-trip: all four encoder arms recover the exact pixel plane") {
    // ids 0..63 cover every (w, h) and all four arms (id % 4)
    for (id <- 0L until 64L) {
      val (w, h, p) = plane(id, s"webp fixture body $id " + ("z" * (id % 29).toInt))
      val bytes = Webp.encodeVp8l(id, w, h, p)
      val img = Webp.parseWebp(bytes).getOrElse(fail(s"id $id (arm ${id % 5}) did not parse"))
      assert(img.width == w && img.height == h, s"id $id dims")
      assert(img.pixels.sameElements(p), s"id $id (arm ${id % 5}) pixels")
    }
    // low-color plane: the palette arm packs sub-byte (<= 16 distinct colors)
    val lowW = 12; val lowH = 8
    val low = Array.tabulate(3 * lowW * lowH)(k => ((k / 3) % 2 * 7 + 3).toByte) // 2 colors
    for (arm <- 0L until 5L) {
      val img = Webp.parseWebp(Webp.encodeVp8l(arm, lowW, lowH, low)).getOrElse(fail(s"arm $arm"))
      assert(img.pixels.sameElements(low), s"low-color arm $arm")
    }
    // CONSTANT planes (the empty-text fixture shape): degenerate green
    // alphabets whose used symbols include length/cache codes >= 256 —
    // these must ride the FULL serialization, not the 8-bit simple form
    // (regression: simple-form truncation corrupted arm 0 silently and
    // broke arm 1's parse)
    for (arm <- 0L until 5L; v <- Seq(0, 77)) {
      val const = Array.fill(3 * 9 * 10)(v.toByte)
      val img = Webp.parseWebp(Webp.encodeVp8l(arm, 9, 10, const))
        .getOrElse(fail(s"constant plane arm $arm v=$v did not parse"))
      assert(img.pixels.sameElements(const), s"constant plane arm $arm v=$v")
    }
  }

  test("hand-built streams: predictor modes and color transform decode per spec") {
    // predictor mode 1 (L): every pixel equals its left neighbor after
    // inverse; residuals are zero except column 0
    val w = 4; val h = 3
    // craft via the encoder's own building blocks: encode with arm 2 then
    // verify mode-2 semantics indirectly through the round-trip above;
    // here, exercise COLOR TRANSFORM + SUBTRACT-GREEN through a composed
    // stream built by hand with the writer's bit primitives is covered by
    // the differential below instead: encode arm 1 (subtract-green) output
    // must differ from arm 0 bytes but decode identically
    val p = Array.tabulate(3 * w * h)(k => (k * 37 % 251).toByte)
    val a0 = Webp.encodeVp8l(0L, w, h, p) // cache literals, no transform
    val a1 = Webp.encodeVp8l(1L, w, h, p) // subtract-green + lz77
    assert(!a0.sameElements(a1))
    assert(Webp.parseWebp(a0).get.pixels.sameElements(Webp.parseWebp(a1).get.pixels))
  }

  test("malformed table: damage quarantines, bombs capped before allocation") {
    def drops(b: Array[Byte]): Boolean = Webp.parseWebp(b).isEmpty
    assert(drops(Array.emptyByteArray))
    assert(drops("RIFFxxxxWEBPVP8 ".getBytes)) // lossy chunk: no VP8L
    assert(drops("not even riff at all".getBytes))
    val good = Webp.encodeVp8l(5L, 13, 8, Array.tabulate(3 * 13 * 8)(k => (k % 200).toByte))
    assert(!drops(good))
    assert(drops(good.take(good.length / 2))) // truncated entropy data
    val sig = good.clone(); sig(20) = 0x30 // corrupt the 0x2f signature
    assert(drops(sig))
    // a 1x1 image by hand whose green code is full-form: the code-length
    // code {0: "0", 1: "10", 2: "11"}, then `green`'s 280 lengths; red,
    // blue, alpha and distance are one-symbol simple codes, and the pixel
    // is green symbol 0 (code "0"). Only complete full-form codes pass.
    def oneByOne(green: Map[Int, Int]): Array[Byte] = {
      val w = new Bits.LsbWriter
      w.put(0x2f, 8); w.put(0, 14); w.put(0, 14) // signature, 1x1
      w.put(0, 1); w.put(0, 3) // alpha hint, version
      w.put(0, 1); w.put(0, 1); w.put(0, 1) // no transform, no color cache, no meta codes
      w.put(0, 1); w.put(5 - 4, 4) // full form, code-length lengths for 17, 18, 0, 1, 2
      Seq(0, 0, 1, 2, 2).foreach(w.put(_, 3))
      w.put(0, 1) // lengths for the whole alphabet
      val clCode = Map(0 -> (0, 1), 1 -> (2, 2), 2 -> (3, 2))
      (0 until 280).foreach { s => val (c, n) = clCode(green.getOrElse(s, 0)); w.putCode(c, n) }
      (0 until 4).foreach(_ => w.put(1, 4)) // simple, one symbol, 1-bit symbol 0
      w.putCode(0, 1) // the pixel
      val payload = w.toArray
      val riff = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = (0 until 4).foreach(k => riff.write(v >>> (8 * k)))
      riff.write("RIFF".getBytes); le32(12 + payload.length); riff.write("WEBPVP8L".getBytes)
      le32(payload.length); riff.write(payload)
      riff.toByteArray
    }
    val complete = Webp.parseWebp(oneByOne(Map(0 -> 1, 1 -> 2, 2 -> 2)))
    assert(complete.exists(i => i.width == 1 && i.height == 1 && i.pixels.sameElements(Array[Byte](0, 0, 0))))
    assert(drops(oneByOne(Map(0 -> 1, 1 -> 2)))) // incomplete: "11" unused
    // hostile dims: a 16383x16383 header must drop without the 1 GB allocation
    val bomb = {
      val bw = Webp.encodeVp8l(0L, 8, 8, Array.fill(192)(1.toByte))
      // patch the 14+14-bit dims inside the VP8L payload (starts after
      // byte 20: RIFF(12) + 'VP8L'(4) + size(4) + 0x2f): set all dim bits
      val m = bw.clone()
      m(21) = 0xff.toByte; m(22) = 0xff.toByte; m(23) = 0xff.toByte
      val half = m(24) & 0xf0
      m(24) = (half | 0x0f).toByte
      m
    }
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = tmx.getThreadAllocatedBytes(tid)
    (0 until 16).foreach(_ => assert(drops(bomb)))
    val allocated = tmx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (8L << 20), s"allocated $allocated bytes across 16 bomb parses")
  }

  test("encodeVp8l: output bytes are pinned over all five arms") {
    val planes = (0L until 10L).map(id => (id, plane(id, s"pinned webp plane $id " * (1 + id.toInt)))) ++
      (0L until 5L).map(arm => (arm, (9, 10, Array.fill(3 * 9 * 10)(77.toByte))))
    val got = EncoderPins.digest(planes.flatMap { case (id, (w, h, p)) =>
      (0L until 5L).map(arm => Webp.encodeVp8l(5 * id + arm, w, h, p))
    })
    assert(got == "43219de8b4ce017e96d6d051129eb711254c2471ab10f4e2383a442d50730661", "encodeVp8l output moved")
  }

  test("operator + shared byte model over Spark") {
    import spark.implicits._
    val docs = (0L until 32L).map(id => (id, s"doc $id body")).toDF("doc_id", "text")
    val feats = Webp.webpFeatures(Webp.encodeWebp(docs)).collect().map(f => f.doc_id -> f).toMap
    assert(feats.size == 32)
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val (w, h, p) = plane(id, text)
      var r = 0L; var g = 0L; var b = 0L; var cs = 0L
      p.indices.foreach { j =>
        val v = p(j) & 0xff
        (j % 3) match { case 0 => r += v; case 1 => g += v; case _ => b += v }
        cs = (cs * 31 + v) % 1000000007L
      }
      val f = feats(id)
      assert(f.width == w && f.height == h && f.sum_r == r && f.sum_g == g &&
        f.sum_b == b && f.checksum == cs, s"doc $id")
    }
  }
}
