package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class FlacSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("crc8/crc16: published check values") {
    val v = "123456789".getBytes("US-ASCII")
    assert(Flac.crc8(v, 0, v.length) == 0xf4) // CRC-8 (poly 0x07, init 0)
    assert(Flac.crc16(v, 0, v.length) == 0xfee8) // CRC-16/BUYPASS (poly 0x8005)
  }

  test("crc8/crc16: the tables agree with the bit-at-a-time loop on random ranges") {
    def bitwise(width: Int, poly: Int)(b: Array[Byte], from: Int, until: Int): Int = {
      val top = 1 << (width - 1)
      val mask = (1 << width) - 1
      var c = 0
      for (i <- from until until) {
        c ^= (b(i) & 0xff) << (width - 8)
        for (_ <- 0 until 8) c = if ((c & top) != 0) ((c << 1) ^ poly) & mask else (c << 1) & mask
      }
      c
    }
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 500) {
      val b = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val from = rnd.nextInt(b.length + 1)
      val until = from + rnd.nextInt(b.length - from + 1)
      assert(Flac.crc8(b, from, until) == bitwise(8, 0x07)(b, from, until))
      assert(Flac.crc16(b, from, until) == bitwise(16, 0x8005)(b, from, until))
    }
  }

  private def statsOf(xs: Array[Int], block: Int = 256): Seq[(Int, Long, Double, Long)] = {
    val nFrames = (xs.length + block - 1) / block
    (0 until nFrames).map { f =>
      val from = f * block
      val until = math.min(xs.length, from + block)
      var sumSq = 0L; var peak = 0L
      (from until until).foreach { i =>
        sumSq += xs(i).toLong * xs(i); peak = math.max(peak, math.abs(xs(i).toLong))
      }
      (f, (until - from).toLong, math.sqrt(sumSq.toDouble / (until - from)), peak)
    }
  }

  test("round-trip: every subframe arm (constant/verbatim/fixed/LPC, rice + escape)") {
    val rnd = new scala.util.Random(11)
    // seeds cycle the subframe arm; shapes force specific coder paths
    val shapes: Seq[Array[Int]] = Seq(
      Array.fill(600)(rnd.nextInt(65536) - 32768), // full-range: escape likely
      Array.tabulate(700)(i => (40 * math.sin(i / 9.0)).toInt), // smooth: fixed wins
      Array.fill(512)(1234), // constant frames
      Array.tabulate(300)(i => i - 150), // perfect order-2 fit (zero residuals)
      Array.fill(1)(-32768), // single-sample stream
      Array.empty[Int]) // zero samples: header-only stream
    for ((xs, si) <- shapes.zipWithIndex; seed <- 0L until 4L) { // seed 3 starts on the LPC arm
      val stream = Flac.encodeFlacStream(xs, seed)
      val got = Flac.parseFlac(9L, stream)
      val want = statsOf(xs)
      assert(got.length == want.length, s"shape $si seed $seed frames")
      got.zip(want).foreach { case (g, (f, n, rms, peak)) =>
        assert(g.frame_idx == f && g.n_samples == n && g.peak == peak, s"shape $si seed $seed f$f")
        assert(g.rms == rms, s"shape $si seed $seed f$f rms")
      }
    }
  }

  test("coded frame numbers: multi-byte round-trip via long streams") {
    // 200 frames of 256 samples pushes the frame number past 0x7F into the
    // two-byte coded form; count + MD5 prove every header parsed right
    val xs = Array.tabulate(200 * 256)(i => (i * 31 % 4096) - 2048)
    val got = Flac.parseFlac(1L, Flac.encodeFlacStream(xs, 2L))
    assert(got.length == 200 && got.last.frame_idx == 199)
  }

  test("damage ladder: each corruption class quarantines, never crashes") {
    val xs = Array.tabulate(900)(i => (i * 997 % 3000) - 1500)
    val good = Flac.encodeFlacStream(xs, 1L)
    assert(Flac.parseFlac(0L, good).nonEmpty)
    def drops(b: Array[Byte]): Boolean =
      try { Flac.parseFlac(0L, b); false } catch { case scala.util.control.NonFatal(_) => true }
    assert(drops(Array.emptyByteArray))
    assert(drops("fLaX rest".getBytes)) // bad magic
    assert(drops(good.take(30))) // truncated STREAMINFO
    assert(drops(good.take(good.length - 3))) // truncated final frame
    // flip one bit inside the first frame's sample data -> CRC-16 or MD5
    val f1 = good.clone(); f1(60) = (f1(60) ^ 0x10).toByte; assert(drops(f1))
    // flip inside STREAMINFO's MD5 -> decode fine, signature mismatch
    val f2 = good.clone(); f2(30) = (f2(30) ^ 0x01).toByte; assert(drops(f2))
    // flip the declared total-samples field -> count mismatch
    val f3 = good.clone(); f3(21) = (f3(21) ^ 0x40).toByte; assert(drops(f3))
  }

  test("operator: matches wavFrameStats on the shared sample plane; damage per-doc") {
    import spark.implicits._
    val docs = (0L until 24L).map(id => (id, s"flac body $id " + ("q" * (id % 37).toInt)))
      .toDF("doc_id", "text")
    val viaFlac = Flac.flacFrameStats(Flac.encodeFlac(docs)).collect()
      .map(r => (r.doc_id, r.frame_idx) -> ((r.sample_rate, r.n_samples, r.rms, r.peak))).toMap
    val viaWav = Multimodal.wavFrameStats(Multimodal.encodeWav(docs)).collect()
      .map(r => (r.doc_id, r.frame_idx) -> ((r.sample_rate, r.n_samples, r.rms, r.peak))).toMap
    assert(viaFlac == viaWav) // the two containers carry the same samples
    val poisoned = Flac.encodeFlac(docs.filter($"doc_id" < 2)).as[(Long, Array[Byte])]
      .map { case (id, p) => if (id == 0L) (id, p.take(50)) else (id, p) }
      .toDF("doc_id", "payload")
    assert(Flac.flacFrameStats(poisoned).collect().map(_.doc_id).distinct.sameElements(Array(1L)))
  }
}
