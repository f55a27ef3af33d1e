package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.tukaani.xz.{LZMA2Options, XZInputStream, XZOutputStream}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The from-scratch xz/LZMA stack, differentialed against the tukaani
  * reference implementation (test classpath only, from /opt/spark/jars):
  * its genuinely LZMA-compressed streams must decode here bit-exactly
  * across presets, dictionary sizes and check types, and our raw-chunk
  * writer's streams must decode there.
  */
class XzSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def tkCompress(b: Array[Byte], preset: Int,
      check: Int = org.tukaani.xz.XZ.CHECK_CRC64): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new XZOutputStream(bos, new LZMA2Options(preset), check)
    z.write(b); z.close()
    bos.toByteArray
  }

  private def tkDecompress(b: Array[Byte]): Array[Byte] = {
    val in = new XZInputStream(new ByteArrayInputStream(b))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private val corpus: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(0x0712a)
    Seq(
      Array.emptyByteArray,
      "x".getBytes,
      "hello xz world".getBytes,
      ("the quick brown fox jumps over the lazy dog. " * 2000).getBytes, // rich matches
      ("ab" * 40000).getBytes,                      // periodic
      ("z" * 200000).getBytes,                      // one giant run
      Array.fill(65536)(rnd.nextInt(256).toByte),   // incompressible
      Array.tabulate(120000)(i => ((i / 13) % 251).toByte),
      { // structured: repeated json-ish records (dictionary reuse)
        val sb = new StringBuilder
        for (i <- 0 until 4000) sb.append(s"""{"id":$i,"host":"h${i % 7}.example","ok":true}\n""")
        sb.toString.getBytes
      })
  }

  test("tukaani streams decode here bit-exactly across presets and checks") {
    corpus.foreach { d =>
      for (preset <- Seq(0, 1, 6, 9)) {
        val c = tkCompress(d, preset)
        assert(Xz.decompress(c, d.length + 16).sameElements(d), s"preset=$preset len=${d.length}")
      }
      // all four check flavors
      for (check <- Seq(org.tukaani.xz.XZ.CHECK_NONE, org.tukaani.xz.XZ.CHECK_CRC32,
        org.tukaani.xz.XZ.CHECK_CRC64, org.tukaani.xz.XZ.CHECK_SHA256)) {
        val c = tkCompress(d, 3, check)
        assert(Xz.decompress(c, d.length + 16).sameElements(d), s"check=$check len=${d.length}")
      }
    }
  }

  test("tukaani streams with non-default lc/lp/pb and small dictionaries decode here") {
    val d = ("mixed context 0123456789 " * 5000).getBytes
    for ((lc, lp, pb) <- Seq((0, 2, 1), (4, 0, 0), (2, 1, 2))) {
      val opt = new LZMA2Options(6)
      opt.setLcLp(lc, lp)
      opt.setPb(pb)
      val bos = new ByteArrayOutputStream()
      val z = new XZOutputStream(bos, opt)
      z.write(d); z.close()
      assert(Xz.decompress(bos.toByteArray, d.length + 16).sameElements(d), s"lc=$lc lp=$lp pb=$pb")
    }
    val small = new LZMA2Options(6)
    small.setDictSize(1 << 16) // window far smaller than the data
    val bos = new ByteArrayOutputStream()
    val z = new XZOutputStream(bos, small)
    z.write(d); z.close()
    assert(Xz.decompress(bos.toByteArray, d.length + 16).sameElements(d), "64k dict")
  }

  test("our raw-chunk streams decode in tukaani (writer differential) and here") {
    corpus.foreach { d =>
      val c = Xz.compressRaw(d)
      assert(tkDecompress(c).sameElements(d), s"tukaani rejects our framing, len=${d.length}")
      assert(Xz.decompress(c, d.length + 16).sameElements(d), s"self len=${d.length}")
    }
  }

  test("fuzz: random payload round trips in both pairings") {
    val rnd = new scala.util.Random(0xf00d)
    for (t <- 0 until 40) {
      val n = rnd.nextInt(60000)
      val d =
        if (t % 3 == 0) Array.fill(n)(rnd.nextInt(256).toByte)
        else if (t % 3 == 1) Array.fill(n)((rnd.nextInt(5) + 'a').toByte)
        else { val w = "tok" + t + " "; w.*(n / w.length + 2).substring(0, n).getBytes }
      assert(Xz.decompress(tkCompress(d, 2), n + 16).sameElements(d), s"tk->us t=$t")
      assert(tkDecompress(Xz.compressRaw(d)).sameElements(d), s"us->tk t=$t")
    }
  }

  test("multistream concatenation with stream padding demuxes on exact boundaries") {
    val parts = Seq("first record", "second, longer record " * 30, "third")
    val bytes = {
      val out = new ByteArrayOutputStream()
      parts.zipWithIndex.foreach { case (p, i) =>
        out.write(Xz.compressRaw(p.getBytes))
        if (i % 2 == 0) { out.write(0); out.write(0); out.write(0); out.write(0) } // stream padding
      }
      out.toByteArray
    }
    assert(Xz.decompressStreams(bytes, 1 << 20).map(new String(_)) == parts)
    // tukaani agrees on the concatenation as one logical payload
    assert(new String(tkDecompress(bytes)) == parts.mkString)
  }

  test("damage: corrupted bytes at every region throw, never wrong output") {
    val d = ("damage model " * 500).getBytes
    val c = tkCompress(d, 6)
    val positions = Seq(0, 7, 9, 13, 20, c.length / 2, c.length - 20, c.length - 9, c.length - 1)
    positions.foreach { p =>
      val m = c.clone(); m(p) = (m(p) ^ 0x20).toByte
      val r = try Some(Xz.decompress(m, d.length + 16)) catch { case _: RuntimeException => None }
      r.foreach(got => assert(got.sameElements(d), s"undetected corruption at byte $p"))
    }
    // truncations at every length must throw cleanly
    for (len <- Seq(5, 11, 12, 20, c.length / 2, c.length - 1)) {
      intercept[RuntimeException](Xz.decompress(java.util.Arrays.copyOf(c, len), d.length + 16))
    }
    // the index's record count as a non-minimal VLI (index CRC, padding
    // and footer rebuilt): 9 bytes is legal, one byte past is rejected
    assert(Xz.decompress(indexCountIn(c, 9), d.length + 16).sameElements(d))
    intercept[RuntimeException](Xz.decompress(indexCountIn(c, 10), d.length + 16))
  }

  /** Single-stream `s` with its index's record-count VLI stretched to
    * `n` bytes; the index padding and CRC and the footer are rebuilt.
    */
  private def indexCountIn(s: Array[Byte], n: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] = Array.tabulate(4)(i => (v >>> (8 * i)).toByte)
    val footer = s.length - 12
    val backward = (0 until 4).map(i => (s(footer + 4 + i) & 0xffL) << (8 * i)).sum
    val idx = footer - ((backward + 1) * 4).toInt
    val r = BitsSpec.cursor(s); r.pos = idx + 1
    val count = r.uvarint(9)
    val records = r.pos
    (0L until 2 * count).foreach(_ => r.uvarint(9))
    val body = Array[Byte](0) ++ BitsSpec.padded(count, n) ++ s.slice(records, r.pos)
    val index = body ++ new Array[Byte]((4 - body.length % 4) % 4)
    val tail = le32((index.length + 4) / 4 - 1) ++ s.slice(footer + 8, footer + 10)
    s.take(idx) ++ index ++
      le32(Bits.crc32(index, 0, index.length) & 0xffffffffL) ++
      le32(Bits.crc32(tail, 0, tail.length) & 0xffffffffL) ++ tail ++ s.takeRight(2)
  }

  test("decompression bomb: maxOut enforced before materialization") {
    val bomb = tkCompress(Array.fill(8000000)('y'.toByte), 9) // tiny stream, 8 MB out
    assert(bomb.length < 4096)
    intercept[RuntimeException](Xz.decompress(bomb, 1 << 16))
  }

  test("real LZMA encoder: round trips in both decoders across the corpus") {
    corpus.foreach { d =>
      val c = Xz.compress(d)
      assert(Xz.decompress(c, d.length + 16).sameElements(d), s"self len=${d.length}")
      assert(tkDecompress(c).sameElements(d), s"tukaani rejects our LZMA, len=${d.length}")
    }
  }

  test("real LZMA encoder: genuinely compresses — beats raw chunks on compressible text") {
    Seq(
      ("the quick brown fox jumps over the lazy dog. " * 2000).getBytes,
      ("z" * 200000).getBytes,
      { val sb = new StringBuilder
        for (i <- 0 until 4000) sb.append(s"""{"id":$i,"host":"h${i % 7}.example","ok":true}\n""")
        sb.toString.getBytes }).foreach { d =>
      val real = Xz.compress(d).length
      val raw = Xz.compressRaw(d).length
      assert(real < raw / 2, s"real=$real raw=$raw on ${d.length} compressible bytes")
    }
    // incompressible input falls back to raw chunks: bounded overhead
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(100000)(rnd.nextInt(256).toByte)
    assert(Xz.compress(noise).length < noise.length + noise.length / 8)
  }

  test("real LZMA encoder: fuzz round trips across sizes, alphabets, and run shapes") {
    val rnd = new scala.util.Random(0x17a5e)
    for (t <- 0 until 80) {
      val n = rnd.nextInt(1 << (4 + rnd.nextInt(13)))
      val d = (t % 5) match {
        case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
        case 1 => Array.fill(n)((rnd.nextInt(3) + 'a').toByte)
        case 2 => Array.fill(n)('q'.toByte)
        case 3 => Array.tabulate(n)(i => ((i / 11) % 251).toByte)
        case _ =>
          val w = "lzma chunk boundary test "
          w.*(n / w.length + 2).substring(0, n).getBytes
      }
      val c = Xz.compress(d)
      assert(Xz.decompress(c, n + 16).sameElements(d), s"self t=$t n=$n")
      assert(tkDecompress(c).sameElements(d), s"tukaani t=$t n=$n")
    }
  }

  test("multi-block streams: our writer splits blocks; both decoders agree; tukaani's multi-block decodes here") {
    val d = ("block boundary corpus " * 20000).getBytes // ~440 KB
    // our writer with 64 KB blocks: 7 blocks, 7 index records
    val c = Xz.compress(d, blockSize = 1 << 16)
    assert(Xz.decompress(c, d.length + 16).sameElements(d), "self multi-block")
    assert(tkDecompress(c).sameElements(d), "tukaani rejects our multi-block stream")
    // matches must not cross block boundaries: a block-sized periodic
    // input still round-trips (worst case for a cross-boundary matcher)
    val periodic = ("ab" * 100000).getBytes
    val cp = Xz.compress(periodic, blockSize = 4096)
    assert(Xz.decompress(cp, periodic.length + 16).sameElements(periodic))
    assert(tkDecompress(cp).sameElements(periodic))
    // tukaani-written multi-block stream (explicit endBlock) decodes here
    val bos = new ByteArrayOutputStream()
    val z = new XZOutputStream(bos, new LZMA2Options(4))
    z.write(d, 0, d.length / 2); z.endBlock()
    z.write(d, d.length / 2, d.length - d.length / 2); z.close()
    assert(Xz.decompress(bos.toByteArray, d.length + 16).sameElements(d), "tukaani multi-block")
  }

  test("xzExtract end-to-end: archives demux, damage quarantines one archive") {
    import spark.implicits._
    val docs = (0L until 60L).map(i => (i, s"doc $i body " + ("u" * (i % 40).toInt))).toDF("doc_id", "text")
    val archives = Xz.encodeXzArchives(docs, nArchives = 4)
    val entries = Xz.xzExtract(archives).collect()
    assert(entries.length == 60)
    assert(entries.map(_.rec_doc_id).sorted.sameElements(0L until 60L))
    entries.foreach { e =>
      val text = s"doc ${e.rec_doc_id} body " + ("u" * (e.rec_doc_id % 40).toInt)
      val b = text.getBytes("UTF-8")
      var c = 0L
      b.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      assert(e.n_bytes == b.length.toLong && e.checksum == c, e)
    }
    val damaged = archives.as[(Long, Array[Byte])].map { case (aid, p) =>
      if (aid == 3L) { val m = p.clone(); m(m.length / 2) = (m(m.length / 2) ^ 1).toByte; (aid, m) }
      else (aid, p)
    }.toDF("archive_id", "payload")
    val left = Xz.xzExtract(damaged).collect()
    assert(left.forall(_.archive_id != 3L) && left.length == 45)
  }
}
