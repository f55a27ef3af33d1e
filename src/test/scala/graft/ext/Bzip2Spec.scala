package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The from-scratch bzip2 codec, differentialed in BOTH directions
  * against commons-compress (test-only dependency from /opt/spark/jars):
  * our writer's streams must decode there, and its streams must decode
  * here, bit-exact.
  */
class Bzip2Spec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def ccDecompress(b: Array[Byte]): Array[Byte] = {
    val in = new BZip2CompressorInputStream(new ByteArrayInputStream(b), true) // decodeConcatenated
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private def ccCompress(b: Array[Byte], level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new BZip2CompressorOutputStream(bos, level)
    z.write(b); z.close()
    bos.toByteArray
  }

  private val corpus: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(0xb21b)
    Seq(
      Array.emptyByteArray,
      "a".getBytes,
      "banana".getBytes,
      "hello bzip2 world".getBytes,
      ("ab" * 5000).getBytes,                      // periodic block (BWT rank ties)
      ("x" * 100000).getBytes,                     // one giant RLE1 run
      ("the quick brown fox. " * 3000).getBytes,   // crosses the 100k level-1 block
      Array.fill(65536)(rnd.nextInt(256).toByte),  // incompressible
      Array.tabulate(1000)(i => (i % 7).toByte),
      ("aaaa" + "b" * 3 + "aaaaaaaa" + "\u0000" * 259).getBytes("ISO-8859-1") // RLE1 edges
    )
  }

  test("round trip through our own encoder/decoder") {
    corpus.foreach { d =>
      val c = Bzip2.compress(d, level = 1)
      assert(Bzip2.decompress(c, d.length + 16).sameElements(d), s"len=${d.length}")
    }
    // higher levels too
    val big = ("repetition " * 20000).getBytes
    assert(Bzip2.decompress(Bzip2.compress(big, level = 3), big.length + 16).sameElements(big))
  }

  test("our streams decode in commons-compress (writer differential)") {
    corpus.foreach { d =>
      assert(ccDecompress(Bzip2.compress(d, level = 1)).sameElements(d), s"len=${d.length}")
    }
  }

  test("commons-compress streams decode here (reader differential, levels 1 and 9)") {
    corpus.filter(_.nonEmpty).foreach { d =>
      assert(Bzip2.decompress(ccCompress(d, 1), d.length + 16).sameElements(d), s"l1 len=${d.length}")
      assert(Bzip2.decompress(ccCompress(d, 9), d.length + 16).sameElements(d), s"l9 len=${d.length}")
    }
  }

  test("fuzz: random and structured payloads both directions") {
    val rnd = new scala.util.Random(0xfeed)
    for (t <- 0 until 60) {
      val n = rnd.nextInt(40000)
      val d =
        if (t % 3 == 0) Array.fill(n)(rnd.nextInt(256).toByte)
        else if (t % 3 == 1) Array.fill(n)((rnd.nextInt(4) + 'a').toByte) // tiny alphabet: long runs
        else Array.tabulate(n)(i => ((i * i) % 251).toByte)
      assert(Bzip2.decompress(Bzip2.compress(d), n + 16).sameElements(d), s"self t=$t")
      assert(ccDecompress(Bzip2.compress(d)).sameElements(d), s"cc-read t=$t")
      assert(Bzip2.decompress(ccCompress(d, 1), n + 16).sameElements(d), s"cc-write t=$t")
    }
  }

  test("concatenated streams demux with exact byte boundaries") {
    val parts = Seq("first record", "second, longer record " * 40, "third")
    val bytes = parts.map(p => Bzip2.compress(p.getBytes)).reduce(_ ++ _)
    val back = Bzip2.decompressStreams(bytes, 1 << 20)
    assert(back.map(new String(_)) == parts)
    // commons-compress agrees on the concatenation as one logical payload
    assert(new String(ccDecompress(bytes)) == parts.mkString)
  }

  test("damage: every corrupted byte position throws, never wrong output") {
    val d = ("damage model " * 200).getBytes
    val c = Bzip2.compress(d)
    val positions = Seq(0, 3, 4, 10, c.length / 2, c.length - 5, c.length - 1)
    positions.foreach { p =>
      val m = c.clone(); m(p) = (m(p) ^ 0x40).toByte
      val r = try Some(Bzip2.decompress(m, d.length + 16)) catch { case _: RuntimeException => None }
      // either detected (CRC/structure) or — never — silently wrong bytes
      r.foreach(got => assert(got.sameElements(d), s"undetected corruption at byte $p"))
    }
    // one block of "aa" by hand: two tables over (RUNA, RUNB, EOB), each
    // a 5-bit start length then per symbol its delta bits ("10" up, "11"
    // down, "0" ends), then RUNB (a run of two) and EOB. A start of 0 or
    // 24 with no delta bits never meets the delta loop's bound, and the
    // table is still rejected.
    def aa(start: Int, deltas: Seq[String], runb: (Int, Int), eob: (Int, Int)): Array[Byte] = {
      val crc = ~"aa".getBytes.foldLeft(-1)((c, b) => Bits.crc32MsbUpdate(c, b & 0xff))
      val w = new Bits.MsbWriter
      "BZh1".foreach(ch => w.put(ch, 8))
      w.put(0x314159L, 24); w.put(0x265359L, 24); w.put(crc & 0xffffffffL, 32)
      w.put(0, 1); w.put(0, 24) // not randomized, origPtr 0
      w.put(0x0200, 16); w.put(0x4000, 16) // used bytes: 'a' = 0x61, row 6 column 1
      w.put(2, 3); w.put(1, 15); w.put(0, 1) // two tables, one selector: table 0
      (0 until 2).foreach { _ => w.put(start, 5); deltas.foreach(_.foreach(bit => w.put(bit - '0', 1))) }
      w.put(runb._1, runb._2); w.put(eob._1, eob._2)
      w.put(0x177245L, 24); w.put(0x385090L, 24); w.put(crc & 0xffffffffL, 32)
      w.toArray
    }
    val valid = aa(2, Seq("0", "110", "100"), runb = (0, 1), eob = (3, 2)) // lengths 2, 1, 2
    assert(new String(Bzip2.decompress(valid, 16)) == "aa" && new String(ccDecompress(valid)) == "aa")
    val zeroStart = aa(0, Seq("0", "100", "0"), runb = (0, 1), eob = (1, 1)) // lengths 0, 1, 1
    val start24 = aa(24, Seq("0", "110", "0"), runb = (0, 23), eob = (1, 23)) // lengths 24, 23, 23
    for (bad <- Seq(zeroStart, start24)) intercept[RuntimeException](Bzip2.decompress(bad, 16))
  }

  test("compress: output bytes are pinned over the fixed input set") {
    val got = EncoderPins.digest(EncoderPins.inputs.map(Bzip2.compress(_)))
    assert(got == "6d5ee736a9ce255f9358c7b90d0c16f714c38d2ae36a8eebe3de1c1722e49f90", "bzip2 compress output moved")
  }

  test("decompression bomb: output cap enforced in-loop") {
    val bomb = Bzip2.compress(Array.fill(5000000)('z'.toByte)) // tiny stream, 5 MB out
    assert(bomb.length < 4096)
    intercept[RuntimeException](Bzip2.decompress(bomb, 1 << 16))
  }

  test("bz2Extract end-to-end: archives demux, damage quarantines one archive") {
    import spark.implicits._
    val docs = (0L until 60L).map(i => (i, s"doc $i body " + ("t" * (i % 50).toInt))).toDF("doc_id", "text")
    val archives = Bzip2.encodeBz2Archives(docs, nArchives = 4)
    val entries = Bzip2.bz2Extract(archives).collect()
    assert(entries.length == 60)
    assert(entries.map(_.rec_doc_id).sorted.sameElements(0L until 60L))
    entries.foreach { e =>
      val text = s"doc ${e.rec_doc_id} body " + ("t" * (e.rec_doc_id % 50).toInt)
      val b = text.getBytes("UTF-8")
      var c = 0L
      b.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      assert(e.n_bytes == b.length.toLong && e.checksum == c, e)
    }
    // flip a byte in one archive: exactly that archive's records vanish
    val damaged = archives.as[(Long, Array[Byte])].map { case (aid, p) =>
      if (aid == 2L) { val m = p.clone(); m(m.length / 2) = (m(m.length / 2) ^ 1).toByte; (aid, m) }
      else (aid, p)
    }.toDF("archive_id", "payload")
    val left = Bzip2.bz2Extract(damaged).collect()
    assert(left.forall(_.archive_id != 2L) && left.length == 45)
  }
}
