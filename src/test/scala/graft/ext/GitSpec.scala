package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class GitSpec extends AnyFunSuite {

  test("SHA-1 matches the published vectors and the JDK differential") {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    assert(hex(Git.sha1(Array.empty)) == "da39a3ee5e6b4b0d3255bfef95601890afd80709")
    assert(hex(Git.sha1("abc".getBytes("US-ASCII"))) ==
      "a9993e364706816aba3e25717850c26c9cd0d89d")
    // JDK differential over size shapes that cross padding-block boundaries
    val rnd = new scala.util.Random(42)
    val jdk = java.security.MessageDigest.getInstance("SHA-1")
    for (len <- Seq(1, 54, 55, 56, 63, 64, 65, 119, 120, 128, 1000, 4096)) {
      val data = new Array[Byte](len)
      rnd.nextBytes(data)
      assert(java.util.Arrays.equals(Git.sha1(data), jdk.digest(data)), s"len $len")
    }
  }

  test("round-trip: pack parse recovers the closed-form object model, both delta arms") {
    for (id <- 0L until 64L) {
      val objs = Git.parsePack(id, Git.renderPack(id))
      val nb = Git.nBlobs(id)
      val nc = Git.nCommits(id)
      assert(objs.length == nb + 1 + nc, s"repo $id count")
      for (k <- 0 until nb) {
        val o = objs(k)
        assert(o.obj_type == "blob" && o.probe == Git.blobText(id, k), s"repo $id blob $k")
        assert(o.n_bytes == Git.blobText(id, k).getBytes("UTF-8").length)
      }
      val t = objs(nb)
      assert(t.obj_type == "tree" &&
        t.probe == (0 until nb).map(k => s"f$k.txt").mkString(","), s"repo $id tree")
      assert(t.n_bytes == 34L * nb)
      for (c <- 0 until nc) {
        val o = objs(nb + 1 + c)
        assert(o.obj_type == "commit" && o.probe == Git.commitMessage(id, c),
          s"repo $id commit $c")
      }
    }
  }

  test("delta machinery: copy/insert ops, the size-0 quirk, length gates") {
    val base = (0 until 300).map(i => ('a' + i % 26).toChar).mkString.getBytes("US-ASCII")
    // copy 256 bytes from offset 10 (needs a 2-byte size? no — one byte
    // can't hold 256, two can) + insert
    val out = new java.io.ByteArrayOutputStream()
    def v(x: Int): Unit = { var q = x; while (q >= 0x80) { out.write((q & 0x7f) | 0x80); q >>>= 7 }; out.write(q) }
    v(base.length); v(256 + 3)
    out.write(0x80 | 0x01 | 0x10 | 0x20) // offset byte 0, size bytes 0+1
    out.write(10); out.write(0); out.write(1) // off 10, size 0x100
    out.write(3); out.write('x'); out.write('y'); out.write('z')
    val got = Git.applyDelta(base, out.toByteArray)
    assert(got.length == 259)
    assert(new String(got, 0, 256, "US-ASCII") == new String(base, 10, 256, "US-ASCII"))
    assert(new String(got, 256, 3, "US-ASCII") == "xyz")
    // declared result too small → fail
    val bad = new java.io.ByteArrayOutputStream()
    def v2(x: Int): Unit = { var q = x; while (q >= 0x80) { bad.write((q & 0x7f) | 0x80); q >>>= 7 }; bad.write(q) }
    v2(base.length); v2(2)
    bad.write(3); bad.write('x'); bad.write('y'); bad.write('z')
    assertThrows[RuntimeException](Git.applyDelta(base, bad.toByteArray))
    // base-size mismatch → fail
    val bad2 = new java.io.ByteArrayOutputStream()
    def v3(x: Int): Unit = { var q = x; while (q >= 0x80) { bad2.write((q & 0x7f) | 0x80); q >>>= 7 }; bad2.write(q) }
    v3(base.length + 1); v3(1); bad2.write(1); bad2.write('q')
    assertThrows[RuntimeException](Git.applyDelta(base, bad2.toByteArray))
    // hostile copy offset 0x7FFFFFFF: off + sz must not wrap Int-negative
    // past the bounds check (review finding) — quarantine, not arraycopy
    val bad3 = new java.io.ByteArrayOutputStream()
    def v4(x: Int): Unit = { var q = x; while (q >= 0x80) { bad3.write((q & 0x7f) | 0x80); q >>>= 7 }; bad3.write(q) }
    v4(base.length); v4(2)
    bad3.write(0x80 | 0x0f | 0x10) // all 4 offset bytes + 1 size byte
    bad3.write(0xff); bad3.write(0xff); bad3.write(0xff); bad3.write(0x7f) // off = 0x7FFFFFFF
    bad3.write(2) // sz = 2: off + sz wraps negative in Int
    assertThrows[RuntimeException](Git.applyDelta(base, bad3.toByteArray))
    // the base size as a non-minimal varint: 5 bytes is legal, one byte
    // past the 5-byte bound is rejected
    def baseSizeIn(n: Int) =
      BitsSpec.padded(base.length, n) ++ Array[Byte](3, 3, 'x', 'y', 'z')
    assert(new String(Git.applyDelta(base, baseSizeIn(5)), "US-ASCII") == "xyz")
    assertThrows[RuntimeException](Git.applyDelta(base, baseSizeIn(6)))
  }

  test("damage ladder: trailer, magic, version, zlib, ref-to-missing, truncation") {
    val id = 1L // REF_DELTA arm
    val good = Git.renderPack(id)
    assert(Git.parsePackSafe(id, good).nonEmpty)
    // flipped trailer byte
    val badTrailer = good.clone(); badTrailer(good.length - 1) = (badTrailer(good.length - 1) ^ 1).toByte
    assert(Git.parsePackSafe(id, badTrailer).isEmpty)
    // bad magic / version (trailer recomputed so only THAT check trips)
    def withTrailer(b: Array[Byte]): Array[Byte] = {
      val body = java.util.Arrays.copyOfRange(b, 0, b.length - 20)
      body ++ Git.sha1(body)
    }
    val badMagic = good.clone(); badMagic(0) = 'Q'.toByte
    assert(Git.parsePackSafe(id, withTrailer(badMagic)).isEmpty)
    val badVer = good.clone(); badVer(7) = 3.toByte
    assert(Git.parsePackSafe(id, withTrailer(badVer)).isEmpty)
    // corrupt a zlib byte mid-pack
    val badZ = good.clone(); badZ(40) = (badZ(40) ^ 0x55).toByte
    assert(Git.parsePackSafe(id, withTrailer(badZ)).isEmpty)
    // REF_DELTA naming an id not in the pack: flip a sha byte — the 20-byte
    // base id sits right after blob 1's header byte(s)
    val wire = good
    // locate the ref sha by searching for blob 0's id bytes
    val blob0Id = Git.objectId("blob", Git.blobText(id, 0).getBytes("UTF-8"))
    val at = wire.indexOfSlice(blob0Id.toSeq)
    assert(at > 0, "ref sha on the wire")
    val badRef = wire.clone(); badRef(at) = (badRef(at) ^ 1).toByte
    assert(Git.parsePackSafe(id, withTrailer(badRef)).isEmpty)
    // truncation
    assert(Git.parsePackSafe(id, java.util.Arrays.copyOf(good, good.length / 2)).isEmpty)
    // hostile declared size: craft a header claiming 2 GB
    val hostile = new java.io.ByteArrayOutputStream()
    hostile.write("PACK".getBytes("US-ASCII"))
    hostile.write(Array[Byte](0, 0, 0, 2)); hostile.write(Array[Byte](0, 0, 0, 1))
    hostile.write(0x80 | (3 << 4) | 0x0f) // blob, size continues
    var s = (Int.MaxValue >> 4).toLong
    while (s != 0) { val b = (s & 0x7f).toInt; s >>>= 7; hostile.write(if (s != 0) b | 0x80 else b) }
    hostile.write(new Array[Byte](40))
    assert(Git.parsePackSafe(id, withTrailer(hostile.toByteArray)).isEmpty)
  }

  test("operator over Spark: per-repo rows, damaged repo quarantines alone") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val docs = (0L until 24L).map(Tuple1(_)).toDF("doc_id")
    val packs = Git.encodePack(docs)
    // damage repo 5's payload
    val mixed = packs.as[(Long, Array[Byte])].map { case (id, b) =>
      if (id == 5L) (id, java.util.Arrays.copyOf(b, b.length - 3)) else (id, b)
    }.toDF("doc_id", "payload")
    val got = Git.gitObjects(mixed).collect()
    val byRepo = got.groupBy(_.repo_id)
    assert(!byRepo.contains(5L), "damaged repo quarantined")
    for (id <- (0L until 24L) if id != 5L)
      assert(byRepo(id).length == Git.nBlobs(id) + 1 + Git.nCommits(id), s"repo $id")
  }
}
