package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class DexSpec extends AnyFunSuite {

  test("round-trip: verified integrity + double indirection recover the closed forms") {
    for (id <- 0L until 96L) {
      val rows = Dex.parseDex(id, Dex.renderDex(id))
      val nc = Dex.nClassesOf(id)
      assert(rows.length == nc, s"dex $id class count")
      assert(rows.forall(_.dex_version == Dex.versionOf(id)), s"dex $id version")
      for (c <- 0 until nc) {
        val r = rows(c)
        assert(r.class_idx == c, s"dex $id c$c idx")
        assert(r.class_name == Dex.classNameOf(id, c), s"dex $id c$c name")
        assert(r.superclass == "Ljava/lang/Object;", s"dex $id c$c super")
        assert(r.source_file == Dex.sourceOf(id, c), s"dex $id c$c source")
        assert(r.access_flags == Dex.flagsOf(id, c), s"dex $id c$c flags")
      }
    }
  }

  test("the checksum and signature are VERIFIED: flip one payload byte, both die") {
    val good = Dex.renderDex(3L)
    assert(Dex.parseDex(3L, good).nonEmpty)
    // flip a byte deep in the data section: adler catches it
    val bad = good.clone()
    bad(good.length - 3) = (bad(good.length - 3) ^ 0x40).toByte
    assert(Dex.parseDexSafe(3L, bad).isEmpty, "payload flip fails the checksum")
    // fix up the adler to match, leaving the SHA-1 wrong: signature catches it
    val fixed = bad.clone()
    val a = Bits.adler32(fixed, 12, fixed.length).toLong & 0xffffffffL
    var i = 0
    while (i < 4) { fixed(8 + i) = ((a >>> (8 * i)) & 0xff).toByte; i += 1 }
    assert(Dex.parseDexSafe(3L, fixed).isEmpty, "a recomputed checksum still fails the SHA-1")
  }

  test("damage ladder: magic, version, endian tag, header size, counts") {
    val id = 7L
    val good = Dex.renderDex(id)
    def mut(at: Int, v: Byte): Array[Byte] = { val b = good.clone(); b(at) = v; b }
    assert(Dex.parseDexSafe(id, mut(0, 'x'.toByte)).isEmpty, "magic")
    assert(Dex.parseDexSafe(id, mut(4, '9'.toByte)).isEmpty, "version out of range")
    assert(Dex.parseDexSafe(id, good.take(good.length - 1)).isEmpty, "file_size rule")
    assert(Dex.parseDexSafe(id, good.take(40)).isEmpty, "truncation")
    assert(Dex.parseDexSafe(id, Array.emptyByteArray).isEmpty)
    // string 0 moved to the file end with its uleb128 code-unit count
    // stretched to n bytes, integrity fields recomputed: 5 bytes is
    // legal, one byte past the u32 bound quarantines
    def le32(b: Array[Byte], p: Int): Int =
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
    def put32(b: Array[Byte], p: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(p + i) = (v >>> (8 * i)).toByte)
    def string0CountIn(n: Int): Array[Byte] = {
      val r = BitsSpec.cursor(good); r.pos = le32(good, 0x70)
      val units = r.uvarint(5)
      val text = good.slice(r.pos, good.indexOf(0.toByte, r.pos) + 1) // bytes + NUL
      val b = good ++ BitsSpec.padded(units, n) ++ text
      put32(b, 0x70, good.length) // string_ids[0]
      put32(b, 32, b.length) // file_size
      Git.sha1(b.drop(32)).copyToArray(b, 12)
      put32(b, 8, Bits.adler32(b, 12, b.length))
      b
    }
    assert(Dex.parseDexSafe(id, string0CountIn(5)) == Dex.parseDexSafe(id, good))
    assert(Dex.parseDexSafe(id, string0CountIn(6)).isEmpty, "6-byte uleb128 count")
  }

  test("operator: damaged dex quarantines alone (Spark)") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val docs = (0L until 24L).map(Tuple1(_)).toDF("doc_id")
    val mixed = Dex.encodeDex(docs).as[(Long, Array[Byte])].map { case (id, b) =>
      if (id == 8L) (id, b.take(b.length - 4)) else (id, b)
    }.toDF("doc_id", "dex")
    val got = Dex.dexClasses(mixed).collect()
    val byDoc = got.groupBy(_.doc_id)
    assert(!byDoc.contains(8L))
    for (id <- (0L until 24L) if id != 8L)
      assert(byDoc(id).length == Dex.nClassesOf(id), s"dex $id")
  }
}
