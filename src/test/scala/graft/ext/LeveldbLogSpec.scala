package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class LeveldbLogSpec extends AnyFunSuite {

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  test("round-trip: every fixture log reassembles its closed forms") {
    for (id <- 0L until 96L) {
      val recs = LeveldbLog.parseLog(id, LeveldbLog.renderLog(id))
      assert(recs.length == LeveldbLog.nRecordsOf(id), s"wal $id record count")
      recs.zipWithIndex.foreach { case (r, i) =>
        assert(r.rec_idx == i, s"wal $id r$i idx")
        assert(r.rec_len == LeveldbLog.recordLenOf(id, i), s"wal $id r$i len")
        assert(r.n_fragments == (if (i == 0) 2 else 1), s"wal $id r$i fragments")
        assert(r.rec_md5 == md5(LeveldbLog.payloadOf(id, i)), s"wal $id r$i md5")
      }
    }
  }

  test("fragment crc is verified: a flipped payload byte quarantines") {
    val good = LeveldbLog.renderLog(1L)
    // payload of the first fragment starts at byte 7
    val bad = good.clone()
    bad(100) = (bad(100) ^ 1).toByte
    assert(LeveldbLog.parseLogSafe(1L, bad).isEmpty, "crc mismatch")
    // and a flipped type byte (FULL <-> FIRST) breaks the crc too
    val badType = good.clone()
    badType(6) = 1
    assert(LeveldbLog.parseLogSafe(1L, badType).isEmpty, "type byte is under the crc")
  }

  test("state machine: MIDDLE/LAST without FIRST, unterminated records") {
    def frag(typ: Int, payload: Array[Byte]): Array[Byte] = {
      val buf = new Array[Byte](payload.length + 1)
      buf(0) = typ.toByte
      System.arraycopy(payload, 0, buf, 1, payload.length)
      val crc = TfRecord.mask(Bits.crc32c(buf, 0, buf.length)) & 0xffffffffL
      val out = new java.io.ByteArrayOutputStream()
      (0 until 4).foreach(i => out.write(((crc >>> (8 * i)) & 0xff).toInt))
      out.write(payload.length & 0xff); out.write((payload.length >> 8) & 0xff)
      out.write(typ)
      out.write(payload, 0, payload.length)
      out.toByteArray
    }
    val p = "hello".getBytes("UTF-8")
    assert(LeveldbLog.parseLogSafe(0L, frag(1, p)).nonEmpty, "a lone FULL parses")
    assert(LeveldbLog.parseLogSafe(0L, frag(3, p)).isEmpty, "MIDDLE without FIRST")
    assert(LeveldbLog.parseLogSafe(0L, frag(4, p)).isEmpty, "LAST without FIRST")
    assert(LeveldbLog.parseLogSafe(0L, frag(2, p)).isEmpty, "unterminated FIRST at EOF")
    assert(LeveldbLog.parseLogSafe(0L, frag(2, p) ++ frag(4, p)).nonEmpty, "FIRST+LAST parses")
    assert(LeveldbLog.parseLogSafe(0L, frag(2, p) ++ frag(2, p)).isEmpty, "FIRST inside a record")
    assert(LeveldbLog.parseLogSafe(0L, frag(5, p)).isEmpty, "unknown fragment type")
    assert(LeveldbLog.parseLogSafe(0L, frag(1, p) ++ Array[Byte](1)).isEmpty,
      "non-zero trailing bytes are damage")
  }

  test("block trailers must be zero and fragments may not cross seams") {
    val good = LeveldbLog.renderLog(2L)
    // record 0 fills block 0 exactly to its 32768 boundary (header 7 +
    // 32761 payload); the fragment boundary IS the block boundary
    assert(good.length > 32768)
    val recs = LeveldbLog.parseLog(2L, good)
    assert(recs.head.n_fragments == 2)
    // corrupt the declared length of the first fragment so it would cross
    val bad = good.clone()
    bad(4) = 0xff.toByte; bad(5) = 0xff.toByte
    assert(LeveldbLog.parseLogSafe(2L, bad).isEmpty, "fragment crossing the seam is damage")
  }
}
