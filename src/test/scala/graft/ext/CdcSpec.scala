package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class CdcSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("chunkBytes: chunks tile the payload exactly and checksums match an independent fold") {
    val rnd = new scala.util.Random(3)
    (0 until 20).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(600) + 1)(rnd.nextInt(256).toByte)
      val cs = Cdc.chunkBytes(bytes, 64L)
      assert(cs.nonEmpty)
      // tiling: starts are contiguous from 1, lengths sum to the total
      assert(cs.head._1 == 1L)
      cs.sliding(2).foreach {
        case Seq((s1, l1, _), (s2, _, _)) => assert(s2 == s1 + l1)
        case _ =>
      }
      assert(cs.map(_._2).sum == bytes.length.toLong)
      // per-chunk checksum equals a from-scratch fold over that slice
      cs.foreach { case (s, l, c) =>
        val want = bytes.slice(s.toInt - 1, (s + l).toInt - 1)
          .foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
        assert(c == want)
      }
    }
  }

  test("chunkBytes: every internal boundary really is a hash hit (independent recurrence)") {
    val rnd = new scala.util.Random(11)
    val bytes = Array.fill(2000)(rnd.nextInt(256).toByte)
    val ends = Cdc.chunkBytes(bytes, 64L).map(c => c._1 + c._2 - 1).toSet
    // replay the rolling hash independently with BigInt arithmetic
    var h = BigInt(0)
    val mod = BigInt(1) << 48
    (1 to bytes.length).foreach { i =>
      h = (h * 2 + BigInt(Cdc.gearTable(bytes(i - 1) & 0xff))).mod(mod)
      val isBoundary = h.mod(BigInt(64)) == 0 || i == bytes.length
      assert(ends.contains(i.toLong) == isBoundary, s"position $i")
    }
  }

  test("shift robustness: a prefix insertion preserves most chunk identities") {
    val rnd = new scala.util.Random(5)
    val base = (0 until 1500).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shifted = "INSERTED-PREFIX-" + base
    val ids = Cdc.chunks(docs(1L -> base, 2L -> shifted)).collect()
      .groupBy(_.doc_id).view.mapValues(_.map(c => (c.len, c.checksum)).toSet).toMap
    val common = ids(1L) & ids(2L)
    // fixed-size chunking would share ZERO chunks after a shift; CDC
    // re-synchronizes within one average chunk length
    assert(common.size * 2 > ids(1L).size,
      s"expected most of ${ids(1L).size} chunks shared, got ${common.size}")
  }

  test("chunks: empty and null docs vanish; a 1-byte doc is one chunk; partition-stable") {
    import spark.implicits._
    val d = Seq((1L, "x"), (2L, ""), (3L, null.asInstanceOf[String]), (4L, "hello world, cdc!"))
      .toDF("doc_id", "text")
    val out = Cdc.chunks(d).collect()
    assert(!out.exists(c => c.doc_id == 2L || c.doc_id == 3L))
    val one = out.filter(_.doc_id == 1L)
    assert(one.length == 1 && one.head.start == 1L && one.head.len == 1L
      && one.head.checksum == 'x'.toLong)
    val again = Cdc.chunks(d.repartition(7)).collect().toSet
    assert(again == out.toSet)
  }

  test("chunkDedup: planted duplicate content collapses across documents") {
    val rnd = new scala.util.Random(9)
    val shared = (0 until 800).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = docs(1L -> shared, 2L -> ("PAD-" + shared), 3L -> "completely different tiny")
    val rows = Cdc.chunkDedup(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // at least one chunk of the shared run appears in both doc 1 and doc 2
    assert(rows.values.exists { case (copies, ndocs) => copies >= 2 && ndocs >= 2 },
      "shared content must produce multi-doc chunk groups")
  }
}
