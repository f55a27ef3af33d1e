package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class InvertedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def enc(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Bits.writeUvarint(out, v)
    out.toByteArray
  }

  test("varint: canonical wire bytes for the boundary values") {
    assert(enc(0L).toSeq == Seq(0x00.toByte))
    assert(enc(127L).toSeq == Seq(0x7f.toByte))
    assert(enc(128L).toSeq == Seq(0x80.toByte, 0x01.toByte))
    assert(enc(300L).toSeq == Seq(0xac.toByte, 0x02.toByte)) // protobuf's classic example
    assert(enc(16383L).toSeq == Seq(0xff.toByte, 0x7f.toByte))
    assert(enc(16384L).toSeq == Seq(0x80.toByte, 0x80.toByte, 0x01.toByte))
    assert(enc(Long.MaxValue).length == 9)
  }

  test("block codec: encode-decode identity on random sorted id sets; length matches the 7-bit model") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val ids = Seq.fill(rnd.nextInt(200) + 1)(rnd.nextLong(1L << 40).abs)
        .distinct.sorted.toArray
      val bytes = InvertedIndex.encodeBlock(ids)
      assert(InvertedIndex.decodeBlock(bytes, ids.length).toSeq == ids.toSeq)
      def vlen(x: Long): Int =
        if (x == 0L) 1 else 1 + (63 - java.lang.Long.numberOfLeadingZeros(x)) / 7
      val want = vlen(ids.head) + ids.sliding(2).collect {
        case Array(a, b) => vlen(b - a)
      }.sum
      assert(bytes.length == want, "encoded length must be the canonical varint sum")
    }
  }

  test("block codec: truncation, trailing bytes, and zero gaps are rejected") {
    val bytes = InvertedIndex.encodeBlock(Array(5L, 9L, 12L))
    intercept[IllegalArgumentException](InvertedIndex.decodeBlock(bytes.dropRight(1), 3))
    intercept[IllegalArgumentException](InvertedIndex.decodeBlock(bytes :+ 0x00.toByte, 3))
    // a zero gap means a duplicate id — never produced by a distinct ranked build
    val zeroGap = Array[Byte](0x05, 0x00, 0x03)
    intercept[IllegalArgumentException](InvertedIndex.decodeBlock(zeroGap, 3))
    // a first id stretched to 10 bytes decodes; 11 bytes is rejected
    assert(InvertedIndex.decodeBlock(BitsSpec.padded(5L, 10), 1).toSeq == Seq(5L))
    intercept[IllegalArgumentException](InvertedIndex.decodeBlock(BitsSpec.padded(5L, 11), 1))
  }

  test("postingsBlocks: block segmentation, df across blocks, skip metadata, checksum") {
    // 7 docs all contain 'shared'; blockSize=3 -> blocks of 3, 3, 1
    val corpus = (1L to 7L).map(i => i -> s"shared unique$i") :+ (8L -> "other words")
    val rows = InvertedIndex.postingsBlocks(docs(corpus: _*), blockSize = 3)
      .collect().map(b => (b.term, b.block_id) -> b).toMap
    val shared = (0L to 2L).map(i => rows(("shared", i)))
    assert(shared.map(_.n_docs_block) == Seq(3L, 3L, 1L))
    assert(shared.forall(_.df == 7L), "df is the TERM total, not the block size")
    assert(shared.map(b => (b.first_doc, b.last_doc)) == Seq((1L, 3L), (4L, 6L), (7L, 7L)))
    // first id absolute + strictly-positive gaps: block 0 holds 1,2,3 -> 3 bytes
    assert(shared.head.n_bytes == 3L)
    def fold(ids: Seq[Long]): Long = ids.foldLeft(0L)((a, x) => (a * 31 + x) % 1000000007L)
    assert(shared.map(_.checksum) == Seq(fold(Seq(1, 2, 3)), fold(Seq(4, 5, 6)), fold(Seq(7))))
    // repeated token in one doc indexes once
    assert(rows(("unique1", 0L)).n_docs_block == 1L)
  }

  test("postingsBlocks: maxDf stop-lists degenerate terms; repeated tokens count once") {
    // 'stop' df=5 (repeated 3x per doc but distinct pairs), 'rare' df=6
    val corpus = (1L to 5L).map(i => i -> "stop stop stop rare") :+ (6L -> "rare")
    val at5 = InvertedIndex.postingsBlocks(docs(corpus: _*), maxDf = 5L)
      .collect().map(_.term).toSet
    assert(at5.contains("stop"), "df=5 'stop' survives maxDf=5")
    assert(!at5.contains("rare"), "df=6 'rare' is stop-listed at maxDf=5")
    val at4 = InvertedIndex.postingsBlocks(docs(corpus: _*), maxDf = 4L)
      .collect().map(_.term).toSet
    assert(!at4.contains("stop") && !at4.contains("rare"))
  }

  test("phraseRetrieval: adjacency truth table, overlap counting, boundary discipline") {
    val corpus = Seq(
      1L -> "fast key lookup is a fast key thing", // "fast key" twice
      2L -> "key fast", // both terms, wrong order: no match
      3L -> "x x x", // self-overlap: "x x" twice
      4L -> "alpha beta gamma delta", // 3-term run
      5L -> "fast and key") // adjacent terms separated: no match
    val got = InvertedIndex.phraseRetrieval(
      docs(corpus: _*),
      Seq("pq" -> "fast key", "px" -> "x x", "p3" -> "beta gamma delta"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("pq", 1L) -> 2L,
      ("px", 3L) -> 2L,
      ("p3", 4L) -> 1L))
  }

  test("phraseRetrieval: equals a token-window brute force on random corpora; partition-stable") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = (1L to 80L).map { i =>
      i -> Seq.fill(rnd.nextInt(40) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val phrases = Seq("p_ab" -> "a b", "p_aa" -> "a a", "p_bcd" -> "b c d")
    val d = docs(corpus: _*)
    val got = InvertedIndex.phraseRetrieval(d, phrases).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (for {
      (pid, p) <- phrases
      ts = p.split(" ").toSeq
      (id, text) <- corpus
      toks = text.split(" ").toSeq
      n = toks.sliding(ts.length).count(_ == ts)
      if n > 0
    } yield (pid, id) -> n.toLong).toMap
    assert(got == want)
    val again = InvertedIndex.phraseRetrieval(d.repartition(9), phrases).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == want)
  }

  test("conjunctive: AND semantics from the encoded blocks, multi-block terms included") {
    val corpus = Seq(
      1L -> "alpha beta gamma",
      2L -> "alpha beta",
      3L -> "alpha gamma",
      4L -> "beta gamma delta",
      5L -> "alpha beta gamma delta")
    val got = InvertedIndex.conjunctive(
      docs(corpus: _*),
      Seq("q_ab" -> Seq("alpha", "beta"), "q_abg" -> Seq("alpha", "beta", "gamma"),
        "q_d" -> Seq("delta"), "q_miss" -> Seq("alpha", "zeta")),
      blockSize = 2) // force multi-block postings
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(
      ("q_ab", 1L), ("q_ab", 2L), ("q_ab", 5L),
      ("q_abg", 1L), ("q_abg", 5L),
      ("q_d", 4L), ("q_d", 5L)))
  }
}
