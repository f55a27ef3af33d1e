package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("encode/decode: varint pair wire form round-trips; malformed streams rejected") {
    val runs = Seq((0L, 1L), (2L, 300L), (130L, 5L))
    val bytes = Rle.encodeRuns(runs)
    // vlen(0)+vlen(1) + vlen(2)+vlen(300) + vlen(130)+vlen(5) = 1+1 + 1+2 + 2+1 = 8
    assert(bytes.length == 8)
    assert(Rle.decodeRuns(bytes, 3) == runs)
    intercept[IllegalArgumentException](Rle.decodeRuns(bytes.dropRight(1), 3))
    intercept[IllegalArgumentException](Rle.decodeRuns(bytes :+ 0x00.toByte, 3))
    // a run length stretched to 10 bytes decodes; 11 bytes is rejected
    val one = Array[Byte](4)
    assert(Rle.decodeRuns(one ++ BitsSpec.padded(5L, 10), 1) == Seq((4L, 5L)))
    intercept[IllegalArgumentException](Rle.decodeRuns(one ++ BitsSpec.padded(5L, 11), 1))
  }

  test("runs: dictionary order, run segmentation, byte costs — exact on a crafted frame") {
    import spark.implicits._
    // one bucket (k1=0), unique keys: rank order follows k2, so the value
    // sequence is c c a a a b -> runs (c,2)(a,3)(b,1); dict a=0 b=1 c=2
    val rows = Seq(
      (0L, 1L, "c"), (0L, 2L, "c"), (0L, 3L, "a"), (0L, 4L, "a"), (0L, 5L, "a"), (0L, 6L, "b"))
    val out = Rle.runs(rows.toDF("k1", "k2", "v"), Seq("k1", "k2"), "v", nBuckets = 4)
      .collect().sortBy(_.run_idx)
    assert(out.map(r => (r.value, r.code, r.run_len)).toSeq ==
      Seq(("c", 2L, 2L), ("a", 0L, 3L), ("b", 1L, 1L)))
    assert(out.forall(_.n_bytes == 2L), "single-byte code + single-byte length per run")
    assert(out.map(_.run_idx).toSeq == Seq(0L, 1L, 2L))
  }

  test("runs: equals a driver-side reference on random frames; partition-stable") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val vals = Vector("N", "A", "R")
    val rows = (0 until 3000).map(i => (rnd.nextInt(200).toLong, i.toLong, vals(rnd.nextInt(3))))
    val df = rows.toDF("k1", "k2", "v")
    val got = Rle.runs(df, Seq("k1", "k2"), "v", nBuckets = 16).collect()
      .map(r => (r.bucket, r.run_idx) -> ((r.value, r.code, r.run_len))).toMap
    val dict = rows.map(_._3).distinct.sorted.zipWithIndex.toMap
    val want = rows
      .groupBy(r => math.floorMod(r._1, 16L))
      .flatMap { case (bucket, rs) =>
        val ordered = rs.sortBy(r => (r._1, r._2, r._3)).map(_._3)
        val runs = ordered.foldLeft(List.empty[(String, Long)]) {
          case ((v, n) :: rest, x) if v == x => (v, n + 1) :: rest
          case (acc, x) => (x, 1L) :: acc
        }.reverse
        runs.zipWithIndex.map { case ((v, n), i) =>
          (bucket, i.toLong) -> ((v, dict(v).toLong, n))
        }
      }
    assert(got == want.toMap)
    val again = Rle.runs(df.repartition(13), Seq("k1", "k2"), "v", nBuckets = 16).collect()
      .map(r => (r.bucket, r.run_idx) -> ((r.value, r.code, r.run_len))).toMap
    assert(again == got)
  }

  test("runs: dictionary cap throws past maxDict") {
    import spark.implicits._
    val rows = (0 until 50).map(i => (i.toLong, i.toLong, s"v$i"))
    intercept[Exception] {
      Rle.runs(rows.toDF("k1", "k2", "v"), Seq("k1", "k2"), "v", maxDict = 10).collect()
    }
  }
}
