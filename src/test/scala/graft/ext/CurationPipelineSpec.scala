package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class CurationPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def kept(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("pair-drop vs clustered semantics diverge on a similarity chain") {
    // docs 1 and 3 are each near-dups of 5 (jaccard 38/78 ~ 0.487) but share
    // nothing with each other: a 1-5, 3-5 "chain" through 5
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 40).map(i => s"beta$i").mkString(" ")
    val d = docs(1L -> a, 3L -> b, 5L -> (a + " " + b))
    val p = CurationPipeline.Params(jaccardThreshold = 0.4)
    // pair-drop removes the larger side of each pair: 5 dies, 1 and 3 stay
    assert(kept(CurationPipeline.curate(d, p, materialize = false)) == Set(1L, 3L))
    // clustering keeps ONE representative of the transitive group {1,3,5}
    assert(kept(CurationPipeline.curateClustered(d, p, materialize = false)) == Set(1L))
  }

  test("exact duplicates collapse to the smallest id in both variants") {
    val t = (1 to 40).map(i => s"word$i").mkString(" ")
    val u = (100 to 140).map(i => s"other$i").mkString(" ")
    val d = docs(2L -> t, 7L -> t, 4L -> u)
    assert(kept(CurationPipeline.curate(d, materialize = false)) == Set(2L, 4L))
    assert(kept(CurationPipeline.curateClustered(d, materialize = false)) == Set(2L, 4L))
  }

  test("quality gate drops short and repetitive docs") {
    val good = (1 to 40).map(i => s"tok$i").mkString(" ")
    val short = "too short"
    val repetitive = Array.fill(60)("same").mkString(" ")
    val d = docs(1L -> good, 2L -> short, 3L -> repetitive)
    assert(kept(CurationPipeline.curate(d, materialize = false)) == Set(1L))
  }

  test("parquet staging reads the staged set back with the schema inference gives") {
    val t = (1 to 40).map(i => s"word$i").mkString(" ")
    val u = (100 to 140).map(i => s"other$i").mkString(" ")
    val d = docs(2L -> t, 7L -> t, 4L -> u)
    val written = d.select("doc_id", "text").schema
    assert(!written("doc_id").nullable) // so the read-back's nullability is tested
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-stage").resolve("staged").toString
    val staged = CurationPipeline.curate(d, stageDir = Some(dir))
    assert(spark.read.schema(written).parquet(dir).schema == spark.read.parquet(dir).schema)
    assert(staged.collect().toSet == CurationPipeline.curate(d, materialize = false).collect().toSet)
  }

  test("crawlCurate: byte-exact recovery through the six-layer stack, dedup + gates apply") {
    import graft.functions.TextFunctions.fingerprint
    import org.apache.spark.sql.functions.col
    val long1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val long2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val hostile = "a <b>bold</b> &amp; \"quoted\" page with 5 < 6 and x > y tokens here now"
    val corpus = (10L to 49L).map(i => i -> s"$long1 doc $i") ++ Seq(
      50L -> long2, 51L -> long2, // exact duplicates -> keeper 50
      52L -> "tiny doc", // 2 tokens < 5 -> gated out
      53L -> hostile) // entity/markup-shaped source text must survive
    val d = docs(corpus: _*)
    val out = CurationPipeline.crawlCurate(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getString(6)))).toMap
    // duplicates collapse; the short doc is gone
    assert(!out.contains(51L), "duplicate must collapse to the smaller id")
    assert(!out.contains(52L), "sub-minTokens doc must be gated")
    // every emitted doc was robots-ALLOWED: re-derive decisions independently
    val urls = Url.normalize(Url.attachUrls(d)).toDF()
    val decisions = Robots.evaluate(
      urls.select(col("doc_id"), col("host"), col("path")), Robots.rulesFor(urls).toDF())
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    out.keys.foreach(id => assert(decisions(id) == "allow", s"doc $id emitted but disallowed"))
    // and NO allowed+eligible doc is missing (50 eligible iff allowed)
    val eligible = corpus.toMap.keySet -- Set(51L, 52L)
    eligible.filter(decisions(_) == "allow").foreach(id =>
      assert(out.contains(id), s"doc $id allowed+eligible but missing"))
    // byte-exact recovery: the emitted fingerprint equals md5(norm(SOURCE text))
    val wantFp = d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (_, _, _, _, _, fp)) =>
      assert(fp == wantFp(id), s"doc $id fingerprint drifted through the stack")
    }
    if (out.contains(53L)) {
      val (_, _, _, nChars, _, _) = out(53L)
      assert(nChars == hostile.length.toLong, "hostile text length must survive exactly")
    }
  }
}
