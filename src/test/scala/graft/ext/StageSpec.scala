package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StageSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSpec.spark
  private def cores = spark.sparkContext.defaultParallelism

  /** Ids null, negative, zero and positive; text null on id 0. */
  private def docs: DataFrame = {
    import spark.implicits._
    Seq[(Option[Long], String)](
      (Some(3L), "a"), (None, "b"), (Some(-1L), "c"), (Some(0L), null), (Some(7L), "d"))
      .toDF("doc_id", "text")
  }

  test("docIds and docTexts drop null and negative ids, keep id 0 and pass null text through") {
    assert(Stage.docIds(docs, "doc_id").collect().sorted.toSeq == Seq(0L, 3L, 7L))
    assert(Stage.docTexts(docs, "doc_id", "text").collect().sortBy(_._1).toSeq ==
      Seq((0L, null), (3L, "a"), (7L, "d")))
  }

  test("an int id column is staged as bigint") {
    import spark.implicits._
    val ints = Seq((5, "x"), (-2, "y"), (0, "z")).toDF("id", "body")
    val ids = Stage.docIds(ints, "id")
    assert(ids.schema.map(_.dataType) == Seq(LongType))
    assert(ids.collect().sorted.toSeq == Seq(0L, 5L))
    val texts = Stage.docTexts(ints, "id", "body")
    assert(texts.schema.map(_.dataType) == Seq(LongType, StringType))
  }

  test("the staged relation has exactly defaultParallelism partitions, from fewer or more") {
    for (n <- Seq(1, cores * 3)) {
      val in = spark.range(0, 50, 1, n).toDF("doc_id")
      assert(in.rdd.getNumPartitions == n)
      assert(Stage.docIds(in, "doc_id").rdd.getNumPartitions == cores, s"from $n")
      val withText = in.selectExpr("doc_id", "cast(doc_id as string) as text")
      assert(Stage.docTexts(withText, "doc_id", "text").rdd.getNumPartitions == cores, s"from $n")
    }
  }

  test("render's frame is (doc_id bigint, outCol binary or string)") {
    val bin = Stage.render(docs, "doc_id", "payload")(id => Array.fill(id.toInt)(1.toByte))
    assert(bin.schema.map(f => (f.name, f.dataType)) ==
      Seq(("doc_id", LongType), ("payload", BinaryType)))
    assert(bin.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).length)).sorted.toSeq ==
      Seq((0L, 0), (3L, 3), (7L, 7)))
    val str = Stage.render(docs, "doc_id", "vcf_text")(id => s"card $id")
    assert(str.schema.map(f => (f.name, f.dataType)) ==
      Seq(("doc_id", LongType), ("vcf_text", StringType)))
    assert(str.collect().map(_.getString(1)).sorted.toSeq == Seq("card 0", "card 3", "card 7"))
    assert(str.rdd.getNumPartitions == cores)
  }

  test("spread: a streaming frame and an already-wide input come back untouched") {
    val stream = spark.readStream.format("rate").load()
    assert(Stage.spread(stream) eq stream)
    val wide = spark.range(0, 50, 1, cores * 2).toDF()
    assert(Stage.spread(wide) eq wide)
    val atWidth = spark.range(0, 50, 1, cores).toDF()
    assert(Stage.spread(atWidth) eq atWidth)
    val narrow = spark.range(0, 50, 1, 1).toDF()
    val spread = Stage.spread(narrow)
    assert(!(spread eq narrow) && spread.rdd.getNumPartitions == cores)
  }
}
