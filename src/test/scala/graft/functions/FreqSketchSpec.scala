package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Drive an aggregator directly: reduce a stream in chunks, merge the
    * partial buffers pairwise — the exact partial/merge shape Spark runs.
    */
  private def sketchOf(agg: MisraGriesAggregator, chunks: Seq[Seq[String]]): Map[String, Long] = {
    val partials = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
    agg.finish(partials.reduce(agg.merge))
  }

  /** Zipf-ish stream: term t_i appears ~N/i times, well-shuffled
    * deterministically (sorted by a hash of (term, copy index)).
    */
  private def zipfStream(terms: Int, scale: Int): Seq[String] = {
    val items = for {
      i <- 1 to terms
      j <- 1 to math.max(1, scale / i)
    } yield s"t$i" -> ((i * 2654435761L + j * 40503L) % 104729L)
    items.sortBy(_._2).map(_._1)
  }

  test("MG guarantee under reduce+merge: undercount <= n/(k+1), heavy terms always present") {
    // two heavy terms over an 800-term uniform tail that keeps evicting
    val rng = new scala.util.Random(13)
    val adversarial = (1 to 3000).map { _ =>
      val r = rng.nextDouble()
      if (r < 0.3) "h1" else if (r < 0.5) "h2" else s"tail${rng.nextInt(800)}"
    }
    for ((k, stream) <- Seq(16 -> zipfStream(terms = 200, scale = 3000), 8 -> adversarial)) {
      val agg = new MisraGriesAggregator(k)
      val n = stream.length
      val truth = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val est = sketchOf(agg, stream.grouped(500).toSeq)
      assert(est.size <= k, s"sketch overflowed: ${est.size} entries")
      val slack = n.toDouble / (k + 1)
      est.foreach { case (t, c) =>
        assert(c <= truth(t) && c >= truth(t) - slack, s"$t: est $c vs true ${truth(t)}, slack $slack")
      }
      truth.filter(_._2 > slack).keys.foreach { t =>
        assert(est.contains(t), s"heavy term $t (freq ${truth(t)} > $slack) evicted")
      }
    }
  }

  test("approxVocabulary equals the exact vocabulary when top-k clears the MG threshold") {
    import spark.implicits._
    // 400 distinct terms, sketchK = 64 -> eviction fires constantly; the
    // zipf head still clears n/(k+1), so top-8 must be EXACT (the 8th
    // frequency is ~1000 vs a threshold of ~806; the 10th, at ~800, sits
    // just below it — the guarantee is sharp)
    val stream = zipfStream(terms = 400, scale = 8000)
    val docs = stream.grouped(50).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val approx = graft.ext.TextAnalysis.approxVocabulary(docs, topK = 8, sketchK = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = graft.ext.TextAnalysis.vocabulary(docs, topK = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(approx == exact, s"approx $approx vs exact $exact")
    // the guarantee's precondition actually held (the test is not vacuous)
    val n = stream.length
    assert(exact.last._2 > n / 65.0, "fixture must clear the n/(k+1) threshold")
  }

  test("reported frequencies are exact in every regime (recount, not sketch estimates)") {
    import spark.implicits._
    val stream = zipfStream(terms = 300, scale = 2000)
    val docs = stream.grouped(40).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val truth = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
    graft.ext.TextAnalysis.approxVocabulary(docs, topK = 20, sketchK = 32)
      .collect().foreach { r =>
      assert(r.getLong(1) == truth(r.getString(0)),
        s"${r.getString(0)}: reported ${r.getLong(1)} != true ${truth(r.getString(0))}")
    }
    intercept[IllegalArgumentException](
      graft.ext.TextAnalysis.approxVocabulary(docs, topK = 10, sketchK = 5))
  }
}
