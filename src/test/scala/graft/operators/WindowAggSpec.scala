package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.Metric

/** Window aggregate semantics vs /root/reference/src/flinkarima.py:261-281. */
class WindowAggSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("per-key 5-minute tumbling mean + max event time") {
    import spark.implicits._
    val ms = Seq(
      Metric("a", 10.0, 1000L), Metric("a", 20.0, 2000L), // window [0, 300000)
      Metric("a", 50.0, 300001L), // next window
      Metric("b", 7.0, 1500L)).toDS()
    val out = WindowAgg.batch(ms).collect().map(w => (w.nodeId, w.cpu, w.eventTime)).sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(("a", 15.0, 2000L), ("a", 50.0, 300001L), ("b", 7.0, 1500L)))
  }

  test("all-zero timestamps fall back to the window end (flinkarima.py:267-280)") {
    import spark.implicits._
    val ms = Seq(Metric("a", 10.0, 0L), Metric("a", 30.0, 0L)).toDS()
    val out = WindowAgg.batch(ms).collect()
    assert(out.length == 1)
    assert(out.head.cpu == 20.0)
    assert(out.head.eventTime == 300000L) // end of window [0, 300000)
  }

  test("exactMean equals plain mean on 2-decimal inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val ms = (0 until 500).map { i =>
      Metric(s"n${i % 3}", math.round(rng.nextDouble() * 10000) / 100.0, i.toLong * 100)
    }.toDS()
    val plain = WindowAgg.batch(ms).collect().map(w => (w.nodeId, w.eventTime) -> w.cpu).toMap
    val exact = WindowAgg.batch(ms, exactMean = true).collect().map(w => (w.nodeId, w.eventTime) -> w.cpu).toMap
    assert(plain.keySet == exact.keySet)
    plain.foreach { case (k, v) => assert(math.abs(v - exact(k)) < 1e-9, s"$k") }
  }
}
