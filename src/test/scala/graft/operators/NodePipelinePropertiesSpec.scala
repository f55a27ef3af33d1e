package graft.operators

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PipelineConfig, SarimaxOrder, SeasonalOrder}
import graft.model.{Metric, NodePipelineState, PipelineOutput}

/** Micro-batch semantics of [[NodePipeline.processGroup]], driven directly
  * through Spark's public `TestGroupState` (no streaming query, no timeouts
  * fired): how a key's records are split into micro-batches must not change
  * what the pipeline emits, and a late record must be a pure no-op.
  */
class NodePipelinePropertiesSpec extends AnyFunSuite {

  // small history and a cheap fit, so random series both emit baselines and
  // (through the spikes below) raise alerts
  private val cfg = PipelineConfig(
    maxHistory = 12, minHistory = 3, emitEveryN = 2,
    order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 2),
    windowMillis = 1000L)

  private def check(name: String, prop: Prop, min: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: $res")
  }

  /** One micro-batch for key "n": the outputs and the state left behind. */
  private def runBatch(
      st: Option[NodePipelineState],
      rows: Seq[Metric]): (Seq[PipelineOutput], Option[NodePipelineState]) = {
    val gs = TestGroupState.create[NodePipelineState](
      st.fold(Optional.empty[NodePipelineState]())(Optional.of(_)),
      GroupStateTimeout.ProcessingTimeTimeout(), 0L, Optional.empty[Long](), false)
    val out = NodePipeline.processGroup(cfg)("n", rows.iterator, gs).toVector
    (out, gs.getOption)
  }

  private def runBatches(batches: Seq[Seq[Metric]]): (Seq[PipelineOutput], Option[NodePipelineState]) =
    batches.foldLeft((Vector.empty[PipelineOutput], Option.empty[NodePipelineState])) {
      case ((out, st), rows) =>
        val (o, next) = runBatch(st, rows)
        (out ++ o, next)
    }

  // in event-time order: several records per window, skipped windows, and
  // occasional spikes far above the ~30 baseline
  private val inOrder: Gen[Vector[Metric]] = for {
    n <- Gen.choose(1, 60)
    gaps <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.choose(0L, 600L), 3 -> Gen.choose(600L, 1500L), 1 -> Gen.choose(1500L, 4000L)))
    cpus <- Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(20.0, 40.0), 1 -> Gen.choose(80.0, 100.0)))
  } yield gaps.scanLeft(1000L)(_ + _).tail.zip(cpus).map { case (t, c) => Metric("n", c, t) }.toVector

  /** Contiguous micro-batches: each gap between records is a cut with
    * probability `p`, itself random (from one batch to one record per batch).
    */
  private def splits(ms: Vector[Metric]): Gen[Seq[Seq[Metric]]] = for {
    p <- Gen.choose(0.0, 1.0)
    cuts <- Gen.listOfN(math.max(0, ms.length - 1), Gen.prob(p))
  } yield {
    val starts = 0 +: cuts.zipWithIndex.collect { case (true, i) => i + 1 }
    starts.zip(starts.tail :+ ms.length).map { case (a, b) => ms.slice(a, b) }
  }

  test("in-order input: any micro-batch split emits what one batch emits") {
    var alerting = 0
    val prop = Prop.forAll(inOrder.flatMap(splits)) { batches =>
      val (split, splitState) = runBatches(batches)
      val (whole, wholeState) = runBatch(None, batches.flatten)
      if (whole.exists(_.kind == "alert")) alerting += 1
      split == whole && splitState == wholeState
    }
    check("split invariance", prop)
    // the property is only as strong as the outputs it compares
    assert(alerting > 0, "no generated series raised an alert")
  }

  test("a record at or before closedThrough emits nothing and leaves the state unchanged") {
    val late = Gen.listOf(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 100.0)))
    val prop = Prop.forAllNoShrink(inOrder, late) { (warm, lateDraws) =>
      // a record one window past the last closes that window
      val closer = Metric("n", 30.0, warm.last.eventTime + cfg.windowMillis)
      val before = runBatch(None, warm :+ closer)._2.get
      val ct = before.closedThrough
      // event times from three windows back up to the last millisecond of
      // the closedThrough window, plus closedThrough itself
      val lo = ct - 3 * cfg.windowMillis
      val hi = ct + cfg.windowMillis - 1
      val lateRows = Metric("n", 99.0, ct) +: lateDraws.map { case (f, c) =>
        Metric("n", c, lo + (f * (hi - lo)).toLong)
      }
      val (out, after) = runBatch(Some(before), lateRows)
      out.isEmpty && after.contains(before)
    }
    check("late drop", prop)
  }
}
