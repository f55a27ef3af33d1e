package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.core.PipelineConfig
import graft.model.{Baseline, Metric, NodeState, WindowAggregate}
import graft.operators.{AlertOp, BaselineOp}
import graft.ts.SarimaxLite

/** Single-threaded replay, outside Spark tasks, of a few nodes' window sequences
  * through the pipeline's kernels, timing each call: `AlertOp.check`,
  * `BaselineOp.step` and, for each step that emits a baseline, a separate
  * `SarimaxLite.forecast` on the same history. Windows are closed the way
  * `NodePipeline` closes them (event-time order, mean of the window, the
  * last window stays open), so the replay's baseline and alert counts must
  * equal the distributed job's for the same nodes.
  */
object Replay {

  final case class Counts(baselines: Int, alerts: Int)

  /** Per-call times: `BaselineOp.step` and `AlertOp.check` in us, forecasts in ms. */
  final case class Timings(stepUs: Seq[Double], checkUs: Seq[Double], forecastMs: Seq[Double])

  def apply(r: Run, cfg: PipelineConfig, metrics: Seq[Metric], label: String): (Map[String, Counts], Timings) = {
    val stepUs = ArrayBuffer.empty[Double]
    val checkUs = ArrayBuffer.empty[Double]
    val forecastMs = ArrayBuffer.empty[Double]
    val spec = SarimaxLite.Spec(
      cfg.order.p, cfg.order.d, cfg.order.q,
      cfg.seasonalOrder.bigP, cfg.seasonalOrder.bigD, cfg.seasonalOrder.bigQ, cfg.seasonalOrder.s)
    def timeNs[T](body: => T): (T, Long) = {
      val t = System.nanoTime()
      val v = body
      (v, System.nanoTime() - t)
    }

    val counts = metrics.groupBy(_.nodeId).toSeq.sortBy(_._1).map { case (node, rows) =>
      var st = NodeState.empty
      var latest: Option[Baseline] = None
      var baselines = 0
      var alerts = 0
      r.tracer.span(s"$label-$node", "replay.node") {
        windows(node, rows, cfg.windowMillis).foreach { agg =>
          val (alert, checkNs) = r.tracer.span(s"$label-$node", "operators.alert_check") {
            timeNs(AlertOp.check(cfg, agg, latest))
          }
          checkUs += checkNs / 1e3
          alerts += alert.size
          val ((next, emitted), stepNs) = r.tracer.span(s"$label-$node", "operators.baseline_step") {
            timeNs(BaselineOp.step(cfg, st, agg))
          }
          stepUs += stepNs / 1e3
          emitted.foreach { b =>
            val (_, fNs) = r.tracer.span(s"$label-$node", "ts.forecast") {
              timeNs(SarimaxLite.forecast(next.history.toArray, spec, cfg.forecastSteps))
            }
            forecastMs += fNs / 1e6
            baselines += 1
            latest = Some(b)
          }
          st = next
        }
      }
      node -> Counts(baselines, alerts)
    }.toMap

    (counts, Timings(stepUs.toSeq, checkUs.toSeq, forecastMs.toSeq))
  }

  /** The node's closed windows in event-time order, as `NodePipeline` closes them. */
  private def windows(node: String, rows: Seq[Metric], windowMs: Long): Seq[WindowAggregate] = {
    val byWindow = rows.sortBy(_.eventTime).groupBy(m => math.floorDiv(m.eventTime, windowMs) * windowMs)
    val starts = byWindow.keys.toSeq.sorted.dropRight(1)
    starts.map { ws =>
      val ms = byWindow(ws)
      val maxTs = ms.map(_.eventTime).max
      WindowAggregate(node, ms.map(_.cpu).foldLeft(0.0)(_ + _) / ms.size, if (maxTs == 0L) ws + windowMs else maxTs)
    }
  }
}
