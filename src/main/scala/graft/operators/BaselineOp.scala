package graft.operators

import scala.collection.immutable.ArraySeq
import scala.util.{Failure, Success, Try}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Dataset

import graft.core.PipelineConfig
import graft.model.{Baseline, NodeState, WindowAggregate}
import graft.ts.{DailyTrend, SarimaxLite, Welford}

/** Per-key SARIMAX baseline kernel (O6/O7,
  * /root/reference/src/flinkarima.py:145-258): [[step]] is the reference's
  * `process_element` as a pure `(NodeState, aggregate) -> (NodeState',
  * baseline?)` function. [[NodePipeline]] calls it once per finalized window
  * and keeps the [[NodeState]] in its own keyed state; [[replay]] folds it
  * over stored aggregates in batch.
  *
  * Exact reference semantics preserved per element:
  *   1. z-score the sample with the PRE-update Welford stats (:194-198);
  *   2. append to bounded scaled+raw histories, cap at maxHistory (:199-206);
  *   3. update Welford stats (:209-216);
  *   4. bump emit counter modulo emitEveryN; fit+emit only when the counter
  *      wraps AND history >= minHistory (:218-223);
  *   5. fit failures are logged and swallowed (:257-258).
  */
object BaselineOp extends Logging {

  /** Batch replay: each key's aggregates folded through [[step]] from
    * [[NodeState.empty]] in event-time order (the reference processes in
    * arrival order; SURVEY §7.4.2).
    */
  def replay(aggregates: Dataset[WindowAggregate], cfg: PipelineConfig): Dataset[Baseline] = {
    import aggregates.sparkSession.implicits._
    aggregates.groupByKey(_.nodeId).flatMapGroups { (_, rows) =>
      rows.toArray.sortBy(_.eventTime)
        .foldLeft((NodeState.empty, Vector.empty[Baseline])) { case ((st, out), aggRow) =>
          val (next, emitted) = step(cfg, st, aggRow)
          (next, out ++ emitted)
        }._2
    }
  }

  /** One reference `process_element` step: (state, aggregate) -> (state', baseline?). */
  def step(cfg: PipelineConfig, st: NodeState, aggRow: WindowAggregate): (NodeState, Option[Baseline]) = {
    val pre = Welford(st.count, st.mean, st.m2)
    val scaled = pre.zscore(aggRow.cpu)
    val history = appendCapped(st.history, scaled, cfg.maxHistory)
    val raw = appendCapped(st.rawHistory, aggRow.cpu, cfg.maxHistory)
    val post = pre.add(aggRow.cpu)
    val counter = (st.emitCounter + 1) % cfg.emitEveryN
    val next = NodeState(history, raw, counter, post.count, post.mean, post.m2)

    if (counter != 0 || history.length < cfg.minHistory) (next, None)
    else {
      val spec = SarimaxLite.Spec(
        cfg.order.p, cfg.order.d, cfg.order.q,
        cfg.seasonalOrder.bigP, cfg.seasonalOrder.bigD, cfg.seasonalOrder.bigQ, cfg.seasonalOrder.s)
      Try {
        val scaledForecast = SarimaxLite.forecast(history.toArray, spec, cfg.forecastSteps).get
        val std = post.std
        val baseline =
          if (std > 0) scaledForecast * std + post.mean
          else if (post.count > 0) post.mean
          else 0.0
        val days = math.max(5, cfg.maxHistory / math.max(1, cfg.seasonalOrder.s))
        val trend = DailyTrend.metrics(raw, cfg.seasonalOrder.s, days)
        Baseline(
          nodeId = aggRow.nodeId,
          observedCpu = aggRow.cpu,
          baselineCpu = math.max(0.0, baseline),
          historySize = history.length,
          eventTime = aggRow.eventTime,
          runningMean = post.mean,
          runningStd = std,
          dailyAvgLatest = trend.latestDayAvg,
          dailyAvgLast5 = trend.fiveDayAvg)
      } match {
        case Success(b) => (next, Some(b))
        case Failure(exc) =>
          logWarning(s"Failed SARIMAX fit for ${aggRow.nodeId}: ${exc.getMessage}")
          (next, None)
      }
    }
  }

  /** `(h :+ x).takeRight(cap)` as one new primitive array, never boxing an element. */
  private def appendCapped(h: ArraySeq[Double], x: Double, cap: Int): ArraySeq[Double] =
    if (cap <= 0) ArraySeq.empty[Double]
    else {
      val keep = math.min(h.length, cap - 1)
      val out = new Array[Double](keep + 1)
      Array.copy(h.unsafeArray, h.length - keep, out, 0, keep)
      out(keep) = x
      ArraySeq.unsafeWrapArray(out)
    }
}
