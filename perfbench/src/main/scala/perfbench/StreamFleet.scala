package perfbench

import java.io.File
import java.time.Instant
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{GraftSession, PipelineConfig}
import graft.model.PipelineOutput
import graft.operators.NodePipeline
import graft.sources.MetricDatagen

/** `stream_fleet`: the paper's streaming job as one closed-loop query.
  * `NodePipeline` over `MetricDatagen.streamMicroBatch` with one 5-minute
  * window per node per micro-batch; triggers run back to back, so a batch's
  * duration is the latency of every result in it. `minHistory = 12` lets
  * baselines and alerts flow within the run while every forecast takes the
  * seasonal-naive rung: the micro-batch engine, the state store, the shuffle
  * on `nodeId` and the per-row operators set the time, not the SARIMAX fit.
  */
object StreamFleet extends Workload {
  val Nodes = 2000
  val WarmupBatches = 16
  val TimedBatches = 50
  /** Nodes replayed through the kernels in a traced run. */
  val ReplayNodes = 2
  /** Windows of the traced run's ts probe: 7 days of 5-minute windows. */
  val WeekWindows = 2016
  val cfg: PipelineConfig = PipelineConfig(minHistory = 12)
  private val StartMs = 1704067200000L

  private def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Runs batches 0 until `total` of a fresh query into a memory table; gives
    * their progress, the table name, and the failure if the query stopped
    * early.
    */
  private def runQuery(r: Run, spark: SparkSession, total: Int): (Seq[StreamingQueryProgress], String, Option[String]) = {
    val table = s"fleet_${UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = new File(r.workDir, s"ckpt-$table")
    val source = MetricDatagen.streamMicroBatch(
      spark, numNodes = Nodes, rowsPerBatch = Nodes, advanceMsPerBatch = cfg.windowMillis,
      startEpochMs = StartMs, seed = r.seed)
    val q = NodePipeline(source, cfg).writeStream
      .format("memory")
      .queryName(table)
      .outputMode("append")
      .option("checkpointLocation", ckpt.getPath)
      .start()
    val deadline = System.currentTimeMillis() + 150000L
    def done = Option(q.lastProgress).exists(_.batchId >= total - 1)
    while (q.isActive && !done && System.currentTimeMillis() < deadline) Thread.sleep(2)
    val error = q.exception.map(_.toString).orElse(if (done) None else Some("query did not reach its last batch in time"))
    q.stop()
    (q.recentProgress.filter(_.batchId < total).sortBy(_.batchId).toSeq, table, error)
  }

  def run(r: Run): Unit = {
    val total = WarmupBatches + TimedBatches
    r.params ++= Seq("nodes" -> Nodes, "warmup_batches" -> WarmupBatches, "timed_batches" -> TimedBatches,
      "rows_per_batch" -> Nodes, "min_history" -> cfg.minHistory, "max_history" -> cfg.maxHistory,
      "emit_every_n" -> cfg.emitEveryN, "season" -> cfg.seasonalOrder.s, "trigger" -> "back-to-back, one query")
    val spark = r.startSession(GraftSession.builder(Some(s"local[${r.cpus}]"), Some(r.cpus)))
    val (progress, table, error) = runQuery(r, spark, total)
    progress.foreach(p => r.ledger.attempt(s"batch-${p.batchId}")(()))
    r.ledger.lost("batch", total - progress.size, error.getOrElse("batch missing from progress"))

    val (warmup, timed) = progress.partition(_.batchId < WarmupBatches)
    r.warmupSamples = warmup.map(_.batchDuration.toDouble)
    if (timed.nonEmpty) {
      val first = startMs(timed.head)
      val end = startMs(timed.last) + timed.last.batchDuration
      val wallS = (end - first) / 1000.0
      val latencies = timed.map(_.batchDuration.toDouble)
      r.setupEnds(first)
      r.e2e("run_s") = wallS
      r.e2e("rows_per_s") = Nodes.toDouble * timed.size / wallS
      r.e2e("latency_p50_ms") = Stats.median(latencies)
      r.e2e("latency_p75_ms") = Stats.quantile(latencies, 0.75)
      r.samples = latencies
      streamingLayers(r, timed)
      r.sparkLayers(spark, first, end, timed.size)
    }

    // output check, outside the timed batches: the streamed output of windows
    // closed by batch total-1 equals the batch job over the same rows
    val lastClosed = StartMs + (total - 1) * cfg.windowMillis
    val streamed = spark.table(table).filter(col("eventTime") < lastClosed)
    val reference = NodePipeline(
      MetricDatagen.batch(spark, numNodes = Nodes, samplesPerNode = total, startEpochMs = StartMs,
        intervalMs = cfg.windowMillis, seed = r.seed), cfg)
    import spark.implicits._
    val got = streamed.as[PipelineOutput].collect()
    r.ledger.check("output equals batch replay")(multiset(got) == multiset(reference.collect()))
    val baselines = got.count(_.kind == "baseline")
    val alerts = got.count(_.kind == "alert")
    r.ledger.check("baselines > 0")(baselines > 0)
    r.ledger.check("alerts > 0")(alerts > 0)
    r.layers("operators.baselines") = baselines.toDouble
    r.layers("operators.alerts") = alerts.toDouble

    if (r.traced) traced(r, spark, total, streamed)
  }

  private def multiset(rows: Array[PipelineOutput]): Map[PipelineOutput, Int] =
    rows.groupMapReduce(identity)(_ => 1)(_ + _)

  private def streamingLayers(r: Run, timed: Seq[StreamingQueryProgress]): Unit = {
    def phase(name: String) = Stats.median(timed.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)))
    r.layers("streaming.trigger_ms") = phase("triggerExecution")
    r.layers("streaming.add_batch_ms") = phase("addBatch")
    r.layers("streaming.query_planning_ms") = phase("queryPlanning")
    r.layers("streaming.wal_commit_ms") = phase("walCommit")
    r.layers("streaming.commit_offsets_ms") = phase("commitOffsets")
    r.layers("streaming.latest_offset_ms") = phase("latestOffset")
    val ops = timed.flatMap(_.stateOperators.headOption)
    if (ops.nonEmpty) {
      val last = ops.last
      r.layers("state.rows_total") = last.numRowsTotal.toDouble
      r.layers("state.memory_bytes") = last.memoryUsedBytes.toDouble
      r.layers("state.bytes_per_key") = last.memoryUsedBytes.toDouble / math.max(1L, last.numRowsTotal)
      r.layers("state.rows_updated") = Stats.median(ops.map(_.numRowsUpdated.toDouble))
      r.layers("state.update_ms") = Stats.median(ops.map(_.allUpdatesTimeMs.toDouble))
      r.layers("state.commit_ms") = Stats.median(ops.map(_.commitTimeMs.toDouble))
      def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val hits = custom("loadedMapCacheHitCount")
      val misses = custom("loadedMapCacheMissCount")
      r.layers("state.cache_hit_ratio") = if (hits + misses > 0) hits / (hits + misses) else 0.0
    }
    // one span per micro-batch, the Spark jobs inside it as children, and
    // the engine's phase durations as counters at the batch boundary
    timed.foreach { p =>
      val trace = s"batch-${p.batchId}"
      val s = startMs(p)
      val id = r.tracer.record(trace, "streaming.batch", 0, s, s + p.batchDuration)
      p.durationMs.asScala.foreach { case (k, v) => r.tracer.count(trace, s"streaming.$k", v.toDouble, id) }
      r.tracer.count(trace, "streaming.input_rows", p.numInputRows.toDouble, id)
      p.stateOperators.headOption.foreach { o =>
        r.tracer.count(trace, "state.rows_total", o.numRowsTotal.toDouble, id)
        r.tracer.count(trace, "state.rows_updated", o.numRowsUpdated.toDouble, id)
        r.tracer.count(trace, "state.memory_bytes", o.memoryUsedBytes.toDouble, id)
      }
    }
  }

  private def traced(r: Run, spark: SparkSession, total: Int, streamed: DataFrame): Unit = {
    // Spark jobs as children of the micro-batch that ran them
    r.probe.foreach { p =>
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      r.tracer.spans.filter(_.name == "streaming.batch").foreach { b =>
        p.jobs(b.startMs, b.endMs).foreach(j => r.tracer.record(b.trace, "spark.job", b.id, j.startMs, j.endMs))
      }
    }
    // the timed rows generated alone
    val genStart = r.nowMs
    MetricDatagen.batch(spark, numNodes = Nodes, samplesPerNode = TimedBatches, startEpochMs = StartMs,
      intervalMs = cfg.windowMillis, seed = r.seed).write.format("noop").mode("overwrite").save()
    r.layers("sources.gen_ms") = r.nowMs - genStart

    val replayed = (1 to ReplayNodes).map(i => f"node-$i%02d")
    val metrics = MetricDatagen.batch(spark, numNodes = Nodes, samplesPerNode = total, startEpochMs = StartMs,
      intervalMs = cfg.windowMillis, seed = r.seed).filter(col("nodeId").isin(replayed: _*)).collect().toSeq
    val (counts, calls) = Replay(r, cfg, metrics, "replay")
    r.layers("operators.step_us_p50") = Stats.median(calls.stepUs)
    r.layers("operators.step_us_p90") = Stats.quantile(calls.stepUs, 0.9)
    r.layers("operators.check_us_p50") = Stats.median(calls.checkUs)
    // this workload's forecasts all take the seasonal-naive rung, so the ts
    // layer is timed on one node's week at the reference hyperparameters,
    // where every fifth window past 288 makes a real CSS fit
    val reference = PipelineConfig()
    val week = MetricDatagen.batch(spark, numNodes = 1, samplesPerNode = WeekWindows, startEpochMs = StartMs,
      intervalMs = reference.windowMillis, seed = r.seed).collect().toSeq
    val fits = Replay(r, reference, week, "week")._2.forecastMs
    r.layers("ts.forecasts") = fits.size.toDouble
    r.layers("ts.forecast_ms_p50") = Stats.median(fits)
    r.layers("ts.forecast_ms_p90") = Stats.quantile(fits, 0.9)
    val job = streamed.filter(col("nodeId").isin(replayed: _*)).groupBy("nodeId", "kind").count()
      .collect().map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
    r.ledger.check("kernel replay matches streamed output") {
      replayed.forall { n =>
        val c = counts.getOrElse(n, Replay.Counts(0, 0))
        c.baselines == job.getOrElse((n, "baseline"), 0L) && c.alerts == job.getOrElse((n, "alert"), 0L)
      }
    }
  }
}
