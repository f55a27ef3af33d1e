package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one process:
  *
  * {{{
  * Main --workload stream_fleet|catalog --seed N --seconds S
  *      --trace 0|1 --t0-ms EPOCH_MS --out DIR [--cores N] [--record]
  * }}}
  *
  * Writes `DIR/<workload>-<seed>-trace<0|1>.result.json` (and, when traced,
  * the span and counter file); with `--cores N` the run is at `local[N]`
  * instead of `local[<nproc>]` and its files end in `-local<N>`. `--record`
  * writes the expected-output digests of the workload into `expected/`
  * instead of checking against them.
  */
object Main {

  /** Every end-to-end metric, with its unit; each workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "run_s" -> "s",
    "rows_per_s" -> "rows/s",
    "latency_p50_ms" -> "ms",
    "latency_p75_ms" -> "ms")

  /** Every per-layer metric, with its unit. A layer a workload does not touch
    * reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.gen_ms" -> "ms",
    "operators.baselines" -> "count",
    "operators.alerts" -> "count",
    "operators.step_us_p50" -> "us",
    "operators.step_us_p90" -> "us",
    "operators.check_us_p50" -> "us",
    "ts.forecasts" -> "count",
    "ts.forecast_ms_p50" -> "ms",
    "ts.forecast_ms_p90" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "state.rows_total" -> "count",
    "state.rows_updated" -> "count",
    "state.update_ms" -> "ms",
    "state.commit_ms" -> "ms",
    "state.memory_bytes" -> "B",
    "state.bytes_per_key" -> "B",
    "state.cache_hit_ratio" -> "1",
    "catalog.build_ms" -> "ms",
    "catalog.eager_jobs" -> "count",
    "catalog.action_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms",
    "scheduler.jobs" -> "count",
    "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count",
    "executor.run_ms" -> "ms",
    "executor.cpu_ms" -> "ms",
    "executor.deser_ms" -> "ms",
    "executor.gc_ms" -> "ms",
    "executor.task_skew" -> "1",
    "shuffle.write_bytes" -> "B",
    "shuffle.read_bytes" -> "B",
    "shuffle.fetch_wait_ms" -> "ms",
    "scaling.rows_per_s_1core" -> "rows/s",
    "bench.failed_ratio" -> "1")

  /** Per-layer sums from [[SparkProbe.window]] that are reported per timed
    * operation, so runs that time a different number of operations compare.
    */
  val PerOperation: Set[String] = Set(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.run_ms", "executor.cpu_ms", "executor.deser_ms", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val run = new Run(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      traced = opts.getOrElse("trace", "0") == "1",
      t0Ms = opts.get("t0-ms").map(_.toDouble).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      benchDir = new File(opts.getOrElse("bench-dir", ".")).getCanonicalFile,
      outDir = new File(opts("out")).getCanonicalFile,
      cores = opts.get("cores").map(_.toInt),
      record = record)
    val workload: Workload = run.workload match {
      case "stream_fleet" => StreamFleet
      case "catalog" => Catalog
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try workload.run(run)
    finally run.stopSession()
    run.write()
  }
}

trait Workload {
  def run(r: Run): Unit
}

/** State of one run: its arguments, ledger, tracer, metrics and session. */
final class Run(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val t0Ms: Double,
    val benchDir: File,
    val outDir: File,
    cores: Option[Int],
    val record: Boolean) {

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** Cores of the run's `local[n]` master. */
  val cpus: Int = cores.getOrElse(nproc)
  val ledger = new Ledger
  val tracer = new Tracer(traced)
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val params: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** The timed operations' latencies in ms, in the order they ran. */
  var samples: Seq[Double] = Nil
  /** The warm-up operations' latencies in ms, in the order they ran. */
  var warmupSamples: Seq[Double] = Nil
  val workDir: File = new File(benchDir, "work")
  private var session: Option[SparkSession] = None
  private var probeOpt: Option[SparkProbe] = None

  def nowMs: Double = tracer.nowMs

  /** The run's session at `local[cores]`, built by `builder`; traced runs
    * attach the listeners.
    */
  def startSession(builder: SparkSession.Builder): SparkSession = {
    stopSession()
    workDir.mkdirs()
    val spark = builder
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    session = Some(spark)
    probeOpt = if (traced) Some(SparkProbe.attach(spark)) else None
    spark
  }

  def stopSession(): Unit = {
    session.foreach(_.stop())
    session = None
    probeOpt = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def probe: Option[SparkProbe] = probeOpt

  /** Per-layer numbers of Spark's listeners over [fromMs, toMs], per timed
    * operation where summed.
    */
  def sparkLayers(spark: SparkSession, fromMs: Double, toMs: Double, ops: Int): Unit =
    probe.foreach { p =>
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      p.window(fromMs, toMs).foreach { case (k, v) =>
        layers(k) = if (Main.PerOperation(k)) v / math.max(1, ops) else v
      }
    }

  /** setup_s: process start to the first timed operation. */
  def setupEnds(atMs: Double): Unit = e2e("setup_s") = (atMs - t0Ms) / 1000.0

  private def stamp: Map[String, Any] = Map(
    "nproc" -> nproc,
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
    "master" -> s"local[$cpus]",
    "workload" -> workload,
    "seed" -> seed,
    "seconds" -> seconds,
    "trace" -> traced,
    "params" -> params)

  def write(): Unit = {
    outDir.mkdirs()
    layers("bench.failed_ratio") = ledger.failed.toDouble / math.max(1, ledger.attempted)
    val correct = ledger.failed == 0 && Main.EndToEnd.forall(m => e2e.contains(m._1))
    val result = Map(
      "correct" -> correct,
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "failures" -> ledger.failures.map { case (op, why) => Map("op" -> op, "reason" -> why) },
      "end_to_end" -> Main.EndToEnd.collect { case (k, u) if e2e.contains(k) => k -> Map("value" -> e2e(k), "unit" -> u) }.toMap,
      "per_layer" -> Main.PerLayer.map { case (k, u) => k -> Map("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }.toMap,
      "latency_samples_ms" -> samples,
      "warmup_samples_ms" -> warmupSamples,
      "stamp" -> stamp)
    val base = s"$workload-$seed-trace${if (traced) 1 else 0}" + cores.fold("")(n => s"-local$n")
    writeJson(new File(outDir, s"$base.result.json"), result)
    if (traced) writeJson(new File(outDir, s"$base.spans.json"), tracer.toJson)
  }

  def writeJson(f: File, v: Any): Unit =
    Files.write(f.toPath, Main.json.writerWithDefaultPrettyPrinter().writeValueAsString(v).getBytes(StandardCharsets.UTF_8))

  def expectedFile(name: String): File = new File(new File(benchDir, "expected"), name)
}
