package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{PipelineConfig, SarimaxOrder, SeasonalOrder}
import graft.ext.{Archives, BitPack, Blocklist, Boilerplate, Bpe, Cdc, Charset, Clusters, Csv, Dedup, Encoding, EventAnalytics, Evaluation, Gorilla, Graph, Html, InvertedIndex, Lz4, Multimodal, Packing, Projection, Rans, Rle, Robots, Sampling, Similarity, Sitemaps, Sketches, Skyline, Snappy, Suffix, Tar, TextAnalysis, Url, Zip}
import graft.model.{Metric, WindowAggregate}
import graft.operators.{BaselineOp, MetricParse, NodePipeline, WindowAgg}
import graft.sources.MetricDatagen

/** The driver-contract query catalog: one batch query per implemented
  * operator (SURVEY §2 + the north-star LLM-pipeline extensions), each over
  * `/root/testdata/<sf>` parquet, with — wherever ANSI SQL can express the
  * semantics — a DuckDB oracle producing the identical result (same column
  * names, types and values).
  *
  * Cross-engine determinism rules used throughout (so value hashes match):
  *  - money-style sums go through an exact decimal cast before summation
  *    (double sums are order-dependent; decimal sums are exact), then back to
  *    double;
  *  - dot products / norms fold left-to-right over array elements in BOTH
  *    engines (Spark `aggregate` == DuckDB `list_reduce` with a prepended
  *    init), making them bitwise identical;
  *  - averages of non-integral doubles are rounded to 6 decimals;
  *  - counts, mins/maxes, and sums of integral doubles are exact as-is;
  *  - `stddev_samp` over a single row is NULL-guarded (Spark yields NaN,
  *    DuckDB NULL).
  */
object QueryCatalog {

  /** epoch millis from the events table's raw int64 nanosecond timestamps
    * (written as parquet TIMESTAMP(NANOS), which Spark only reads with
    * `nanosAsLong`; positive values, so DIV truncation == floor == DuckDB's
    * `epoch_ms`).
    */
  private val tsMillis = "CAST(ts DIV 1000000 AS BIGINT)"

  /** The fixture table `dir/name.parquet`, read with its parquet schema
    * inferred once per file version rather than on every call: inference
    * is a Spark job (`parquet at …`) that every query built on the table
    * would otherwise run while its DataFrame is still being built.
    *
    * The memo ([[schemaOf]]) is keyed by the file's identity and version
    * (each data file's canonical path, length, modification time and, on
    * the local filesystem, its device and inode) and by the session
    * settings Spark's parquet schema converter reads, so a rewritten file
    * or a session that converts differently infers afresh. It holds only
    * the schema, never a DataFrame or a plan: every call still builds a
    * fresh relation with fresh expression ids, which keeps self-joins of
    * one table resolvable, and nothing held has a lifetime to manage.
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    // HarnessDefaults and the test session set this, GraftSession does not
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = s.read.schema(schemaOf(s, path)).parquet(path)
    // The events table's `ts` arrives as parquet TIMESTAMP(NANOS) in some
    // data generations (read as BIGINT nanos under `nanosAsLong`) and as
    // TIMESTAMP(MICROS) in others (read as a true timestamp, which
    // `nanosAsLong` does not touch). Normalize the latter to the
    // BIGINT-nanos representation every query AND every DuckDB oracle is
    // written against (the oracles' `epoch_us(ts)` treats the naive wall
    // time as UTC; the session timezone is pinned UTC in every entry
    // point, so the cast below interprets it identically).
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampType ||
          f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L))
      case _ => df
    }
  }

  /** The session settings Spark 4.1's parquet schema inference passes to
    * its schema converter; a schema inferred under one set of values is
    * not the schema under another.
    */
  private val schemaSettings = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled")

  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(Seq[String], Seq[(String, Long, Long, Any)]), StructType]

  /** The schema `s.read.parquet(path)` infers, inferred once per file
    * version and settings (see [[table]]). Two threads that miss at once
    * may both infer; the results are equal.
    */
  private[graft] def schemaOf(s: SparkSession, path: String): StructType =
    schemas.getOrElseUpdate((schemaSettings.map(s.conf.get), fileVersions(s, path)),
      s.read.parquet(path).schema)

  /** Each data file of `path` (the file itself, or every file under a
    * directory) as (canonical path, length, modification time, file key).
    * The file key is the device and inode on the local filesystem and
    * null elsewhere. Statuses are listed without reading permissions,
    * which Hadoop's local filesystem gets by launching a process.
    */
  private def fileVersions(s: SparkSession, path: String): Seq[(String, Long, Long, Any)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    files(fs.getFileStatus(root)).map { st =>
      val uri = st.getPath.toUri
      if (uri.getScheme == "file") {
        val local = Paths.get(uri).toRealPath()
        (local.toString, st.getLen, st.getModificationTime,
          Files.readAttributes(local, classOf[BasicFileAttributes]).fileKey)
      } else (st.getPath.toString, st.getLen, st.getModificationTime, null)
    }.sortBy(_._1)
  }

  /** The events table viewed as the reference's metric stream (A1/A2 in
    * FIXTURES.md): node = user, cpu = value, event time = epoch millis.
    */
  def eventMetrics(s: SparkSession, dir: String): Dataset[Metric] = {
    import s.implicits._
    table(s, dir, "events")
      .select(
        col("user_id").cast("string").as("nodeId"),
        col("value").as("cpu"),
        expr(tsMillis).as("eventTime"))
      .as[Metric]
  }

  /** Replay config for the stateful operators over the events table: season
    * of 24 samples, warm-up 24, fit every 20th sample, history cap 288 —
    * scaled-down reference hyperparameters so sf0.01 (~67 samples/key)
    * crosses the warm-up threshold.
    */
  val replayCfg: PipelineConfig = PipelineConfig(
    maxHistory = 288,
    minHistory = 24,
    emitEveryN = 20,
    order = SarimaxOrder(1, 1, 1),
    seasonalOrder = SeasonalOrder(0, 1, 1, 24))

  // ---------------------------------------------------------------- events

  private val qMetricParse: (SparkSession, String) => DataFrame = (s, dir) => {
    val raw = table(s, dir, "events").select(
      when(col("event_id") % 97 === 0, lit("{not json"))
        .otherwise(to_json(struct(
          col("user_id").cast("string").as("node_id"),
          col("value").as("cpu_utilization"),
          when(col("event_id") % 10 === 0, lit(null).cast("long"))
            .otherwise(expr(tsMillis)).as("timestamp"))))
        .as("raw"))
    MetricParse.parse(raw).toDF("node_id", "cpu", "event_time")
  }

  // user_id/value null filters mirror MetricParse.parse's post-parse
  // null-drop (to_json omits null fields; a null user_id or value row never
  // survives the Spark side) — no-op on the current all-non-null fixture,
  // load-bearing the day a null appears
  private val oMetricParse: String =
    """SELECT cast(user_id AS varchar) AS node_id, value AS cpu,
      |       CASE WHEN event_id % 10 = 0 THEN 0 ELSE epoch_ms(ts) END AS event_time
      |FROM events
      |WHERE event_id % 97 <> 0 AND user_id IS NOT NULL AND value IS NOT NULL""".stripMargin

  private val qWindowAgg: (SparkSession, String) => DataFrame = (s, dir) =>
    WindowAgg.batch(eventMetrics(s, dir), exactMean = true).toDF()
      .select(
        col("nodeId").as("node_id"),
        col("cpu"),
        col("eventTime").as("event_time"))

  // the CASE mirrors WindowAgg's ts-0 fallback (flinkarima.py:267-280): a
  // window whose max event time is 0 reports the window END — unreachable
  // on the fixture (no epoch-0 timestamps) but pinned so a zero-default
  // producer timestamp cannot silently diverge the gate
  private val oWindowAgg: String =
    """SELECT cast(user_id AS varchar) AS node_id,
      |       CAST(sum(CAST(value AS decimal(18,2))) AS double) / count(*) AS cpu,
      |       CASE WHEN max(epoch_ms(ts)) = 0 THEN (epoch_ms(ts) // 300000 + 1) * 300000
      |            ELSE max(epoch_ms(ts)) END AS event_time
      |FROM events GROUP BY cast(user_id AS varchar), epoch_ms(ts) // 300000""".stripMargin

  private val qEventStats: (SparkSession, String) => DataFrame = (s, dir) => {
    val n = count(lit(1))
    val s1 = sum(col("value").cast("decimal(18,2)")).cast("double")
    val s2 = sum((col("value") * col("value")).cast("decimal(38,8)")).cast("double")
    val variance = (s2 - s1 * s1 / n) / (n - 1)
    table(s, dir, "events")
      .groupBy(col("event_type"), expr(s"CAST(($tsMillis) DIV 3600000 AS BIGINT)").as("hour_bucket"))
      .agg(
        n.as("n"),
        (s1 / n).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        when(n > 1, when(variance > 0, sqrt(variance)).otherwise(lit(0.0))).as("std_value"))
  }

  private val oEventStats: String =
    """WITH m AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour_bucket, count(*) AS n,
      |         CAST(sum(CAST(value AS decimal(18,2))) AS double) AS s1,
      |         CAST(sum(CAST(value * value AS decimal(38,8))) AS double) AS s2,
      |         min(value) AS min_value, max(value) AS max_value
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hour_bucket, n, s1 / n AS avg_value, min_value, max_value,
      |       CASE WHEN n > 1 THEN
      |         CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
      |              THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END
      |       END AS std_value
      |FROM m""".stripMargin

  /** O11's alert math as pure column expressions over a SQL-expressible
    * baseline (per-node global mean / stddev), so DuckDB can replay the full
    * truth table: min_baseline guard, std>0 guard, z-priority, severity at
    * 2x z-threshold (flinkarima.py:301-360).
    */
  private val qAlertMath: (SparkSession, String) => DataFrame = (s, dir) => {
    val cfg = PipelineConfig()
    val m = eventMetrics(s, dir).toDF()
    // Exact-moment baseline: decimal-summed S1/S2 so mean and std — and every
    // column derived from them — are bitwise identical across engines (double
    // sums are order-dependent; decimal sums are exact; all later FP ops run
    // on identical operands). No output rounding needed.
    val n = col("n")
    val base = m.groupBy("nodeId")
      .agg(
        count(lit(1)).as("n"),
        sum(col("cpu").cast("decimal(18,2)")).cast("double").as("s1"),
        sum((col("cpu") * col("cpu")).cast("decimal(38,8)")).cast("double").as("s2"))
      .select(
        col("nodeId"),
        (col("s1") / n).as("baselineCpu"),
        when(n > 1, {
          val v = (col("s2") - col("s1") * col("s1") / n) / (n - 1)
          when(v > 0, sqrt(v)).otherwise(lit(0.0))
        }).otherwise(lit(0.0)).as("runningStd"))
    val joined = m.join(broadcast(base), "nodeId")
    val deviation = col("cpu") - col("baselineCpu")
    val pct = when(col("baselineCpu") >= cfg.alertMinBaseline, deviation / col("baselineCpu") * 100.0)
      .otherwise(lit(0.0))
    val z = when(col("runningStd") > 0.0, deviation / col("runningStd")).otherwise(lit(0.0))
    // alert_reason carries only the static rule text: embedding round(z, 2)
    // inside a %.2f format stacked two cross-engine rounding algorithms
    // (Spark round = BigDecimal HALF_UP on the shortest decimal repr + Java
    // %.2f, vs DuckDB round = scaled binary + C printf) that diverge on
    // near-midpoint values; the exact z_score / pct_deviation numerics are
    // emitted as columns alongside. AlertOp.check (the pipeline's alert
    // kernel) still formats the reference's full message — see AlertOpSpec's
    // truth table.
    val zr = lit(s"z_score exceeds threshold=${cfg.alertZThreshold}")
    val pr = lit(s"pct_deviation exceeds threshold=${cfg.alertPctThreshold}%")
    joined
      .withColumn("pct_deviation", pct)
      .withColumn("z_score", z)
      .withColumn("alert_reason",
        when(abs(col("z_score")) >= cfg.alertZThreshold, zr)
          .when(abs(col("pct_deviation")) >= cfg.alertPctThreshold, pr))
      .filter(col("alert_reason").isNotNull)
      .select(
        col("nodeId").as("node_id"),
        col("eventTime").as("event_time"),
        col("cpu").as("observed_cpu"),
        col("baselineCpu").as("baseline_cpu"),
        deviation.as("deviation"),
        col("pct_deviation"),
        col("z_score"),
        when(abs(col("z_score")) >= cfg.alertZThreshold * 2, "high").otherwise("medium").as("severity"),
        col("alert_reason"))
  }

  private val oAlertMath: String =
    """WITH moments AS (
      |  SELECT cast(user_id AS varchar) AS node_id, count(*) AS n,
      |         CAST(sum(CAST(value AS decimal(18,2))) AS double) AS s1,
      |         CAST(sum(CAST(value * value AS decimal(38,8))) AS double) AS s2
      |  FROM events GROUP BY 1
      |), base AS (
      |  SELECT node_id, s1 / n AS baseline_cpu,
      |         CASE WHEN n > 1 THEN
      |           CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
      |                THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END
      |         ELSE 0.0 END AS running_std
      |  FROM moments
      |), j AS (
      |  SELECT cast(e.user_id AS varchar) AS node_id, epoch_ms(e.ts) AS event_time, e.value AS observed_cpu,
      |         b.baseline_cpu, b.running_std, e.value - b.baseline_cpu AS deviation,
      |         CASE WHEN b.baseline_cpu >= 1.0 THEN (e.value - b.baseline_cpu) / b.baseline_cpu * 100.0 ELSE 0.0 END AS pct_deviation,
      |         CASE WHEN b.running_std > 0.0 THEN (e.value - b.baseline_cpu) / b.running_std ELSE 0.0 END AS z_score
      |  FROM events e JOIN base b ON cast(e.user_id AS varchar) = b.node_id
      |)
      |SELECT node_id, event_time, observed_cpu, baseline_cpu, deviation, pct_deviation, z_score,
      |       CASE WHEN abs(z_score) >= 6.0 THEN 'high' ELSE 'medium' END AS severity,
      |       CASE WHEN abs(z_score) >= 3.0 THEN 'z_score exceeds threshold=3.0'
      |            WHEN abs(pct_deviation) >= 50.0 THEN 'pct_deviation exceeds threshold=50.0%'
      |       END AS alert_reason
      |FROM j WHERE abs(z_score) >= 3.0 OR abs(pct_deviation) >= 50.0""".stripMargin

  /** O7's daily-trend metrics as a distributed query: per node, the mean of
    * the most recent `season` samples and of the most recent `days*season`
    * samples (flinkarima.py:130-142 with season=24, days=5).
    */
  private val qDailyTrend: (SparkSession, String) => DataFrame = (s, dir) => {
    // rank on (micros, event_id): DuckDB reads this parquet's nanos at
    // MICRO precision, so ranking on raw nanos would let a same-micro nano
    // tie order differently across engines; the event_id tiebreak makes the
    // order total and identical on both sides
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts DIV 1000").desc, col("event_id").desc)
    def exactAvg(cond: Column) =
      sum(when(cond, col("value")).cast("decimal(18,2)")).cast("double") / count(when(cond, col("value")))
    table(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id").cast("string").as("node_id"))
      .agg(
        exactAvg(col("rn") <= 24).as("latest_day_avg"),
        exactAvg(col("rn") <= 120).as("five_day_avg"))
  }

  private val oDailyTrend: String =
    """WITH r AS (
      |  SELECT cast(user_id AS varchar) AS node_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT node_id,
      |       CAST(sum(CAST(value AS decimal(18,2))) FILTER (rn <= 24) AS double) / count(value) FILTER (rn <= 24) AS latest_day_avg,
      |       CAST(sum(CAST(value AS decimal(18,2))) FILTER (rn <= 120) AS double) / count(value) FILTER (rn <= 120) AS five_day_avg
      |FROM r GROUP BY 1""".stripMargin

  /** O6 replayed in batch over the events table, emitting the state-derived
    * fields (Welford mean/std, history size, daily trend) that ANSI SQL can
    * reproduce with window frames — the forecast itself is covered by
    * `pipeline_replay` (rows-only) and the SarimaxLite test goldens.
    */
  private val qBaselineStats: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    // BaselineOp sorts each key's history by millisecond eventTime, so two
    // same-millisecond events would fold in nondeterministic order (and
    // diverge from the oracle's micro-ordered fold) — keep exactly one
    // event per (user, ms), chosen by the SAME (micros, event_id) total
    // order in both engines. No-op on the tie-free fixture.
    val wTie = Window.partitionBy(col("user_id"), expr("ts DIV 1000000"))
      .orderBy(expr("ts DIV 1000"), col("event_id"))
    val deduped = table(s, dir, "events")
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") === 1)
      .select(
        col("user_id").cast("string").as("nodeId"),
        col("value").as("cpu"),
        expr(tsMillis).as("eventTime"))
      .as[Metric]
    val aggs = deduped.map(m => WindowAggregate(m.nodeId, m.cpu, m.eventTime))
    BaselineOp.replay(aggs, replayCfg).toDF()
      .select(
        col("nodeId").as("node_id"),
        col("eventTime").as("event_time"),
        col("observedCpu").as("observed_cpu"),
        col("historySize").cast("long").as("history_size"),
        col("runningMean").as("running_mean"),
        col("runningStd").as("running_std"),
        col("dailyAvgLatest").as("daily_avg_latest"),
        col("dailyAvgLast5").as("daily_avg_last5"))
  }

  // Emits at the rn-th sample when rn % emitEveryN == 0 and rn >= minHistory;
  // history capped at maxHistory = 288; daily trend over the capped raw
  // history: days = max(5, 288/24) = 12 -> frame of 288, season 24.
  // The oracle replays Welford's update (same FP operation order as
  // graft.ts.Welford.add) and sequential left-fold sums for the trend
  // averages, so mean/std/trend are bitwise identical — no rounding.
  private val oBaselineStats: String =
    """WITH dedup AS (
      |  SELECT user_id, value, ts FROM events
      |  QUALIFY row_number() OVER (
      |    PARTITION BY user_id, epoch_ms(ts) ORDER BY epoch_us(ts), event_id) = 1
      |), ord AS (
      |  SELECT user_id,
      |         list(value ORDER BY epoch_us(ts)) AS vals,
      |         list(epoch_ms(ts) ORDER BY epoch_us(ts)) AS times
      |  FROM dedup GROUP BY user_id
      |), emits AS (
      |  SELECT user_id, vals, times,
      |         unnest(list_filter(range(1, len(vals) + 1), rn -> rn % 20 = 0 AND rn >= 24)) AS rn
      |  FROM ord
      |), wf AS (
      |  SELECT user_id, rn, times[rn] AS event_time, vals[rn] AS observed_cpu,
      |    list_reduce(
      |      list_prepend([0.0, 0.0, 0.0], list_transform(vals[1:rn], x -> [x])),
      |      (acc, e) -> [acc[1] + 1,
      |                   acc[2] + (e[1] - acc[2]) / (acc[1] + 1),
      |                   acc[3] + (e[1] - acc[2]) * (e[1] - (acc[2] + (e[1] - acc[2]) / (acc[1] + 1)))]) AS w,
      |    list_reduce(list_prepend(0.0, vals[greatest(1, rn - 23):rn]), (a, x) -> a + x) / least(rn, 24) AS d_latest,
      |    list_reduce(list_prepend(0.0, vals[greatest(1, rn - 287):rn]), (a, x) -> a + x) / least(rn, 288) AS d_last5
      |  FROM emits
      |)
      |SELECT cast(user_id AS varchar) AS node_id, event_time, observed_cpu,
      |       least(rn, 288) AS history_size, w[2] AS running_mean,
      |       CASE WHEN w[1] > 1 AND w[3] > 0 THEN sqrt(w[3] / (w[1] - 1)) ELSE 0.0 END AS running_std,
      |       d_latest AS daily_avg_latest, d_last5 AS daily_avg_last5
      |FROM wf""".stripMargin

  /** Full fused pipeline (window agg + SARIMAX baseline + alerting) replayed
    * in batch; forecast numerics are not SQL-expressible -> rows-only check.
    */
  private val qPipelineReplay: (SparkSession, String) => DataFrame = (s, dir) => {
    val cfg = replayCfg.copy(minHistory = 24, emitEveryN = 5, windowMillis = 3600000L)
    NodePipeline(eventMetrics(s, dir), cfg).toDF()
      .select(col("kind"), col("nodeId").as("node_id"), col("eventTime").as("event_time"), col("payload"))
  }

  private val qPropsExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "events")
      .groupBy((regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long") % 10).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_value"))

  // TRY_CAST(NULLIF(..., '')): DuckDB regexp_extract returns '' on no match
  // and CAST('' AS bigint) throws, while Spark maps the same row to a NULL
  // k_mod group — mirror Spark's null semantics instead of crashing the
  // oracle if a props row ever lacks '"k": N'.
  private val oPropsExtract: String =
    """SELECT TRY_CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS bigint) % 10 AS k_mod,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS decimal(18,2))) AS double) / count(*) AS avg_value
      |FROM events GROUP BY 1""".stripMargin

  /** Change-log compaction (LogCompaction.applyLog): the events table read
    * as an upsert/delete log on user_id — props' k ≡ 0 (mod 10) marks a
    * delete — materialized to final table state via ONE map-side-combining
    * `max(struct)` aggregate (never a full-log window sort). The oracle
    * replays with a row_number window, which is fine at oracle scale.
    */
  private val qUpsertApply: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.LogCompaction.applyLog(
      table(s, dir, "events")
        .withColumn("op",
          when(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long") % 10 === 0, "D")
            .otherwise("U"))
        .withColumn("ts_ms", expr(tsMillis)),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts_ms", "event_id"),
      opCol = "op",
      payloadCols = Seq("event_type", "value"))

  private val oUpsertApply: String =
    """WITH l AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value,
      |         CASE WHEN TRY_CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) % 10 = 0
      |              THEN 'D' ELSE 'U' END AS op
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
      |w AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
      |      FROM l)
      |SELECT user_id, ts_ms, event_id, event_type, value FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Exact distinct users per event type. The exact form is the oracle
    * anchor; the one-pass HLL path (`approx_count_distinct`) is
    * engine-specific by nature and is accuracy-bounded in ScaleOpsSpec
    * instead.
    */
  private val qDistinctUsers: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))

  private val oDistinctUsers: String =
    """SELECT event_type, count(DISTINCT user_id)::bigint AS n_users,
      |       count(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  /** Strictly-ordered funnel over the event log (view -> click -> purchase):
    * a user advances only with a strictly-later event of the next type.
    * The ORACLE-FACING query feeds micros, not raw nanos: DuckDB reads this
    * parquet's TIMESTAMP(NANOS) at microsecond precision, so a strict `>`
    * on nanos could advance the funnel on a same-microsecond nano tie the
    * oracle cannot see. The operator itself takes whatever resolution the
    * caller supplies (at production scale, feed the raw nanos).
    */
  private val qFunnel: (SparkSession, String) => DataFrame = (s, dir) =>
    EventAnalytics.funnel(
      table(s, dir, "events").withColumn("ts", expr("CAST(ts DIV 1000 AS BIGINT)")),
      Seq("view", "click", "purchase"))

  private val oFunnel: String =
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t GROUP BY 1)
      |SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1)::bigint AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)::bigint
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)::bigint""".stripMargin

  /** Weekly cohort retention: cohort = period of first event, one row per
    * (cohort, offset) with distinct active users. Pure int64 math.
    */
  private val qCohortRetention: (SparkSession, String) => DataFrame = (s, dir) =>
    EventAnalytics.cohortRetention(table(s, dir, "events"), periodMillis = 604800000L)
      .withColumnRenamed("offset", "period_offset")

  private val oCohortRetention: String =
    """WITH act AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period FROM events),
      |f AS (SELECT user_id, min(period) AS cohort FROM act GROUP BY 1)
      |SELECT cohort, period - cohort AS period_offset, count(*)::bigint AS n_users
      |FROM act JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Exact interpolated percentiles per event type (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation arithmetic —
    * verified bitwise identical, no rounding needed).
    */
  private val qQuantiles: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "events")
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.9, 0.99))").as("ps"))
      .select(
        col("event_type"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p90"),
        col("ps").getItem(2).as("p99"))

  private val oQuantiles: String =
    """SELECT event_type, quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99
      |FROM events GROUP BY 1""".stripMargin

  /** Sliding (hopping) windows: 10-minute width, 5-minute hop — every event
    * lands in exactly two windows.
    */
  private val qSlidingWindow: (SparkSession, String) => DataFrame = (s, dir) =>
    WindowAgg.sliding(eventMetrics(s, dir), windowMillis = 600000L, slideMillis = 300000L, exactMean = true)
      .select(
        col("nodeId").as("node_id"),
        col("windowStart").as("window_start"),
        col("cpu"),
        col("eventTime").as("event_time"),
        col("n"))

  private val oSlidingWindow: String =
    """WITH e AS (SELECT cast(user_id AS varchar) AS node_id, value, epoch_ms(ts) AS tm FROM events),
      |x AS (SELECT node_id, value, tm,
      |             unnest([(tm // 300000) * 300000, (tm // 300000) * 300000 - 300000]) AS ws
      |      FROM e)
      |SELECT node_id, ws AS window_start,
      |       CAST(sum(CAST(value AS decimal(18,2))) AS double) / count(*) AS cpu,
      |       max(tm) AS event_time, count(*) AS n
      |FROM x GROUP BY 1, 2""".stripMargin

  /** Session windows (30-minute gap): sessions merge while consecutive
    * events are STRICTLY closer than the gap; end = last event + gap.
    */
  private val qSessionWindow: (SparkSession, String) => DataFrame = (s, dir) =>
    WindowAgg.sessions(eventMetrics(s, dir), gapMillis = 1800000L)
      .select(
        col("nodeId").as("node_id"),
        col("sessionStart").as("session_start"),
        col("sessionEnd").as("session_end"),
        col("n"),
        col("lastTs").as("last_ts"))

  private val oSessionWindow: String =
    """WITH e AS (SELECT cast(user_id AS varchar) AS node_id, epoch_ms(ts) AS tm FROM events),
      |m AS (SELECT node_id, tm,
      |             CASE WHEN lag(tm) OVER (PARTITION BY node_id ORDER BY tm) IS NULL
      |                    OR tm - lag(tm) OVER (PARTITION BY node_id ORDER BY tm) >= 1800000
      |                  THEN 1 ELSE 0 END AS brk
      |      FROM e),
      |sess AS (SELECT node_id, tm,
      |               sum(brk) OVER (PARTITION BY node_id ORDER BY tm ROWS UNBOUNDED PRECEDING) AS sid
      |        FROM m)
      |SELECT node_id, min(tm) AS session_start, max(tm) + 1800000 AS session_end,
      |       count(*) AS n, max(tm) AS last_ts
      |FROM sess GROUP BY node_id, sid""".stripMargin

  /** As-of (point-in-time) enrichment: every click event annotated with the
    * user's most recent purchase at or before it. Time axis = MICROSECOND
    * epoch values: DuckDB reads this parquet's TIMESTAMP(NANOS) at
    * microsecond precision, so the oracle cannot see the sub-microsecond
    * bits Spark's nanosAsLong keeps — both engines truncate to micros (the
    * fixture has no (user, t) ties at that precision). Oracle: DuckDB's
    * native ASOF LEFT JOIN, whose >= visibility matches
    * [[TemporalJoins.asof]].
    */
  private val qAsofEnrich: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), expr("CAST(ts DIV 1000 AS BIGINT)").as("t"), col("event_id"))
    // asof requires at most ONE right row per (key, time); enforce it by
    // keeping the min-event_id purchase per (user, micro) in BOTH engines
    // instead of trusting the fixture to stay tie-free (a same-micro pair
    // would make the carried value engine-arbitrary on both sides)
    val wTie = Window.partitionBy(col("user_id"), expr("ts DIV 1000"))
      .orderBy(col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") === 1)
      .select(col("user_id"), expr("CAST(ts DIV 1000 AS BIGINT)").as("t"), col("value"))
    graft.operators.TemporalJoins.asof(clicks, purchases, key = "user_id", time = "t")
      .select(
        col("user_id"), col("event_id"), col("t"),
        col("asof.value").as("last_purchase_value"),
        col("asof.t").as("last_purchase_t"))
  }

  private val oAsofEnrich: String =
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events WHERE event_type = 'click'
      |), purchases AS (
      |  SELECT user_id, epoch_us(ts) AS t, value FROM events WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id) = 1
      |)
      |SELECT c.user_id, c.event_id, c.t,
      |       p.value AS last_purchase_value, p.t AS last_purchase_t
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.t >= p.t""".stripMargin

  /** Keyless interval x point range join: shipments falling in the week
    * after selected orders' dates. The bucketed equi-join replaces the
    * nested-loop plan Spark would otherwise produce for a bare BETWEEN.
    */
  private val qRangeJoin: (SparkSession, String) => DataFrame = (s, dir) => {
    val weekMs = 7L * 86400000L
    val intervals = table(s, dir, "orders")
      .filter(col("o_orderkey") % 997 === 0)
      .select(
        col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("start_ms"))
      .withColumn("end_ms", col("start_ms") + lit(weekMs))
    val points = table(s, dir, "lineitem")
      .select(unix_millis(col("l_shipdate").cast("timestamp")).as("p_ms"), col("l_quantity"))
    graft.operators.TemporalJoins
      .rangeJoin(intervals, points, "start_ms", "end_ms", "p_ms", bucketWidth = 86400000L)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_shipments"), sum(col("l_quantity")).as("sum_qty"))
  }

  private val oRangeJoin: String =
    """WITH iv AS (
      |  SELECT o_orderkey, epoch_ms(o_orderdate) AS start_ms,
      |         epoch_ms(o_orderdate) + 604800000 AS end_ms
      |  FROM orders WHERE o_orderkey % 997 = 0)
      |SELECT o_orderkey, count(*) AS n_shipments, sum(l_quantity) AS sum_qty
      |FROM iv JOIN lineitem ON epoch_ms(l_shipdate) BETWEEN start_ms AND end_ms
      |GROUP BY 1""".stripMargin

  /** SCD-2 effective-dated dimension lookup: a two-version customer-segment
    * dimension is derived deterministically (version boundary =
    * 1995-01-01 + (custkey % 365) days, as exact epoch-ms integers in both
    * engines); every order joins the version valid at its order date.
    */
  private val qScdLookup: (SparkSession, String) => DataFrame = (s, dir) => {
    val baseMs = 788918400000L // 1995-01-01 UTC
    val dayMs = 86400000L
    val cust = table(s, dir, "customer")
    val boundary = lit(baseMs) + (col("c_custkey") % 365) * dayMs
    val early = cust.select(
      col("c_custkey"), lit(Long.MinValue).as("valid_from"), boundary.as("valid_to"),
      lit("EARLY").as("segment_v"))
    val current = cust.select(
      col("c_custkey"), boundary.as("valid_from"), lit(Long.MaxValue).as("valid_to"),
      col("c_mktsegment").as("segment_v"))
    val dim = early.unionByName(current)
    val facts = table(s, dir, "orders").select(
      col("o_custkey").as("c_custkey"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("t"),
      col("o_totalprice"))
    graft.operators.TemporalJoins.effectiveDatedJoin(
      facts, dim, key = "c_custkey", factTime = "t",
      validFrom = "valid_from", validTo = "valid_to")
      .groupBy("segment_v")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  private val oScdLookup: String =
    """WITH dim AS (
      |  SELECT c_custkey, -9223372036854775808 AS valid_from,
      |         788918400000 + (c_custkey % 365) * 86400000 AS valid_to,
      |         'EARLY' AS segment_v
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 788918400000 + (c_custkey % 365) * 86400000,
      |         9223372036854775807, c_mktsegment
      |  FROM customer
      |)
      |SELECT segment_v, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS sum_price
      |FROM orders o JOIN dim d
      |  ON d.c_custkey = o.o_custkey
      | AND epoch_ms(o.o_orderdate) >= d.valid_from
      | AND epoch_ms(o.o_orderdate) < d.valid_to
      |GROUP BY 1""".stripMargin

  /** Batch replay of [[TemporalJoins.intervalJoin]] (the stream-stream join;
    * streaming semantics — watermark state bounds, outer null emission —
    * are covered by `IntervalJoinStreamingSpec`): purchases attributed to
    * every click by the same user in the preceding 30 minutes. Times
    * truncate to micros (`ts DIV 1000` / `epoch_us`) identically in both
    * engines.
    */
  private val qIntervalJoin: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("user_id"),
        timestamp_micros(expr("CAST(ts DIV 1000 AS BIGINT)")).as("click_ts"),
        col("event_id").as("click_event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        timestamp_micros(expr("CAST(ts DIV 1000 AS BIGINT)")).as("purchase_ts"),
        col("value").as("purchase_value"))
    graft.operators.TemporalJoins.intervalJoin(
      clicks, purchases, key = "user_id",
      leftTime = "click_ts", rightTime = "purchase_ts",
      lowerMs = 0L, upperMs = 1800000L)
      .select(
        col("user_id"), col("click_event_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("purchase_value"))
  }

  private val oIntervalJoin: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_event_id, epoch_us(ts) AS click_us
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, epoch_us(ts) AS purchase_us, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT c.user_id, c.click_event_id, c.click_us, p.purchase_us, p.purchase_value
      |FROM c JOIN p ON p.user_id = c.user_id
      | AND p.purchase_us BETWEEN c.click_us AND c.click_us + 1800000000""".stripMargin

  /** O2/O15: deterministic synthetic metric generation (xxhash64 value model
    * is engine-specific -> rows-only check; determinism is spec-tested).
    */
  private val qDatagen: (SparkSession, String) => DataFrame = (s, _) =>
    MetricDatagen.batch(s, numNodes = 5, samplesPerNode = 2000).toDF()
      .select(col("nodeId").as("node_id"), col("cpu"), col("eventTime").as("event_time"))

  /** The generator's bitwise gate (the simhash_md5_pairs playbook): the
    * same scaffold and value model as `datagen_batch`, with uniforms drawn
    * from md5 — which DuckDB computes identically — and the cpu emitted
    * unrounded. The oracle replays every step from a bare range(): node
    * assignment, 500 ms cadence, hour-of-day seasonality (UTC), noise,
    * the 1% spike branch, the [0,100] clamp.
    */
  private val qDatagenMd5: (SparkSession, String) => DataFrame = (s, _) =>
    MetricDatagen.batchPortableModel(s, numNodes = 5, samplesPerNode = 2000)

  private val oDatagenMd5: String = {
    def u(role: String, key: String = "k"): String =
      s"('0x' || substr(md5('42:$role:' || $key), 1, 15))::BIGINT % 1000000 / 1000000.0"
    s"""WITH r AS (SELECT CAST(range AS BIGINT) AS i FROM range(10000)),
       |m AS (SELECT i % 5 AS nodeIdx, 1704067200000 + (i // 5) * 500 AS event_time, i AS k FROM r),
       |u AS (SELECT nodeIdx, event_time,
       |             ${u("base", "nodeIdx")} AS ub,
       |             ${u("noise")} AS un,
       |             ${u("spikep")} AS usp,
       |             ${u("spikev")} AS usv,
       |             hour(epoch_ms(event_time)) AS hr
       |      FROM m)
       |SELECT printf('node-%02d', nodeIdx + 1) AS node_id, event_time,
       |       greatest(0.0, least(100.0,
       |         (30.0 + ub * 40.0) *
       |           (CASE WHEN hr < 6 THEN 0.4 WHEN hr < 9 THEN 0.6 WHEN hr < 17 THEN 1.2
       |                 WHEN hr < 22 THEN 0.8 ELSE 0.5 END) * 1.0
       |         + (un * 10.0 - 5.0)
       |         + (CASE WHEN usp < 0.01 THEN 30.0 + usv * 20.0 ELSE 0.0 END))) AS cpu_model
       |FROM u""".stripMargin
  }

  // ------------------------------------------------------------- documents

  private val normSql =
    "lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g')))"

  private val qDedupExact: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.exact(table(s, dir, "documents"))

  private val oDedupExact: String =
    s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
       |FROM documents GROUP BY 1""".stripMargin

  private val qTextQuality: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.quality(table(s, dir, "documents"))
      .select(
        // NO round(): each ratio is one correctly-rounded IEEE division of
        // exact integer counts, identical in both engines — while Spark
        // round (BigDecimal HALF_UP) vs DuckDB round (FP multiply) diverge
        // on near-midpoint doubles
        col("doc_id"), col("n_chars"), col("n_tokens"),
        col("alpha_ratio"), col("punct_ratio"),
        col("stopword_ratio"), col("distinct_ratio"))

  private val oTextQuality: String =
    s"""WITH t AS (SELECT doc_id, text, string_split($normSql, ' ') AS toks FROM documents)
       |SELECT doc_id, length(text)::bigint AS n_chars, len(toks)::bigint AS n_tokens,
       |  CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text) ELSE 0.0 END AS alpha_ratio,
       |  CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains(['the','a','of','to','and','in','is','it','for','on'], t))) * 1.0 / len(toks) ELSE 0.0 END AS stopword_ratio,
       |  CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) * 1.0 / len(toks) ELSE 0.0 END AS distinct_ratio
       |FROM t""".stripMargin

  private val qLangId: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.langId(table(s, dir, "documents"))
      .select("doc_id", "score_en", "score_de", "score_fr", "score_es", "lang_pred")

  private val oLangId: String =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |sc AS (SELECT doc_id,
       |  len(list_filter(toks, t -> list_contains(['the','and','of','is','a','in','to'], t)))::bigint AS score_en,
       |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','nicht'], t)))::bigint AS score_de,
       |  len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans'], t)))::bigint AS score_fr,
       |  len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','en'], t)))::bigint AS score_es
       |FROM t)
       |SELECT doc_id, score_en, score_de, score_fr, score_es,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |       WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS lang_pred
       |FROM sc""".stripMargin

  private val qTokenCounts: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.tokenCounts(table(s, dir, "documents"))

  private val oTokenCounts: String =
    s"""SELECT doc_id, len(string_split($normSql, ' '))::bigint AS ws_tokens,
       |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]'))::bigint AS bpe_tokens
       |FROM documents""".stripMargin

  /** Deterministic train/val/test split by md5-hex threshold — portable
    * across engines by construction (both produce identical lowercase hex;
    * fixed-length hex string compare == numeric compare), so the oracle
    * replays the exact assignment, not just the proportions.
    */
  private val qSplitAssign: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sampling
      .deterministicSplit(table(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  private val oSplitAssign: String =
    """SELECT CASE WHEN substr(md5(CAST(doc_id AS varchar)), 1, 8) < 'cccccccc' THEN 'train'
      |            WHEN substr(md5(CAST(doc_id AS varchar)), 1, 8) < 'e6666666' THEN 'val'
      |            ELSE 'test' END AS split,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS bigint) AS sum_chars
      |FROM documents GROUP BY 1""".stripMargin

  /** TF-IDF top-5 terms per document. Rational Robertson IDF (no `ln`) so
    * every score is exact-int inputs + two correctly-rounded IEEE ops —
    * bitwise portable (see TextAnalysis.tfIdfTopTerms). Ties on score break
    * on token; (doc, token) is unique, so the rank is a total order.
    */
  private val qTfidfTopTerms: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.tfIdfTopTerms(table(s, dir, "documents"), topK = 5)

  private val oTfidfTopTerms: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
       |df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*)::bigint AS n FROM documents),
       |sc AS (SELECT doc_id, tf.token, tf, df,
       |         tf::double * (((n - df)::double + 0.5) / (df::double + 0.5)) AS tfidf
       |       FROM tf JOIN df USING (token) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM sc)
       |SELECT doc_id, token, tf, df, tfidf, rn::integer AS rank FROM r WHERE rn <= 5""".stripMargin

  /** BM25 top-20 docs for a fixed query-term bag. Per-term contributions are
    * pivoted to columns and added in fixed order (each conditional aggregate
    * sees at most one row) — the double sum is order-deterministic by
    * construction, not by luck.
    */
  private val bm25Terms = Seq("spark", "query", "stream")

  private val qBm25Scores: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.bm25Scores(table(s, dir, "documents"), bm25Terms, topK = 20)

  private val oBm25Scores: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token FROM documents),
       |tok2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       |dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok2 GROUP BY 1),
       |tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok2
       |       WHERE token IN ('spark', 'query', 'stream') GROUP BY 1, 2),
       |df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*)::bigint FROM documents) AS n,
       |              (SELECT CAST(sum(dl) AS double) FROM dl) AS sum_dl),
       |st2 AS (SELECT n, sum_dl / n AS avgdl FROM st),
       |c AS (SELECT tf.doc_id, tf.token,
       |        (((n - df)::double + 0.5) / (df::double + 0.5)) * (tf::double * 2.2)
       |          / (tf::double + 1.2 * (1.0 - 0.75 + 0.75 * dl::double / avgdl)) AS contrib
       |      FROM tf JOIN df USING (token) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st2),
       |p AS (SELECT doc_id,
       |        max(CASE WHEN token = 'spark' THEN contrib END) AS c_spark,
       |        max(CASE WHEN token = 'query' THEN contrib END) AS c_query,
       |        max(CASE WHEN token = 'stream' THEN contrib END) AS c_stream
       |      FROM c GROUP BY 1)
       |SELECT doc_id, c_spark, c_query, c_stream,
       |       coalesce(c_spark, 0.0) + coalesce(c_query, 0.0) + coalesce(c_stream, 0.0) AS score
       |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Intra-document repetition (boilerplate signal): duplicate word-3-gram
    * ratio per doc.
    */
  private val qRepetitionRatio: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.repetitionRatio(table(s, dir, "documents"), n = 3)

  private val oRepetitionRatio: String =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(w) >= 3
       |             THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
       |             ELSE [] END AS grams
       |      FROM t)
       |SELECT doc_id,
       |  len(grams)::bigint AS n_grams,
       |  len(list_distinct(grams))::bigint AS n_distinct_grams,
       |  CASE WHEN len(grams) > 0
       |       THEN (len(grams) - len(list_distinct(grams)))::double / len(grams)
       |       ELSE 0.0 END AS dup_ratio
       |FROM g""".stripMargin

  /** PII scrubbing over deterministically-injected fixtures (the synthetic
    * corpus carries no PII, so the query appends a doc_id-derived email,
    * phone, and IPv4 to every doc IN BOTH ENGINES, then verifies the scrub
    * bitwise via counts + md5 of the scrubbed text).
    */
  private val qPiiScrub: (SparkSession, String) => DataFrame = (s, dir) => {
    val withPii = table(s, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com tel 202-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")).as("text"))
    TextAnalysis.piiScrub(withPii)
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("scrubbed")).as("scrub_fp"))
  }

  private val oPiiScrub: String =
    """WITH w AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS varchar) || '@mail.example.com tel 202-555-'
      |       || lpad(CAST(doc_id % 10000 AS varchar), 4, '0')
      |       || ' ip 10.0.' || CAST(doc_id % 256 AS varchar) || '.7' AS t
      |  FROM documents),
      |s AS (SELECT doc_id, t,
      |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
      |      FROM w),
      |s2 AS (SELECT doc_id, t, s1, regexp_replace(s1, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS sp FROM s)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::bigint AS n_emails,
      |  len(regexp_extract_all(s1, '\b\d{3}-\d{3}-\d{4}\b'))::bigint AS n_phones,
      |  len(regexp_extract_all(sp, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::bigint AS n_ips,
      |  md5(regexp_replace(sp, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrub_fp
      |FROM s2""".stripMargin

  /** Deterministic stratified sample (md5 of the (stratum, id) pair against
    * per-stratum boundaries), aggregated per stratum for the gate.
    */
  private val qStratifiedSample: (SparkSession, String) => DataFrame = (s, dir) =>
    Sampling.stratifiedSample(
      table(s, dir, "documents"), "source", "doc_id",
      Map("src0" -> 0.5, "src1" -> 0.25), defaultFraction = 0.1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  private val oStratifiedSample: String =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS bigint) AS sum_chars
      |FROM documents
      |WHERE substr(md5('v' || source || ':' || CAST(doc_id AS varchar)), 1, 8) <
      |  CASE WHEN source = 'src0' THEN '80000000'
      |       WHEN source = 'src1' THEN '40000000'
      |       ELSE '19999999' END
      |GROUP BY 1""".stripMargin

  /** Gap-based sessionization via analytic window functions (the batch
    * window-function twin of `session_window_agg`): a session breaks where
    * the gap to the previous event exceeds 30 min; session ids are running
    * sums of break flags. Exact int64 nano math end to end.
    */
  private val qUserSessions: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("t", "event_id")
    // micros, not nanos: DuckDB reads TIMESTAMP(NANOS) parquet at micro
    // precision, so the gap compare must run on the same truncation in
    // both engines or a sub-microsecond remainder flips a boundary gap
    table(s, dir, "events")
      .select(col("user_id"), expr("CAST(ts DIV 1000 AS BIGINT)").as("t"), col("event_id"))
      .withColumn("new_sess",
        when(col("t") - lag(col("t"), 1).over(byUser) > 1800000000L, 1L)
          .otherwise(when(lag(col("t"), 1).over(byUser).isNull, 1L).otherwise(0L)))
      .withColumn("session_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(col("t")).as("start_us"), max(col("t")).as("end_us"))
  }

  private val oUserSessions: String =
    """WITH laged AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, t, event_id,
      |         CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM laged
      |), sess AS (
      |  SELECT user_id, t,
      |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(t) AS start_us, max(t) AS end_us
      |FROM sess GROUP BY 1, 2""".stripMargin

  /** FULL OUTER join coverage: customers x their 1995 orders — both
    * unmatched sides survive (customers with no 1995 orders; no orders
    * without a customer in TPC-H, which the zero n_orphan_orders row
    * proves rather than assumes).
    */
  private val qCustOrderFullOuter: (SparkSession, String) => DataFrame = (s, dir) => {
    val cust = table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val ord95 = table(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"), col("o_totalprice"))
    cust.join(ord95, col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_custs_no_1995_orders"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_orphan_orders"),
        count(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1)).as("n_matched"))
  }

  private val oCustOrderFullOuter: String =
    """SELECT c_mktsegment,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_custs_no_1995_orders,
      |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_orphan_orders,
      |  count(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 END) AS n_matched
      |FROM customer FULL OUTER JOIN
      |  (SELECT o_custkey, o_totalprice FROM orders WHERE year(o_orderdate) = 1995) o
      |  ON c_custkey = o_custkey
      |GROUP BY 1""".stripMargin

  /** Overlapping token-window chunking (64-token chunks, 16-token overlap):
    * map-only generator pass; chunk starts are stride multiples so
    * `chunk_id = start / stride` replays exactly.
    */
  private val qChunkDocs: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.chunkDocs(table(s, dir, "documents"), chunkTokens = 64, overlapTokens = 16)

  private val oChunkDocs: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), starts AS (
       |  SELECT doc_id, w,
       |         unnest(generate_series(0, greatest(len(w) - 16 - 1, 0), 48)) AS s
       |  FROM toks WHERE NOT (len(w) = 1 AND w[1] = '')
       |)
       |SELECT doc_id, CAST(s // 48 AS integer) AS chunk_id,
       |       array_to_string(w[s+1 : s+64], ' ') AS chunk_text,
       |       CAST(least(len(w) - s, 64) AS integer) AS n_chunk_tokens
       |FROM starts""".stripMargin

  /** Weight-proportional Bernoulli sample (p = n_chars / max(n_chars)),
    * decided by exact integer math (u32 * max_w < w * 2^32) so the oracle
    * replays the exact kept set — no float threshold, no rounding hazard.
    */
  private val qWeightedSample: (SparkSession, String) => DataFrame = (s, dir) =>
    Sampling.weightedBernoulli(table(s, dir, "documents"), "doc_id", "n_chars")
      .select(col("doc_id"), col("n_chars"))

  private val oWeightedSample: String =
    """SELECT doc_id, n_chars FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS varchar)), 1, 8))::BIGINT::HUGEINT
      |        * (SELECT max(n_chars) FROM documents)
      |      < n_chars::HUGEINT * 4294967296""".stripMargin

  /** Token-budget batch packing per source shard (cumulative window
    * assignment — exact int64 math), aggregated per batch.
    */
  private val qTokenPacking: (SparkSession, String) => DataFrame = (s, dir) =>
    Packing.packByBudget(
      table(s, dir, "documents"), budget = 8192L, partitionCols = Seq("source"),
      tokensCol = size(graft.functions.TextFunctions.tokens(col("text"))))
      .groupBy("source", "batch_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))

  private val oTokenPacking: String =
    s"""WITH d AS (SELECT doc_id, source, len(string_split($normSql, ' '))::bigint AS tok FROM documents),
       |c AS (SELECT doc_id, source, tok,
       |        CAST(coalesce(sum(tok) OVER (
       |          PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cum_before
       |      FROM d)
       |SELECT source, cum_before // 8192 AS batch_id, count(*) AS n_docs,
       |       CAST(sum(tok) AS bigint) AS sum_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2""".stripMargin

  /** Near-dup clusters: connected components over the exact n-gram-jaccard
    * pair relation (same pairs as `ngram_jaccard`). Spark side is iterative
    * min-label propagation; the oracle replays it as a recursive-CTE
    * transitive closure — both yield component = min reachable id.
    */
  private val qDedupClusters: (SparkSession, String) => DataFrame = (s, dir) => {
    val edges = Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3, threshold = 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Clusters.connectedComponents(edges)
      .select(col("id").as("doc_id"), col("comp").as("component"))
  }

  private val oDedupClusters: String =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |admitted AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100000),
       |capped AS (SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM admitted)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE i / (sa.sz + sb.sz - i) >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT src AS id, src AS r FROM sym
       |          UNION SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
       |SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1""".stripMargin

  /** Vocabulary building: top-100 tokens by frequency, ties lexicographic
    * (total order -> the LIMIT boundary is deterministic in both engines).
    */
  private val qVocabulary: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.vocabulary(table(s, dir, "documents"), topK = 100)

  private val oVocabulary: String =
    s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS token FROM documents)
       |SELECT token, count(*) AS freq FROM t WHERE token <> ''
       |GROUP BY 1 ORDER BY freq DESC, token LIMIT 100""".stripMargin

  /** Linear classifier-filter scoring with a self-contained deterministic
    * weight table: the corpus top-100 vocabulary, each term weighted by its
    * md5-derived uniform in [-1, 1) (the random_project coefficient
    * construction — IEEE-exact in both engines, no side-channel model file
    * to ship). The per-doc sum folds in term order, so the whole operator
    * is bitwise under the oracle.
    */
  private val qQualityLogit: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    // vocabulary from the SAME doc set being scored (non-null ids) — the
    // oracle's toks0 CTE carries the identical filter, so the weight
    // tables cannot diverge on a corpus with null-id rows
    val weights = TextAnalysis.vocabulary(docs.filter(col("doc_id").isNotNull), topK = 100)
      .select(
        col("token").as("term"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("double")
          / lit(4294967296.0) * 2 - 1).as("weight"))
    TextAnalysis.linearTextScore(docs, weights, bias = -1.5)
  }

  private val oQualityLogit: String =
    s"""WITH toks0 AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
       |               FROM documents WHERE doc_id IS NOT NULL),
       |vocab AS (SELECT t AS term FROM toks0 WHERE t <> ''
       |          GROUP BY 1 ORDER BY count(*) DESC, term LIMIT 100),
       |w AS (SELECT term,
       |             (('0x' || substr(md5(term), 1, 8))::BIGINT / 4294967296.0) * 2 - 1 AS weight
       |      FROM vocab),
       |tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM toks0 WHERE t <> '' GROUP BY 1, 2),
       |c AS (SELECT doc_id, t, tf * weight AS c FROM tf JOIN w ON w.term = tf.t),
       |agg AS (SELECT doc_id, count(*) AS n_matched,
       |               list_reduce(list_prepend(0.0, list(c ORDER BY t)), (a, x) -> a + x) AS s
       |        FROM c GROUP BY 1)
       |SELECT d.doc_id, coalesce(agg.n_matched, 0) AS n_matched,
       |       -1.5 + coalesce(agg.s, 0.0) AS logit
       |FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
       |LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Shared scored-and-labeled relation for the classifier-evaluation
    * gates: the `quality_logit` score joined with a deterministic
    * content-derived label (`n_chars >= 300` — long docs as positives;
    * the threshold sits near the corpus median so every source carries
    * both classes). The oracle wraps the `quality_logit` oracle verbatim
    * as a derived table, so the evaluation gates inherit its bitwise
    * score definition rather than restating it.
    */
  private def qualityScored(s: SparkSession, dir: String): DataFrame =
    qQualityLogit(s, dir).join(
      table(s, dir, "documents").filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), (col("n_chars") >= 300).as("label")),
      Seq("doc_id"))
      .select(col("source"), col("logit").as("score"), col("label"))

  private val scoredCte: String =
    s"""j AS (SELECT d.source, ql.logit AS score, d.n_chars >= 300 AS label
       |      FROM (${oQualityLogit.replace("\n", "\n       ")}) ql
       |      JOIN (SELECT doc_id, source, n_chars FROM documents
       |            WHERE doc_id IS NOT NULL) d USING (doc_id))""".stripMargin

  /** Exact grouped ROC-AUC ([[graft.ext.Evaluation.groupAuc]]) of the
    * quality-logit score against the length label, per source — the
    * Mann–Whitney rank-sum identity with integer tie-midranks
    * (`2·midrank = rank_asc + n − rank_desc + 1`), so the only floating
    * operation is the final division of exact BIGINTs. The oracle replays
    * both rank windows, the tie algebra, the positive-rank sum, and the
    * one-class drop — a biased tie treatment (rank without midranking),
    * a transposed label, or an off-by-one in the n⁺(n⁺+1) term fails the
    * hash.
    */
  private val qGroupAuc: (SparkSession, String) => DataFrame = (s, dir) =>
    Evaluation.groupAuc(qualityScored(s, dir))

  private val oGroupAuc: String =
    s"""WITH $scoredCte,
       |r AS (SELECT source, label,
       |        rank() OVER (PARTITION BY source ORDER BY score ASC)
       |        + count(*) OVER (PARTITION BY source)
       |        - rank() OVER (PARTITION BY source ORDER BY score DESC) + 1 AS r2
       |      FROM j),
       |a AS (SELECT source,
       |        sum(CASE WHEN label THEN r2 ELSE 0 END)::BIGINT AS s2,
       |        sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |        sum(CASE WHEN label THEN 0 ELSE 1 END)::BIGINT AS n_neg
       |      FROM r GROUP BY 1)
       |SELECT source, n_pos, n_neg,
       |       (s2 - n_pos * (n_pos + 1))::DOUBLE / (n_pos * n_neg * 2)::DOUBLE AS auc
       |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin

  /** Reliability-diagram calibration bins
    * ([[graft.ext.Evaluation.calibrationBins]]) of the quality-logit
    * score: logit-space bins (floor + clamp — no sigmoid, `exp` is not
    * ulp-portable across engines), positives and mean score per bin, the
    * |acc − conf| ECE term. Mean score sums in round-half-away
    * micro-units (BIGINT), so every emitted double is one IEEE division
    * of exact integers; the oracle replays the clamp boundaries, the 10⁻⁶
    * quantization, and the gap arithmetic.
    */
  private val qCalibrationBins: (SparkSession, String) => DataFrame = (s, dir) =>
    Evaluation.calibrationBins(qualityScored(s, dir))

  private val oCalibrationBins: String =
    s"""WITH $scoredCte,
       |b AS (SELECT least(greatest(floor(score), -8), 7)::BIGINT AS bin, label,
       |             round(score * 1000000.0)::BIGINT AS s6 FROM j),
       |g AS (SELECT bin, count(*)::BIGINT AS n,
       |             sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |             sum(s6)::BIGINT AS c6 FROM b GROUP BY 1)
       |SELECT bin, n, n_pos,
       |       n_pos::DOUBLE / n::DOUBLE AS acc,
       |       c6::DOUBLE / (n * 1000000)::DOUBLE AS conf,
       |       abs(n_pos::DOUBLE / n::DOUBLE - c6::DOUBLE / (n * 1000000)::DOUBLE) AS gap
       |FROM g""".stripMargin

  private val qFingerprints: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.fingerprints(table(s, dir, "documents"))

  private val oFingerprints: String =
    s"""SELECT doc_id, md5($normSql) AS fingerprint,
       |  list_reduce(
       |    list_prepend(0::bigint, list_transform(regexp_extract_all($normSql, '.'), c -> ascii(c)::bigint)),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
       |FROM documents""".stripMargin

  /** From-scratch RFC 3986 URL normalization under the gate, in the
    * hostile-round-trip shape: the fixture renders a deterministically
    * MESSY spelling per doc (uppercase scheme/host, explicit default
    * ports, `/./` and `/zz/../` dot segments, percent-encoded unreserved
    * chars in both hex cases, reordered query params, fragments) while
    * the oracle derives the CANONICAL components directly from doc_id
    * arithmetic — the normalizer sees only the messy string, so equality
    * holds only if it exactly inverts every decoration.
    */
  private val qUrlNormalize: (SparkSession, String) => DataFrame = (s, dir) =>
    Url.normalize(Url.attachUrls(table(s, dir, "documents"))).toDF()

  private val oUrlNormalize: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        CASE ('0x' || substr(m, 6, 1))::BIGINT % 4
      |          WHEN 2 THEN 8080 WHEN 3 THEN 9443 ELSE -1 END AS port,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path,
      |        'a=' || CAST(('0x' || substr(m, 7, 2))::BIGINT AS VARCHAR) || '&b=' ||
      |        CAST(('0x' || substr(m, 9, 2))::BIGINT AS VARCHAR) ||
      |        CASE WHEN ('0x' || substr(m, 9, 2))::BIGINT % 2 = 0 THEN '%2F' ELSE '' END AS query
      |      FROM d)
      |SELECT doc_id, scheme, host, port::BIGINT AS port, path, query,
      |       scheme || '://' || host ||
      |       CASE WHEN port >= 0 THEN ':' || CAST(port AS VARCHAR) ELSE '' END ||
      |       path || '?' || query AS url_norm
      |FROM c""".stripMargin

  /** Retrieval queries over the corpus vocabulary — shared by the
    * boolean and ranked retrieval Spark queries AND their oracles'
    * VALUES clauses, so all four sides ask the same questions by
    * construction. (Declared before first eager use: object vals
    * initialize in declaration order.)
    */
  private val retrievalQueries: Seq[(String, Seq[String])] = Seq(
    "q_table_scan" -> Seq("table", "scan"),
    "q_fast_key" -> Seq("fast", "key"),
    "q_the_stream_value" -> Seq("the", "stream", "value"),
    "q_merge_batch" -> Seq("merge", "batch"))

  /** Vocabulary surge detection between corpus halves: add-one df growth
    * ratio (rational over exact counts — no log), top-20 by
    * (growth desc, term), noise-gated at df_new >= 3.
    */
  private val qTrendingTerms: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.trendingTerms(table(s, dir, "documents"))

  private val oTrendingTerms: String =
    s"""WITH pairs AS (SELECT DISTINCT doc_id AS id, token AS term, doc_id % 2 = 1 AS is_new
       |  FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token FROM documents
       |        WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL) t
       |  WHERE token <> ''),
       |agg AS (SELECT term,
       |         sum(CASE WHEN is_new THEN 0 ELSE 1 END)::BIGINT AS df_old,
       |         sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS df_new
       |       FROM pairs GROUP BY 1)
       |SELECT term, df_old, df_new,
       |  (CAST(df_new AS DOUBLE) + 1.0) / (CAST(df_old AS DOUBLE) + 1.0) AS growth
       |FROM agg WHERE df_new >= 3
       |ORDER BY growth DESC, term LIMIT 20""".stripMargin

  /** Empirical Markov transition matrix of the event stream: per-user
    * time-ordered `event_type → next` counts and the per-source
    * probability — one lead window + one aggregate, the probability a
    * single IEEE division of exact counts.
    */
  private val qEventTransitions: (SparkSession, String) => DataFrame = (s, dir) =>
    EventAnalytics.transitionMatrix(table(s, dir, "events"))

  private val oEventTransitions: String =
    """WITH e AS (SELECT user_id, event_type AS src, ts, event_id FROM events
      |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |             AND ts IS NOT NULL AND event_id IS NOT NULL),
      |t AS (SELECT src, lead(src) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |      FROM e),
      |c AS (SELECT src, dst, count(*)::BIGINT AS n FROM t WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
      |FROM c""".stripMargin

  /** Join-key skew profiles for the two natural join keys of the corpus
    * — the numbers that decide plain-vs-salted joins. Rank orders
    * totalized by (count, key); shares/ratios are single IEEE divisions
    * over exact counts, percentile positions one correctly-rounded
    * multiply — all replayed.
    */
  private val qSkewProfile: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.SkewProfile.profiles(Seq(
      (table(s, dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"),
      (table(s, dir, "events"), "user_id", "events.user_id")))

  private val oSkewProfile: String = {
    def one(tbl: String, key: String, label: String): String =
      s"""SELECT '$label' AS key_col, sum(cnt)::BIGINT AS n_rows,
         |  max(nk)::BIGINT AS n_keys0, max(cnt)::BIGINT AS max_count,
         |  CAST(max(cnt) AS DOUBLE) / sum(cnt) AS max_share0,
         |  CAST(sum(CASE WHEN rd <= 10 THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt) AS top10_share,
         |  max(CASE WHEN ra = ceil(nk * 0.5) THEN cnt END)::BIGINT AS p50_count,
         |  max(CASE WHEN ra = ceil(nk * 0.99) THEN cnt END)::BIGINT AS p99_count,
         |  CAST(max(cnt) AS DOUBLE) / max(CASE WHEN ra = ceil(nk * 0.5) THEN cnt END) AS skew_ratio
         |FROM (SELECT cnt,
         |        row_number() OVER (ORDER BY cnt DESC, k) AS rd,
         |        row_number() OVER (ORDER BY cnt ASC, k) AS ra,
         |        count(*) OVER () AS nk
         |      FROM (SELECT $key AS k, count(*) AS cnt FROM $tbl
         |            WHERE $key IS NOT NULL GROUP BY 1) c) r""".stripMargin
    s"""WITH a AS (${one("lineitem", "l_orderkey", "lineitem.l_orderkey")}),
       |b AS (${one("events", "user_id", "events.user_id")})
       |SELECT key_col, n_rows, n_keys0 AS n_keys, max_count, max_share0 AS max_share,
       |       top10_share, p50_count, p99_count, skew_ratio FROM a
       |UNION ALL
       |SELECT key_col, n_rows, n_keys0, max_count, max_share0,
       |       top10_share, p50_count, p99_count, skew_ratio FROM b""".stripMargin
  }

  /** The varint byte-length CASE ladder (7-bit continuation thresholds)
    * over a SQL expression — shared by the postings and RLE oracles.
    */
  private def vlenSql(e: String): String =
    s"""CASE WHEN $e < 128 THEN 1 WHEN $e < 16384 THEN 2
       | WHEN $e < 2097152 THEN 3 WHEN $e < 268435456 THEN 4
       | WHEN $e < 34359738368 THEN 5 WHEN $e < 4398046511104 THEN 6
       | WHEN $e < 562949953421312 THEN 7
       | WHEN $e < 72057594037927936 THEN 8 ELSE 9 END""".stripMargin.replace("\n", "")

  /** Dictionary + run-length encoding of a low-cardinality column under
    * the gate: runs are the classic gaps-and-islands window (change
    * flag → running sum), codes are the sorted-dictionary rank, and
    * each run's byte cost is varint(code) + varint(run_len) — all
    * closed-form replayed; the Spark side emits DECODED runs after an
    * encode→decode round-trip, so the rows match only if the codec is
    * the identity.
    */
  private val qRleRuns: (SparkSession, String) => DataFrame = (s, dir) =>
    Rle.runs(table(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), "l_returnflag").toDF()

  private val oRleRuns: String =
    s"""WITH r AS (SELECT l_orderkey % 64 AS bucket, l_returnflag AS v,
       |        row_number() OVER (PARTITION BY l_orderkey % 64
       |                           ORDER BY l_orderkey, l_linenumber, l_returnflag) - 1 AS rk
       |      FROM lineitem
       |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
       |        AND l_returnflag IS NOT NULL AND l_orderkey % 64 >= 0),
       |dict AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS code
       |         FROM (SELECT DISTINCT v FROM r)),
       |f AS (SELECT bucket, v, rk,
       |        CASE WHEN lag(v) OVER (PARTITION BY bucket ORDER BY rk)
       |               IS DISTINCT FROM v THEN 1 ELSE 0 END AS chg
       |      FROM r),
       |g AS (SELECT bucket, v, rk,
       |        sum(chg) OVER (PARTITION BY bucket ORDER BY rk
       |                       ROWS UNBOUNDED PRECEDING) - 1 AS run_idx
       |      FROM f),
       |runs AS (SELECT bucket, run_idx, any_value(v) AS value, count(*) AS run_len
       |         FROM g GROUP BY 1, 2)
       |SELECT r.bucket::BIGINT AS bucket, r.run_idx::BIGINT AS run_idx, r.value,
       |  d.code::BIGINT AS code, r.run_len::BIGINT AS run_len,
       |  ((${vlenSql("d.code")}) + (${vlenSql("r.run_len")}))::BIGINT AS n_bytes
       |FROM runs r JOIN dict d ON d.v = r.value""".stripMargin

  /** Gorilla delta-of-delta timestamp compression per user series: the
    * emitted bit count follows the bucket CASE ladder the oracle
    * replays over two window lags (dod = ts − 2·lag1 + lag2, first
    * delta against an implicit 0), and the checksum folds the DECODED
    * stamps — a ±1 on a bucket boundary, a prefix-bit slip, or a broken
    * round-trip fails the hash. Ties on equal timestamps are totalized
    * by event_id (unique), so the rank is engine-independent.
    */
  private val qGorillaTs: (SparkSession, String) => DataFrame = (s, dir) =>
    Gorilla.tsBlocks(table(s, dir, "events")).toDF()

  private val oGorillaTs: String =
    """WITH r AS (SELECT user_id, epoch_ns(ts) AS t,
      |        row_number() OVER w - 1 AS rk,
      |        lag(epoch_ns(ts), 1) OVER w AS l1,
      |        lag(epoch_ns(ts), 2) OVER w AS l2
      |      FROM events
      |      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
      |      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
      |b AS (SELECT user_id, t, rk,
      |        CASE WHEN l1 IS NULL THEN 64
      |             WHEN d = 0 THEN 1
      |             WHEN d BETWEEN -63 AND 64 THEN 9
      |             WHEN d BETWEEN -255 AND 256 THEN 12
      |             WHEN d BETWEEN -2047 AND 2048 THEN 16
      |             ELSE 68 END AS nb
      |      FROM (SELECT *,
      |              CASE WHEN l2 IS NULL THEN t - l1 ELSE t - 2 * l1 + l2 END AS d
      |            FROM r) x)
      |SELECT user_id, count(*)::BIGINT AS n_events, sum(nb)::BIGINT AS n_bits,
      |       ((sum(nb) + 7) // 8)::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list(t % 1000000007 ORDER BY rk)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM b GROUP BY 1""".stripMargin

  /** Frame-of-reference bit-packing of an integer column (the parquet/
    * ORC/Arrow block encoding) over lineitem part keys: per 128-value
    * block ranked inside a hash bucket (no global sort), the emitted
    * width and byte count follow the closed form the oracle recomputes
    * (`len(bin(max−min))` bits, `ceil(n·w/8)` bytes) and the checksum
    * folds the DECODED values — the encoder must be width-canonical and
    * encode∘decode the identity for the hash to match.
    */
  private val qBitpackBlocks: (SparkSession, String) => DataFrame = (s, dir) =>
    BitPack.packedBlocks(table(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), "l_partkey").toDF()

  private val oBitpackBlocks: String =
    """WITH r AS (SELECT l_orderkey % 64 AS bucket, l_partkey AS v,
      |        row_number() OVER (PARTITION BY l_orderkey % 64
      |                           ORDER BY l_orderkey, l_linenumber, l_partkey) - 1 AS rk
      |      FROM lineitem
      |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      |        AND l_partkey IS NOT NULL AND l_orderkey % 64 >= 0),
      |b AS (SELECT bucket, rk // 128 AS block_id, v, rk FROM r),
      |s AS (SELECT bucket, block_id, count(*) AS n_vals, min(v) AS minv, max(v) AS maxv,
      |        list_reduce(list_prepend(0::BIGINT, list(v % 1000000007 ORDER BY rk)),
      |          (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |      FROM b GROUP BY 1, 2)
      |SELECT bucket::BIGINT AS bucket, block_id::BIGINT AS block_id,
      |  n_vals::BIGINT AS n_vals, minv::BIGINT AS minv, maxv::BIGINT AS maxv,
      |  (CASE WHEN maxv = minv THEN 0 ELSE len(bin(maxv - minv)) END)::BIGINT AS width,
      |  ((n_vals * (CASE WHEN maxv = minv THEN 0 ELSE len(bin(maxv - minv)) END) + 7) // 8)::BIGINT AS n_bytes,
      |  checksum::BIGINT AS checksum
      |FROM s""".stripMargin

  /** The crawl-shaped integration gate: documents → hostile HTML →
    * .warc.gz with HTTP framing → full decode stack back to text →
    * robots admission over normalized URLs → exact dedup → quality gate
    * → language tag. Every layer is identity-recovering by its own
    * round-trip contract, so the oracle computes the final table
    * STRAIGHT FROM documents — one corrupted byte anywhere in the
    * six-layer stack fails the hash. The per-operator keys prove each
    * layer alone; this key proves they compose.
    */
  private val qCrawlPipeline: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.CurationPipeline.crawlCurate(table(s, dir, "documents"))

  private val oCrawlPipeline: String =
    s"""WITH d AS (SELECT doc_id, text, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents
       |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
       |c AS (SELECT doc_id,
       |        list_extract(['alpha','beta','gamma','delta'],
       |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
       |        list_extract(['example','testsite'],
       |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
       |        list_extract(['com','org','net','io'],
       |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
       |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
       |        list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
       |        CAST(doc_id % 100 AS VARCHAR) AS path
       |      FROM d),
       |hr AS (SELECT host, md5(host) AS hm FROM (SELECT DISTINCT host FROM c)),
       |hw AS (SELECT host,
       |        list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(hm, 1, 1))::BIGINT % 8 AS INT)) AS w1,
       |        list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(hm, 2, 1))::BIGINT % 8 AS INT)) AS w2,
       |        list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(hm, 3, 1))::BIGINT % 8 AS INT)) AS w3,
       |        list_extract(['data','files','api','docs','img','posts','user','item'],
       |          1 + CAST(('0x' || substr(hm, 4, 1))::BIGINT % 8 AS INT)) AS w4
       |      FROM hr),
       |rules AS (SELECT host, 0 AS af, '/' || w1 AS prefix FROM hw
       |          UNION ALL SELECT host, 1, '/' || w1 || '/' || w2 FROM hw
       |          UNION ALL SELECT host, 0, '/' || w3 || '/' || w4 FROM hw),
       |mt AS (SELECT c.doc_id, c.host, c.path, max(len(r.prefix) * 2 + r.af) AS best
       |       FROM c LEFT JOIN rules r
       |         ON r.host = c.host AND substr(c.path, 1, len(r.prefix)) = r.prefix
       |       GROUP BY 1, 2, 3),
       |allowed AS (SELECT doc_id, host, path FROM mt WHERE best IS NULL OR best % 2 = 1),
       |keep AS (SELECT min(doc_id) AS doc_id, md5($normSql) AS fp FROM d
       |         GROUP BY md5($normSql)),
       |feats AS (SELECT doc_id, length(text)::BIGINT AS n_chars,
       |            string_split($normSql, ' ') AS tk
       |          FROM d),
       |sc AS (SELECT doc_id, n_chars, len(tk)::BIGINT AS n_tokens,
       |  len(list_filter(tk, t -> list_contains(['the','and','of','is','a','in','to'], t)))::bigint AS score_en,
       |  len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','ein','nicht'], t)))::bigint AS score_de,
       |  len(list_filter(tk, t -> list_contains(['le','la','les','et','est','une','dans'], t)))::bigint AS score_fr,
       |  len(list_filter(tk, t -> list_contains(['el','los','las','y','es','una','en'], t)))::bigint AS score_es
       |  FROM feats)
       |SELECT k.doc_id, a.host, a.path,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |       WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS lang_pred,
       |  s.n_chars, s.n_tokens, k.fp
       |FROM keep k JOIN allowed a USING (doc_id) JOIN sc s USING (doc_id)
       |WHERE s.n_tokens >= 5""".stripMargin

  /** Phrase set for positional retrieval — multi-word phrases known to
    * occur in the corpus vocabulary, including a self-overlapping one
    * ("table table": three consecutive 'table' tokens hold it TWICE —
    * the case a non-overlapping matcher undercounts).
    */
  private val retrievalPhrases: Seq[(String, String)] = Seq(
    "p_fast_key" -> "fast key",
    "p_table_table" -> "table table",
    "p_value_table_part" -> "value table part",
    "p_merge_batch" -> "merge batch")

  /** Positional phrase retrieval graded against ground truth, not
    * another index: the Spark side intersects positional postings
    * (m−1 equi-joins on (doc, pos+offset)); the oracle counts matches
    * of the space-padded phrase at every character offset of the
    * space-padded normalized text — token positions and padded-string
    * positions correspond 1:1 under whitespace collapse, so a join
    * off-by-one, a lost overlap, or a boundary bleed fails the hash.
    */
  private val qPhraseRetrieval: (SparkSession, String) => DataFrame = (s, dir) =>
    InvertedIndex.phraseRetrieval(table(s, dir, "documents"), retrievalPhrases)

  private val oPhraseRetrieval: String = {
    val values = retrievalPhrases
      .map { case (pid, p) => s"('$pid', ' $p ')" }
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, ' ' || $normSql || ' ' AS t FROM documents
       |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |ph(phrase_id, pat) AS (SELECT * FROM (VALUES $values) v(a, b)),
       |g AS (SELECT CAST(i AS INT) AS i FROM generate_series(1, 65544) s(i)),
       |hits AS (SELECT ph.phrase_id, d.doc_id, count(*) AS n
       |         FROM d CROSS JOIN ph JOIN g ON g.i <= len(d.t) - len(ph.pat) + 1
       |         WHERE substr(d.t, g.i, len(ph.pat)) = ph.pat
       |         GROUP BY 1, 2)
       |SELECT phrase_id, doc_id, n::BIGINT AS n_matches FROM hits""".stripMargin
  }

  /** Multi-query BM25 ranked retrieval over the SAME query set as the
    * boolean key — index once, ask both ways. Per-(query, doc) scores
    * sum term contributions by a TERM-ORDERED fold (partition-
    * independent double addition, replayed with an ORDER BY fold);
    * ranking is the bounded TopKAggregator (O(k) rows per partition
    * shuffled), graded against the oracle's window-rank replay with the
    * (score DESC, doc_id) tie order.
    */
  private val qRankedRetrieval: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.rankedRetrieval(table(s, dir, "documents"), retrievalQueries, topK = 10)

  /** Shared BM25 CTE chain ending at the per-(query, doc) rank relation
    * `r` — used verbatim by `ranked_retrieval` and `rrf_fusion` so both
    * gates replay ONE scoring definition.
    */
  private val oBm25Body: String = {
    val terms = retrievalQueries.flatMap(_._2).distinct
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val values = retrievalQueries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"('$q', '$t')") }
      .mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token FROM documents),
       |tok2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       |dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok2 GROUP BY 1),
       |tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok2
       |       WHERE token IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*)::bigint FROM documents) AS n,
       |              (SELECT CAST(sum(dl) AS double) FROM dl) AS sum_dl),
       |st2 AS (SELECT n, sum_dl / n AS avgdl FROM st),
       |c AS (SELECT tf.doc_id, tf.token,
       |        (((n - df)::double + 0.5) / (df::double + 0.5)) * (tf::double * 2.2)
       |          / (tf::double + 1.2 * (1.0 - 0.75 + 0.75 * dl::double / avgdl)) AS contrib
       |      FROM tf JOIN df USING (token) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st2),
       |q(query_id, term) AS (SELECT * FROM (VALUES $values) v(a, b)),
       |qc AS (SELECT q.query_id, c.doc_id,
       |         list_reduce(list_prepend(0.0::DOUBLE, list(c.contrib ORDER BY c.token)),
       |           (a, x) -> a + x) AS score
       |       FROM c JOIN q ON q.term = c.token GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
       |      FROM qc)""".stripMargin
  }

  private val oRankedRetrieval: String =
    s"""$oBm25Body
       |SELECT query_id, rnk::BIGINT AS rank, doc_id, score FROM r WHERE rnk <= 10""".stripMargin

  /** Reciprocal-rank fusion ([[graft.ext.TextAnalysis.rrfFusion]]): the
    * BM25 top-20 pool per query re-ranked by
    * `1/(60 + bm25_rank) + 1/(60 + prior_rank)` with a doc-token-length
    * prior. The oracle reuses the BM25 CTE chain verbatim, replays both
    * pool windows (prior by `(dl DESC, doc_id)`, final by
    * `(rrf DESC, doc_id)`) and the identical two-division IEEE tree —
    * so a pool cut at the wrong depth, a transposed tie order, or a
    * fused score computed from scores instead of ranks fails the hash.
    */
  private val qRrfFusion: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.rrfFusion(table(s, dir, "documents"), retrievalQueries,
      topK = 10, poolK = 20, kRrf = 60)

  private val oRrfFusion: String =
    s"""$oBm25Body,
       |pool AS (SELECT query_id, rnk::BIGINT AS bm25_rank, doc_id FROM r WHERE rnk <= 20),
       |pr AS (SELECT p.query_id, p.doc_id, p.bm25_rank,
       |         row_number() OVER (PARTITION BY p.query_id ORDER BY dl.dl DESC, p.doc_id)
       |           AS prior_rank
       |       FROM pool p JOIN dl ON dl.doc_id = p.doc_id),
       |f AS (SELECT query_id, doc_id, bm25_rank, prior_rank::BIGINT AS prior_rank,
       |        1.0 / (60.0 + bm25_rank::DOUBLE) + 1.0 / (60.0 + prior_rank::DOUBLE) AS rrf
       |      FROM pr),
       |fr AS (SELECT query_id, doc_id, bm25_rank, prior_rank, rrf,
       |         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |       FROM f)
       |SELECT query_id, rank::BIGINT AS rank, doc_id, bm25_rank, prior_rank, rrf
       |FROM fr WHERE rank <= 10""".stripMargin

  /** PMI collocations ([[graft.ext.TextAnalysis.pmiCollocations]]): top
    * 20 adjacent bigrams by the exact-count PMI ratio
    * `(c₂·N²)/(N_b·c_a·c_b)` at a min-count floor of 5 — no log (the
    * ratio preserves PMI order; SURVEY §8). The oracle recounts bigrams
    * and unigrams from the same normalized token stream and replays the
    * identical multiply/divide tree and the (ratio DESC, w1, w2) cut —
    * so an off-by-one bigram window, a unigram count taken over first
    * positions only, or a re-associated ratio fails the hash.
    */
  private val qPmiCollocations: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.pmiCollocations(table(s, dir, "documents"), topK = 20, minCount = 5L)

  private val oPmiCollocations: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |uniT AS (SELECT unnest(w) AS t FROM w),
       |uni AS (SELECT t, count(*)::BIGINT AS c FROM uniT GROUP BY 1),
       |ntok AS (SELECT count(*)::BIGINT AS n FROM uniT),
       |bi AS (SELECT w[CAST(p AS INT) + 1] AS w1, w[CAST(p AS INT) + 2] AS w2
       |       FROM (SELECT w, unnest(range(0, len(w) - 1)) AS p FROM w WHERE len(w) >= 2)),
       |bic AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bi GROUP BY 1, 2),
       |nbi AS (SELECT count(*)::BIGINT AS nb FROM bi),
       |j AS (SELECT bic.w1, bic.w2, bic.c2, ua.c AS ca, ub.c AS cb, ntok.n, nbi.nb
       |      FROM bic JOIN uni ua ON ua.t = bic.w1 JOIN uni ub ON ub.t = bic.w2
       |      CROSS JOIN ntok CROSS JOIN nbi
       |      WHERE bic.c2 >= 5)
       |SELECT w1, w2, c2, ca, cb,
       |       (c2::DOUBLE * n::DOUBLE * n::DOUBLE) / (nb::DOUBLE * ca::DOUBLE * cb::DOUBLE)
       |         AS pmi_ratio
       |FROM j
       |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20""".stripMargin

  /** Gear-hash content-defined chunking under the gate: the oracle
    * recomputes EVERY position's rolling hash from the closed form
    * (only the last 48 bytes matter under a 2^48 modulus — see
    * [[graft.ext.Cdc]]'s design notes), re-derives every boundary, and
    * replays each chunk's checksum fold — so a wrong gear entry, a
    * shift-order slip, or an off-by-one at either end of a chunk fails
    * the hash.
    */
  private val qCdcChunks: (SparkSession, String) => DataFrame = (s, dir) =>
    Cdc.chunks(table(s, dir, "documents")).toDF()

  /** Shared chunk-derivation CTE chain for both CDC keys. */
  private val cdcChunkSql: String =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |           FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |             AND octet_length(encode(text)) > 0),
      |g AS (SELECT list_transform(range(0, 256),
      |        b -> ('0x' || substr(md5('g:' || b), 1, 12))::BIGINT) AS gt),
      |bl AS (SELECT doc_id, n,
      |         list_transform(range(n),
      |           i -> ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT) AS bs
      |       FROM d),
      |hs AS (SELECT doc_id, n, bs,
      |         list_transform(range(1, n + 1), i ->
      |           CAST(list_sum(list_transform(
      |             range(CASE WHEN i > 47 THEN i - 47 ELSE 1 END, i + 1),
      |             j -> (gt[CAST(bs[CAST(j AS INT)] + 1 AS INT)]
      |                    % (1::BIGINT << CAST(48 - (i - j) AS INT))) << CAST(i - j AS INT)))
      |             % 281474976710656 AS BIGINT)) AS h
      |       FROM bl CROSS JOIN g),
      |bn AS (SELECT doc_id, n, bs,
      |         list_filter(range(1, n + 1),
      |           i -> h[CAST(i AS INT)] % 64 = 0 OR i = n) AS ce
      |       FROM hs),
      |ch AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(ce) + 1), k -> {
      |           'idx': k - 1,
      |           's': CASE WHEN k = 1 THEN 1 ELSE ce[CAST(k - 1 AS INT)] + 1 END,
      |           'e': ce[CAST(k AS INT)]})) AS c,
      |         bs
      |       FROM bn),
      |chunks AS (SELECT doc_id, c.idx AS chunk_idx, c.s AS start, c.e - c.s + 1 AS len,
      |         list_reduce(list_prepend(0::BIGINT,
      |           list_transform(range(c.s, c.e + 1), j -> bs[CAST(j AS INT)])),
      |           (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |       FROM ch)""".stripMargin

  private val oCdcChunks: String =
    s"""$cdcChunkSql
       |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, start::BIGINT AS start,
       |       len::BIGINT AS len, checksum::BIGINT AS checksum
       |FROM chunks""".stripMargin

  /** The CDC payoff measured: identical (len, checksum) chunks collapse
    * corpus-wide, surviving insertions that shift byte offsets.
    */
  private val qCdcDedup: (SparkSession, String) => DataFrame = (s, dir) =>
    Cdc.chunkDedup(table(s, dir, "documents"))

  private val oCdcDedup: String =
    s"""$cdcChunkSql
       |SELECT len::BIGINT AS len, checksum::BIGINT AS checksum,
       |       count(*)::BIGINT AS n_copies,
       |       count(DISTINCT doc_id)::BIGINT AS n_docs,
       |       min(doc_id)::BIGINT AS min_doc
       |FROM chunks GROUP BY 1, 2""".stripMargin

  /** Unicode NFC canonicalization as a cross-implementation
    * differential: the JDK Normalizer's composition vs DuckDB's
    * independent ICU-derived `nfc_normalize`, over md5-chosen combining
    * sequences rebuilt identically with `chr()` on the oracle side.
    * Byte counts (not "length") are compared because code-point vs
    * grapheme counting differs across engines while bytes do not.
    */
  private val qUnicodeNfc: (SparkSession, String) => DataFrame = (s, dir) =>
    Encoding.nfcStats(Encoding.attachCombining(table(s, dir, "documents")))

  private val oUnicodeNfc: String =
    """WITH d AS (SELECT doc_id, md5('n:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |t AS (SELECT doc_id,
      |        'w' ||
      |        list_extract([chr(101)||chr(769), chr(97)||chr(776), chr(111)||chr(770),
      |                      chr(110)||chr(771), chr(99)||chr(807), chr(233), 'x',
      |                      chr(117)||chr(768)],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT)) ||
      |        list_extract([chr(101)||chr(769), chr(97)||chr(776), chr(111)||chr(770),
      |                      chr(110)||chr(771), chr(99)||chr(807), chr(233), 'x',
      |                      chr(117)||chr(768)],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT)) ||
      |        list_extract([chr(101)||chr(769), chr(97)||chr(776), chr(111)||chr(770),
      |                      chr(110)||chr(771), chr(99)||chr(807), chr(233), 'x',
      |                      chr(117)||chr(768)],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)) AS raw
      |      FROM d)
      |SELECT doc_id, nfc_normalize(raw) AS nfc, nfc_normalize(raw) <> raw AS changed,
      |       strlen(raw)::BIGINT AS bytes_before,
      |       strlen(nfc_normalize(raw))::BIGINT AS bytes_after
      |FROM t""".stripMargin

  /** Unicode NFKC compatibility folding ([[graft.ext.Encoding.nfkcStats]])
    * — ligatures, fullwidth forms, circled digits, superscripts, vulgar
    * fractions and the ohm sign folded to their compatibility
    * equivalents, plus one decomposed sequence pinning that NFKC includes
    * canonical composition. DuckDB ships no NFKC, so the oracle carries
    * the EXPECTED folded forms as `chr()` literals straight from the
    * published UCD mappings — the JDK Normalizer's tables must agree with
    * the standard byte-for-byte.
    */
  private val qUnicodeNfkc: (SparkSession, String) => DataFrame = (s, dir) =>
    Encoding.nfkcStats(Encoding.attachCompat(table(s, dir, "documents")))

  private val oUnicodeNfkc: String =
    """WITH d AS (SELECT doc_id, md5('k:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |pt AS (SELECT [chr(64257), chr(65313), chr(9312), chr(178), chr(101)||chr(769),
      |               chr(189), 'x', chr(8486)] AS rawp,
      |              ['fi', 'A', '1', '2', chr(233),
      |               '1'||chr(8260)||'2', 'x', chr(937)] AS expp),
      |t AS (SELECT doc_id,
      |        'w' || list_extract(rawp, 1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT))
      |            || list_extract(rawp, 1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT))
      |            || list_extract(rawp, 1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)) AS raw,
      |        'w' || list_extract(expp, 1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT))
      |            || list_extract(expp, 1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT))
      |            || list_extract(expp, 1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)) AS nfkc
      |      FROM d, pt)
      |SELECT doc_id, nfkc, nfkc <> raw AS changed,
      |       strlen(raw)::BIGINT AS bytes_before,
      |       strlen(nfkc)::BIGINT AS bytes_after
      |FROM t""".stripMargin

  /** Script-aware tokenization ([[graft.ext.Cjk.cjkTokens]] — the CJK
    * twin of token_counts): codepoint-class segmentation over a
    * mixed-script fixture — per-ideograph han tokens, same-script kana /
    * hangul run tokens (the hiragana↔katakana boundary arm decided by
    * md5 picks), latin alphanumeric runs, everything else separating.
    * The oracle rebuilds every token and its index closed-form with
    * `chr()`, including the variable-index shift when the two kana picks
    * straddle sub-scripts.
    */
  private val qCjkTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Cjk.cjkTokens(graft.ext.Cjk.encodeCjk(table(s, dir, "documents"))).toDF()

  private val oCjkTokens: String =
    """WITH d AS (SELECT doc_id, md5('cjk:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract([20013, 25991, 25968, 25454, 27169, 22411, 23398, 32722],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT)) AS h1c,
      |        list_extract([20013, 25991, 25968, 25454, 27169, 22411, 23398, 32722],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT)) AS h2c,
      |        CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT) AS k1i,
      |        CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT) AS k2i,
      |        list_extract([54620, 44397, 50612, 45936, 51060, 53552, 47784, 45944],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) AS g1c,
      |        list_extract([54620, 44397, 50612, 45936, 51060, 53552, 47784, 45944],
      |          1 + CAST(('0x' || substr(m, 6, 1))::BIGINT % 8 AS INT)) AS g2c
      |      FROM d),
      |k AS (SELECT doc_id, chr(h1c) AS h1, chr(h2c) AS h2,
      |        chr(list_extract([12354, 12356, 12363, 12383, 12450, 12459, 12487, 12479], 1 + k1i)) AS k1,
      |        chr(list_extract([12354, 12356, 12363, 12383, 12450, 12459, 12487, 12479], 1 + k2i)) AS k2,
      |        (k1i < 4) = (k2i < 4) AS same,
      |        CASE WHEN k1i < 4 THEN 'hiragana' ELSE 'katakana' END AS s1,
      |        CASE WHEN k2i < 4 THEN 'hiragana' ELSE 'katakana' END AS s2,
      |        chr(g1c) AS g1, chr(g2c) AS g2
      |      FROM c),
      |tok AS (
      |  SELECT doc_id, 0 AS i, 'ai' AS token, 'latin' AS script FROM k
      |  UNION ALL SELECT doc_id, 1, h1, 'han' FROM k
      |  UNION ALL SELECT doc_id, 2, h2, 'han' FROM k
      |  UNION ALL SELECT doc_id, 3, CASE WHEN same THEN k1 || k2 ELSE k1 END, s1 FROM k
      |  UNION ALL SELECT doc_id, 4, k2, s2 FROM k WHERE NOT same
      |  UNION ALL SELECT doc_id, CASE WHEN same THEN 4 ELSE 5 END,
      |    'x' || CAST(doc_id % 10 AS VARCHAR), 'latin' FROM k
      |  UNION ALL SELECT doc_id, CASE WHEN same THEN 5 ELSE 6 END, g1 || g2, 'hangul' FROM k)
      |SELECT doc_id, i::BIGINT AS token_idx, token, script FROM tok""".stripMargin

  /** robots.txt admission control (RFC 9309 semantics) over the
    * normalized URL fixture: per-host md5-derived rule sets — a
    * directory Disallow, a deeper Allow override, an independent
    * two-segment Disallow — evaluated longest-match-wins, tie → allow,
    * no match → allow. Both engines pack the preference order into
    * `len·2 + allowFlag` and take one integer max, so a wrong tie
    * direction or a missed deeper override fails the hash.
    */
  private val qRobotsDecisions: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    Robots.evaluate(urls, Robots.rulesFor(urls).toDF())
  }

  private val oRobotsDecisions: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d),
      |hr AS (SELECT host, md5(host) AS hm FROM (SELECT DISTINCT host FROM c)),
      |w AS (SELECT host,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 1, 1))::BIGINT % 8 AS INT)) AS w1,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 2, 1))::BIGINT % 8 AS INT)) AS w2,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 3, 1))::BIGINT % 8 AS INT)) AS w3,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 4, 1))::BIGINT % 8 AS INT)) AS w4
      |      FROM hr),
      |rules AS (SELECT host, 0 AS af, '/' || w1 AS prefix FROM w
      |          UNION ALL SELECT host, 1, '/' || w1 || '/' || w2 FROM w
      |          UNION ALL SELECT host, 0, '/' || w3 || '/' || w4 FROM w),
      |mt AS (SELECT c.doc_id, c.host, c.path, max(len(r.prefix) * 2 + r.af) AS best
      |       FROM c LEFT JOIN rules r
      |         ON r.host = c.host AND substr(c.path, 1, len(r.prefix)) = r.prefix
      |       GROUP BY 1, 2, 3)
      |SELECT doc_id, host, path, coalesce(best // 2, 0)::BIGINT AS matched_len,
      |       CASE WHEN best IS NULL OR best % 2 = 1 THEN 'allow' ELSE 'disallow' END AS decision
      |FROM mt""".stripMargin

  /** The robots.txt TEXT protocol under the gate: per-host files are
    * SERIALIZED with real-world parse hazards (comments, Sitemap
    * outside groups, Crawl-delay inside, mixed/lower-case and no-space
    * field spellings, empty patterns, blank lines inside a group,
    * stacked user-agent lines, CRLF on half the hosts), then PARSED per
    * RFC 9309 and evaluated with `*`/`$` wildcard longest-match. Hosts
    * with even nib 7 carry a GraftBot group the graftbot agent must
    * select INSTEAD of `*` — mixing groups, breaking a group at a blank
    * line, mis-scoring a wildcard pattern, or missing the trailing-$
    * anchor all change decisions and fail the hash. The oracle replays
    * the DECISION table closed-form from the same md5 nibs (directory
    * rules by prefix, slash-star-digit-$ rules by last-character test, preference
    * packed as len·2+allowFlag), never parsing text — only a correct
    * parse reaches the same answers.
    */
  private val qRobotsTxtDecisions: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    Robots.evaluateTxt(urls, Robots.encodeRobotsTxt(urls), "graftbot").toDF()
  }

  private val oRobotsTxtDecisions: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d),
      |g AS (SELECT host, md5(host) AS hm,
      |        ('0x' || substr(md5(host), 7, 1))::BIGINT % 2 = 0 AS gb
      |      FROM (SELECT DISTINCT host FROM c)),
      |w AS (SELECT host,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 8 ELSE 1 END, 1))::BIGINT % 8 AS INT)) AS w1,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 9 ELSE 2 END, 1))::BIGINT % 8 AS INT)) AS w2,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 10 ELSE 3 END, 1))::BIGINT % 8 AS INT)) AS w3,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 11 ELSE 4 END, 1))::BIGINT % 8 AS INT)) AS w4,
      |        CAST(('0x' || substr(hm, CASE WHEN gb THEN 12 ELSE 5 END, 1))::BIGINT % 10 AS VARCHAR) AS d1,
      |        CAST(('0x' || substr(hm, CASE WHEN gb THEN 13 ELSE 6 END, 1))::BIGINT % 10 AS VARCHAR) AS d2
      |      FROM g),
      |rules AS (SELECT host, 0 AS af, len('/' || w1)::BIGINT AS plen, '/' || w1 AS pref, NULL AS dg FROM w
      |          UNION ALL SELECT host, 1, len('/' || w1 || '/' || w2), '/' || w1 || '/' || w2, NULL FROM w
      |          UNION ALL SELECT host, 0, len('/' || w3 || '/' || w4), '/' || w3 || '/' || w4, NULL FROM w
      |          UNION ALL SELECT host, 0, 4, NULL, d1 FROM w
      |          UNION ALL SELECT host, 1, 4, NULL, d2 FROM w),
      |mt AS (SELECT c.doc_id, c.host, c.path, max(r.plen * 2 + r.af) AS best
      |       FROM c LEFT JOIN rules r ON r.host = c.host AND
      |         ((r.dg IS NULL AND starts_with(c.path, r.pref))
      |          OR (r.dg IS NOT NULL AND substr(c.path, len(c.path), 1) = r.dg))
      |       GROUP BY 1, 2, 3)
      |SELECT doc_id, host, path, coalesce(best // 2, 0)::BIGINT AS matched_len,
      |       CASE WHEN best IS NULL OR best % 2 = 1 THEN 'allow' ELSE 'disallow' END AS decision
      |FROM mt""".stripMargin

  /** Politeness scheduling under the gate ([[graft.ext.Robots.schedule]])
    * — the step between admission and fetching: each host's
    * robots-ALLOWED URLs laid out on the host's fetch timeline, one
    * slot every Crawl-delay seconds. The fixture files now carry
    * md5-derived delays (1–9s in the `*` group, an INDEPENDENT 1–9s in
    * the GraftBot group when present), so the oracle only matches if
    * group selection for the delay is exactly rule-group selection —
    * a graftbot crawler reading `*`'s delay on a GraftBot host fails
    * the hash, as does scheduling a disallowed URL or drifting the
    * per-host order (path BYTES then doc id, pinned via encode()).
    * Plan: the map-only text evaluation, a per-host delay broadcast,
    * and ONE host-partitioned rank window — the frontier-scale shuffle
    * a real fetch scheduler does to shard its queues.
    */
  private val qCrawlSchedule: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    Robots.schedule(urls, Robots.encodeRobotsTxt(urls), "graftbot").toDF()
  }

  private val oCrawlSchedule: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d),
      |g AS (SELECT host, md5(host) AS hm,
      |        ('0x' || substr(md5(host), 7, 1))::BIGINT % 2 = 0 AS gb
      |      FROM (SELECT DISTINCT host FROM c)),
      |w AS (SELECT host,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 8 ELSE 1 END, 1))::BIGINT % 8 AS INT)) AS w1,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 9 ELSE 2 END, 1))::BIGINT % 8 AS INT)) AS w2,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 10 ELSE 3 END, 1))::BIGINT % 8 AS INT)) AS w3,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, CASE WHEN gb THEN 11 ELSE 4 END, 1))::BIGINT % 8 AS INT)) AS w4,
      |        CAST(('0x' || substr(hm, CASE WHEN gb THEN 12 ELSE 5 END, 1))::BIGINT % 10 AS VARCHAR) AS d1,
      |        CAST(('0x' || substr(hm, CASE WHEN gb THEN 13 ELSE 6 END, 1))::BIGINT % 10 AS VARCHAR) AS d2
      |      FROM g),
      |rules AS (SELECT host, 0 AS af, len('/' || w1)::BIGINT AS plen, '/' || w1 AS pref, NULL AS dg FROM w
      |          UNION ALL SELECT host, 1, len('/' || w1 || '/' || w2), '/' || w1 || '/' || w2, NULL FROM w
      |          UNION ALL SELECT host, 0, len('/' || w3 || '/' || w4), '/' || w3 || '/' || w4, NULL FROM w
      |          UNION ALL SELECT host, 0, 4, NULL, d1 FROM w
      |          UNION ALL SELECT host, 1, 4, NULL, d2 FROM w),
      |mt AS (SELECT c.doc_id, c.host, c.path, max(r.plen * 2 + r.af) AS best
      |       FROM c LEFT JOIN rules r ON r.host = c.host AND
      |         ((r.dg IS NULL AND starts_with(c.path, r.pref))
      |          OR (r.dg IS NOT NULL AND substr(c.path, len(c.path), 1) = r.dg))
      |       GROUP BY 1, 2, 3),
      |adm AS (SELECT doc_id, host, path FROM mt
      |        WHERE best IS NULL OR best % 2 = 1),
      |dl AS (SELECT host,
      |         CASE WHEN gb THEN 1 + ('0x' || substr(hm, 16, 1))::BIGINT % 9
      |              ELSE 1 + ('0x' || substr(hm, 15, 1))::BIGINT % 9 END AS delay_s
      |       FROM g),
      |rk AS (SELECT a.host, a.doc_id, a.path, dl.delay_s,
      |         (row_number() OVER (PARTITION BY a.host
      |            ORDER BY encode(a.path), a.doc_id) - 1)::BIGINT AS rank
      |       FROM adm a JOIN dl ON dl.host = a.host)
      |SELECT host, doc_id, path, delay_s::BIGINT AS delay_s, rank,
      |       (rank * delay_s)::BIGINT AS fetch_at
      |FROM rk""".stripMargin

  /** Block-structured inverted index under the gate: distinct (term, doc)
    * postings ranked per term, segmented into 4096-doc blocks, each block
    * delta + varint encoded (protobuf/Lucene VInt wire form). The emitted
    * `n_bytes` is the exact encoded length and `checksum` folds the
    * DECODED ids, so the oracle — which recomputes the byte length from
    * the gap distribution (the 7-bit continuation thresholds as a CASE
    * ladder) and the checksum from the raw pairs — only matches if the
    * encoder is length-canonical AND encode∘decode is the identity on
    * every block.
    */
  private val qInvertedPostings: (SparkSession, String) => DataFrame = (s, dir) =>
    InvertedIndex.postingsBlocks(table(s, dir, "documents")).toDF()

  private val oInvertedPostings: String =
    s"""WITH tok AS (SELECT DISTINCT doc_id, token AS term FROM (
       |        SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
       |        FROM documents
       |        WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL) t
       |      WHERE token <> ''),
       |r AS (SELECT term, doc_id,
       |        row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1 AS rk,
       |        count(*) OVER (PARTITION BY term) AS df
       |      FROM tok),
       |b AS (SELECT term, rk // 4096 AS block_id, df, doc_id,
       |        lag(doc_id) OVER (PARTITION BY term, rk // 4096 ORDER BY doc_id) AS prev
       |      FROM r),
       |v AS (SELECT term, block_id, df, doc_id,
       |        CASE WHEN prev IS NULL THEN doc_id ELSE doc_id - prev END AS val
       |      FROM b),
       |s AS (SELECT term, block_id, any_value(df) AS df, count(*) AS n_docs_block,
       |        sum(CASE WHEN val < 128 THEN 1 WHEN val < 16384 THEN 2
       |                 WHEN val < 2097152 THEN 3 WHEN val < 268435456 THEN 4
       |                 WHEN val < 34359738368 THEN 5 WHEN val < 4398046511104 THEN 6
       |                 WHEN val < 562949953421312 THEN 7
       |                 WHEN val < 72057594037927936 THEN 8 ELSE 9 END)::BIGINT AS n_bytes,
       |        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |        list_reduce(list_prepend(0::BIGINT, list(doc_id % 1000000007 ORDER BY doc_id)),
       |          (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |      FROM v GROUP BY 1, 2)
       |SELECT term, block_id::BIGINT AS block_id, df::BIGINT AS df,
       |       n_docs_block::BIGINT AS n_docs_block, n_bytes,
       |       first_doc::BIGINT AS first_doc, last_doc::BIGINT AS last_doc,
       |       checksum::BIGINT AS checksum
       |FROM s""".stripMargin

  /** AND-retrieval served FROM the encoded index (blocks of queried terms
    * decoded, everything else skipped), graded against the direct
    * relational truth — docs carrying every term of the query — so a
    * decode slip, a lost block, or an intersection bug fails the hash.
    */
  private val qBooleanRetrieval: (SparkSession, String) => DataFrame = (s, dir) =>
    InvertedIndex.conjunctive(table(s, dir, "documents"), retrievalQueries)

  private val oBooleanRetrieval: String = {
    val values = retrievalQueries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"('$q', '$t', ${ts.distinct.size})") }
      .mkString(", ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, token AS term FROM (
       |        SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
       |        FROM documents
       |        WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL) t
       |      WHERE token <> ''),
       |q(query_id, term, qsize) AS (SELECT * FROM (VALUES $values) v(a, b, c))
       |SELECT q.query_id, tok.doc_id
       |FROM tok JOIN q ON q.term = tok.term
       |GROUP BY 1, 2
       |HAVING count(*) = any_value(q.qsize)""".stripMargin
  }

  /** Winnowing fingerprint selection (the MOSS scheme) over the corpus:
    * md5-prefix hashes of every 5-gram of the normalized text, minimum
    * per 4-gram sliding window with rightmost tie-break. The oracle
    * replays the ENTIRE selection — gram hashing, the
    * `(2^40 − h)·2^20 + pos` packing, the frame max, the full-window
    * cutoff, the decode — so an off-by-one in the window frame, a wrong
    * tie direction, or a truncated-window leak at document end fails
    * the hash.
    */
  private val qWinnowFingerprints: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.winnow(table(s, dir, "documents"))

  /** The winnow selection as a reusable CTE chain (ends at `sel`) —
    * shared verbatim by `winnow_fingerprints` and `containment_pairs` so
    * the two gates replay ONE fingerprint definition.
    */
  private val winnowCtes: String =
    s"""d AS (SELECT doc_id, $normSql AS t FROM documents
       |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |g AS (SELECT CAST(i AS INT) AS i FROM generate_series(1, 65536) s(i)),
       |kg AS (SELECT doc_id, g.i AS pos, len(t) - 4 AS np,
       |         ('0x' || substr(md5(substr(t, g.i, 5)), 1, 10))::BIGINT AS h
       |       FROM d JOIN g ON g.i <= len(t) - 4),
       |v AS (SELECT doc_id, pos, np,
       |        max((1099511627776 - h) * 1048576 + pos)
       |          OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mv
       |      FROM kg),
       |sel AS (SELECT DISTINCT doc_id, (mv % 1048576)::BIGINT AS pos,
       |          (1099511627776 - mv // 1048576)::BIGINT AS fp
       |        FROM v WHERE pos <= np - 3)""".stripMargin

  private val oWinnowFingerprints: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, pos, fp FROM sel""".stripMargin

  /** Directed winnow-fingerprint containment ([[graft.ext.Dedup
    * .containmentPairs]]): the oracle reuses the winnow CTE chain
    * verbatim, then replays set sizes from ALL distinct fingerprints,
    * the df cap on the intersection join only, and both directed
    * containments as single IEEE divisions over exact BIGINTs — so a
    * size measured post-cap, a cap applied to sizes, or a transposed
    * containment direction fails the hash.
    */
  private val qContainmentPairs: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.containmentPairs(table(s, dir, "documents"), threshold = 0.5, maxDf = 256L)

  private val oContainmentPairs: String =
    s"""WITH $winnowCtes,
       |fs AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel),
       |sz AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS sz FROM fs GROUP BY 1),
       |dfok AS MATERIALIZED (SELECT fp FROM fs GROUP BY fp HAVING count(*) <= 256),
       |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
       |       FROM fs a JOIN fs b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |       JOIN dfok ON dfok.fp = a.fp
       |       GROUP BY 1, 2)
       |SELECT id_a, id_b, shared, za.sz AS sa, zb.sz AS sb,
       |       shared::DOUBLE / za.sz::DOUBLE AS cont_a,
       |       shared::DOUBLE / zb.sz::DOUBLE AS cont_b
       |FROM sh JOIN sz za ON za.doc_id = id_a JOIN sz zb ON zb.doc_id = id_b
       |WHERE greatest(shared::DOUBLE / za.sz::DOUBLE, shared::DOUBLE / zb.sz::DOUBLE) >= 0.5""".stripMargin

  /** Span-level duplicate localization ([[graft.ext.Dedup.dupSpans]]):
    * winnow anchors whose fingerprint occurs in ≥ 2 distinct documents,
    * merged per document into maximal spans by the gaps-and-islands
    * construction (gap = w + k − 1 = 8). The oracle reuses the winnow CTE
    * chain verbatim, then replays the distinct-doc fingerprint count, the
    * lag-breakpoint / running-sum island assignment, and the k-gram
    * end-inclusive span arithmetic — so a wrong gap comparison (`<` for
    * `<=`), a doc-count computed over occurrences instead of distinct
    * docs, or an off-by-one span end fails the hash. DuckDB's
    * `sum(int) OVER` yields HUGEINT but `island` is only a grouping key —
    * every OUTPUT column is cast to BIGINT explicitly.
    */
  private val qDupSpans: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dupSpans(table(s, dir, "documents"))

  private val oDupSpans: String =
    s"""WITH $winnowCtes,
       |dc AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sel) df
       |       GROUP BY fp HAVING count(*) >= 2),
       |an AS (SELECT sel.doc_id, sel.pos FROM sel JOIN dc ON dc.fp = sel.fp),
       |br AS (SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
       |              THEN 0 ELSE 1 END AS brk FROM an),
       |il AS (SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM br)
       |SELECT doc_id, min(pos)::BIGINT AS span_start,
       |       (max(pos) + 4)::BIGINT AS span_end, count(*)::BIGINT AS anchors
       |FROM il GROUP BY doc_id, island""".stripMargin

  /** Span-removal consumer ([[graft.ext.Dedup.dupSpansRemove]] — the Lee
    * et al. deliverable `dup_spans` exists for): duplicated spans excised
    * and kept segments reassembled per doc in order. The oracle reuses the
    * full span CTE chain, then rebuilds the cleaned text RELATIONALLY —
    * kept segments via a lag window over span starts plus the tail
    * segment, concatenated in position order — so an off-by-one at either
    * span edge, a dropped empty segment, or wrong reassembly order changes
    * the cleaned string and fails the hash. Docs with no spans pass
    * through whole (normalized text), pinning the left-join arm.
    */
  private val qDupSpansRemove: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dupSpansRemove(table(s, dir, "documents"))

  private val oDupSpansRemove: String =
    s"""WITH $winnowCtes,
       |dc AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sel) df
       |       GROUP BY fp HAVING count(*) >= 2),
       |an AS (SELECT sel.doc_id, sel.pos FROM sel JOIN dc ON dc.fp = sel.fp),
       |br AS (SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
       |              THEN 0 ELSE 1 END AS brk FROM an),
       |il AS (SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM br),
       |sp AS (SELECT doc_id, min(pos)::BIGINT AS s, (max(pos) + 4)::BIGINT AS e
       |       FROM il GROUP BY doc_id, island),
       |mx AS (SELECT doc_id, max(e) AS me, count(*)::BIGINT AS n_spans,
       |         sum(e - s + 1)::BIGINT AS n_removed
       |       FROM sp GROUP BY doc_id),
       |segs AS (
       |  SELECT doc_id,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS f,
       |         s - 1 AS u
       |  FROM sp
       |  UNION ALL
       |  SELECT mx.doc_id, me + 1 AS f, len(d.t) AS u FROM mx JOIN d USING (doc_id)),
       |ct AS (SELECT segs.doc_id,
       |         string_agg(substr(d.t, CAST(f AS INT), CAST(greatest(u - f + 1, 0) AS INT)),
       |                    '' ORDER BY f) AS clean
       |       FROM segs JOIN d USING (doc_id) GROUP BY segs.doc_id)
       |SELECT d.doc_id, coalesce(mx.n_spans, 0)::BIGINT AS n_spans,
       |       coalesce(mx.n_removed, 0)::BIGINT AS n_removed,
       |       CASE WHEN ct.clean IS NULL THEN d.t ELSE ct.clean END AS clean_text
       |FROM d LEFT JOIN mx USING (doc_id) LEFT JOIN ct ON ct.doc_id = d.doc_id""".stripMargin

  /** Shared oracle for the exact n-gram jaccard pairs and the MinHash-LSH +
    * exact-verify path. Sizes use ALL grams; the df cap limits only the
    * intersection join (mirrored by BOTH Dedup.ngramJaccardPairs and the
    * verify join of Dedup.minhashLshVerifiedPairs, so the two paths compute
    * identical jaccards for every surfaced pair).
    *
    * PROBABILISTIC GATE (documented assumption): reusing the exact oracle
    * for minhash_lsh_verified asserts LSH candidate recall = 1 on this
    * fixture. With rows-per-band = 2 and 32 bands a pair at true jaccard j
    * is surfaced with probability 1 - (1 - j^2)^32 (≈ 0.9999 at j = 0.5,
    * > 1 - 1e-22 at j = 0.9); the check is deterministic for a fixed
    * corpus + seed, and the equality is verified at the gate's scale
    * factors before shipping. A near-threshold pair missed by banding at a
    * larger fixture would flip this gate — that is the intended signal, not
    * an accident.
    */
  private val oNgramJaccard: String =
    s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |admitted AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100000),
       |capped AS (SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM admitted)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE i / (sa.sz + sb.sz - i) >= 0.5""".stripMargin

  private val qNgramJaccard: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3, threshold = 0.5)

  private val qMinhashVerified: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.minhashLshVerifiedPairs(table(s, dir, "documents"), numHashes = 64, bands = 32, threshold = 0.5)

  private val qSimhashPairs: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.simhashPairs(table(s, dir, "documents"), maxHamming = 8)

  /** The MD5-hash simhash variant IS SQL-expressible (exact integer math on
    * an engine-portable digest), so the full simhash machinery — token
    * weighting, 64 bit votes, sign packing, 16-bit-block LSH candidates,
    * Hamming filter — sits under the bitwise gate; its xxhash64 sibling
    * (`simhash_pairs`) stays rows-only by necessity. The oracle's candidate
    * OR-join over the 4 block keys is exactly the exploded band equi-join's
    * candidate set.
    */
  private val qSimhashMd5Pairs: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.simhashMd5Pairs(table(s, dir, "documents"), maxHamming = 8)

  private val oSimhashMd5Pairs: String = {
    def hex2int(p: Int) =
      s"list_reduce(list_transform(regexp_extract_all(substr(md5(t), $p, 8), '.'), " +
        s"c -> strpos('0123456789abcdef', c)::bigint - 1), (a, x) -> a * 16 + x)"
    val votes = (0 until 64).map { j =>
      val w = if (j < 32) "lo" else "hi"
      s"sum(cnt * (CASE WHEN ((($w // ${1L << (j % 32)}) % 2) = 1) THEN 1 ELSE -1 END)) AS v$j"
    }.mkString(", ")
    val bits = (0 until 64).map(j => s"CASE WHEN v$j > 0 THEN 1 ELSE 0 END AS b$j").mkString(", ")
    val low = (0 until 63).map(j => s"b$j * ${1L << j}").mkString(" + ")
    val blocks = (0 until 4).map { b =>
      "(" + (0 until 16).map(r => s"b${16 * b + r} * ${1 << r}").mkString(" + ") + s") AS k$b"
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, t, count(*)::bigint AS cnt FROM (
       |    SELECT doc_id, unnest(string_split($normSql, ' ')) AS t FROM documents)
       |  WHERE t <> '' GROUP BY 1, 2),
       |h AS (SELECT doc_id, cnt, ${hex2int(1)} AS hi, ${hex2int(9)} AS lo FROM toks),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
       |bt AS (SELECT doc_id, $bits FROM v),
       |sh AS (SELECT doc_id,
       |         (CASE WHEN b63 = 1 THEN -9223372036854775807 - 1 ELSE 0 END) + $low AS simhash,
       |         $blocks
       |       FROM bt)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS integer) AS hamming
       |FROM sh a JOIN sh b
       |  ON a.doc_id < b.doc_id
       | AND (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3)
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin
  }

  /** The REAL image codec under the gate: [[graft.ext.Multimodal.encodePpm]]
    * writes genuine binary-PPM payloads (deterministic per-doc canvas, RGB
    * plane = UTF-8 text bytes cycled), [[graft.ext.Multimodal.parsePpm]]
    * decodes them for real (magic, header, raw RGB), and the oracle replays
    * the full encode→decode byte model in SQL: payload byte k of the pixel
    * plane is text byte (k % n) — indexed through hex(blob) because this
    * DuckDB build has no substring-on-BLOB — and the per-channel sums/means
    * are exact-integer folds over that byte sequence.
    */
  private val qMultimodal: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.ppmFeatures(Multimodal.encodePpm(table(s, dir, "documents"))).toDF()

  private def ppmByteSql(pos: String): String =
    s"CASE WHEN n = 0 THEN 0 ELSE ('0x' || substr(hx, 2 * (($pos) % n) + 1, 2))::BIGINT END"

  private val oMultimodal: String = {
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"3 * p + $c")})), (a, x) -> a + x)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |s AS (SELECT doc_id, w, h,
       |             ${chanSum(0)} AS sum_r,
       |             ${chanSum(1)} AS sum_g,
       |             ${chanSum(2)} AS sum_b
       |      FROM b)
       |SELECT doc_id, w::INT AS width, h::INT AS height, 255 AS maxval,
       |       (w * h)::BIGINT AS n_pixels, sum_r, sum_g, sum_b,
       |       sum_r / (w * h) AS mean_r, sum_g / (w * h) AS mean_g,
       |       sum_b / (w * h) AS mean_b
       |FROM s""".stripMargin
  }

  /** Second REAL image format under the gate: BMP (BITMAPINFOHEADER,
    * 24-bit BI_RGB) — a genuinely different parse from PPM: binary LE
    * headers, BOTTOM-UP rows, BGR channels, 4-byte row stride. The oracle
    * replays [[graft.ext.Multimodal.encodeBmp]]'s byte model (file byte
    * 54+k = text byte k % n over the whole stride*h area, pad bytes
    * included) and re-derives every LOGICAL plane byte through the same
    * flip/swap/stride arithmetic the decoder must do; the rolling checksum
    * pins byte positions, so misreading row order, channel order, or pad
    * bytes cannot pass.
    */
  private val qMultimodalBmp: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.bmpFeatures(Multimodal.encodeBmp(table(s, dir, "documents"))).toDF()

  private val oMultimodalBmp: String = {
    // logical channel c lives at file offset 2-c inside a BGR triple;
    // sums are row-order-invariant, so they enumerate file rows directly
    def chanSum(fileC: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"(p // w) * st + 3 * (p % w) + $fileC")})), (a, x) -> a + x)""".stripMargin
    // logical plane byte j: y = j//(3w), x = (j mod 3w)//3, c = j mod 3;
    // file area offset = (h-1-y)*stride + 3x + (2-c) -- the flip + swap
    val logicalByte =
      ppmByteSql("(h - 1 - (j // (3 * w))) * st + 3 * ((j % (3 * w)) // 3) + (2 - (j % 3))")
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h,
       |                  ((3 * (8 + doc_id % 8) + 3) // 4) * 4 AS st
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       ${chanSum(2)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(0)} AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
       |           j -> $logicalByte)), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Third REAL image format — and the first COMPRESSED one: PNG.
    * [[graft.ext.Multimodal.encodePng]] forward-filters every scanline
    * (filter type y % 5, so Sub/Up/Average/Paeth are all live), wraps the
    * filtered stream in stored-block DEFLATE + zlib with a computed
    * Adler-32, and emits real chunks with computed CRC-32s;
    * [[graft.ext.Multimodal.parsePng]] must verify every chunk CRC, run a
    * from-scratch inflate, verify the Adler, and INVERT the five filters
    * row by row. Because unfilter∘filter is the identity, the decoded
    * plane equals the shared byte model (plane byte k = text byte k % n),
    * so the oracle replays sums and the positional rolling checksum in
    * pure SQL — one mis-unfiltered byte anywhere fails the hash.
    */
  private val qMultimodalPng: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.pngFeatures(Multimodal.encodePng(table(s, dir, "documents"))).toDF()

  private val oMultimodalPng: String = {
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"3 * p + $c")})), (a, x) -> a + x)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       ${chanSum(0)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(2)} AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
       |           j -> ${ppmByteSql("j")})), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Sixth REAL image format — and a THIRD entropy coder: baseline TIFF
    * ([[graft.ext.Tiff]], the scan/scientific-corpus format). The
    * fixture cycles byte order (II/MM), compression (none / PackBits /
    * TIFF-variant LZW — MSB-first with the early-change width bump,
    * sharing nothing with GIF's LSB-first LZW), and RowsPerStrip 2–5
    * (short last strips live), with the IFD at the END of the file and
    * external value areas — the layout real writers emit. The decoder
    * walks the dual-endian IFD, assembles strips, and normalizes to
    * the shared logical plane, so the oracle replay is the SAME byte
    * model as PNG/GIF: compression, endianness and strip segmentation
    * are all transparent, and any slip in any of them shifts bytes and
    * fails the positional checksum. Differentialed both directions
    * against ImageIO's TIFF plugin in TiffSpec.
    */
  private val qMultimodalTiff: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Tiff.tiffFeatures(graft.ext.Tiff.encodeTiff(table(s, dir, "documents"))).toDF()

  private val oMultimodalTiff: String = {
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"3 * p + $c")})), (a, x) -> a + x)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       ${chanSum(0)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(2)} AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
       |           j -> ${ppmByteSql("j")})), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Seventh REAL image format — and a FOURTH entropy coder: WebP
    * lossless ([[graft.ext.Webp]], the modern crawled-web rung). The
    * fixture cycles all four VP8L encoder arms by id — color-cache
    * literals / subtract-green + hash-chain LZ77 / predictor transform /
    * color-indexing with sub-byte packing — through real canonical
    * prefix codes serialized in both the simple and full (RLE'd
    * code-length) forms; the decoder walks RIFF → VP8L → transforms →
    * entropy plane and normalizes to the shared logical plane, so the
    * oracle replay is the SAME byte model as PNG/GIF/TIFF: every
    * transform and entropy arm is transparent, and any slip shifts
    * bytes and fails the positional checksum.
    */
  private val qMultimodalWebp: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Webp.webpFeatures(graft.ext.Webp.encodeWebp(table(s, dir, "documents"))).toDF()

  private val oMultimodalWebp: String = {
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"3 * p + $c")})), (a, x) -> a + x)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       ${chanSum(0)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(2)} AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
       |           j -> ${ppmByteSql("j")})), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Fourth REAL image format, second COMPRESSED one — and a second
    * entropy coder: GIF with from-scratch LZW.
    * [[graft.ext.Multimodal.encodeGif]] writes genuine GIF89a files — a
    * 256-entry identity-grayscale global palette, a graphic-control
    * extension (so the extension-skip path is live on every payload), and
    * a clear-code-per-literal LZW stream in 255-byte sub-blocks;
    * [[graft.ext.Multimodal.parseGif]] must walk the block structure,
    * read the palette, reassemble sub-blocks, and run a full LZW decode
    * before mapping indices through the palette. Pixel index k = text
    * byte k % n and the palette is the identity, so decoded plane byte j
    * = model byte j/3 — replayed below with all three channel sums equal
    * by construction and the positional checksum pinning every byte.
    */
  private val qMultimodalGif: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.gifFeatures(Multimodal.encodeGif(table(s, dir, "documents"))).toDF()

  private val oMultimodalGif: String = {
    val idxSum =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql("p")})), (a, x) -> a + x)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       $idxSum AS sum_r,
       |       $idxSum AS sum_g,
       |       $idxSum AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
       |           j -> ${ppmByteSql("j // 3")})), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Fifth REAL image format, third COMPRESSED one — and a third entropy
    * coder: baseline JPEG (canonical Huffman + DCT).
    * [[graft.ext.Multimodal.encodeJpeg]] writes genuine baseline JPEGs in
    * the DC-exact profile: a grayscale canvas of bw × bh flat 8×8 blocks
    * (bw = 1 + id % 4, bh = 1 + (id/4) % 3), block k's gray level = text
    * byte k % n, coded as a real DC difference + EOB per block with
    * restart markers every 3 MCUs. Quantizer Q[0] = 8 cancels the IDCT's
    * 1/8 exactly, so [[graft.ext.Multimodal.parseJpeg]]'s full pipeline —
    * marker walk, canonical-Huffman DC/AC decode, EXTEND, dequant,
    * double-precision IDCT, restart realignment, byte-unstuffing —
    * reproduces the model plane bit-exactly (MultimodalSpec pins the same
    * payloads decode identically under javax.imageio, and our decoder
    * against javax-written DCT-coded gradients). The oracle replays the
    * block raster: pixel (x, y) belongs to block (y//8)*bw + x//8; gray
    * replicates across RGB, so the three channel sums are 64× the block
    * sum and the positional checksum folds each model byte three times.
    */
  private val qMultimodalJpeg: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.jpegFeatures(Multimodal.encodeJpeg(table(s, dir, "documents"))).toDF()

  private val oMultimodalJpeg: String = {
    val blockSum =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, bw * bh),
         |    k -> ${ppmByteSql("k")})), (a, x) -> a + x)""".stripMargin
    // pixel p: x = p % w, y = p // w, block k = (y//8)*bw + x//8; the gray
    // byte replicates to r,g,b so one pixel folds its byte three times —
    // congruent to Spark's per-byte mod (values stay far below 2^63)
    val pixByte = ppmByteSql("((p // w) // 8) * bw + (p % w) // 8")
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  1 + doc_id % 4 AS bw, 1 + (doc_id // 4) % 3 AS bh,
       |                  8 * (1 + doc_id % 4) AS w, 8 * (1 + (doc_id // 4) % 3) AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
       |       64 * ($blockSum) AS sum_r,
       |       64 * ($blockSum) AS sum_g,
       |       64 * ($blockSum) AS sum_b,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
       |           p -> $pixByte)),
       |         (a, x) -> (((a * 31 + x) * 31 + x) * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** EXIF metadata extraction ([[graft.ext.Exif]] — the multimodal-PII
    * shelf): the fixture splices a deterministic EXIF APP1 (both TIFF byte
    * orders by `id % 2`, GPS IFD dropped on `id % 3 == 2`, no EXIF at all
    * on `id % 7 == 3`) into the real baseline JPEGs, and the reader walks
    * markers → TIFF IFD0 → Exif/GPS sub-IFDs, emitting coordinates in
    * EXACT integer centi-arcseconds (no IEEE division). The oracle replays
    * every field closed-form from the same md5 nibbles — a wrong endian
    * read, a mis-followed sub-IFD pointer, an inline-value packing slip,
    * or a broken rational scale fails the hash.
    */
  private val qExifMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Exif.exifFeatures(graft.ext.Exif.encodeExifJpeg(
      Multimodal.encodeJpeg(table(s, dir, "documents")))).toDF()

  private val oExifMeta: String = {
    def nib(i: Int) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('exif:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |mk AS (SELECT ['aperture','bellows','contour','dial','emulsion','fstop','grain','halide'] AS ws),
       |f AS (SELECT doc_id,
       |        doc_id % 7 <> 3 AS has_exif,
       |        doc_id % 7 <> 3 AND doc_id % 3 <> 2 AS gps,
       |        CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS bo,
       |        1 + (${nib(1)} % 8) AS orient,
       |        list_extract(ws, 1 + CAST(${nib(2)} % 8 AS INT)) AS mke,
       |        'M-' || CAST(${nib(3)} AS VARCHAR) AS mdl,
       |        CAST(2000 + ${nib(4)} AS VARCHAR) || ':' ||
       |          lpad(CAST(1 + ${nib(5)} % 12 AS VARCHAR), 2, '0') || ':' ||
       |          lpad(CAST(1 + ${nib(6)} % 28 AS VARCHAR), 2, '0') || ' ' ||
       |          lpad(CAST(${nib(7)} * 2 % 24 AS VARCHAR), 2, '0') || ':' ||
       |          lpad(CAST(${nib(8)} * 4 % 60 AS VARCHAR), 2, '0') || ':' ||
       |          lpad(CAST(${nib(9)} * 4 % 60 AS VARCHAR), 2, '0') AS tstr,
       |        8 * (1 + doc_id % 4) AS pw, 8 * (1 + (doc_id // 4) % 3) AS ph,
       |        (CASE WHEN ${nib(11)} % 2 = 0 THEN 1 ELSE -1 END) *
       |          (${nib(12)} * 6 * 360000 + ${nib(13)} * 3 * 6000 +
       |           ${nib(14)} * 350 + ${nib(15)}) AS latc,
       |        (CASE WHEN ${nib(16)} % 2 = 0 THEN 1 ELSE -1 END) *
       |          (${nib(17)} * 11 * 360000 + ${nib(18)} * 3 * 6000 +
       |           ${nib(19)} * 350 + ${nib(20)}) AS lonc
       |      FROM d, mk)
       |SELECT doc_id, has_exif,
       |       CASE WHEN has_exif THEN bo END AS byte_order,
       |       CAST(CASE WHEN has_exif THEN orient END AS BIGINT) AS orientation,
       |       CASE WHEN has_exif THEN mke END AS make,
       |       CASE WHEN has_exif THEN mdl END AS model,
       |       CASE WHEN has_exif THEN tstr END AS ts,
       |       CAST(CASE WHEN has_exif THEN pw END AS BIGINT) AS px_w,
       |       CAST(CASE WHEN has_exif THEN ph END AS BIGINT) AS px_h,
       |       gps AS has_gps,
       |       CAST(CASE WHEN gps THEN latc END AS BIGINT) AS lat_casec,
       |       CAST(CASE WHEN gps THEN lonc END AS BIGINT) AS lon_casec
       |FROM f""".stripMargin
  }

  /** EXIF scrub-then-verify ([[graft.ext.Exif.exifStrip]]): strip every
    * APP1–APP15/COM segment and PROVE it — a re-parse must find no EXIF,
    * and the stripped payload must still decode to the identical pixel
    * plane (the JPEG DC-exact block-raster oracle, checksum and all). A
    * scrubber that breaks the image, or one that leaves a metadata
    * segment behind, fails its column.
    */
  private val qExifStrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Exif.exifStrip(graft.ext.Exif.encodeExifJpeg(
      Multimodal.encodeJpeg(table(s, dir, "documents")))).toDF()

  private val oExifStrip: String = {
    val pixByte = ppmByteSql("((p // w) // 8) * bw + (p % w) // 8")
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  1 + doc_id % 4 AS bw, 1 + (doc_id // 4) % 3 AS bh,
       |                  8 * (1 + doc_id % 4) AS w, 8 * (1 + (doc_id // 4) % 3) AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, doc_id % 7 <> 3 AS had_exif, FALSE AS exif_after,
       |       w::INT AS width, h::INT AS height,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
       |           p -> $pixByte)),
       |         (a, x) -> (((a * 31 + x) * 31 + x) * 31 + x) % 1000000007) AS checksum
       |FROM b""".stripMargin
  }

  /** Jupyter notebook ingestion ([[graft.ext.Ipynb]] — the code-training
    * shelf): nbformat-4 JSON through Spark's OWN codegen'd JSON parser —
    * `from_json` with an explicit cell schema (outputs/attachments
    * projected away at parse time), `posexplode` over cells, `array_join`
    * reassembling the per-cell text from the source-line array (trailing
    * `\n` on every element but the last, the nbformat wire convention).
    * JSON-escape hazards in the text plane (escaped quote + backslash, a
    * tab, é cycling raw UTF-8 vs `é` by id parity) grade the escape
    * decoding bitwise. The oracle replays cells, lines, text and checksum
    * closed-form; a doc that fails JSON parse or is not nbformat 4
    * quarantines via the null filter.
    */
  private val qIpynbCells: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Ipynb.ipynbCells(graft.ext.Ipynb.encodeIpynb(table(s, dir, "documents"))).toDF()

  private val oIpynbCells: String =
    """WITH d AS (SELECT doc_id, md5('ipynb:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws,
      |              ['code','markdown','raw'] AS ct, ['python','julia','r','scala'] AS lg),
      |c AS (SELECT doc_id, m, j, ws, ct, lg
      |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS j)
      |      WHERE j < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |ln AS (SELECT doc_id, m, j, ws, ct, lg, l
      |       FROM c, (SELECT unnest([0, 1, 2]) AS l)
      |       WHERE l < 1 + ('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, m, j, l, ct, lg,
      |         'line ' || CAST(l AS VARCHAR) || ' of cell ' || CAST(j AS VARCHAR) ||
      |         ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + 2 * j + l AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * j + l) % 10 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + j + l) % 4
      |           WHEN 0 THEN ' "q' || chr(92) || '"'
      |           WHEN 1 THEN ' ' || chr(233)
      |           WHEN 2 THEN chr(9) || 'x'
      |           ELSE '' END AS t
      |       FROM ln),
      |cell AS (SELECT doc_id, m, j, ct, lg, count(*) AS n_lines,
      |           string_agg(t, chr(10) ORDER BY l) AS text
      |         FROM tx GROUP BY doc_id, m, j, ct, lg),
      |h AS (SELECT doc_id, m, j, ct, lg, n_lines, hex(encode(text)) AS hx,
      |        octet_length(encode(text)) AS n FROM cell)
      |SELECT doc_id,
      |       list_extract(lg, 1 + CAST(('0x' || substr(m, 30, 1))::BIGINT % 4 AS INT)) AS language,
      |       j::BIGINT AS cell_idx,
      |       list_extract(ct, 1 + CAST((doc_id + j) % 3 AS INT)) AS cell_type,
      |       CAST(CASE WHEN (doc_id + j) % 3 = 0 THEN 1 + (doc_id + j) % 7 END AS BIGINT) AS exec_count,
      |       n_lines::BIGINT AS n_lines, n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** Git packfile ingestion ([[graft.ext.Git]] — the code-repo shelf):
    * per doc a complete pack (2-4 blobs with blob 1 stored as a REAL
    * delta — OFS_DELTA on even ids, REF_DELTA on odd — the tree naming
    * every blob by raw SHA-1, 1-2 commits with a parent link) through
    * the from-scratch reader: header walk, per-object zlib
    * inflate-to-find-the-end, delta resolution, and BOTH SHA-1 gates
    * (the pack trailer, and REF_DELTA base lookup BY id — a wrong
    * object-id computation quarantines the repo, so the from-scratch
    * SHA-1 is graded structurally). The oracle replays object order,
    * types, content lengths and the per-object text probes (blob text,
    * tree entry names, commit message) closed-form.
    */
  private val qGitObjects: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Git.gitObjects(graft.ext.Git.encodePack(table(s, dir, "documents"))).toDF()

  private val oGitObjects: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    val msg = s"'commit ' || CAST(cc AS VARCHAR) || ' of repo ' || CAST(doc_id AS VARCHAR)" +
      s" || ': ' || ${w("CAST(12 + cc AS INT)")}"
    s"""WITH d AS (SELECT doc_id, md5('git:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |base AS (SELECT doc_id, m, ws,
       |           2 + ${nib("1")} % 3 AS nb,
       |           1 + ${nib("10")} % 2 AS nc,
       |           8 + ${nib("2")} AS c
       |         FROM d, wt),
       |b0 AS (SELECT *, 'blob 0 of repo ' || CAST(doc_id AS VARCHAR) || ': ' ||
       |         ${w("4")} || ' ' || ${w("9")} AS t0 FROM base),
       |blobs AS (
       |  SELECT doc_id, k AS idx, 'blob' AS typ,
       |    CASE WHEN k = 0 THEN t0
       |         WHEN k = 1 THEN substr(t0, 1, CAST(c AS INT)) || ' tail ' || ${w("3")}
       |         ELSE 'blob ' || CAST(k AS VARCHAR) || ' of repo ' || CAST(doc_id AS VARCHAR)
       |           || ': ' || ${w("CAST(4 + k AS INT)")} || ' ' || ${w("CAST(9 + k AS INT)")}
       |    END AS probe, NULL::BIGINT AS nbytes_fixed
       |  FROM b0, (SELECT unnest([0, 1, 2, 3]) AS k) WHERE k < nb),
       |tre AS (
       |  SELECT doc_id, nb AS idx, 'tree' AS typ,
       |    array_to_string(list_transform(range(CAST(nb AS INT)),
       |      k -> 'f' || CAST(k AS VARCHAR) || '.txt'), ',') AS probe,
       |    34 * nb AS nbytes_fixed FROM b0),
       |cms AS (
       |  SELECT doc_id, nb + 1 + cc AS idx, 'commit' AS typ, $msg AS probe,
       |    octet_length(encode('tree ' || repeat('x', 40) || chr(10) ||
       |      CASE WHEN cc = 1 THEN 'parent ' || repeat('x', 40) || chr(10) ELSE '' END ||
       |      'author Graft Author <author@example.com> ' ||
       |        CAST(1700000000 + cc AS VARCHAR) || ' +0000' || chr(10) ||
       |      'committer Graft Author <author@example.com> ' ||
       |        CAST(1700000000 + cc AS VARCHAR) || ' +0000' || chr(10) ||
       |      chr(10) || $msg || chr(10)))::BIGINT AS nbytes_fixed
       |  FROM b0, (SELECT unnest([0, 1]) AS cc) WHERE cc < nc),
       |u AS (SELECT * FROM blobs UNION ALL SELECT * FROM tre UNION ALL SELECT * FROM cms),
       |h AS (SELECT doc_id, idx, typ, probe,
       |        COALESCE(nbytes_fixed, octet_length(encode(probe))) AS nbytes,
       |        hex(encode(probe)) AS hx, octet_length(encode(probe)) AS pn FROM u)
       |SELECT doc_id AS repo_id, idx::BIGINT AS obj_idx, typ AS obj_type,
       |       nbytes::BIGINT AS n_bytes, probe,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(pn), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
       |FROM h""".stripMargin
  }

  /** Legacy Word binary ingestion ([[graft.ext.Doc]] — the .doc half of
    * the office shelf, completing it): a complete OLE2 compound file per
    * document (header DIFAT → FAT chains → directory → the MINI-stream
    * layer carrying the small Table stream as 64-byte mini sectors, the
    * padded WordDocument stream as regular multi-sector chains), then
    * the Word piece table: self-describing FIB walk, Clx in the
    * id-parity 0Table/1Table stream, pieces cycling cp1252-compressed vs
    * UTF-16LE (a Δ hazard forces genuine unicode pieces) with cuts that
    * deliberately fall MID-paragraph. The oracle replays paragraphs
    * closed-form; a slip in any layer (FAT walk, mini chain, FIB counts,
    * CP arithmetic, fCompressed decode) shifts text across paragraph
    * marks and fails the hash.
    */
  private val qDocExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Doc.docExtract(graft.ext.Doc.encodeDoc(table(s, dir, "documents"))).toDF()

  private val oDocExtract: String =
    """WITH d AS (SELECT doc_id, md5('doc:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |pp AS (SELECT doc_id, m, ws, p
      |       FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS p)
      |       WHERE p < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, p,
      |         'Para ' || CAST(p AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(2 + p AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(7 + p AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + p) % 4
      |           WHEN 0 THEN ' ' || chr(233)
      |           WHEN 1 THEN ' ' || chr(8220) || 'q' || chr(8221)
      |           WHEN 2 THEN ' ' || chr(916) || 'x'
      |           ELSE '' END AS t
      |       FROM pp),
      |h AS (SELECT doc_id, p, hex(encode(t)) AS hx, octet_length(encode(t)) AS n FROM tx)
      |SELECT doc_id, p::BIGINT AS para_idx, n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** Legacy Excel binary ingestion ([[graft.ext.Xls]] — BIFF8 over the
    * SHARED OLE2 reader from [[graft.ext.Doc]]): per doc a compound file
    * whose Workbook stream carries the globals substream (BOUNDSHEETs
    * with ABSOLUTE sheet positions the reader must seek by; the SST with
    * per-string compressed-vs-UTF-16 storage and real cross-sheet string
    * sharing so cstTotal > cstUnique grades the indirection) and per-sheet
    * substreams of LABELSST / NUMBER / RK cells — both integer RK layouts
    * including negatives (arithmetic shift) and the ×1/100 multiplier.
    * Numerics surface as exact integer micro-units; the oracle replays
    * every sheet, cell, string and value closed-form.
    */
  private val qXlsCells: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Xls.xlsCells(graft.ext.Xls.encodeXls(table(s, dir, "documents"))).toDF()

  private val oXlsCells: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('xls:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |sh AS (SELECT doc_id, m, ws, s
       |       FROM d, wt, (SELECT unnest([0, 1]) AS s)
       |       WHERE s < 1 + ${nib("1")} % 2),
       |rw AS (SELECT doc_id, m, ws, s, r,
       |         'Sheet' || CAST(s AS VARCHAR) || '-' || ${w("CAST(2 + s AS INT)")} AS sname
       |       FROM sh, (SELECT unnest([0, 1, 2]) AS r)
       |       WHERE r < 1 + ${nib("CAST(4 + s AS INT)")} % 3)
       |SELECT doc_id, s::BIGINT AS sheet_idx, sname AS sheet_name,
       |       r::BIGINT AS row_idx, 0::BIGINT AS col_idx, 's' AS kind,
       |       ${w("CAST(6 + 2 * (s + r) AS INT)")} ||
       |         CASE (doc_id + s + r) % 3
       |           WHEN 0 THEN ' ' || chr(233)
       |           WHEN 1 THEN ' ' || chr(916)
       |           ELSE '' END AS s_val,
       |       NULL::BIGINT AS num_micro
       |FROM rw
       |UNION ALL
       |SELECT doc_id, s::BIGINT, sname, r::BIGINT, 1::BIGINT, 'n', NULL,
       |       (doc_id * 100 + s * 10 + r) * 1000000
       |FROM rw
       |UNION ALL
       |SELECT doc_id, s::BIGINT, sname, r::BIGINT, 2::BIGINT, 'rk', NULL,
       |       CASE WHEN (doc_id + r) % 2 = 0
       |         THEN (${nib("CAST(8 + r AS INT)")} * 3 - 20) * 1000000
       |         ELSE (${nib("CAST(8 + r AS INT)")} * 7 + 3) * 10000 END
       |FROM rw""".stripMargin
  }

  /** Outlook .msg ingestion ([[graft.ext.Msg]] — MS-OXMSG, the THIRD
    * rider on the shared OLE2 container, and a two-sector directory
    * chain): the property stream's 16-byte records resolve subject /
    * sender / body values from their `__substg1.0_XXXXYYYY` streams,
    * the sender cycling PT_UNICODE vs PT_STRING8 (cp1252) by id parity
    * and every declared size cross-checked. The oracle replays all
    * three properties and the body checksum closed-form.
    */
  private val qMsgExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Msg.msgExtract(graft.ext.Msg.encodeMsg(table(s, dir, "documents"))).toDF()

  private val oMsgExtract: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('msg:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |ln AS (SELECT doc_id, m, ws, l
       |       FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS l)
       |       WHERE l < 1 + ${nib("3")} % 4),
       |tx AS (SELECT doc_id, m, ws, l,
       |         'line ' || CAST(l AS VARCHAR) || ' of msg ' || CAST(doc_id AS VARCHAR)
       |           || ': ' || ${w("CAST(4 + l AS INT)")} || ' ' || ${w("CAST(9 + l AS INT)")} ||
       |         CASE WHEN (doc_id + l) % 3 = 0
       |           THEN ' ' || chr(8220) || 'q' || chr(8221) ELSE '' END AS t
       |       FROM ln),
       |body AS (SELECT doc_id, m, ws,
       |           string_agg(t, chr(13) || chr(10) ORDER BY l) AS b
       |         FROM tx GROUP BY doc_id, m, ws),
       |h AS (SELECT doc_id, m, ws, hex(encode(b)) AS hx, octet_length(encode(b)) AS n
       |      FROM body)
       |SELECT doc_id,
       |       'Subject ' || CAST(doc_id AS VARCHAR) || ': ' || ${w("1")} ||
       |         CASE doc_id % 3 WHEN 0 THEN ' ' || chr(233)
       |           WHEN 1 THEN ' ' || chr(916) ELSE '' END AS subject,
       |       'Sender ' || ${w("2")} ||
       |         CASE WHEN doc_id % 4 = 1 THEN ' ' || chr(233) ELSE '' END AS sender,
       |       3::BIGINT AS n_props,
       |       n::BIGINT AS body_n_chars,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS body_checksum
       |FROM h""".stripMargin
  }

  /** iCalendar ingestion ([[graft.ext.Ics]] — RFC 5545): real line
    * folding (every description exceeds 75 octets, with an é so a
    * byte-level unfold slip shifts the checksum), the full §3.3.11
    * escape set cycling through summaries, a quoted parameter carrying a
    * colon (the value-start scan must respect DQUOTE), and DTSTART
    * converted to epoch seconds in pure integer math. The oracle
    * replays events, fields and the date arithmetic via `date_diff`.
    */
  private val qIcsEvents: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Ics.icsEvents(graft.ext.Ics.encodeIcs(table(s, dir, "documents"))).toDF()

  private val oIcsEvents: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('ics:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |ev AS (SELECT doc_id, m, ws, e
       |       FROM d, wt, (SELECT unnest([0, 1, 2]) AS e)
       |       WHERE e < 1 + ${nib("1")} % 3),
       |f AS (SELECT doc_id, m, ws, e,
       |        2020 + ${nib("CAST(2 + e AS INT)")} AS y,
       |        1 + ${nib("CAST(5 + e AS INT)")} % 12 AS mo,
       |        1 + ${nib("CAST(8 + e AS INT)")} % 28 AS dd,
       |        ${nib("CAST(11 + e AS INT)")} % 24 AS hh,
       |        (${nib("CAST(14 + e AS INT)")} * 4) % 60 AS mi,
       |        (${nib("CAST(17 + e AS INT)")} * 4) % 60 AS ss,
       |        'Event ' || CAST(e AS VARCHAR) || ' of cal ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(20 + e AS INT)")} ||
       |          CASE (doc_id + e) % 4
       |            WHEN 0 THEN ', half; done'
       |            WHEN 1 THEN ' line1' || chr(10) || 'line2'
       |            WHEN 2 THEN ' back' || chr(92) || 'slash'
       |            ELSE '' END AS summ,
       |        concat_ws(' ',
       |          'part 0 of event ' || CAST(e AS VARCHAR) || ' in cal ' ||
       |            CAST(doc_id AS VARCHAR) || ' is ' || ${w("CAST(23 + e % 9 AS INT)")},
       |          'part 1 of event ' || CAST(e AS VARCHAR) || ' in cal ' ||
       |            CAST(doc_id AS VARCHAR) || ' is ' || ${w("CAST(23 + (e + 1) % 9 AS INT)")},
       |          'part 2 of event ' || CAST(e AS VARCHAR) || ' in cal ' ||
       |            CAST(doc_id AS VARCHAR) || ' is ' || ${w("CAST(23 + (e + 2) % 9 AS INT)")})
       |          || ' ' || chr(233) || 'nd' AS descr
       |      FROM ev),
       |h AS (SELECT doc_id, e, y, mo, dd, hh, mi, ss, summ,
       |        hex(encode(descr)) AS hx, octet_length(encode(descr)) AS n
       |      FROM f)
       |SELECT doc_id, e::BIGINT AS event_idx,
       |       'evt-' || CAST(doc_id AS VARCHAR) || '-' || CAST(e AS VARCHAR)
       |         || '@example.com' AS uid,
       |       (date_diff('day', DATE '1970-01-01',
       |          make_date(CAST(y AS INT), CAST(mo AS INT), CAST(dd AS INT))) * 86400
       |         + hh * 3600 + mi * 60 + ss)::BIGINT AS start_epoch,
       |       summ AS summary,
       |       n::BIGINT AS desc_n_chars,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS desc_checksum
       |FROM h""".stripMargin
  }

  /** vCard ingestion ([[graft.ext.Vcard]] — RFC 6350, sharing [[Ics]]'s
    * content-line machinery): multi-card exports with the STRUCTURED
    * `N` value — components split on UNESCAPED semicolons THEN
    * unescaped (a family name carries a literal `\;` to punish the
    * opposite order), folding, and a quoted-param colon. The oracle
    * replays every card's fields closed-form.
    */
  private val qVcardContacts: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Vcard.vcardContacts(graft.ext.Vcard.encodeVcf(table(s, dir, "documents"))).toDF()

  private val oVcardContacts: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    def cap(e: String) = s"upper(substr($e, 1, 1)) || substr($e, 2)"
    s"""WITH d AS (SELECT doc_id, md5('vcf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |cd AS (SELECT doc_id, m, ws, c
       |       FROM d, wt, (SELECT unnest([0, 1, 2]) AS c)
       |       WHERE c < 1 + ${nib("1")} % 3),
       |f AS (SELECT doc_id, c,
       |        ${cap(w("CAST(2 + c AS INT)"))} ||
       |          CASE (doc_id + c) % 3
       |            WHEN 0 THEN '; jr' WHEN 1 THEN ' ' || chr(233) ELSE '' END AS family,
       |        ${cap(w("CAST(5 + c AS INT)"))} AS given,
       |        ${w("CAST(5 + c AS INT)")} AS givenWord,
       |        'Org, ' || ${w("CAST(8 + c AS INT)")} AS org
       |      FROM cd)
       |SELECT doc_id, c::BIGINT AS card_idx,
       |       given || ' ' || family AS fn, family, given,
       |       givenWord || '.' || CAST(c AS VARCHAR) || '.' || CAST(doc_id AS VARCHAR)
       |         || '@example.com' AS email,
       |       org
       |FROM f""".stripMargin
  }

  /** TOML ingestion ([[graft.ext.Toml]] — the config-file shelf of a
    * code corpus: Cargo.toml / pyproject.toml): dotted keys + table
    * headers flattened to full paths, basic-vs-LITERAL string semantics
    * (the fixture's literal `'C:\new\dir'` must keep its backslash-n as
    * two characters while the basic description decodes `\n \t \" \u`),
    * signed integers with `_` separators, booleans, arrays element-per-
    * row. The oracle replays every scalar closed-form.
    */
  private val qTomlEntries: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Toml.tomlEntries(graft.ext.Toml.encodeToml(table(s, dir, "documents"))).toDF()

  private val oTomlEntries: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('toml:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, ws FROM d, wt)
       |SELECT doc_id, 'package.name' AS key, 0::BIGINT AS arr_idx, 's' AS vtype,
       |       'pkg-' || CAST(doc_id AS VARCHAR) AS s_val, NULL::BIGINT AS i_val FROM b
       |UNION ALL
       |SELECT doc_id, 'package.description', 0, 's',
       |       'pkg ' || CAST(doc_id AS VARCHAR) || ': ' || ${w("14")} ||
       |         ' "quoted"' || chr(10) || 'line2' || chr(9) || 'col ' || chr(233),
       |       NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'package.raw-path', 0, 's',
       |       'C:' || chr(92) || 'new' || chr(92) || 'dir', NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'package.edition', 0, 'i', NULL, 2021 FROM b
       |UNION ALL
       |SELECT doc_id, 'package.build-count', 0, 'i', NULL,
       |       CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END *
       |         ('0x' || substr(m, 17, 6))::BIGINT FROM b
       |UNION ALL
       |SELECT doc_id, 'package.publish', 0, 'b', NULL,
       |       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END FROM b
       |UNION ALL
       |SELECT doc_id, 'package.features', j::BIGINT, 's',
       |       ${w("CAST(23 + j AS INT)")}, NULL
       |FROM b, (SELECT unnest([0, 1, 2]) AS j)
       |WHERE j < 1 + ${nib("22")} % 3
       |UNION ALL
       |SELECT doc_id,
       |       'dependencies.' || ${w("CAST(2 + k AS INT)")} || '-rs' || CAST(k AS VARCHAR),
       |       0, 's',
       |       CAST(${nib("CAST(5 + k AS INT)")} AS VARCHAR) || '.' ||
       |         CAST(${nib("CAST(8 + k AS INT)")} AS VARCHAR) || '.' ||
       |         CAST(${nib("CAST(11 + k AS INT)")} AS VARCHAR), NULL
       |FROM b, (SELECT unnest([0, 1, 2]) AS k)
       |WHERE k < 1 + ${nib("1")} % 3
       |UNION ALL
       |SELECT doc_id, 'profile.release.debug', 0, 'b', NULL, 0 FROM b
       |UNION ALL
       |SELECT doc_id, 'profile.release.opt-level', 0, 'i', NULL, 3 FROM b
       |UNION ALL
       |SELECT doc_id, 'meta.owner.team', 0, 's', 'graft', NULL FROM b""".stripMargin
  }

  /** Java .properties ingestion ([[graft.ext.JavaProps]] — the Maven/
    * Gradle/Spring config shelf, with a PERFECT in-JVM differential in
    * the spec): logical-line continuations (odd-trailing-backslash rule,
    * leading-whitespace strip), escaped separators binding into keys,
    * the full escape set incl. the JDK's lenient drop rule and `\u`
    * forms, whitespace separators with an optional trailing `=`/`:`,
    * and last-wins duplicate keys. The oracle replays every pair.
    */
  private val qJavaProperties: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.JavaProps.propEntries(
      graft.ext.JavaProps.encodeProps(table(s, dir, "documents"))).toDF()

  private val oJavaProperties: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('props:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |pp AS (SELECT doc_id, m, ws, k
       |       FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
       |       WHERE k < 2 + ${nib("1")} % 4)
       |SELECT doc_id,
       |       ${w("CAST(2 + k AS INT)")} || '.' || CAST(k AS VARCHAR) ||
       |         CASE (doc_id + k) % 4
       |           WHEN 0 THEN ' sp' WHEN 1 THEN '=eq' WHEN 2 THEN ':co'
       |           ELSE '' END AS key,
       |       'value ' || CAST(k AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR)
       |         || ': ' || ${w("CAST(8 + k AS INT)")} ||
       |         CASE (doc_id + k) % 5
       |           WHEN 0 THEN ' tab' || chr(9) || 'here'
       |           WHEN 1 THEN ' nl' || chr(10) || 'there'
       |           WHEN 2 THEN ' ' || chr(233) || chr(916)
       |           WHEN 3 THEN ' back' || chr(92) || 'slash'
       |           ELSE '' END AS value
       |FROM pp
       |UNION ALL
       |SELECT doc_id, 'dup.key', 'second' FROM d""".stripMargin
  }

  /** Parquet internals ([[graft.ext.ParquetFile]] — the engine's OWN
    * storage format at the byte level, no parquet library): Thrift
    * compact protocol both directions (with the generic skip graded by
    * a planted key_value_metadata list), footer structs with a full
    * schema-tree def/rep-level walk, and BOTH real page stacks —
    * SNAPPY (the repo's own coder), dictionary pages + RLE/bit-packed
    * hybrid RLE_DICTIONARY indices, 1-bit definition levels for an
    * OPTIONAL column with planted nulls, and v2 data pages (levels
    * outside the compressed region, is_compressed flag, the DELTA
    * encoding family for parquet-mr v2 files). The fixture cycles
    * UNCOMPRESSED/SNAPPY by file, PLAIN/dictionary by column, and
    * v1/v2 pages every fifth file so every decode arm sits under
    * this oracle, which replays per-column
    * per-row-group aggregates of the decoded values; the spec closes
    * the loop both ways — SPARK reads the from-scratch files bit-exact
    * (its snappy-java must accept our compressor), and on the REAL
    * pyarrow-written testdata files the reader agrees with parquet-mr
    * footer-field-for-field and with Spark's own decode
    * value-for-value.
    */
  private val qParquetMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ParquetFile.parquetMeta(
      graft.ext.ParquetFile.encodeParquet(table(s, dir, "documents"))).toDF()

  private val oParquetMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('pqf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k, k // 3 AS g
       |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
       |      WHERE k < 3 + ${nib("1")} % 4),
       |t AS (SELECT doc_id, g, k,
       |        'row ' || CAST(k AS VARCHAR) || ' of pq ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(2 + k AS INT)")} ||
       |          CASE WHEN (doc_id + k) % 3 = 0 THEN ' ' || chr(233) ELSE '' END AS title,
       |        CASE WHEN (doc_id + k) % 3 = 0 THEN NULL ELSE
       |          'note ' || CAST(k AS VARCHAR) || ' of pq ' || CAST(doc_id AS VARCHAR)
       |            || ': ' || ${w("CAST(14 + k AS INT)")} ||
       |            CASE WHEN (doc_id + k) % 4 = 0 THEN ' ' || chr(252) ELSE '' END END AS note,
       |        (doc_id * 100 + k)::BIGINT AS iv,
       |        (${nib("CAST(9 + k AS INT)")} + 4 * k + doc_id % 7) / 4.0 AS rv
       |      FROM r),
       |a AS (SELECT doc_id, g, count(*)::BIGINT AS cnt, sum(iv)::BIGINT AS isum,
       |        sum(rv) AS rsum, string_agg(title, '' ORDER BY k) AS cat,
       |        coalesce(string_agg(note, '' ORDER BY k), '') AS ncat
       |      FROM t GROUP BY doc_id, g),
       |h AS (SELECT doc_id, g, cnt, isum, rsum, hex(encode(cat)) AS hx,
       |        octet_length(encode(cat)) AS nb, hex(encode(ncat)) AS nhx,
       |        octet_length(encode(ncat)) AS nnb,
       |        CASE WHEN doc_id % 2 = 1 THEN 'SNAPPY' ELSE 'UNCOMPRESSED' END AS cdc
       |      FROM a)
       |SELECT doc_id, g::BIGINT AS row_group, 0::BIGINT AS col_idx, 'id' AS path,
       |       'INT64' AS ptype, cdc AS codec, cnt AS num_values,
       |       'i' AS vtype, isum AS i_sum, NULL::DOUBLE AS r_sum,
       |       NULL::BIGINT AS s_bytes, NULL::BIGINT AS s_checksum FROM h
       |UNION ALL
       |SELECT doc_id, g, 1, 'title', 'BYTE_ARRAY', cdc, cnt, 's',
       |       NULL, NULL, nb::BIGINT,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(nb), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT FROM h
       |UNION ALL
       |SELECT doc_id, g, 2, 'score', 'DOUBLE', cdc, cnt, 'f',
       |       NULL, rsum, NULL, NULL FROM h
       |UNION ALL
       |SELECT doc_id, g, 3, 'note', 'BYTE_ARRAY', cdc, cnt, 's',
       |       NULL, NULL, nnb::BIGINT,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(nnb), i ->
       |         ('0x' || substr(nhx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT FROM h""".stripMargin
  }

  /** Parquet footer STATISTICS ([[graft.ext.ParquetFile.parquetStats]]
    * — the min/max/null_count rows predicate pushdown prunes row groups
    * with at 100 TB; a wrong bound silently skips live data, so they
    * grade bitwise like values): the writer emits the modern
    * min_value/max_value pair (unsigned byte-wise order for
    * BYTE_ARRAY) + null_count per chunk, the reader accepts both the
    * modern and the deprecated legacy field pair, and the all-null
    * page arm surfaces absent bounds rather than fabricated ones.
    * ParquetFileSpec extends the parquet-mr differential to statistics
    * on the REAL pyarrow files.
    */
  private val qParquetStats: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ParquetFile.parquetStats(
      graft.ext.ParquetFile.encodeParquet(table(s, dir, "documents"))).toDF()

  private val oParquetStats: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('pqf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k, k // 3 AS g
       |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
       |      WHERE k < 3 + ${nib("1")} % 4),
       |t AS (SELECT doc_id, g, k,
       |        'row ' || CAST(k AS VARCHAR) || ' of pq ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(2 + k AS INT)")} ||
       |          CASE WHEN (doc_id + k) % 3 = 0 THEN ' ' || chr(233) ELSE '' END AS title,
       |        CASE WHEN (doc_id + k) % 3 = 0 THEN NULL ELSE
       |          'note ' || CAST(k AS VARCHAR) || ' of pq ' || CAST(doc_id AS VARCHAR)
       |            || ': ' || ${w("CAST(14 + k AS INT)")} ||
       |            CASE WHEN (doc_id + k) % 4 = 0 THEN ' ' || chr(252) ELSE '' END END AS note,
       |        (doc_id * 100 + k)::BIGINT AS iv,
       |        (${nib("CAST(9 + k AS INT)")} + 4 * k + doc_id % 7) / 4.0 AS rv
       |      FROM r),
       |a AS (SELECT doc_id, g, min(iv)::BIGINT AS imin, max(iv)::BIGINT AS imax,
       |        min(rv) AS rmin, max(rv) AS rmax,
       |        min(title) AS tmin, max(title) AS tmax,
       |        min(note) AS nmin, max(note) AS nmax,
       |        (count(*) - count(note))::BIGINT AS nnulls
       |      FROM t GROUP BY doc_id, g)
       |SELECT doc_id, g::BIGINT AS row_group, 0::BIGINT AS col_idx, 'id' AS path,
       |       'INT64' AS ptype, 0::BIGINT AS null_count,
       |       imin AS i_min, imax AS i_max, NULL::DOUBLE AS r_min,
       |       NULL::DOUBLE AS r_max, NULL::VARCHAR AS s_min, NULL::VARCHAR AS s_max FROM a
       |UNION ALL
       |SELECT doc_id, g, 1, 'title', 'BYTE_ARRAY', 0,
       |       NULL, NULL, NULL, NULL, tmin, tmax FROM a
       |UNION ALL
       |SELECT doc_id, g, 2, 'score', 'DOUBLE', 0,
       |       NULL, NULL, rmin, rmax, NULL, NULL FROM a
       |UNION ALL
       |SELECT doc_id, g, 3, 'note', 'BYTE_ARRAY', nnulls,
       |       NULL, NULL, NULL, NULL, nmin, nmax FROM a""".stripMargin
  }

  /** NESTED/REPEATED parquet decode under the gate
    * ([[graft.ext.ParquetFile.parquetNested]] — the Dremel boundary the
    * flat keys left open): a from-scratch fixture whose schema carries
    * an optional GROUP, a repeated leaf, and a repeated GROUP with an
    * optional member — every rep/def combination depth 2 admits — with
    * multi-component column paths and rep+def level sections in BOTH
    * page versions. The reader decodes the level streams generically
    * (widths from the schema walk's max levels) and REASSEMBLES records
    * from levels alone, the [[graft.ext.Dremel]] algorithm wired into
    * the real page path; the oracle replays every record closed-form.
    * ParquetFileSpec additionally makes SPARK read the from-scratch
    * nested files and the from-scratch reader decode pyarrow's real
    * repeated embedding column to Spark's own numbers.
    */
  private val qParquetNested: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ParquetFile.parquetNested(
      graft.ext.ParquetFile.encodeNestedParquet(table(s, dir, "documents"))).toDF()

  /** Parquet SPLIT-BLOCK BLOOM FILTERS under the gate
    * ([[graft.ext.ParquetFile.parquetBloom]] — the structure point
    * predicates prune row groups with on NON-sorted columns at 100 TB,
    * where min/max stats prune nothing): per chunk a BloomFilterHeader
    * (thrift unions strictly one-armed) + the 32-byte-block bitset,
    * XXH64(seed 0) over the value's plain bytes, top-32-bit block
    * routing, the spec's 8 salt constants. The key probes every chunk's
    * bloom with the fixture's closed-form planted values — a misread
    * header, bitset, routing, or hash convention loses hits and fails
    * `planted_hits == n_planted`. ParquetFileSpec adds the foreign
    * differential: SPARK-written blooms (parquet-mr) accept every
    * actually-written value through our reader, absent probes stay
    * negative on the fixture, and a zeroed bitset loses every hit.
    */
  private val qParquetBloom: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ParquetFile.parquetBloom(
      graft.ext.ParquetFile.encodeBloomParquet(table(s, dir, "documents"))).toDF()

  /** Parquet PAGE INDEXES under the gate
    * ([[graft.ext.ParquetFile.parquetPageIndex]] — PageIndex.md's
    * ColumnIndex/OffsetIndex, the structures that prune at PAGE
    * granularity where row-group stats are too coarse; a drifted index
    * silently skips live pages, so it grades bitwise): per chunk the
    * OffsetIndex page-location list (ascending offsets, first-row
    * ordinals, compressed sizes CROSS-CHECKED against the real page
    * headers at those offsets) and the ColumnIndex per-page null
    * flags / min-max / boundary order / null counts, with whole-null
    * pages carrying empty bounds. The fixture writes multi-page chunks
    * with an UNORDERED value layout (the index is load-bearing) and an
    * optional column whose pages go entirely null on an arm; both
    * structs demand exact declared-length consumption. ParquetFileSpec
    * adds the foreign arm: SPARK-written page indexes (parquet-mr
    * emits them by default) walk and cross-check through this reader.
    */
  private val qParquetPageIndex: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ParquetFile.parquetPageIndex(
      graft.ext.ParquetFile.encodePageIndexParquet(table(s, dir, "documents"))).toDF()

  private val oParquetPageIndex: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('pqi:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |n AS (SELECT doc_id, m, ws, (4 + ${nib("1")} % 4)::BIGINT AS n FROM d, wt),
       |pg AS (SELECT doc_id, m, ws, n, p FROM n, (SELECT unnest([0, 1, 2, 3]) AS p)
       |       WHERE 2 * p < n),
       |v AS (SELECT doc_id, p,
       |        doc_id * 50 + ((2 * p) * 13 + ${nib("2")}) % 29 AS v0,
       |        CASE WHEN 2 * p + 1 < n
       |          THEN doc_id * 50 + ((2 * p + 1) * 13 + ${nib("2")}) % 29 END AS v1,
       |        list_extract(ws, 1 + CAST(${nib("3 + 2 * p")} % 8 AS INT)) AS s0,
       |        CASE WHEN 2 * p + 1 < n
       |          THEN list_extract(ws, 1 + CAST(${nib("4 + 2 * p")} % 8 AS INT)) END AS s1,
       |        (doc_id + p) % 5 = 0 AS np,
       |        CASE WHEN 2 * p + 1 < n THEN 2 ELSE 1 END AS cnt
       |      FROM pg)
       |SELECT doc_id, 0::BIGINT AS col_idx, 'id' AS path, p::BIGINT AS page,
       |       (2 * p)::BIGINT AS first_row, FALSE AS null_page, 0::BIGINT AS null_count,
       |       least(v0, coalesce(v1, v0))::BIGINT AS i_min,
       |       greatest(v0, coalesce(v1, v0))::BIGINT AS i_max,
       |       NULL::VARCHAR AS s_min, NULL::VARCHAR AS s_max
       |FROM v
       |UNION ALL
       |SELECT doc_id, 1, 'title', p, 2 * p, np,
       |       (CASE WHEN np THEN cnt ELSE 0 END)::BIGINT,
       |       NULL, NULL,
       |       CASE WHEN np THEN NULL ELSE least(s0, coalesce(s1, s0)) END,
       |       CASE WHEN np THEN NULL ELSE greatest(s0, coalesce(s1, s0)) END
       |FROM v""".stripMargin
  }

  private val oParquetBloom: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('pqb:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |n AS (SELECT doc_id, (3 + ${nib("1")} % 4)::BIGINT AS n FROM d),
       |g AS (SELECT doc_id, n, g FROM n, (SELECT unnest([0, 1]) AS g) WHERE g * 3 < n),
       |t AS (SELECT doc_id, g, least(3, n - 3 * g)::BIGINT AS cnt FROM g)
       |SELECT doc_id, g::BIGINT AS row_group, c::BIGINT AS col_idx,
       |       CASE c WHEN 0 THEN 'id' ELSE 'title' END AS path,
       |       256::BIGINT AS bloom_bytes, cnt AS n_planted, cnt AS planted_hits
       |FROM t, (SELECT unnest([0, 1]) AS c)""".stripMargin
  }

  private val oParquetNested: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('pqn:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS k)
       |      WHERE k < 2 + ${nib("1")} % 3)
       |SELECT doc_id, k::BIGINT AS row_idx,
       |  (doc_id * 100 + k)::BIGINT AS id_val,
       |  CASE WHEN ${nib("2 + k")} % 4 != 0 AND ${nib("6 + k")} % 3 != 0
       |    THEN list_extract(ws, 1 + CAST(${nib("10 + k")} % 8 AS INT)) || '-' || CAST(k AS VARCHAR)
       |    ELSE NULL END AS info_name,
       |  CASE WHEN ${nib("2 + k")} % 4 != 0 AND (doc_id + k) % 2 = 0
       |    THEN (doc_id * 10 + 7 * k)::BIGINT ELSE NULL END AS info_weight,
       |  (${nib("14 + k")} % 3)::BIGINT AS n_tags,
       |  coalesce(array_to_string(list_transform(range(${nib("14 + k")} % 3), j ->
       |    list_extract(ws, 1 + CAST((${nib("18 + k")} + 3 * j) % 8 AS INT))), ','), '') AS tags_cat,
       |  (${nib("22 + k")} % 3)::BIGINT AS n_pairs,
       |  ((${nib("22 + k")} % 3) * (doc_id + 13 * k)
       |    + 5 * ((${nib("22 + k")} % 3) * ((${nib("22 + k")} % 3) - 1) // 2))::BIGINT AS k_sum,
       |  coalesce(array_to_string(list_transform(range(${nib("22 + k")} % 3), j ->
       |    CASE WHEN (doc_id + k + j) % 3 != 0
       |      THEN list_extract(ws, 1 + CAST((${nib("26 + k")} + j) % 8 AS INT))
       |      ELSE '_' END), ','), '') AS v_cat
       |FROM r""".stripMargin
  }

  /** SQLite database-file ingestion ([[graft.ext.Sqlite]] — the most
    * deployed database file format; browser/app-data corpora): real
    * page-level databases — sqlite_master catalog walk on page 1, table
    * b-trees with interior pages at the 512-byte fixture page size,
    * varint records across every live serial type (width-1..8 two's-
    * complement ints incl. the 0/1 constant forms, float64, UTF-8 text
    * with hazards, blobs, NULL), the INTEGER-PRIMARY-KEY rowid alias
    * substituted exactly as SQLite defines, and OVERFLOW-PAGE chains —
    * the `big` table's row always spills past the 512-byte page's
    * inline threshold and is reassembled across one to four chained
    * pages (File Format §1.5 local-prefix arithmetic). The oracle
    * replays every cell closed-form; blobs grade as md5-prefix hex.
    */
  private val qSqliteRows: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sqlite.sqliteRows(graft.ext.Sqlite.encodeSqlite(table(s, dir, "documents"))).toDF()

  private val oSqliteRows: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('sqlite:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k
       |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
       |      WHERE k < 3 + ${nib("1")} % 4)
       |SELECT doc_id, 'docs' AS tbl, (k + 1)::BIGINT AS rowid, 0::BIGINT AS col_idx,
       |       'i' AS vtype, (k + 1)::BIGINT AS i_val,
       |       NULL::DOUBLE AS r_val, NULL::VARCHAR AS s_val FROM r
       |UNION ALL
       |SELECT doc_id, 'docs', k + 1, 1, 's', NULL, NULL,
       |       'doc ' || CAST(doc_id AS VARCHAR) || ' row ' || CAST(k AS VARCHAR)
       |         || ': ' || ${w("CAST(2 + k AS INT)")} || ' '
       |         || repeat('x', CAST(40 + ${nib("CAST(3 + k AS INT)")} * 4 AS INT))
       |         || CASE WHEN (doc_id + k) % 3 = 0 THEN ' ' || chr(233) ELSE '' END
       |FROM r
       |UNION ALL
       |SELECT doc_id, 'docs', k + 1, 2, 'i',
       |       CASE (doc_id + k) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1
       |         ELSE (CASE WHEN (doc_id + k) % 2 = 0 THEN 1 ELSE -1 END) *
       |           ('0x' || substr(m, CAST(9 + k AS INT), 3))::BIGINT END,
       |       NULL, NULL FROM r
       |UNION ALL
       |SELECT doc_id, 'docs', k + 1, 3, 'f', NULL,
       |       (${nib("6")} + k) / 4.0, NULL FROM r
       |UNION ALL
       |SELECT doc_id, 'docs', k + 1, 4, 'b', NULL, NULL,
       |       substr(md5('sb:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
       |         1, CAST(2 * (2 + k % 3) AS INT)) FROM r
       |UNION ALL
       |SELECT doc_id, 'docs', k + 1, 5,
       |       CASE WHEN (doc_id + k) % 4 = 0 THEN 'z' ELSE 's' END, NULL, NULL,
       |       CASE WHEN (doc_id + k) % 4 = 0 THEN NULL
       |         ELSE ${w("CAST(10 + k AS INT)")} END FROM r
       |UNION ALL
       |SELECT doc_id, 'tags', k + 1, 0, 's', NULL, NULL,
       |       'tag-' || ${w("CAST(14 + k AS INT)")}
       |FROM d, wt, (SELECT unnest([0, 1]) AS k)
       |UNION ALL
       |SELECT doc_id, 'tags', k + 1, 1, 'i', ${nib("CAST(15 + k AS INT)")}, NULL, NULL
       |FROM d, wt, (SELECT unnest([0, 1]) AS k)
       |UNION ALL
       |SELECT doc_id, 'notes', k + 1, 0, 's', NULL, NULL,
       |       'note-' || ${w("CAST(14 + k AS INT)")}
       |FROM d, wt, (SELECT unnest([0, 1]) AS k)
       |UNION ALL
       |SELECT doc_id, 'notes', k + 1, 1, 'i', (k + 1)::BIGINT, NULL, NULL
       |FROM d, wt, (SELECT unnest([0, 1]) AS k)
       |UNION ALL
       |SELECT doc_id, 'big', 1, 0, 's', NULL, NULL,
       |       'big ' || CAST(doc_id AS VARCHAR) || ': ' ||
       |         repeat(${w("5")} || ' ', CAST(120 + ${nib("7")} * 8 AS INT))
       |FROM d, wt""".stripMargin
  }

  /** ORC internals ([[graft.ext.Orc]] — the other columnar lake format,
    * at the byte level, no ORC library): protobuf wire format both
    * directions, postscript/footer/stripe-footer walk, compression
    * chunk framing (NONE/ZLIB/SNAPPY over the shared from-scratch
    * inflate + snappy), all four RLEv2 sub-encodings read and three
    * written, string DIRECT_V2 + DICTIONARY_V2, IEEE-LE doubles. The
    * oracle replays per-stripe per-column aggregates; OrcSpec closes
    * the loop both ways — SPARK reads the from-scratch files bit-exact,
    * and the reader decodes REAL orc-core-written files (NONE, SNAPPY,
    * ZLIB; a forced PATCHED_BASE column; dictionary strings) bit-exact.
    */
  private val qOrcMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Orc.orcMeta(graft.ext.Orc.encodeOrc(table(s, dir, "documents"))).toDF()

  private val oOrcMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('orcf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k, k // 3 AS g
       |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
       |      WHERE k < 3 + ${nib("1")} % 4),
       |t AS (SELECT doc_id, g, k,
       |        'row ' || CAST(k AS VARCHAR) || ' of orc ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(2 + k AS INT)")} ||
       |          CASE WHEN (doc_id + k) % 3 = 0 THEN ' ' || chr(233) ELSE '' END AS title,
       |        (doc_id * 100 + k)::BIGINT AS iv,
       |        (${nib("CAST(9 + k AS INT)")} + 4 * k + doc_id % 7) / 4.0 AS rv,
       |        (${nib("16")} % 13 - 6)::BIGINT AS cv
       |      FROM r),
       |a AS (SELECT doc_id, g, count(*)::BIGINT AS cnt, sum(iv)::BIGINT AS isum,
       |        sum(rv) AS rsum, string_agg(title, '' ORDER BY k) AS cat, min(cv) AS cv
       |      FROM t GROUP BY doc_id, g),
       |h AS (SELECT doc_id, g, cnt, isum, rsum, cv, hex(encode(cat)) AS hx,
       |        octet_length(encode(cat)) AS nb FROM a)
       |SELECT doc_id, g::BIGINT AS stripe, 1::BIGINT AS col_idx, 'id' AS name,
       |       'LONG' AS ctype, 'DIRECT_V2' AS enc, cnt AS n_vals,
       |       'i' AS vtype, isum AS i_sum, NULL::DOUBLE AS r_sum,
       |       NULL::BIGINT AS s_bytes, NULL::BIGINT AS s_checksum FROM h
       |UNION ALL
       |SELECT doc_id, g, 2, 'title', 'STRING', 'DIRECT_V2', cnt, 's',
       |       NULL, NULL, nb::BIGINT,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(nb), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT FROM h
       |UNION ALL
       |SELECT doc_id, g, 3, 'score', 'DOUBLE', 'DIRECT', cnt, 'f',
       |       NULL, rsum, NULL, NULL FROM h
       |UNION ALL
       |SELECT doc_id, g, 4, 'cat', 'LONG', 'DIRECT_V2', cnt, 'i',
       |       (cv * cnt)::BIGINT, NULL, NULL, NULL FROM h""".stripMargin
  }

  /** Arrow IPC internals ([[graft.ext.Arrow]] — the interchange format,
    * at the byte level with no Arrow or FlatBuffers library): the
    * flatbuffers wire format BOTH directions (vtables, soffsets,
    * struct/ref vectors, back-to-front build), encapsulated-message
    * framing, footer blocks, validity bitmaps, Int/Float/Utf8 buffers.
    * The oracle replays per-batch per-column aggregates (nulls
    * excluded, null counts surfaced); ArrowSpec closes the loop both
    * ways — ARROW-JAVA reads the from-scratch files value-exact, and
    * the reader decodes real ArrowFileWriter output bit-exact.
    */
  private val qArrowBatches: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Arrow.arrowBatches(stagedFixture("arrow_file", s, dir) {
      graft.ext.Arrow.encodeArrow(table(s, dir, "documents"))
    }).toDF()

  private val oArrowBatches: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('arrw:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |r AS (SELECT doc_id, m, ws, k, k // 3 AS g
       |      FROM d, wt, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)
       |      WHERE k < 3 + ${nib("1")} % 4),
       |t AS (SELECT doc_id, g, k,
       |        'row ' || CAST(k AS VARCHAR) || ' of arrow ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(2 + k AS INT)")} ||
       |          CASE WHEN (doc_id + k) % 3 = 0 THEN ' ' || chr(233) ELSE '' END AS title,
       |        (doc_id * 100 + k)::BIGINT AS iv,
       |        (${nib("CAST(9 + k AS INT)")} + 4 * k + doc_id % 7) / 4.0 AS rv,
       |        CASE WHEN (doc_id + k) % 3 = 0 THEN NULL
       |          ELSE ${nib("CAST(12 + k AS INT)")} - 7 END AS fv,
       |        ${w("CAST(20 + k AS INT)")} AS tag
       |      FROM r),
       |a AS (SELECT doc_id, g, count(*)::BIGINT AS cnt, sum(iv)::BIGINT AS isum,
       |        sum(rv) AS rsum, string_agg(title, '' ORDER BY k) AS cat,
       |        string_agg(tag, '' ORDER BY k) AS tcat,
       |        coalesce(sum(fv), 0)::BIGINT AS fsum,
       |        (count(*) - count(fv))::BIGINT AS fnulls
       |      FROM t GROUP BY doc_id, g),
       |h AS (SELECT doc_id, g, cnt, isum, rsum, fsum, fnulls,
       |        hex(encode(cat)) AS hx, octet_length(encode(cat)) AS nb,
       |        hex(encode(tcat)) AS thx, octet_length(encode(tcat)) AS tnb FROM a)
       |SELECT doc_id, g::BIGINT AS batch, 0::BIGINT AS col_idx, 'id' AS name,
       |       'INT64' AS ctype, FALSE AS nullable, cnt AS n_rows,
       |       0::BIGINT AS null_count, 'i' AS vtype, isum AS i_sum,
       |       NULL::DOUBLE AS r_sum, NULL::BIGINT AS s_bytes,
       |       NULL::BIGINT AS s_checksum FROM h
       |UNION ALL
       |SELECT doc_id, g, 1, 'title', 'UTF8', FALSE, cnt, 0, 's',
       |       NULL, NULL, nb::BIGINT,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(nb), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT FROM h
       |UNION ALL
       |SELECT doc_id, g, 2, 'score', 'FLOAT64', FALSE, cnt, 0, 'f',
       |       NULL, rsum, NULL, NULL FROM h
       |UNION ALL
       |SELECT doc_id, g, 3, 'flag', 'INT32', TRUE, cnt, fnulls, 'i',
       |       fsum, NULL, NULL, NULL FROM h
       |UNION ALL
       |SELECT doc_id, g, 4, 'tag', 'UTF8', FALSE, cnt, 0, 's',
       |       NULL, NULL, tnb::BIGINT,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(tnb), i ->
       |         ('0x' || substr(thx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT FROM h""".stripMargin
  }

  /** The Arrow STREAM format under the gate ([[graft.ext.Arrow.arrowStream]]
    * — `.arrows`, the no-footer wire variant Flight and IPC pipes carry):
    * the same per-document fixture rides the stream framing (schema
    * message first, dictionary batch, record batches, explicit EOS,
    * nothing after), and decode is byte-for-byte the file format's —
    * so the oracle is IDENTICAL to `arrow_batches`; only the framing
    * walk differs. ArrowSpec grades the stream twin with
    * arrow-java's ArrowStreamReader/Writer both directions.
    */
  private val qArrowStream: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Arrow.arrowStream(stagedFixture("arrow_stream", s, dir) {
      graft.ext.Arrow.encodeArrowStream(table(s, dir, "documents"))
    }).toDF()

  /** Delta Lake transaction-log replay ([[graft.ext.DeltaLog]] — the
    * table format 100 TB lakes mount; listing the directory instead of
    * replaying `_delta_log` reads compacted-away ghost files): JSON
    * action lines per the published protocol (one action per line,
    * protocol/metaData/add/remove/commitInfo, contiguous versions,
    * duplicate-key-strict JSON), folded in commit order into the ACTIVE
    * file snapshot. The fixture compacts even-indexed files away at the
    * next commit, so the oracle's closed-form active set — last
    * commit's files plus odd survivors — fails if removes don't
    * tombstone, re-adds don't replace, or replay order slips. One
    * shuffle, keyed by table: a table's log is inherently sequential;
    * the parallelism unit is the table, as in a real lake's snapshot
    * cache.
    */
  private val qDeltaState: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.DeltaLog.deltaState(
      graft.ext.DeltaLog.encodeDeltaLog(table(s, dir, "documents"))).toDF()

  private val oDeltaState: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('dlog:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |n AS (SELECT doc_id, m, ws, (2 + ${nib("1")} % 3)::BIGINT AS nc FROM d, wt),
       |g AS (SELECT doc_id, m, ws, nc, c, j
       |      FROM n, (SELECT unnest([0, 1, 2, 3]) AS c), (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE c < nc
       |        AND j < CASE WHEN c = 0 THEN 3
       |                     ELSE 1 + ${nib("CAST(2 + c AS INT)")} % 3 END
       |        AND (c = nc - 1 OR j % 2 = 1))
       |SELECT doc_id,
       |       printf('part-%05d-%d.snappy.parquet', c, j) AS path,
       |       c::BIGINT AS add_version,
       |       (1000 + ${nib("CAST(5 + (c + j) % 8 AS INT)")} * 64 + 17 * j + c)::BIGINT AS size_bytes,
       |       list_extract(ws, 1 + CAST(${nib("CAST(6 + (2 * c + j) % 9 AS INT)")} % 8 AS INT)) AS lang
       |FROM g""".stripMargin
  }

  /** Delta CHECKPOINT replay ([[graft.ext.DeltaLog.deltaCheckpointState]]
    * — what real `_delta_log/` dirs require: a `NNN.checkpoint.parquet`
    * every ~10 commits plus `_last_checkpoint`, with VACUUM deleting the
    * subsumed JSON commits): the pointer file resolves the checkpoint
    * version, the checkpoint parquet decodes through the in-house
    * nested/Dremel reader ([[graft.ext.ParquetFile.parseDeltaCheckpoint]]
    * — one optional group per action kind, `partitionValues` as a real
    * parquet MAP), expired remove tombstones must NOT surface as
    * active, and only the contiguous JSON tail after the checkpoint
    * replays. The fixture vacuums EVERY pre-checkpoint JSON commit, so
    * a JSON-only replayer sees a log that starts mid-stream and fails
    * the oracle by construction. One shuffle, keyed by table.
    */
  private val qDeltaCheckpoint: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.DeltaLog.deltaCheckpointState(
      graft.ext.DeltaLog.encodeDeltaCheckpointLog(table(s, dir, "documents"))).toDF()

  private val oDeltaCheckpoint: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('dckp:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |n AS (SELECT doc_id, m, ws, (4 + ${nib("1")} % 3)::BIGINT AS nc FROM d, wt),
       |g AS (SELECT doc_id, m, ws, nc, c, j
       |      FROM n, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS c), (SELECT unnest([0, 1]) AS j)
       |      WHERE c < nc
       |        AND j < CASE WHEN c = 0 THEN 2 ELSE 1 + ${nib("2 + c")} % 2 END
       |        AND (c = nc - 1 OR j % 2 = 1))
       |SELECT doc_id,
       |       printf('part-%05d-%d.snappy.parquet', c, j) AS path,
       |       (1000 + ${nib("17 + (c + j) % 8")} * 64 + 17 * j + c)::BIGINT AS size_bytes,
       |       list_extract(ws, 1 + CAST(${nib("8 + (2 * c + j) % 9")} % 8 AS INT)) AS lang
       |FROM g""".stripMargin
  }

  /** Iceberg table-metadata walk ([[graft.ext.Iceberg]] — the pointer
    * chain the OTHER lake table format uses): strict-JSON
    * `metadata.json` resolves `current-snapshot-id` against the
    * snapshots array (two snapshots planted — "take the newest" reads a
    * stale one and fails the oracle), the snapshot's manifest LIST and
    * every manifest are real Avro containers decoded through the
    * schema-driven [[graft.ext.Avro.demuxGeneric]], and the active set
    * keeps statuses 0/1 while every third entry is DELETED. One
    * shuffle, keyed by table.
    */
  private val qIcebergState: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Iceberg.icebergState(
      graft.ext.Iceberg.encodeIceberg(table(s, dir, "documents"))).toDF()

  /** Iceberg V2 ROW-LEVEL DELETES ([[graft.ext.Iceberg.icebergV2State]]
    * — the merge-on-read mechanism every v2 table uses): the manifest
    * list's `content` field splits DATA from DELETE manifests, delete
    * manifests name position-delete files (Avro rows of
    * `(file_path, pos)`), and active-ROW accounting subtracts each data
    * file's deduped deleted positions. The fixture plants dangling
    * deletes (a ghost path and rows aimed at DELETED-status files) that
    * a correct reader ignores, and the oracle's live_rows closed form
    * fails any reader that skips delete manifests entirely. One
    * shuffle, keyed by table.
    */
  private val qIcebergV2State: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Iceberg.icebergV2State(
      graft.ext.Iceberg.encodeIcebergV2(table(s, dir, "documents"))).toDF()

  /** Iceberg v2 EQUALITY deletes + SEQUENCE NUMBERS
    * ([[graft.ext.Iceberg.icebergEqState]] — the delete mechanism
    * UPDATE/MERGE writers emit, plus the applicability rules that make
    * merge-on-read correct): equality delete files carry column VALUES
    * (the `lang` partition field, named by non-empty `equality_ids`),
    * and the spec's rules decide who dies — a position delete applies
    * to data files with sequence number <= the delete's, an equality
    * delete only STRICTLY BELOW its own (a writer cannot delete rows it
    * has not seen). The fixture plants files at sequence 1..4 against
    * deletes at 3, so both escape arms grade; an eq value matching no
    * file and deletes aimed at DELETED-status files are ignored. A
    * reader that skips sequence numbers or equality manifests fails the
    * live_rows closed form. One shuffle, keyed by table.
    */
  private val qIcebergEqState: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Iceberg.icebergEqState(
      graft.ext.Iceberg.encodeIcebergEq(table(s, dir, "documents"))).toDF()

  private val oIcebergEqState: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('iceeq:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |g AS (SELECT doc_id, m, ws, mi, j
       |      FROM d, wt, (SELECT unnest([0, 1]) AS mi), (SELECT unnest([0, 1, 2, 3]) AS j)
       |      WHERE mi < 1 + ${nib("1")} % 2
       |        AND j < 2 + ${nib("2 + mi")} % 3
       |        AND (doc_id + mi + j) % 3 != 2),
       |t AS (SELECT doc_id, mi, j,
       |        list_extract(ws, 1 + CAST(${nib("6 + (mi + j) % 9")} % 8 AS INT)) AS lang,
       |        (1 + ${nib("7 + (2 * mi + j) % 9")} % 4)::BIGINT AS seq,
       |        (100 + ${nib("4 + (mi + 2 * j) % 8")} * 7 + j)::BIGINT AS rc,
       |        (${nib("12 + (mi + j) % 8")} % 4)::BIGINT AS nd,
       |        list_extract(ws, 1 + CAST(${nib("15")} % 8 AS INT)) AS eqlang
       |      FROM g)
       |SELECT doc_id,
       |       'data/eq-' || CAST(mi AS VARCHAR) || '-' || CAST(j AS VARCHAR) || '.parquet' AS file_path,
       |       lang, seq, rc AS record_count,
       |       (CASE WHEN seq <= 3 THEN nd ELSE 0 END)::BIGINT AS pos_deleted,
       |       (lang = eqlang AND seq < 3) AS eq_deleted,
       |       (CASE WHEN lang = eqlang AND seq < 3 THEN 0
       |             WHEN seq <= 3 THEN rc - nd ELSE rc END)::BIGINT AS live_rows
       |FROM t""".stripMargin
  }

  private val oIcebergV2State: String = {
    def nib(i: String) = s"('0x' || substr(m, CAST($i AS INT), 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('icev2:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |g AS (SELECT doc_id, m, mi, j
       |      FROM d, (SELECT unnest([0, 1]) AS mi), (SELECT unnest([0, 1, 2, 3]) AS j)
       |      WHERE mi < 1 + ${nib("1")} % 2
       |        AND j < 2 + ${nib("2 + mi")} % 3
       |        AND (doc_id + mi + j) % 3 != 2),
       |t AS (SELECT doc_id, mi, j,
       |        (100 + ${nib("4 + (mi + 2 * j) % 8")} * 7 + j)::BIGINT AS rc,
       |        (${nib("12 + (mi + j) % 8")} % 4)::BIGINT AS dels
       |      FROM g)
       |SELECT doc_id,
       |       'data/part-' || CAST(mi AS VARCHAR) || '-' || CAST(j AS VARCHAR) || '.parquet' AS file_path,
       |       rc AS record_count, (rc - dels)::BIGINT AS live_rows, dels AS deleted_rows
       |FROM t""".stripMargin
  }

  private val oIcebergState: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('ice:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |g AS (SELECT doc_id, m, mi, j
       |      FROM d, (SELECT unnest([0, 1]) AS mi), (SELECT unnest([0, 1, 2, 3]) AS j)
       |      WHERE mi < 1 + ${nib("1")} % 2
       |        AND j < 2 + ${nib("CAST(2 + mi AS INT)")} % 3
       |        AND (doc_id + mi + j) % 3 <> 2)
       |SELECT doc_id,
       |       'data/part-' || CAST(mi AS VARCHAR) || '-' || CAST(j AS VARCHAR)
       |         || '.parquet' AS file_path,
       |       (100 + ${nib("CAST(4 + (mi + 2 * j) % 8 AS INT)")} * 7 + j)::BIGINT AS record_count,
       |       (4096 + ${nib("CAST(5 + (3 * mi + j) % 8 AS INT)")} * 512 + 13 * j + mi)::BIGINT AS size_bytes
       |FROM g""".stripMargin
  }

  /** Debian package ingestion ([[graft.ext.Deb]] — the package-mining
    * shelf): the ar layer (both real-world name styles), the shared
    * RFC 1952 gzip machinery (all three DEFLATE strategies + all
    * header-flag variants cycled), a ustar walk, and RFC-822 control
    * fields with continuation folding. commons-compress differentials
    * both directions in DebSpec; damage anywhere quarantines whole.
    */
  private val qDebExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Deb.debExtract(graft.ext.Deb.encodeDeb(table(s, dir, "documents"))).toDF()

  private val oDebExtract: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('deb:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |f AS (SELECT doc_id, m, ws, j,
       |        repeat('payload ' || CAST(j AS VARCHAR) || ' of deb '
       |            || CAST(doc_id AS VARCHAR) || ': ' || ${w("CAST(8 + j AS INT)")} || chr(10),
       |          CAST(1 + (doc_id + j) % 4 AS INT)) AS body
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("7")} % 3),
       |a AS (SELECT doc_id, string_agg(body, '' ORDER BY j) AS cat,
       |        count(*)::BIGINT AS nf FROM f GROUP BY doc_id),
       |h AS (SELECT doc_id, nf, hex(encode(cat)) AS hx,
       |        octet_length(encode(cat))::BIGINT AS nb FROM a)
       |SELECT d.doc_id,
       |       'pkg-' || ${w("2")} AS package_name,
       |       '1.' || CAST(${nib("3")} AS VARCHAR) || '.' || CAST(${nib("4")} AS VARCHAR) AS version,
       |       CASE WHEN d.doc_id % 2 = 0 THEN 'amd64' ELSE 'arm64' END AS arch,
       |       (100 + ${nib("5")} * 7)::BIGINT AS installed_size,
       |       CASE WHEN d.doc_id % 3 = 0
       |         THEN 'libc6 (>= 2.' || CAST(${nib("6")} AS VARCHAR) || ')' END AS depends,
       |       h.nf AS n_files, h.nb AS data_bytes,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(h.nb), i ->
       |         ('0x' || substr(h.hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT AS data_checksum
       |FROM d JOIN h ON d.doc_id = h.doc_id, wt""".stripMargin
  }

  /** cpio ingestion ([[graft.ext.Cpio]] — initramfs / RPM payloads):
    * SVR4 newc + crc formats, the crc variant's check field VERIFIED
    * against the data sum; commons-compress differentials both
    * directions in CpioSpec.
    */
  private val qCpioEntries: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Cpio.cpioEntries(graft.ext.Cpio.encodeCpio(table(s, dir, "documents"))).toDF()

  private val oCpioEntries: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('cpio:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |f AS (SELECT doc_id, m, ws, j,
       |        repeat('cpio member ' || CAST(j AS VARCHAR) || ' of '
       |            || CAST(doc_id AS VARCHAR) || ': ' || ${w("CAST(2 + j AS INT)")} || chr(10),
       |          CAST(1 + (doc_id + j) % 4 AS INT)) AS body
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("1")} % 3),
       |h AS (SELECT doc_id, j, hex(encode(body)) AS hx,
       |        octet_length(encode(body))::BIGINT AS nb FROM f)
       |SELECT doc_id, 0::BIGINT AS entry_idx,
       |       'payload' || CAST(doc_id AS VARCHAR) AS name, 'd' AS ftype,
       |       (1700000000 + doc_id % 1000)::BIGINT AS mtime,
       |       0::BIGINT AS n_bytes, 0::BIGINT AS checksum FROM d
       |UNION ALL
       |SELECT doc_id, (j + 1)::BIGINT,
       |       'payload' || CAST(doc_id AS VARCHAR) || '/f' || CAST(j AS VARCHAR) || '.dat',
       |       'f', (1700000000 + doc_id % 1000 + j)::BIGINT, nb,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(nb), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT
       |FROM h""".stripMargin
  }

  /** Font metadata ([[graft.ext.Sfnt]] — web-corpus curation): complete
    * loadable TrueType fonts from scratch (offset table, real table +
    * whole-font checksums, cmap format 4, glyf/loca, name format 0 in
    * both platform arms, OS/2 weight), the WOFF 1.0 zlib wrapper, and
    * the WOFF 2.0 brotli wrapper (known-tag directory, UIntBase128,
    * null glyf/loca transforms; transformed tables quarantine). The
    * JDK's native sfnt loader accepts the fonts and agrees on
    * family/glyph count in SfntSpec.
    */
  private val qTtfMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sfnt.ttfMeta(graft.ext.Sfnt.encodeFonts(table(s, dir, "documents"))).toDF()

  private val oTtfMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('sfnt:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['Anchor','Bloom','Cedar','Dune','Ember','Flint','Grove','Harbor'] AS ws)
       |SELECT doc_id,
       |       CASE WHEN doc_id % 3 = 2 THEN
       |         (CASE WHEN doc_id % 2 = 0 THEN 'woff' ELSE 'woff2' END)
       |         ELSE 'ttf' END AS container,
       |       10::BIGINT AS n_tables,
       |       CASE WHEN doc_id % 2 = 0 THEN 1024 ELSE 2048 END::BIGINT AS units_per_em,
       |       (2 + ${nib("3")} % 3)::BIGINT AS num_glyphs,
       |       'Graft ' || list_extract(ws, 1 + CAST(${nib("2")} % 8 AS INT)) AS family,
       |       'Graft ' || list_extract(ws, 1 + CAST(${nib("2")} % 8 AS INT))
       |         || ' Regular' AS full_name,
       |       (300 + 100 * (${nib("4")} % 5))::BIGINT AS weight_class,
       |       8::BIGINT AS n_name_records
       |FROM d, wt""".stripMargin
  }

  /** RPM ingestion ([[graft.ext.Rpm]] — the other package half beside
    * deb): lead + signature/main header sections (big-endian index,
    * aligned store, bounds-checked strings), tags extracted with the
    * payload format/compressor ENFORCED, SIZE cross-checked against
    * the decoded gzip-cpio inventory (the crc cpio variant rides under
    * the rpm path too).
    */
  private val qRpmMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Rpm.rpmMeta(graft.ext.Rpm.encodeRpm(table(s, dir, "documents"))).toDF()

  private val oRpmMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('rpm:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |f AS (SELECT doc_id, m, ws, j,
       |        repeat('rpm file ' || CAST(j AS VARCHAR) || ' of lib' || ${w("2")}
       |            || ': ' || ${w("CAST(8 + j AS INT)")} || chr(10),
       |          CAST(1 + (doc_id + j) % 4 AS INT)) AS body
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("7")} % 3),
       |pf AS (SELECT doc_id, j, octet_length(encode(body))::BIGINT AS nb,
       |         list_reduce(list_prepend(0::BIGINT,
       |           list_transform(range(octet_length(encode(body))), i ->
       |             ('0x' || substr(hex(encode(body)), CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |           (a2, x) -> (a2 * 31 + x) % 1000000007)::BIGINT AS fck
       |       FROM f),
       |a AS (SELECT doc_id, count(*)::BIGINT AS nf, sum(nb)::BIGINT AS sz,
       |        list_reduce(list_prepend(0::BIGINT, list(fck ORDER BY j)),
       |          (a2, x) -> (a2 * 131 + x) % 1000000007)::BIGINT AS ck
       |      FROM pf GROUP BY doc_id)
       |SELECT d.doc_id,
       |       'lib' || ${w("2")} AS name,
       |       '2.' || CAST(${nib("3")} AS VARCHAR) || '.' || CAST(${nib("4")} AS VARCHAR) AS version,
       |       CAST(1 + ${nib("5")} AS VARCHAR) AS release,
       |       CASE WHEN d.doc_id % 2 = 0 THEN 'x86_64' ELSE 'noarch' END AS arch,
       |       list_extract(['MIT', 'Apache-2.0', 'GPL-2.0'],
       |         1 + CAST(${nib("6")} % 3 AS INT)) AS license,
       |       a.sz AS size, a.nf AS n_payload_files, a.sz AS payload_bytes,
       |       a.ck AS payload_checksum
       |FROM d JOIN a ON d.doc_id = a.doc_id, wt""".stripMargin
  }

  /** Java class-file ingestion ([[graft.ext.ClassFile]] — jar mining):
    * the full constant-pool tag walk (incl. the Long/Double two-slot
    * quirk, always planted), member/attribute tables, SourceFile, and
    * the Code attribute of the fixture's method parsed down to the
    * bipush operand. The fixture classes are complete and verifiable:
    * ClassFileSpec defineClass-loads them and INVOKES the bytecode,
    * and the reader walks 200 real scalac classes from the Scala jar.
    */
  private val qClassMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.ClassFile.classMeta(graft.ext.ClassFile.encodeClasses(table(s, dir, "documents"))).toDF()

  private val oClassMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('cls:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['Anchor','Bloom','Cedar','Dune','Ember','Flint','Grove','Harbor'] AS ws)
       |SELECT doc_id,
       |       'graftfx.Fixture' || CAST(doc_id AS VARCHAR)
       |         || list_extract(ws, 1 + CAST(${nib("2")} % 8 AS INT)) AS class_name,
       |       'java.lang.Object' AS super_name,
       |       61::BIGINT AS major_version,
       |       (12 + ${nib("4")} % 3)::BIGINT AS n_cp,
       |       (${nib("4")} % 3)::BIGINT AS n_fields,
       |       1::BIGINT AS n_methods, 0::BIGINT AS n_interfaces,
       |       'Fixture' || CAST(doc_id AS VARCHAR) || '.java' AS source_file,
       |       (7 + ${nib("5")})::BIGINT AS answer_const,
       |       ((doc_id * 2654435761) & 4294967295)::BIGINT AS long_const
       |FROM d, wt""".stripMargin
  }

  /** ELF binary triage ([[graft.ext.Elf]] — executables in code
    * corpora): both 32/64-bit classes written and read, PT_INTERP via
    * program headers, section names via e_shstrndx, DT_NEEDED through
    * the SHT_DYNAMIC section's sh_link string table — the loader's own
    * resolution rules. ElfSpec parses the running JVM's real java
    * launcher and finds libjli in its dependency set.
    */
  private val qElfMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Elf.elfMeta(graft.ext.Elf.encodeElf(table(s, dir, "documents"))).toDF()

  private val oElfMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('elf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |f AS (SELECT doc_id, m, ws, j,
       |        'lib' || ${w("CAST(8 + j AS INT)")} || '.so.'
       |          || CAST(${nib("CAST(12 + j AS INT)")} % 4 AS VARCHAR) AS dep
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("7")} % 3),
       |a AS (SELECT doc_id, count(*)::BIGINT AS nn,
       |        string_agg(dep, ',' ORDER BY j) AS deps FROM f GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CASE WHEN d.doc_id % 3 = 1 THEN 32 ELSE 64 END::BIGINT AS bits,
       |       CASE WHEN d.doc_id % 2 = 0 THEN 'DYN' ELSE 'EXEC' END AS etype,
       |       CASE WHEN ${nib("6")} % 2 = 0 THEN 'x86_64' ELSE 'aarch64' END AS machine,
       |       3::BIGINT AS n_phdrs, 6::BIGINT AS n_shdrs,
       |       CASE WHEN ${nib("6")} % 2 = 0 THEN '/lib64/ld-linux-x86-64.so.2'
       |         ELSE '/lib/ld-linux-aarch64.so.1' END AS interp,
       |       (64 + ${nib("9")} * 8)::BIGINT AS text_size,
       |       a.nn AS n_needed, a.deps AS needed
       |FROM d JOIN a ON d.doc_id = a.doc_id, wt""".stripMargin
  }

  /** safetensors ingestion ([[graft.ext.Safetensors]] — the ML-artifact
    * shelf): u64 header length, a strict local JSON-subset parser, the
    * reference implementation's offset-coverage rule (gapless,
    * non-overlapping, exact), F32/F16/BF16/I64 decode with shape/span
    * cross-checks, __metadata__ skipped but validated.
    */
  private val qSafetensorsMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Safetensors.safetensorsMeta(
      graft.ext.Safetensors.encodeSafetensors(table(s, dir, "documents"))).toDF()

  private val oSafetensorsMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('sft:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |t AS (SELECT doc_id, m, j,
       |        list_extract(['F32', 'F16', 'I64', 'BF16'],
       |          1 + CAST((doc_id + j) % 4 AS INT)) AS dtype,
       |        CASE WHEN j % 2 = 1 THEN 2 ELSE 1 END::BIGINT AS nd,
       |        (CASE WHEN j % 2 = 1 THEN 2 ELSE 1 END
       |          * (2 + ${nib("CAST(3 + j AS INT)")} % 3))::BIGINT AS ne,
       |        (doc_id % 7 + j)::BIGINT AS b
       |      FROM d, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("1")} % 3)
       |SELECT doc_id, 't' || CAST(j AS VARCHAR) AS tensor, dtype, nd AS n_dims,
       |       ne AS n_elems,
       |       ne * CASE dtype WHEN 'I64' THEN 8 WHEN 'F32' THEN 4 ELSE 2 END AS byte_len,
       |       CASE WHEN dtype = 'I64' THEN (ne * b + ne * (ne - 1) // 2)::DOUBLE
       |         ELSE (ne * b + ne * (ne - 1) // 2) / 4.0 END AS val_sum
       |FROM t""".stripMargin
  }

  /** NumPy array ingestion ([[graft.ext.Npy]]): v1/v2 headers, the
    * Python-dict-literal header grammar, dtype decode with payload-size
    * cross-checks, and .npz zip containers through the shared [[Zip]]
    * reader.
    */
  private val qNpyMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Npy.npyMeta(graft.ext.Npy.encodeNpy(table(s, dir, "documents"))).toDF()

  private val oNpyMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('npy:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |t AS (SELECT doc_id, m, j,
       |        list_extract(['<f8', '<f4', '<i8', '<i4'],
       |          1 + CAST((doc_id + j) % 4 AS INT)) AS descr,
       |        CASE WHEN (doc_id + j) % 2 = 1 THEN 2 ELSE 1 END::BIGINT AS nd,
       |        (CASE WHEN (doc_id + j) % 2 = 1 THEN 2 ELSE 1 END
       |          * (2 + ${nib("CAST(3 + j AS INT)")} % 3))::BIGINT AS ne,
       |        (doc_id % 7 + j)::BIGINT AS b,
       |        ${nib("CAST(6 + j AS INT)")} % 2 = 1 AS fortran
       |      FROM d, (SELECT unnest([0, 1]) AS j)
       |      WHERE j < CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END)
       |SELECT doc_id,
       |       CASE WHEN doc_id % 3 = 2 THEN 'arr_' || CAST(j AS VARCHAR) || '.npy'
       |         ELSE '' END AS member,
       |       CASE WHEN ${nib("2")} % 4 = 0 THEN 2 ELSE 1 END::BIGINT AS version,
       |       descr, fortran, nd AS n_dims, ne AS n_elems,
       |       CASE WHEN descr LIKE '<i%' THEN (ne * b + ne * (ne - 1) // 2)::DOUBLE
       |         ELSE (ne * b + ne * (ne - 1) // 2) / 4.0 END AS val_sum
       |FROM t""".stripMargin
  }

  /** Pickle scanning ([[graft.ext.Pickle]] — the checkpoint safety
    * pass): a shallow abstract interpreter over protocols 2/4 whose
    * GLOBAL/STACK_GLOBAL inventory is the attack-surface listing;
    * REDUCE requires an attributable GLOBAL callee.
    */
  private val qPickleScan: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Pickle.pickleScan(graft.ext.Pickle.encodePickles(table(s, dir, "documents"))).toDF()

  private val oPickleScan: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('pkl:' || CAST(doc_id AS VARCHAR)) AS m,
       |             CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 4 END::BIGINT AS proto
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |g AS (SELECT doc_id, m, proto, gi,
       |        list_extract(['numpy.core.multiarray._reconstruct',
       |          'torch._utils._rebuild_tensor_v2', 'collections.OrderedDict'],
       |          1 + CAST(${nib("CAST(7 + gi AS INT)")} % 3 AS INT)) AS ref,
       |        list_extract([33, 30, 22],
       |          1 + CAST(${nib("CAST(7 + gi AS INT)")} % 3 AS INT)) AS reflen
       |      FROM d, (SELECT unnest([0, 1]) AS gi)
       |      WHERE gi < 1 + ${nib("4")} % 2),
       |a AS (SELECT doc_id, count(*)::BIGINT AS ng,
       |        string_agg(ref, ',' ORDER BY gi) AS refs,
       |        sum(reflen)::BIGINT AS reflens FROM g GROUP BY doc_id)
       |SELECT d.doc_id, d.proto AS protocol,
       |       CASE WHEN d.proto = 2 THEN 14 + 5 * a.ng
       |         ELSE 15 + 7 * a.ng END::BIGINT AS n_opcodes,
       |       a.ng AS n_globals, a.refs AS globals, a.ng AS n_reduce,
       |       (20 + length(CAST(d.doc_id AS VARCHAR)) + 2 * a.ng
       |         + CASE WHEN d.proto = 4 THEN a.reflens ELSE 0 END)::BIGINT AS str_bytes,
       |       (${nib("5")} * 3 + d.doc_id % 11 + 1000 + ${nib("6")})::BIGINT AS int_sum
       |FROM d JOIN a ON d.doc_id = a.doc_id""".stripMargin
  }

  /** GGUF model-checkpoint ingestion ([[graft.ext.Gguf]] — the llama.cpp
    * single-file format beside safetensors): typed metadata KVs (all 13
    * value types, arrays, strict bools), general.alignment consumed and
    * enforced, tensor infos with gapless aligned offsets and exact EOF,
    * F32/F16 value sums; quantized ggml types surface metadata-only.
    */
  private val qGgufMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Gguf.ggufMeta(graft.ext.Gguf.encodeGguf(table(s, dir, "documents"))).toDF()

  private val oGgufMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('gguf:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |t AS (SELECT doc_id, m, j,
       |        CASE WHEN (doc_id + j) % 2 = 0 THEN 'F32' ELSE 'F16' END AS gt,
       |        CASE WHEN (doc_id + j) % 2 = 0 THEN 4 ELSE 2 END::BIGINT AS w,
       |        CASE WHEN j % 2 = 1 THEN 2 ELSE 1 END::BIGINT AS nd,
       |        (CASE WHEN j % 2 = 1 THEN 2 ELSE 1 END
       |          * (2 + ${nib("CAST(3 + j AS INT)")} % 3))::BIGINT AS ne,
       |        (doc_id % 7 + j)::BIGINT AS b
       |      FROM d, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("1")} % 3),
       |o AS (SELECT *, coalesce(sum((ne * w + 31) // 32 * 32) OVER
       |        (PARTITION BY doc_id ORDER BY j
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
       |      FROM t),
       |q AS (SELECT d.doc_id, m,
       |        (32 * (1 + ${nib("9")} % 2))::BIGINT AS qne,
       |        (1 + ${nib("10")}) / 16.0 AS qd,
       |        coalesce((SELECT sum((ne * w + 31) // 32 * 32)::BIGINT
       |                  FROM t WHERE t.doc_id = d.doc_id), 0) AS qoff
       |      FROM d)
       |SELECT o.doc_id,
       |       list_extract(['llama', 'gptneox', 'qwen2'],
       |         1 + CAST(${nib("2")} % 3 AS INT)) AS arch,
       |       6::BIGINT AS n_kv, 'blk.' || CAST(j AS VARCHAR) || '.weight' AS tensor,
       |       gt AS ggml_type, nd AS n_dims, ne AS n_elems, off AS offset,
       |       'f' AS vtype, (ne * b + ne * (ne - 1) // 2) / 4.0 AS val_sum
       |FROM o
       |UNION ALL
       |SELECT doc_id,
       |       list_extract(['llama', 'gptneox', 'qwen2'],
       |         1 + CAST(${nib("2")} % 3 AS INT)),
       |       6, 'blk.q.weight',
       |       CASE WHEN doc_id % 2 = 0 THEN 'Q8_0' ELSE 'Q4_0' END,
       |       1, qne, qoff, 'f',
       |       qd * list_reduce(list_prepend(0::BIGINT, list_transform(range(qne), e ->
       |         CASE WHEN doc_id % 2 = 0 THEN (doc_id + e) % 17 - 8
       |              ELSE (doc_id + 3 * e) % 16 - 8 END)),
       |         (a, x) -> a + x)
       |FROM q""".stripMargin
  }

  /** WebAssembly module triage ([[graft.ext.Wasm]] — web-corpus
    * binaries): section walk with the spec's ordering rule, typed
    * imports counting into the function index space, export indexes
    * bounds-checked, code bodies consumed exactly and end-byte
    * enforced, memory limits validated.
    */
  private val qWasmMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Wasm.wasmMeta(graft.ext.Wasm.encodeWasm(table(s, dir, "documents"))).toDF()

  private val oWasmMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('wasm:' || CAST(doc_id AS VARCHAR)) AS m,
       |             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END::BIGINT AS imp
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |e AS (SELECT doc_id, string_agg(${w("CAST(5 + j AS INT)")}
       |          || '_' || CAST(j AS VARCHAR), ',' ORDER BY j) AS ex,
       |        count(*)::BIGINT AS nf
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("1")} % 3 GROUP BY doc_id)
       |SELECT d.doc_id,
       |       (5 + d.imp)::BIGINT AS n_sections, 2::BIGINT AS n_types,
       |       d.imp AS n_imports, (e.nf + d.imp)::BIGINT AS n_funcs,
       |       (e.nf + 1)::BIGINT AS n_exports, e.ex AS exports,
       |       (1 + ${nib("3")} % 4)::BIGINT AS mem_min,
       |       CASE WHEN ${nib("4")} % 2 = 0 THEN 1 + ${nib("3")} % 4 + 16
       |         ELSE -1 END::BIGINT AS mem_max,
       |       (3 * e.nf - e.nf % 2)::BIGINT AS code_bytes
       |FROM d JOIN e ON d.doc_id = e.doc_id""".stripMargin
  }

  /** PE/COFF binary triage ([[graft.ext.Pe]] — the Windows half beside
    * elf_meta): MZ stub + PE signature, COFF header, BOTH optional
    * header layouts (PE32 with BaseOfData, PE32+ with 8-byte
    * ImageBase), section table, and the import directory resolved
    * through the loader's RVA→file-offset mapping — DLL names are the
    * load surface curation filters on.
    */
  private val qPeMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Pe.peMeta(graft.ext.Pe.encodePe(table(s, dir, "documents"))).toDF()

  private val oPeMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('pe:' || CAST(doc_id AS VARCHAR)) AS m,
       |             doc_id % 3 <> 1 AS is64
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |i AS (SELECT doc_id, string_agg(${w("CAST(5 + j AS INT)")}
       |          || CAST(j AS VARCHAR) || '.dll', ',' ORDER BY j) AS imps,
       |        count(*)::BIGINT AS ni
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |      WHERE j < 1 + ${nib("4")} % 3 GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CASE WHEN ${nib("2")} % 3 = 0 THEN 'arm64'
       |         WHEN d.is64 THEN 'x86_64' ELSE 'i386' END AS machine,
       |       CASE WHEN d.is64 THEN 'PE32+' ELSE 'PE32' END AS pe_format,
       |       d.doc_id % 2 = 1 AS is_dll,
       |       CASE WHEN ${nib("3")} % 2 = 0 THEN 3 ELSE 2 END::BIGINT AS subsystem,
       |       (4096 + ${nib("8")} * 16)::BIGINT AS entry_rva,
       |       3::BIGINT AS n_sections, '.text,.rdata,.data' AS sections,
       |       i.ni AS n_imports, i.imps AS imports
       |FROM d JOIN i ON d.doc_id = i.doc_id""".stripMargin
  }

  /** BSON dump ingestion ([[graft.ext.Bson]] — mongodump corpora):
    * self-inclusive document lengths matched exactly at every nesting
    * level, the full element-type walk (strings length-prefixed AND
    * NUL-terminated, bools strictly 0/1, array index keys validated in
    * order, duplicate keys damage), depth-capped recursion.
    */
  private val qBsonDocs: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Bson.bsonDocs(graft.ext.Bson.encodeBson(table(s, dir, "documents"))).toDF()

  private val oBsonDocs: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('bson:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws)
       |SELECT doc_id, r::BIGINT AS rec_idx, 9::BIGINT AS n_fields,
       |       substr(md5('oid:' || CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)),
       |         1, 24) AS oid,
       |       'rec ' || CAST(r AS VARCHAR) || ' of bson ' || CAST(doc_id AS VARCHAR)
       |         || ': ' || ${w("CAST(2 + r AS INT)")} AS name,
       |       (doc_id * 10 + r)::BIGINT AS seq,
       |       (${nib("14")} * 4 + r)::BIGINT AS gen,
       |       (${nib("CAST(5 + r AS INT)")} + r) / 4.0 AS score,
       |       (doc_id + r) % 2 = 0 AS ok,
       |       2::BIGINT AS n_tags,
       |       't-' || ${w("CAST(8 + r AS INT)")} || ',u-' || ${w("CAST(9 + r AS INT)")} AS tags,
       |       (500 + ${nib("CAST(11 + r AS INT)")})::BIGINT AS meta_k,
       |       (1700000000000 + doc_id * 1000 + r)::BIGINT AS created_ms
       |FROM d, wt, (SELECT unnest([0, 1, 2]) AS r)
       |WHERE r < 1 + ${nib("1")} % 3""".stripMargin
  }

  /** Mach-O binary triage ([[graft.ext.Macho]] — completes the binary
    * trio with elf_meta and pe_meta): FAT (universal) wrappers with
    * per-slice bounds and declared-vs-actual cputype cross-checks, thin
    * 64-bit headers, the cmdsize-aligned load-command walk (segments
    * with exact section accounting, dylib paths through the command's
    * name-offset indirection, LC_MAIN, LC_UUID), sizeofcmds consumed
    * exactly. One row per slice.
    */
  private val qMachoMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Macho.machoMeta(graft.ext.Macho.encodeMacho(table(s, dir, "documents"))).toDF()

  private val oMachoMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('macho:' || CAST(doc_id AS VARCHAR)) AS m,
       |             doc_id % 3 = 2 AS fat, doc_id % 2 = 0 AS exe
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws)
       |SELECT doc_id, s::BIGINT AS slice_idx, fat,
       |       CASE WHEN fat THEN (CASE WHEN s = 0 THEN 'arm64' ELSE 'x86_64' END)
       |         WHEN ${nib("2")} % 2 = 0 THEN 'arm64' ELSE 'x86_64' END AS cputype,
       |       CASE WHEN exe THEN 'EXECUTE' ELSE 'DYLIB' END AS filetype,
       |       (3 + 1 + ${nib("3")} % 2 + CASE WHEN exe THEN 1 ELSE 0 END)::BIGINT AS ncmds,
       |       2::BIGINT AS n_segs, '__TEXT,__LINKEDIT' AS segs,
       |       (1 + ${nib("3")} % 2)::BIGINT AS n_dylibs,
       |       '/usr/lib/libSystem.B.dylib' || CASE WHEN ${nib("3")} % 2 = 1
       |         THEN ',/usr/lib/lib' || ${w("4")} || '.dylib' ELSE '' END AS dylibs,
       |       TRUE AS has_uuid,
       |       CASE WHEN exe THEN 16384 + ${nib("5")} * 16 ELSE -1 END::BIGINT AS entry_off
       |FROM d, wt, (SELECT unnest([0, 1]) AS s)
       |WHERE s < CASE WHEN fat THEN 2 ELSE 1 END""".stripMargin
  }

  /** Android DEX metadata ([[graft.ext.Dex]] — the mobile sibling of
    * class_meta): the header's adler32 checksum AND SHA-1 signature
    * VERIFIED with the shared from-scratch primitives (never echoed),
    * MUTF-8 string pool with declared code-unit counts re-verified,
    * type→string double indirection bounds-checked, class_defs with the
    * NO_INDEX sentinel.
    */
  private val qDexClasses: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Dex.dexClasses(graft.ext.Dex.encodeDex(table(s, dir, "documents"))).toDF()

  private val oDexClasses: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('dex:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['Anchor','Bloom','Cedar','Dune','Ember','Flint','Grove','Harbor'] AS ws),
       |t AS (SELECT doc_id, m, ws, c, (1 + ${nib("1")} % 2)::BIGINT AS nc
       |      FROM d, wt, (SELECT unnest([0, 1]) AS c)
       |      WHERE c < 1 + ${nib("1")} % 2)
       |SELECT doc_id,
       |       CASE WHEN doc_id % 2 = 0 THEN '035' ELSE '039' END AS dex_version,
       |       (2 * nc + 1)::BIGINT AS n_strings, (nc + 1)::BIGINT AS n_types,
       |       nc AS n_classes, c::BIGINT AS class_idx,
       |       'Lgraft/fx/' || list_extract(ws, 1 + CAST(${nib("CAST(2 + c AS INT)")} % 8 AS INT))
       |         || CAST(doc_id AS VARCHAR) || CAST(c AS VARCHAR) || ';' AS class_name,
       |       'Ljava/lang/Object;' AS superclass,
       |       'Fixture' || CAST(doc_id AS VARCHAR) || CAST(c AS VARCHAR)
       |         || '.java' AS source_file,
       |       CASE WHEN (doc_id + c) % 2 = 0 THEN 1 ELSE 17 END::BIGINT AS access_flags
       |FROM t""".stripMargin
  }

  /** Legacy PowerPoint extraction ([[graft.ext.Ppt]] — the last 97-2003
    * office binary, on the shared CFB layer): the full persist-directory
    * resolution chain (CurrentUserAtom magic → UserEditAtom →
    * PersistDirectoryAtom packed entries → DocumentContainer), slide
    * text from SlideListWithText as TextCharsAtom (UTF-16LE) /
    * TextBytesAtom (cp1252 incl. the 0x80-0x9F block), each slide's
    * persist ref cross-checked to a SlideContainer and its declared text
    * count enforced. The fixture plants a STALE previous-edit document
    * container with decoy text ahead of the live one — a reader that
    * scans instead of following the chain fails the oracle.
    */
  private val qPptExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Ppt.pptExtract(graft.ext.Ppt.encodePpt(table(s, dir, "documents"))).toDF()

  private val oPptExtract: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('ppt:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |sl AS (SELECT doc_id, m, ws, j
       |       FROM d, wt, (SELECT unnest([0, 1, 2]) AS j)
       |       WHERE j < 1 + ${nib("1")} % 3),
       |tx AS (SELECT doc_id, m, ws, j, t
       |       FROM sl, (SELECT unnest([0, 1]) AS t)
       |       WHERE t < 1 + ${nib("CAST(2 + j AS INT)")} % 2),
       |f AS (SELECT doc_id, j, t,
       |        's' || CAST(j AS VARCHAR) || ' t' || CAST(t AS VARCHAR) ||
       |          ' of ppt ' || CAST(doc_id AS VARCHAR) || ': ' ||
       |          ${w("CAST(5 + 2 * j + t AS INT)")} ||
       |          CASE (doc_id + j + t) % 3
       |            WHEN 0 THEN ' ' || chr(8220) || 'q' || chr(8221) || chr(8230)
       |            WHEN 1 THEN ' ' || chr(233) ELSE '' END ||
       |          CASE WHEN (doc_id + j + t) % 2 = 0 AND (doc_id + j + t) % 5 = 0
       |            THEN ' ' || chr(916) ELSE '' END AS txt
       |      FROM tx),
       |h AS (SELECT doc_id, j, t, hex(encode(txt)) AS hx,
       |        octet_length(encode(txt)) AS n FROM f)
       |SELECT doc_id, j::BIGINT AS slide_idx,
       |       (256 + 4 * j + doc_id % 4)::BIGINT AS slide_id,
       |       t::BIGINT AS text_idx, n::BIGINT AS n_bytes,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
       |FROM h""".stripMargin
  }

  /** YAML ingestion ([[graft.ext.Yaml]] — the single most common config
    * format in a crawled code corpus: CI pipelines, k8s manifests,
    * docker-compose; SnakeYAML differential in the spec): block mappings
    * and sequences (including the compact `- key: value` k8s shape, the
    * lone-dash item, and sequences at the parent key's indent), double-
    * vs single-quoted scalar semantics (the literal `'C:\new\dir'` must
    * keep its backslashes while the motto decodes the full escape set),
    * plain-scalar resolution gated so acceptance always agrees with
    * SnakeYAML, trailing comments. The oracle replays every scalar
    * closed-form.
    */
  private val qYamlEntries: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Yaml.yamlEntries(graft.ext.Yaml.encodeYaml(table(s, dir, "documents"))).toDF()

  private val oYamlEntries: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('yaml:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, ws FROM d, wt)
       |SELECT doc_id, 'name' AS path, 's' AS vtype,
       |       'svc-' || CAST(doc_id AS VARCHAR) AS s_val, NULL::BIGINT AS i_val FROM b
       |UNION ALL
       |SELECT doc_id, 'replicas', 'i', NULL, ${nib("3")} FROM b
       |UNION ALL
       |SELECT doc_id, 'enabled', 'b', NULL,
       |       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END FROM b
       |UNION ALL
       |SELECT doc_id, 'version', 's',
       |       CAST(${nib("4")} AS VARCHAR) || '.' || CAST(${nib("5")} AS VARCHAR)
       |         || '.' || CAST(${nib("6")} AS VARCHAR), NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'motto', 's',
       |       'm ' || ${w("7")} || ' "q" \\ ' || chr(10) || 'line2' || chr(9)
       |         || 'col ' || chr(233), NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'raw_label', 's', 'C:\\new\\dir', NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'limits.cpu_ms', 'i', NULL,
       |       ('0x' || substr(m, 17, 4))::BIGINT FROM b
       |UNION ALL
       |SELECT doc_id, 'limits.burst', 'i', NULL,
       |       (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
       |         ('0x' || substr(m, 21, 4))::BIGINT FROM b
       |UNION ALL
       |SELECT doc_id, 'limits.tier', 's', ${w("8")}, NULL FROM b
       |UNION ALL
       |SELECT doc_id, 'env.' || CAST(k AS VARCHAR), 's',
       |       CASE (doc_id + k) % 3
       |         WHEN 0 THEN ${w("CAST(9 + k AS INT)")}
       |         WHEN 1 THEN 'qa ' || ${w("CAST(9 + k AS INT)")} || chr(9) || '!'
       |         ELSE 'it''s ' || ${w("CAST(9 + k AS INT)")} END, NULL
       |FROM b, (SELECT unnest([0, 1, 2]) AS k)
       |WHERE k < 1 + ${nib("1")} % 3
       |UNION ALL
       |SELECT doc_id, 'containers.' || CAST(j AS VARCHAR) || '.name', 's',
       |       'app' || CAST(j AS VARCHAR) || '-' || ${w("CAST(12 + j AS INT)")}, NULL
       |FROM b, (SELECT unnest([0, 1]) AS j) WHERE j < 1 + ${nib("2")} % 2
       |UNION ALL
       |SELECT doc_id, 'containers.' || CAST(j AS VARCHAR) || '.image', 's',
       |       'repo/' || ${w("CAST(14 + j AS INT)")}, NULL
       |FROM b, (SELECT unnest([0, 1]) AS j) WHERE j < 1 + ${nib("2")} % 2
       |UNION ALL
       |SELECT doc_id, 'containers.' || CAST(j AS VARCHAR) || '.port', 'i', NULL,
       |       1024 + ('0x' || substr(m, CAST(25 + 2 * j AS INT), 2))::BIGINT
       |FROM b, (SELECT unnest([0, 1]) AS j) WHERE j < 1 + ${nib("2")} % 2
       |UNION ALL
       |SELECT doc_id, 'volumes.0.kind', 's', 'tmp', NULL FROM b WHERE doc_id % 5 = 0
       |UNION ALL
       |SELECT doc_id, 'volumes.0.size_mb', 'i', NULL,
       |       ('0x' || substr(m, 29, 3))::BIGINT FROM b WHERE doc_id % 5 = 0""".stripMargin
  }

  /** SVG text extraction ([[graft.ext.Svg]] — the vector half of the
    * image shelf): mixed-content `<text>` assembly across `tspan` runs
    * in document order (the allowMixed XML walker), integer anchors,
    * entity-decoded hazards, and a shape census riding every row. The
    * oracle replays anchors, text, and counts closed-form.
    */
  private val qSvgText: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Svg.svgText(graft.ext.Svg.encodeSvg(table(s, dir, "documents"))).toDF()

  private val oSvgText: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('svg:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |tx AS (SELECT doc_id, m, ws, t
       |       FROM d, wt, (SELECT unnest([0, 1, 2]) AS t)
       |       WHERE t < 1 + ${nib("1")} % 3),
       |f AS (SELECT doc_id, t,
       |        10 + ${nib("CAST(3 + t AS INT)")} * 7 AS x,
       |        20 + ${nib("CAST(6 + t AS INT)")} * 11 AS y,
       |        ${nib("2")} % 4 AS shapes,
       |        'label ' || CAST(t AS VARCHAR) || ' of svg ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(9 + t AS INT)")} || ' mid-'
       |          || ${w("CAST(12 + t AS INT)")} || ' post' ||
       |          CASE (doc_id + t) % 3
       |            WHEN 0 THEN ' <&>' WHEN 1 THEN ' ' || chr(233) ELSE '' END AS txt
       |      FROM tx),
       |h AS (SELECT doc_id, t, x, y, shapes, hex(encode(txt)) AS hx,
       |        octet_length(encode(txt)) AS n FROM f)
       |SELECT doc_id, t::BIGINT AS text_idx, x::BIGINT AS x, y::BIGINT AS y,
       |       shapes::BIGINT AS n_shapes, n::BIGINT AS n_chars,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x2) -> (a * 31 + x2) % 1000000007)::BIGINT AS checksum
       |FROM h""".stripMargin
  }

  /** SVG document metadata ([[graft.ext.Svg.svgMeta]] — the curation
    * fields beside the text: width/height attributes, the optional
    * viewBox (four integer tokens, -1 sentinels when absent — aspect
    * and origin survive user-unit scaling only there), and the
    * `<title>`/`<desc>` accessibility text alt-text mining reads
    * (entity hazard in desc), plus the text/shape census. The oracle
    * replays all of it closed-form from the writer's recipe.
    */
  private val qSvgMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Svg.svgMeta(graft.ext.Svg.encodeSvg(table(s, dir, "documents"))).toDF()

  private val oSvgMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('svg:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |f AS (SELECT doc_id, m, ws,
       |        64 * (1 + ${nib("15")}) AS w, 48 * (1 + ${nib("16")}) AS h
       |      FROM d, wt)
       |SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
       |       (CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 ELSE -1 END)::BIGINT AS vb_minx,
       |       (CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 ELSE -1 END)::BIGINT AS vb_miny,
       |       (CASE WHEN doc_id % 2 = 0 THEN w ELSE -1 END)::BIGINT AS vb_w,
       |       (CASE WHEN doc_id % 2 = 0 THEN h ELSE -1 END)::BIGINT AS vb_h,
       |       'figure ' || CAST(doc_id AS VARCHAR) AS title,
       |       CASE WHEN doc_id % 3 <> 1
       |         THEN 'vector ' || ${w("15")} || ' & co' ELSE '' END AS desc_text,
       |       (1 + ${nib("1")} % 3)::BIGINT AS n_texts,
       |       (${nib("2")} % 4)::BIGINT AS n_shapes
       |FROM f""".stripMargin
  }

  /** Standalone .eml ingestion ([[graft.ext.Mbox.emlExtract]] — the
    * single-message twin of `mbox_extract`, riding the same RFC 5322 /
    * MIME / transfer machinery): no `From ` framing, an optional
    * mail-client `From - <date>` export envelope every ninth file, raw
    * 7bit bodies with a planted literal `>From ` line that a wrongly
    * applied mboxrd unquote would corrupt. The oracle rebuilds the
    * .eml body plane (mbox body + the `>From ` arm) and hashes it.
    */
  private val qEmlExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Mbox.emlExtract(
      graft.ext.Mbox.encodeEmlFiles(table(s, dir, "documents"))).toDF()

  private val oEmlExtract: String =
    """WITH d AS (SELECT doc_id, md5('mm:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['amber','birch','cedar','dune','ember','fjord','grove','heath'] AS ws),
      |b AS (SELECT doc_id,
      |        'id:' || CAST(doc_id AS VARCHAR) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 6, 1))::BIGINT % 8 AS INT)) ||
      |        CASE WHEN doc_id % 4 = 0
      |          THEN chr(10) || 'From here onward plain text' ||
      |               chr(10) || '>From an archived quote'
      |          ELSE '' END AS body,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 7, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 8, 1))::BIGINT % 8 AS INT)) AS subject
      |      FROM d, wt),
      |h AS (SELECT doc_id, subject, hex(encode(body)) AS hx,
      |        octet_length(encode(body)) AS n FROM b)
      |SELECT doc_id, subject, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** GPX track ingestion ([[graft.ext.Gpx]] — the geo-trace shelf,
    * pairing with [[graft.ext.Exif]]'s coordinate surface): decimal-
    * degree attributes converted to EXACT micro-degrees with string/
    * integer math (1-6 fraction digits scaled by position, signs
    * cycling), ISO-8601 extended UTC times to epoch seconds, segment
    * boundaries preserved as indices. The oracle replays coordinates,
    * elevations, and the date arithmetic closed-form.
    */
  private val qGpxPoints: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Gpx.gpxPoints(graft.ext.Gpx.encodeGpx(table(s, dir, "documents"))).toDF()

  private val oGpxPoints: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('gpx:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |sg AS (SELECT doc_id, m, s
       |       FROM d, (SELECT unnest([0, 1]) AS s)
       |       WHERE s < 1 + ${nib("1")} % 2),
       |pt AS (SELECT doc_id, m, s, p
       |       FROM sg, (SELECT unnest([0, 1, 2, 3]) AS p)
       |       WHERE p < 2 + ${nib("CAST(2 + s AS INT)")} % 3)
       |SELECT doc_id, s::BIGINT AS seg_idx, p::BIGINT AS pt_idx,
       |       (CASE WHEN ${nib("4")} % 2 = 0 THEN 1 ELSE -1 END *
       |         (${nib("CAST(5 + s AS INT)")} * 5 * 1000000 +
       |          (${nib("CAST(7 + p AS INT)")} * 61 + ${nib("CAST(10 + p AS INT)")}) * 37 % 1000000))::BIGINT AS lat_micro,
       |       (CASE WHEN ${nib("14")} % 2 = 0 THEN 1 ELSE -1 END *
       |         (${nib("CAST(15 + s AS INT)")} * 11 * 1000000 +
       |          (${nib("CAST(17 + p AS INT)")} * 53 + ${nib("CAST(20 + p AS INT)")}) * 41 % 1000000))::BIGINT AS lon_micro,
       |       (${nib("CAST(23 + (s + p) % 9 AS INT)")} * 37 - 100)::BIGINT AS ele_m,
       |       (date_diff('day', DATE '1970-01-01',
       |          make_date(CAST(2015 + ${nib("3")} AS INT),
       |                    CAST(1 + ${nib("6")} % 12 AS INT),
       |                    CAST(1 + ${nib("9")} % 28 AS INT))) * 86400
       |         + s * 3600 + p * 60 + ${nib("12")} % 60)::BIGINT AS t_epoch
       |FROM pt""".stripMargin
  }

  /** The codec-ladder capstone: a MIXED-format corpus (doc_id % 6 picks
    * PPM/BMP/PNG/GIF/JPEG/WebP) decoded through one magic-byte dispatcher
    * ([[graft.ext.Multimodal.sniffImage]]) into a unified reduction. The
    * oracle is a UNION of the six formats' distinct byte models — PPM,
    * PNG and WebP-lossless read the identity plane, GIF triples its
    * palette indices, BMP re-derives every byte through the
    * bottom-up/BGR/stride arithmetic, JPEG rebuilds the DC-exact block
    * raster — so a regression in any one parser, or a payload routed to
    * the wrong parser (the RIFF magic must further distinguish WEBP from
    * AVI), breaks the hash.
    */
  private val qMultimodalSniff: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.sniffFeatures(Multimodal.encodeMixed(table(s, dir, "documents"))).toDF()

  private val oMultimodalSniff: String = {
    val common =
      s"""hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
         |octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n""".stripMargin
    def planeSum(c: Int): String = // PPM/PNG: plane byte j = model byte j
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"3 * p + $c")})), (a, x) -> a + x)""".stripMargin
    val planeChecksum =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
         |    j -> ${ppmByteSql("j")})), (a, x) -> (a * 31 + x) % 1000000007)""".stripMargin
    def identityBranch(fmt: String, res: Int): String =
      s"""SELECT doc_id, '$fmt' AS format, w::INT AS width, h::INT AS height,
         |       (w * h)::BIGINT AS n_pixels,
         |       ${planeSum(0)} AS sum_r, ${planeSum(1)} AS sum_g, ${planeSum(2)} AS sum_b,
         |       $planeChecksum AS checksum
         |FROM (SELECT doc_id, $common, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
         |      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id % 6 = $res)""".stripMargin
    // BMP: logical channel c sits at file offset 2-c; plane byte j maps
    // through the bottom-up flip + BGR swap + stride arithmetic
    def bmpSum(fileC: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql(s"(p // w) * st + 3 * (p % w) + $fileC")})), (a, x) -> a + x)""".stripMargin
    val bmpByte =
      ppmByteSql("(h - 1 - (j // (3 * w))) * st + 3 * ((j % (3 * w)) // 3) + (2 - (j % 3))")
    val bmpBranch =
      s"""SELECT doc_id, 'bmp' AS format, w::INT AS width, h::INT AS height,
         |       (w * h)::BIGINT AS n_pixels,
         |       ${bmpSum(2)} AS sum_r, ${bmpSum(1)} AS sum_g, ${bmpSum(0)} AS sum_b,
         |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
         |           j -> $bmpByte)), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
         |FROM (SELECT doc_id, $common, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h,
         |             ((3 * (8 + doc_id % 8) + 3) // 4) * 4 AS st
         |      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id % 6 = 1)""".stripMargin
    // GIF: identity palette triples each index byte across r,g,b
    val gifIdxSum =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |    p -> ${ppmByteSql("p")})), (a, x) -> a + x)""".stripMargin
    val gifBranch =
      s"""SELECT doc_id, 'gif' AS format, w::INT AS width, h::INT AS height,
         |       (w * h)::BIGINT AS n_pixels,
         |       $gifIdxSum AS sum_r, $gifIdxSum AS sum_g, $gifIdxSum AS sum_b,
         |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 3 * w * h),
         |           j -> ${ppmByteSql("j // 3")})), (a, x) -> (a * 31 + x) % 1000000007) AS checksum
         |FROM (SELECT doc_id, $common, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
         |      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id % 6 = 3)""".stripMargin
    // JPEG: DC-exact block raster; gray replicates across the channels
    val jpegBlockSum =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, bw * bh),
         |    k -> ${ppmByteSql("k")})), (a, x) -> a + x)""".stripMargin
    val jpegByte = ppmByteSql("((p // w) // 8) * bw + (p % w) // 8")
    val jpegBranch =
      s"""SELECT doc_id, 'jpeg' AS format, w::INT AS width, h::INT AS height,
         |       (w * h)::BIGINT AS n_pixels,
         |       64 * ($jpegBlockSum) AS sum_r, 64 * ($jpegBlockSum) AS sum_g,
         |       64 * ($jpegBlockSum) AS sum_b,
         |       list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h),
         |           p -> $jpegByte)),
         |         (a, x) -> (((a * 31 + x) * 31 + x) * 31 + x) % 1000000007) AS checksum
         |FROM (SELECT doc_id, $common, 1 + doc_id % 4 AS bw, 1 + (doc_id // 4) % 3 AS bh,
         |             8 * (1 + doc_id % 4) AS w, 8 * (1 + (doc_id // 4) % 3) AS h
         |      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id % 6 = 4)""".stripMargin
    Seq(identityBranch("ppm", 0), bmpBranch, identityBranch("png", 2), gifBranch, jpegBranch,
      identityBranch("webp", 5))
      .mkString("", "\nUNION ALL\n", "")
  }

  /** REAL resize under the gate: nearest-neighbor on the decoded PPM grid.
    * The oracle recomputes each resized byte's source position with the
    * same floor arithmetic (sx = tx*W/tw, sy = ty*H/th), then replays both
    * the per-channel sums and the base-31 rolling checksum over the resized
    * plane in RGB scan order — the checksum pins every byte, so a
    * transposed index or swapped channel cannot pass.
    */
  private val qMultimodalResize: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.resizePpm(Multimodal.encodePpm(table(s, dir, "documents")), targetW = 4, targetH = 4)
      .toDF()

  private val oMultimodalResize: String = {
    // resized flat byte j (0-based, RGB scan order, tw = th = 4):
    // t = j//3, c = j%3, tx = t%4, ty = t//4, sx = tx*w//4, sy = ty*h//4
    val srcPos = "3 * (((t // 4) * h // 4) * w + (t % 4) * w // 4)"
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16),
         |    t -> ${ppmByteSql(s"$srcPos + $c")})), (a, x) -> a + x)""".stripMargin
    val checksum =
      s"""list_reduce(list_prepend(0::BIGINT, flatten(list_transform(range(0, 16),
         |    t -> [${ppmByteSql(s"$srcPos + 0")},
         |          ${ppmByteSql(s"$srcPos + 1")},
         |          ${ppmByteSql(s"$srcPos + 2")}]))),
         |  (a, x) -> (a * 31 + x) % 1000000007)""".stripMargin
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, w::INT AS src_w, h::INT AS src_h, 4 AS out_w, 4 AS out_h,
       |       ${chanSum(0)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(2)} AS sum_b,
       |       $checksum AS checksum
       |FROM b""".stripMargin
  }

  /** The full image round trip under the gate: encode -> parse -> resize
    * -> RE-ENCODE, compared by the emitted thumbnail's hex image (the
    * audio_resample pattern). The oracle rebuilds the canonical P6 output
    * byte for byte: the constant 4x4 header ("P6\n4 4\n255\n" =
    * 50360A3420340A3235350A) plus the resized plane's bytes at the same
    * floor-arithmetic source positions as `multimodal_resize` — so the
    * re-encoder cannot drift from the audited resampler.
    */
  private val qMultimodalThumbnail: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.resizePpmImage(Multimodal.encodePpm(table(s, dir, "documents")), targetW = 4, targetH = 4)
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"), hex(col("payload")).as("payload_hex"))

  private val oMultimodalThumbnail: String = {
    // flat resized byte j (0-based, RGB scan order, tw = th = 4): see
    // oMultimodalResize for the source-position derivation
    val srcPosJ = "3 * ((((j // 3) // 4) * h // 4) * w + ((j // 3) % 4) * w // 4) + j % 3"
    s"""WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                  8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, 59::BIGINT AS n_bytes,
       |       '50360A3420340A3235350A' || list_reduce(list_prepend('',
       |         list_transform(range(48), j -> printf('%02X', ${ppmByteSql(srcPosJ)}))),
       |         (a, e) -> a || e) AS payload_hex
       |FROM b""".stripMargin
  }

  /** Shared base CTE of the AVI oracles: the writer's deterministic
    * per-doc layout inputs (hex image, byte count, frame count).
    */
  private val aviDocsCte: String =
    """WITH b AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
      |                  octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
      |                  1 + doc_id % 5 AS nf
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |f AS (SELECT doc_id, hx, n, CAST(unnest(range(nf)) AS INT) AS k FROM b)""".stripMargin

  /** REAL video frame sampling under the gate: [[graft.ext.Multimodal
    * .encodeAvi]] writes genuine RIFF/AVI containers (1 + id%5 frames of
    * 8x6 RGB24, frame k's plane = UTF-8 text bytes cycled from offset k),
    * [[graft.ext.Multimodal.parseAvi]] demuxes them for real (RIFF walk,
    * avih header, movi chunks), and every 2nd frame up to 4 is emitted
    * with its REAL parsed byte offset + a base-31 rolling checksum. The
    * oracle recomputes the offsets from the writer's deterministic layout
    * (movi data starts at byte 100; frame k's data at 108 + 152k) and the
    * checksums from the cycled text bytes via hex-image indexing — so a
    * parser that mis-walks a chunk boundary or mis-reads a length cannot
    * pass.
    */
  private val qMultimodalFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.sampleAviFrames(Multimodal.encodeAvi(table(s, dir, "documents")),
      everyN = 2, maxFrames = 4).toDF()

  private val oMultimodalFrames: String =
    s"""$aviDocsCte
      |SELECT doc_id, k AS frame_idx, (108 + 152 * k)::BIGINT AS offset,
      |       144 AS n_bytes, 8 AS width, 6 AS height,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(144), j ->
      |         ${ppmByteSql("k + j")})),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM f WHERE k % 2 = 0 AND k // 2 < 4""".stripMargin

  /** Per-frame channel sums over REAL demuxed AVI video — the video analog
    * of `audio_frame_stats`. The oracle replays the writer's deterministic
    * plane model (frame k byte j = text byte (k+j) % n) with exact integer
    * channel folds, so both the demux and the pixel walk sit under the
    * bitwise gate.
    */
  private val qVideoFrameStats: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.aviFrameStats(Multimodal.encodeAvi(table(s, dir, "documents"))).toDF()

  private val oVideoFrameStats: String = {
    def chanSum(c: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(48), p ->
         |  ${ppmByteSql(s"k + 3 * p + $c")})),
         |  (a, x) -> a + x)""".stripMargin
    s"""$aviDocsCte
       |SELECT doc_id, k AS frame_idx, 8 AS width, 6 AS height, 48::BIGINT AS n_pixels,
       |       ${chanSum(0)} AS sum_r,
       |       ${chanSum(1)} AS sum_g,
       |       ${chanSum(2)} AS sum_b
       |FROM f""".stripMargin
  }

  /** Caption↔frame alignment — the integration gate the two multimodal
    * fixtures exist FOR: every subtitle cue is paired with the video
    * frame on screen at its start (the as-of join a thumbnail/caption
    * training pair needs): the [[graft.ext.Mp4]] sample table joins the
    * [[graft.ext.Subtitles]] cue table per doc, and the cue takes the
    * LAST sample whose decode time is ≤ its start — one equi-join on
    * doc plus an integer argmax, the `robots_decisions` plan shape, no
    * window over the corpus. The oracle replays both fixtures
    * closed-form and the as-of rule as `least(start_ms // 100, nf−1)`,
    * so a drift in EITHER demuxer's timing or the join semantics fails
    * the hash. At 100 TB both sides are co-partitioned on doc id and
    * the argmax group is the only shuffle.
    */
  private val qCaptionAlign: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    val samples = graft.ext.Mp4.mp4SampleTable(graft.ext.Mp4.encodeMp4(docs)).toDF()
      .select(col("doc_id").as("s_doc"), col("sample_idx"), col("dts"))
    val cues = graft.ext.Subtitles.subtitleCues(graft.ext.Subtitles.encodeSubtitles(docs)).toDF()
      .select(col("doc_id"), col("cue_idx"), col("start_ms"), col("end_ms"))
    cues
      .join(samples, col("doc_id") === col("s_doc") && col("dts") <= col("start_ms"))
      .groupBy(col("doc_id"), col("cue_idx"), col("start_ms"), col("end_ms"))
      // struct max = lexicographic (dts, sample_idx) argmax — safe at any
      // per-track sample cardinality (a packed dts*1000+idx would overflow
      // the idx digits at >=1000 samples)
      .agg(max(struct(col("dts"), col("sample_idx"))).as("best"))
      .select(col("doc_id"), col("cue_idx"), col("start_ms"), col("end_ms"),
        col("best.sample_idx").as("sample_idx"),
        col("best.dts").as("sample_dts"),
        (col("start_ms") - col("best.dts")).as("gap_ms"))
  }

  private val oCaptionAlign: String =
    """WITH d AS (SELECT doc_id, md5('st:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id, j,
      |        (doc_id % 7) * 977 + 4000 * j AS start_ms,
      |        (doc_id % 7) * 977 + 4000 * j + 1500 +
      |          100 * ('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT AS end_ms
      |      FROM d, (SELECT unnest([0, 1, 2, 3]) AS j)
      |      WHERE j < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |a AS (SELECT doc_id, j, start_ms, end_ms,
      |        least(start_ms // 100, doc_id % 5) AS si
      |      FROM c)
      |SELECT doc_id, j::BIGINT AS cue_idx, start_ms::BIGINT AS start_ms,
      |       end_ms::BIGINT AS end_ms, si::BIGINT AS sample_idx,
      |       (si * 100)::BIGINT AS sample_dts,
      |       (start_ms - si * 100)::BIGINT AS gap_ms
      |FROM a""".stripMargin

  /** The 7z ingest path under the gate ([[graft.ext.SevenZip]] — the
    * container capstone of the LZMA family): documents packed into 16
    * archives (single-coder folders, COPY on even archives, the repo's
    * own LZMA2 encoder on odd), property-tree headers with folder CRCs
    * and UTF-16LE names, then demuxed through the full from-scratch
    * reader — signature + start-header CRCs, the 7z first-byte-mask
    * number coding, PackInfo/UnpackInfo/SubStreamsInfo/FilesInfo, the
    * kEncodedHeader arm, unpack sizes capped before allocation, folder
    * CRCs verified. Differentialed BOTH directions against
    * commons-compress in SevenZipSpec (its LZMA2-coded archives decode
    * here through OUR LZMA2 decoder). Same oracle shape as the archive
    * family; damage quarantines whole.
    */
  private val qSevenZExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.SevenZip.sevenZExtract(
      graft.ext.SevenZip.encode7zArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  /** Subtitle ingestion under the gate ([[graft.ext.Subtitles]] — the
    * caption half of a multimodal corpus, the text the demuxers'
    * sample times align against): per doc a real SRT (even ids, CRLF
    * on every 3rd) or WebVTT file (odd ids — header text after the
    * magic, NOTE blocks, cue identifiers, cue settings dropped), both
    * grammars' timestamp forms, multi-line cue text. The oracle
    * rebuilds the cue table closed-form — spans, exact text bytes,
    * per-cue checksum — so either grammar slipping a millisecond or a
    * line fails the hash; malformation quarantines the file whole.
    */
  private val qSubtitleCues: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Subtitles.subtitleCues(
      graft.ext.Subtitles.encodeSubtitles(table(s, dir, "documents"))).toDF()

  private val oSubtitleCues: String =
    """WITH d AS (SELECT doc_id, md5('st:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['align','batch','cue','delta','edge','frame','glyph','hold'] AS ws),
      |c AS (SELECT doc_id, m, j,
      |        (doc_id % 7) * 977 + 4000 * j AS start_ms,
      |        (doc_id % 7) * 977 + 4000 * j + 1500 +
      |          100 * ('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT AS end_ms,
      |        'cue ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(6 + j AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(9 + j AS INT), 1))::BIGINT % 8 AS INT)) ||
      |          CASE WHEN (doc_id + j) % 3 = 0 THEN chr(10) || 'second line ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(12 + j AS INT), 1))::BIGINT % 8 AS INT))
      |          ELSE '' END AS text
      |      FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS j)
      |      WHERE j < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |h AS (SELECT doc_id, j, start_ms, end_ms,
      |        hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM c)
      |SELECT doc_id, j::BIGINT AS cue_idx, start_ms::BIGINT AS start_ms,
      |       end_ms::BIGINT AS end_ms, n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** PDF text extraction under the gate ([[graft.ext.Pdf]] — the books/
    * papers shelf of a crawled corpus): per doc a complete classic-xref
    * PDF (catalog → page tree → per-page content streams, Flate-compressed
    * through the repo's own DEFLATE on even `id+p`, `/Length` indirect on
    * the mod-3 arm, and a REAL incremental update appending a page on
    * `id % 5 == 0` — trailer `/Prev` chain, later-section-wins), then the
    * full from-scratch reader: xref walk, object parse, page-tree
    * recursion, FlateDecode, and the BT/ET text extractor over all five
    * show forms (`Tj`, hex-string `Tj`, kerned `TJ`, `'`, `"`) with
    * WinAnsi high bytes and literal-string escapes in the text plane.
    * `id % 3 == 1` docs are ENCRYPTED under the standard security
    * handler (empty user password, R2/40 and R3/128 RC4 cycling) — the
    * same text must come back through key derivation + per-object
    * decryption, so the arm grades transparently under this unchanged
    * oracle. A slip in ANY layer (xref, Flate, RC4/key schedule, page
    * order, string unescaping, WinAnsi mapping, line breaks) fails the
    * hash. Damage quarantines the whole document.
    */
  private val qPdfExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Pdf.pdfExtract(graft.ext.Pdf.encodePdf(table(s, dir, "documents"))).toDF()

  private val oPdfExtract: String =
    """WITH d AS (SELECT doc_id, md5('pdf:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |pg AS (SELECT doc_id, m, p
      |       FROM d, (SELECT unnest([0, 1, 2, 3]) AS p)
      |       WHERE p < 1 + ('0x' || substr(m, 1, 1))::BIGINT % 3
      |                 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END),
      |ln AS (SELECT doc_id, m, p, l
      |       FROM pg, (SELECT unnest([0, 1, 2, 3]) AS l)
      |       WHERE l < 2 + ('0x' || substr(m, CAST(2 + p AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, p, l,
      |         'Line ' || CAST(l AS VARCHAR) || ' of page ' || CAST(p AS VARCHAR) ||
      |         ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(6 + 4 * p + l AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(22 + (4 * p + l) % 10 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + p + l) % 4
      |           WHEN 0 THEN ' (' || chr(92) || ')'
      |           WHEN 1 THEN ' ' || chr(233)
      |           WHEN 2 THEN ' ' || chr(8220) || 'q' || chr(8221)
      |           ELSE '' END AS t
      |       FROM ln, wt),
      |page AS (SELECT doc_id, p, count(*) AS n_lines,
      |           string_agg(t, chr(10) ORDER BY l) AS text
      |         FROM tx GROUP BY doc_id, p),
      |h AS (SELECT doc_id, p, n_lines, hex(encode(text)) AS hx,
      |        octet_length(encode(text)) AS n
      |      FROM page)
      |SELECT doc_id, p::BIGINT AS page_idx, n_lines::BIGINT AS n_lines,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** EPUB ingestion under the gate ([[graft.ext.Epub]] — the other book
    * format, pure composition): per doc a complete OCF/EPUB — `mimetype`
    * first and STORED (the OCF wire rule, enforced by the reader),
    * container.xml → OPF manifest + spine (manifest shuffled against
    * spine order on the mod-3 arm plus a non-spine `style.css` item, so
    * reading order provably follows `idref`s), XHTML chapters riding the
    * shared HTML plane — through the strict ZIP walk
    * ([[graft.ext.Zip.parseArchiveFiles]]), the attribute-capturing XML
    * walker, and [[graft.ext.Html.extractText]]. The oracle replays
    * per-chapter text closed-form (the HTML plane is
    * identity-recovering); damage in ANY layer quarantines the book.
    */
  private val qEpubExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Epub.epubExtract(graft.ext.Epub.encodeEpub(table(s, dir, "documents"))).toDF()

  private val oEpubExtract: String =
    """WITH d AS (SELECT doc_id, md5('epub:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |ch AS (SELECT doc_id, m, k
      |       FROM d, (SELECT unnest([0, 1, 2, 3]) AS k)
      |       WHERE k < 1 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |sn AS (SELECT doc_id, m, k, s
      |       FROM ch, (SELECT unnest([0, 1, 2, 3]) AS s)
      |       WHERE s < 2 + ('0x' || substr(m, CAST(2 + k AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, m, k, s,
      |         'Chapter ' || CAST(k AS VARCHAR) || ' sentence ' || CAST(s AS VARCHAR) ||
      |         ' of book ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(6 + 4 * k + s AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(22 + (4 * k + s) % 10 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         '.' AS t
      |       FROM sn, wt),
      |page AS (SELECT doc_id, m, k, string_agg(t, ' ' ORDER BY s) AS text
      |         FROM tx GROUP BY doc_id, m, k),
      |h AS (SELECT doc_id, k,
      |        'Book ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT)) AS title,
      |        hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |      FROM page, wt)
      |SELECT doc_id, k::BIGINT AS chapter_idx, title,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** DOCX (OOXML) ingestion under the gate ([[graft.ext.Docx]] — the
    * office-document shelf, pure composition like EPUB): per doc a
    * complete OPC package — `[Content_Types].xml` with the main-document
    * Override, `_rels/.rels` resolved by relationship TYPE (order
    * shuffled and a styles relationship added on the mod-3 arm, so
    * position cannot be what the reader keys on), `word/document.xml`
    * with `w:p`/`w:r`/`w:t` paragraphs, `xml:space="preserve"` edge
    * whitespace, pretty-printed-inside-`w:t` trim arms, `w:tab`/`w:br`
    * separators and entity/UTF-8 hazard suffixes, plus `dc:title` off
    * `docProps/core.xml` (absent entirely on the mod-7 arm) — through
    * the strict ZIP walk and the raw-text XML walker. The oracle replays
    * per-paragraph text closed-form and hashes its UTF-8 bytes; a slip
    * in ANY layer (zip, relationship resolution, preserve-vs-trim,
    * separator mapping, entity decode) fails the hash. Damage
    * quarantines the whole document.
    */
  private val qDocxExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Docx.docxExtract(graft.ext.Docx.encodeDocx(table(s, dir, "documents"))).toDF()

  private val oDocxExtract: String =
    """WITH d AS (SELECT doc_id, md5('docx:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |pa AS (SELECT doc_id, m, k
      |       FROM d, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
      |       WHERE k < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |rn AS (SELECT doc_id, m, k, r,
      |         1 + ('0x' || substr(m, CAST(2 + k AS INT), 1))::BIGINT % 3 AS nr
      |       FROM pa, (SELECT unnest([0, 1, 2]) AS r)
      |       WHERE r < 1 + ('0x' || substr(m, CAST(2 + k AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, m, k, r,
      |         CASE WHEN (doc_id + k + r) % 4 = 1 THEN ' ' ELSE '' END ||
      |         'Para ' || CAST(k AS VARCHAR) || ' run ' || CAST(r AS VARCHAR) ||
      |         ' of doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * k + r) % 12 AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * k + r) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + k + r) % 5
      |           WHEN 0 THEN ' & more' WHEN 2 THEN ' <tag>' WHEN 4 THEN ' ' || chr(233)
      |           ELSE '' END ||
      |         CASE WHEN r < nr - 1 THEN
      |           CASE (doc_id + k + r) % 3 WHEN 0 THEN chr(9) WHEN 1 THEN chr(10) ELSE '' END
      |         ELSE '' END AS t
      |       FROM rn, wt),
      |para AS (SELECT doc_id, m, k, string_agg(t, '' ORDER BY r) AS text
      |         FROM tx GROUP BY doc_id, m, k),
      |h AS (SELECT doc_id, k,
      |        CASE WHEN doc_id % 7 = 3 THEN '' ELSE
      |          'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT))
      |        END AS title,
      |        hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |      FROM para, wt)
      |SELECT doc_id, k::BIGINT AS para_idx, title,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** LaTeX extraction under the gate ([[graft.ext.Latex]] — the arXiv
    * shelf, a from-scratch TeX-subset tokenizer): per doc a real-paper
    * source — preamble with discarded commands, `\title`/`\maketitle`,
    * sections with labeled headers, paragraphs wrapped across source
    * lines, a skipped `figure` environment arm, an `itemize`, a raw
    * `verbatim` block — whose paragraphs cycle the eight hazard arms
    * (transparent `\emph` groups, accents, verbatim math, quote/dash
    * ligatures, escaped specials, `~`/`--`, a COMMENT-SPLIT word — the
    * TeX rule that `%` eats the newline and the next line's leading
    * whitespace). One row per block with its structural kind. The
    * oracle replays every block's text AND position closed-form; a slip
    * in comment joining, ligatures, discard-arg handling, or block
    * ordering fails the hash. Structural damage quarantines whole.
    */
  private val qLatexExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Latex.latexExtract(graft.ext.Latex.encodeLatex(table(s, dir, "documents"))).toDF()

  private val oLatexExtract: String =
    """WITH d AS (SELECT doc_id, md5('latex:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |base AS (SELECT doc_id, m,
      |           1 + ('0x' || substr(m, 1, 1))::BIGINT % 3 AS ns,
      |           1 + ('0x' || substr(m, 2, 1))::BIGINT % 3 AS np0,
      |           1 + ('0x' || substr(m, 3, 1))::BIGINT % 3 AS np1,
      |           1 + ('0x' || substr(m, 4, 1))::BIGINT % 3 AS np2
      |         FROM d),
      |blocks AS (
      |  SELECT doc_id, 0 AS bi, 'title' AS kind,
      |         'Latex doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |           list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT)) AS text
      |  FROM base, wt
      |  UNION ALL
      |  SELECT doc_id,
      |         CASE k WHEN 0 THEN 1 WHEN 1 THEN 2 + np0 ELSE 5 + np0 + np1 END AS bi,
      |         'section' AS kind,
      |         'Section ' || CAST(k AS VARCHAR) || ' ' ||
      |           list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(26 + k AS INT), 1))::BIGINT % 8 AS INT)) AS text
      |  FROM base, wt, (SELECT unnest([0, 1, 2]) AS k) WHERE k < ns
      |  UNION ALL
      |  SELECT doc_id,
      |         CASE k WHEN 0 THEN 1 WHEN 1 THEN 2 + np0 ELSE 5 + np0 + np1 END + 1 + p AS bi,
      |         'para' AS kind,
      |         'Para ' || CAST(p AS VARCHAR) || ' of sec ' || CAST(k AS VARCHAR) ||
      |         ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * k + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         CASE (doc_id + k + p) % 8
      |           WHEN 0 THEN w2 || ' end'
      |           WHEN 1 THEN 'caf' || chr(233) || ' ' || w2
      |           WHEN 2 THEN '$x^{2}_{' || w2 || '} + 1$'
      |           WHEN 3 THEN chr(8220) || w2 || chr(8221) || chr(8212) || 'q'
      |           WHEN 4 THEN '5% & ' || w2 || '_x'
      |           WHEN 5 THEN 'a' || chr(160) || w2 || chr(8211) || 'c'
      |           ELSE w2 END AS text
      |  FROM (SELECT doc_id, m, ns, np0, np1, np2, k, p,
      |          CASE k WHEN 0 THEN np0 WHEN 1 THEN np1 ELSE np2 END AS npk,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * k + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) AS w2
      |        FROM base, wt, (SELECT unnest([0, 1, 2]) AS k), (SELECT unnest([0, 1, 2]) AS p)
      |        WHERE k < ns) q, wt
      |  WHERE p < npk
      |  UNION ALL
      |  SELECT doc_id, 3 + np0 + np1 + j AS bi, 'item' AS kind,
      |         'Item ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) AS text
      |  FROM base, (SELECT unnest([0, 1]) AS j) WHERE ns >= 2
      |  UNION ALL
      |  SELECT doc_id, 6 + np0 + np1 + np2 AS bi, 'verbatim' AS kind,
      |         'x_' || CAST(doc_id AS VARCHAR) || ' & 100% raw $stuff' AS text
      |  FROM base WHERE ns = 3),
      |h AS (SELECT doc_id, bi, kind, hex(encode(text)) AS hx,
      |        octet_length(encode(text)) AS n FROM blocks)
      |SELECT doc_id, bi::BIGINT AS block_idx, kind,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** Markdown extraction under the gate ([[graft.ext.Markdown]] — the
    * README/docs shelf): per doc a CommonMark-subset source — closing-
    * hash ATX title, BOTH heading syntaxes (ATX and setext, with
    * standalone `---` thematic breaks that must NOT read as underlines),
    * soft-wrapped paragraphs cycling seven inline arms (emphasis strip,
    * verbatim code spans, link text, escapes, lenient entities, the
    * intraword-underscore rule), a multi-line blockquote arm, one-line
    * list items, and a fenced code block captured raw. One row per
    * block with its kind; the oracle replays text AND position
    * closed-form.
    */
  private val qMarkdownExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Markdown.markdownExtract(
      graft.ext.Markdown.encodeMarkdown(table(s, dir, "documents"))).toDF()

  private val oMarkdownExtract: String =
    """WITH d AS (SELECT doc_id, md5('md:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |base AS (SELECT doc_id, m,
      |           1 + ('0x' || substr(m, 1, 1))::BIGINT % 3 AS ns,
      |           1 + ('0x' || substr(m, 2, 1))::BIGINT % 3 AS np0,
      |           1 + ('0x' || substr(m, 3, 1))::BIGINT % 3 AS np1,
      |           1 + ('0x' || substr(m, 4, 1))::BIGINT % 3 AS np2,
      |           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS q
      |         FROM d),
      |blocks AS (
      |  SELECT doc_id, 0 AS bi, 'h1' AS kind,
      |         'Md doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |           list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT)) AS text
      |  FROM base, wt
      |  UNION ALL
      |  SELECT doc_id,
      |         CASE k WHEN 0 THEN 1 WHEN 1 THEN 2 + np0 + q ELSE 5 + np0 + np1 + q END AS bi,
      |         'h2' AS kind,
      |         'Section ' || CAST(k AS VARCHAR) || ' ' ||
      |           list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(26 + k AS INT), 1))::BIGINT % 8 AS INT)) AS text
      |  FROM base, wt, (SELECT unnest([0, 1, 2]) AS k) WHERE k < ns
      |  UNION ALL
      |  SELECT doc_id,
      |         CASE k WHEN 0 THEN 1 WHEN 1 THEN 2 + np0 + q ELSE 5 + np0 + np1 + q END
      |           + 1 + p + (CASE WHEN k = 0 AND p >= 1 THEN q ELSE 0 END) AS bi,
      |         'para' AS kind,
      |         'Para ' || CAST(p AS VARCHAR) || ' of sec ' || CAST(k AS VARCHAR) ||
      |         ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * k + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         CASE (doc_id + k + p) % 7
      |           WHEN 0 THEN w2 || ' bold'
      |           WHEN 1 THEN w2 || ' em'
      |           WHEN 2 THEN 'a*b ' || w2
      |           WHEN 3 THEN w2 || ' link'
      |           WHEN 4 THEN '*lit* ' || w2
      |           WHEN 5 THEN 'a & b ' || w2
      |           ELSE 'snake_case ' || w2 END AS text
      |  FROM (SELECT doc_id, m, ns, np0, np1, np2, q, k, p,
      |          CASE k WHEN 0 THEN np0 WHEN 1 THEN np1 ELSE np2 END AS npk,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * k + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) AS w2
      |        FROM base, wt, (SELECT unnest([0, 1, 2]) AS k), (SELECT unnest([0, 1, 2]) AS p)
      |        WHERE k < ns) sq, wt
      |  WHERE p < npk
      |  UNION ALL
      |  SELECT doc_id, 3 AS bi, 'quote' AS kind,
      |         'Quoted ' || CAST(doc_id AS VARCHAR) || ' across lines' AS text
      |  FROM base WHERE q = 1
      |  UNION ALL
      |  SELECT doc_id, 3 + np0 + q + np1 + j AS bi, 'item' AS kind,
      |         'Item ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) AS text
      |  FROM base, (SELECT unnest([0, 1]) AS j) WHERE ns >= 2
      |  UNION ALL
      |  SELECT doc_id, 6 + np0 + np1 + np2 + q AS bi, 'code' AS kind,
      |         'code(x_' || CAST(doc_id AS VARCHAR) || ') # raw **not bold**' AS text
      |  FROM base WHERE ns = 3),
      |h AS (SELECT doc_id, bi, kind, hex(encode(text)) AS hx,
      |        octet_length(encode(text)) AS n FROM blocks)
      |SELECT doc_id, bi::BIGINT AS block_idx, kind,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** XLSX (SpreadsheetML) ingestion under the gate ([[graft.ext.Xlsx]]
    * — the tabular third of the OOXML shelf): per workbook a complete
    * OPC package whose cells hold INDEXES into the shared string table
    * (`xl/sharedStrings.xml`, rich-text runs + `xml:space="preserve"`
    * edge whitespace, writer-side interning graded by a repeated-string
    * arm), sheet order via workbook rels r:ids over reverse-numbered
    * files, bijective base-26 cell refs cross-checked against their row
    * elements, and all four cell types (shared / numeric / inlineStr /
    * formula-str). The oracle replays every cell closed-form; a wrong
    * table index, a trimmed preserved space, or a mis-parsed ref fails
    * the row. Damage quarantines the whole workbook.
    */
  private val qXlsxExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Xlsx.xlsxExtract(graft.ext.Xlsx.encodeXlsx(table(s, dir, "documents"))).toDF()

  private val oXlsxExtract: String =
    """WITH d AS (SELECT doc_id, md5('xlsx:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |sh AS (SELECT doc_id, m, s
      |       FROM d, (SELECT unnest([0, 1, 2]) AS s)
      |       WHERE s < 1 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |rw AS (SELECT doc_id, m, s, r
      |       FROM sh, (SELECT unnest([0, 1, 2, 3]) AS r)
      |       WHERE r < 2 + ('0x' || substr(m, CAST(2 + s AS INT), 1))::BIGINT % 3),
      |cl AS (SELECT doc_id, m, s, r, c
      |       FROM rw, (SELECT unnest([0, 1, 2]) AS c)
      |       WHERE c < 2 + (doc_id + s) % 2),
      |x AS (SELECT doc_id, s, r, c,
      |        'S' || CAST(s AS VARCHAR) || ' ' ||
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(28 + s AS INT), 1))::BIGINT % 8 AS INT)) AS sheet_name,
      |        CASE (doc_id + s + r + c) % 5
      |          WHEN 1 THEN 'n' WHEN 2 THEN 'inlineStr' ELSE 's' END AS ctype,
      |        CASE (doc_id + s + r + c) % 5
      |          WHEN 0 THEN 'Cell ' || CAST(r AS VARCHAR) || ' ' || CAST(c AS VARCHAR) ||
      |            ' of sheet ' || CAST(s AS VARCHAR) || ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * s + 2 * r + c) % 12 AS INT), 1))::BIGINT % 8 AS INT))
      |          WHEN 1 THEN CAST(doc_id * 7 + s * 5 + r * 3 + c AS VARCHAR)
      |          WHEN 2 THEN 'Inline ' || CAST(r AS VARCHAR) || ' ' || CAST(c AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (s + r + 2 * c) % 12 AS INT), 1))::BIGINT % 8 AS INT))
      |          WHEN 3 THEN 'Repeated of sheet ' || CAST(s AS VARCHAR) || ' doc ' || CAST(doc_id AS VARCHAR)
      |          ELSE ' padded ' || CAST(r AS VARCHAR) || CAST(c AS VARCHAR) END AS text
      |      FROM cl, wt)
      |SELECT doc_id, s::BIGINT AS sheet_idx, sheet_name,
      |       r::BIGINT AS row_idx, c::BIGINT AS col_idx, ctype, text
      |FROM x""".stripMargin

  /** RTF extraction under the gate ([[graft.ext.Rtf]] — the legacy
    * office format, a from-scratch brace-group/control-word tokenizer
    * rather than a ZIP+XML composition): per doc a complete RTF with
    * fonttbl/colortbl destinations, an ignorable `{\*\generator}`, a
    * `{\pict}` blob arm, the `{\info{\title}}` metadata route, and per
    * paragraph the hazard arms — escaped braces, `\'hh` WinAnsi bytes,
    * `\uN` Unicode escapes under BOTH `\uc0` and `\uc1` fallback
    * protocols, embedded `\tab`/`\line`/`\~`, raw CR/LF wrapping that
    * must stay invisible. The oracle replays per-paragraph text
    * closed-form; a slip in the delimiter rule, the uc skip, or
    * destination handling fails the hash.
    */
  private val qRtfExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Rtf.rtfExtract(graft.ext.Rtf.encodeRtf(table(s, dir, "documents"))).toDF()

  private val oRtfExtract: String =
    """WITH d AS (SELECT doc_id, md5('rtf:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |pa AS (SELECT doc_id, m, k
      |       FROM d, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
      |       WHERE k < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |tx AS (SELECT doc_id, m, k,
      |         'Rtf para ' || CAST(k AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * k) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE WHEN (doc_id + k) % 7 = 1 THEN chr(10) ELSE ' ' END ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * k) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + k) % 6
      |           WHEN 0 THEN ' {x}'
      |           WHEN 1 THEN ' ' || chr(233)
      |           WHEN 2 THEN ' ' || chr(8220) || 'q' || chr(8221)
      |           WHEN 3 THEN ' a' || chr(9) || 'b'
      |           WHEN 4 THEN ' x' || chr(160) || 'y'
      |           ELSE '' END AS t
      |       FROM pa, wt),
      |h AS (SELECT doc_id, k,
      |        CASE WHEN doc_id % 7 = 6 THEN '' ELSE
      |          'Rtf doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT))
      |        END AS title,
      |        hex(encode(t)) AS hx, octet_length(encode(t)) AS n
      |      FROM tx, wt)
      |SELECT doc_id, k::BIGINT AS para_idx, title,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** PPTX (PresentationML) ingestion under the gate ([[graft.ext.Pptx]]
    * — the slide-deck third of the OOXML shelf): per deck a complete
    * OPC package whose slide ORDER comes from `p:sldIdLst` r:ids
    * resolved through the presentation part's OWN rels file, with slide
    * FILE numbers stored REVERSED against presentation order and the
    * rels shuffled on the mod-3 arm — resolving by filename or by rels
    * position instead of by r:id cannot pass. DrawingML `a:t` runs are
    * VERBATIM (a two-run split arm leads with a space a trim would
    * eat), `a:br` maps to newline. The oracle replays per-slide text
    * closed-form; damage quarantines the whole deck.
    */
  private val qPptxExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Pptx.pptxExtract(graft.ext.Pptx.encodePptx(table(s, dir, "documents"))).toDF()

  private val oPptxExtract: String =
    """WITH d AS (SELECT doc_id, md5('pptx:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |sl AS (SELECT doc_id, m, j
      |       FROM d, (SELECT unnest([0, 1, 2, 3]) AS j)
      |       WHERE j < 1 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |pr AS (SELECT doc_id, m, j, p
      |       FROM sl, (SELECT unnest([0, 1, 2]) AS p)
      |       WHERE p < 1 + ('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, m, j, p,
      |         'Slide ' || CAST(j AS VARCHAR) || ' para ' || CAST(p AS VARCHAR) ||
      |         ' of deck ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * j + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE WHEN (doc_id + j + p) % 4 = 3 THEN chr(10) ELSE ' ' END ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * j + p) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + j + p) % 5
      |           WHEN 0 THEN ' & x' WHEN 2 THEN ' <t>' WHEN 4 THEN ' ' || chr(233)
      |           ELSE '' END AS t
      |       FROM pr, wt),
      |slide AS (SELECT doc_id, m, j, string_agg(t, chr(10) ORDER BY p) AS text
      |          FROM tx GROUP BY doc_id, m, j),
      |h AS (SELECT doc_id, j,
      |        CASE WHEN doc_id % 7 = 2 THEN '' ELSE
      |          'Deck ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT))
      |        END AS title,
      |        hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |      FROM slide, wt)
      |SELECT doc_id, j::BIGINT AS slide_idx, title,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** ODT (OpenDocument) ingestion under the gate ([[graft.ext.Odt]] —
    * the LibreOffice half of the office shelf next to docx_extract):
    * per doc a complete ODF package — mimetype physically first and
    * STORED (the §3.3 wire rule), the manifest with every part listed,
    * `content.xml` whose paragraphs are MIXED CONTENT (plain text +
    * `text:span` wrappers, graded through the walker's allowMixed mode),
    * explicit `text:s`/`text:tab`/`text:line-break` whitespace elements,
    * source pretty-printing folded back by the ODF collapse rule, and
    * `dc:title` off `meta.xml` (absent on the mod-7 arm). The oracle
    * replays per-paragraph text closed-form; a slip in mixed-content
    * ordering, the collapse rule, `text:c` counts, or entity decode
    * fails the hash. Damage quarantines the whole document.
    */
  private val qOdtExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Odt.odtExtract(graft.ext.Odt.encodeOdt(table(s, dir, "documents"))).toDF()

  private val oOdtExtract: String =
    """WITH d AS (SELECT doc_id, md5('odt:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
      |pa AS (SELECT doc_id, m, k
      |       FROM d, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
      |       WHERE k < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 4),
      |sg AS (SELECT doc_id, m, k, s,
      |         1 + ('0x' || substr(m, CAST(2 + k AS INT), 1))::BIGINT % 3 AS nsg
      |       FROM pa, (SELECT unnest([0, 1, 2]) AS s)
      |       WHERE s < 1 + ('0x' || substr(m, CAST(2 + k AS INT), 1))::BIGINT % 3),
      |tx AS (SELECT doc_id, m, k, s,
      |         'Seg ' || CAST(s AS VARCHAR) || ' of para ' || CAST(k AS VARCHAR) ||
      |         ' in doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(8 + (3 * k + s) % 12 AS INT), 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(20 + (2 * k + s) % 12 AS INT), 1))::BIGINT % 8 AS INT)) ||
      |         CASE (doc_id + k + s) % 5
      |           WHEN 0 THEN ' & co' WHEN 2 THEN ' <b>' WHEN 4 THEN ' ' || chr(233)
      |           ELSE '' END ||
      |         CASE WHEN s < nsg - 1 THEN
      |           CASE (doc_id + k + s) % 3
      |             WHEN 0 THEN repeat(' ', CAST(2 + doc_id % 2 AS INT))
      |             WHEN 1 THEN chr(9) ELSE chr(10) END
      |         ELSE '' END AS t
      |       FROM sg, wt),
      |para AS (SELECT doc_id, m, k, string_agg(t, '' ORDER BY s) AS text
      |         FROM tx GROUP BY doc_id, m, k),
      |h AS (SELECT doc_id, k,
      |        CASE WHEN doc_id % 7 = 5 THEN '' ELSE
      |          'Odt ' || CAST(doc_id AS VARCHAR) || ': ' ||
      |            list_extract(ws, 1 + CAST(('0x' || substr(m, 32, 1))::BIGINT % 8 AS INT))
      |        END AS title,
      |        hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |      FROM para, wt)
      |SELECT doc_id, k::BIGINT AS para_idx, title,
      |       n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** The Avro Object Container ingest path under the gate
    * ([[graft.ext.Avro]] — the data-lake interchange format corpus
    * drops arrive in): documents packed into 16 containers (codec
    * cycling null/deflate by archive — deflate composes the repo's own
    * RFC 1951 coder), then demuxed through the full from-scratch stack:
    * magic, the map-encoded metadata (both signed-count arms), per-block
    * sync-marker verification against the header's, bounded block
    * sizes, and exact record-count/byte-consumption cross-checks.
    * Differentialed BOTH directions against the real Avro library in
    * AvroSpec. Same oracle shape as zst/bz2/xz — the container grades
    * transparent; damage quarantines whole.
    */
  /** Per-process cache of staged fixture artifacts, keyed by (session,
    * dir, tag). The ENCODE side of a container/interchange key is
    * fixture staging, not the operator under test (a real pipeline's
    * containers sit in the lake; nobody re-encodes them per query), so
    * staging once per process keeps every timed window on the measured
    * query — the avro precedent, now shared by the arrow file/stream
    * encoders and the zstd dictionary-train prerequisite of
    * `zstd_dict_roundtrip`. (The r13/r15 avro multi-minute stall reps
    * themselves turned out to be a DECODE-side bug — an unhinted inflate
    * allocating the 64 MB cap per block, fixed at graft.ext.Avro.demux —
    * but the staging economy stands on its own.) Keyed by session
    * reference so a fresh session (tests, a restarted driver) re-stages
    * against its own context. Eviction unpersists: entries for stopped
    * sessions are dropped on access, and a live session is bounded to
    * ONE dir per tag — switching sf dirs unpersists the old entry's
    * blocks instead of accumulating them for the session's lifetime.
    */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  private def stagedFixture[T <: AnyRef](tag: String, s: SparkSession, dir: String)(build: => T): T = {
    val it = fixtureCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (es, edir, etag) = e.getKey
      val evict = es.sparkContext.isStopped || ((es eq s) && etag == tag && edir != dir)
      if (evict) {
        e.getValue match {
          case ds: Dataset[_] if !es.sparkContext.isStopped => ds.unpersist()
          case _ => ()
        }
        it.remove()
      }
    }
    fixtureCache.computeIfAbsent((s, dir, tag), { _ =>
      build match {
        case ds: Dataset[_] =>
          ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        case other => other
      }
    }).asInstanceOf[T]
  }

  private def avroArchives(s: SparkSession, dir: String): DataFrame =
    stagedFixture("avro", s, dir) {
      graft.ext.Avro.encodeAvroArchives(table(s, dir, "documents"), nArchives = 32)
    }

  private val qAvroExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Avro.avroExtract(
      // 32 shards, not the container family's 16: the avro demux is the
      // family's most CPU-expensive member (per-archive deflate both
      // directions), and 16 shards left half of local[32] idle — a real
      // avro dataset is sharded to the cluster, so more shards IS the
      // production shape
      avroArchives(s, dir)).toDF()

  /** [[oZstExtract]] with the avro key's 32-way sharding. (lazy: the
    * shared container oracle is defined later in this object)
    */
  private lazy val oAvroExtract: String = oZstExtract.replace("% 16", "% 32")

  /** Schema-DRIVEN avro decode ([[graft.ext.Avro.avroGenericExtract]] —
    * real corpus drops carry arbitrary schemas, not the fixture's):
    * `avro.schema` is parsed from the container metadata and each
    * record flattens against it — nullable unions, enum symbol tables,
    * array blocks (both count arms), int/long/float/double/boolean/
    * bytes/fixed — into one row per leaf value. The fixture's richer
    * schema exercises every arm under this oracle; AvroSpec closes the
    * loop both directions against avro-java's GenericDatumReader/Writer.
    */
  private val qAvroGeneric: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Avro.avroGenericExtract(stagedFixture("avro_generic", s, dir) {
      graft.ext.Avro.encodeAvroGenericArchives(table(s, dir, "documents"))
    }).toDF()

  private val oAvroGeneric: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('av:' || CAST(doc_id AS VARCHAR)) AS m,
       |             (doc_id % 16)::BIGINT AS aid,
       |             (row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1)::BIGINT AS ri
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, ws, aid, ri FROM d, wt)
       |SELECT aid AS archive_id, ri AS rec_idx, 'id' AS path, 'i' AS vtype,
       |       doc_id AS i_val, NULL::DOUBLE AS r_val, NULL::VARCHAR AS s_val FROM b
       |UNION ALL
       |SELECT aid, ri, 'note', CASE WHEN doc_id % 3 = 0 THEN 'z' ELSE 's' END,
       |       NULL, NULL,
       |       CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'n-' || ${w("2")} END FROM b
       |UNION ALL
       |SELECT aid, ri, 'score', 'f', NULL, (${nib("3")} + doc_id % 5) / 4.0, NULL FROM b
       |UNION ALL
       |SELECT aid, ri, 'flag', 'i', CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END,
       |       NULL, NULL FROM b
       |UNION ALL
       |SELECT aid, ri, 'color', 's', NULL, NULL,
       |       list_extract(['RED', 'GREEN', 'BLUE'], 1 + CAST(${nib("4")} % 3 AS INT)) FROM b
       |UNION ALL
       |SELECT aid, ri, 'nums[' || CAST(k AS VARCHAR) || ']', 'i',
       |       doc_id * 10 + k, NULL, NULL
       |FROM b, (SELECT unnest([0, 1, 2]) AS k)
       |WHERE k < 1 + ${nib("5")} % 3
       |UNION ALL
       |SELECT aid, ri, 'small', 'i', ${nib("6")} - 7, NULL, NULL FROM b
       |UNION ALL
       |SELECT aid, ri, 'raw', 's', NULL, NULL, substr(m, 1, 4) FROM b""".stripMargin
  }

  /** The TFRecord ingest path under the gate ([[graft.ext.TfRecord]] —
    * the ML-native record container a training pipeline feeds from):
    * documents packed into 16 length-framed shards, each record
    * protected by TWO masked CRC-32Cs (length and payload), then
    * demuxed with both checksums verified per record. The CRC-32C is
    * from scratch (table-driven Castagnoli) and differentialed against
    * the JDK's independent java.util.zip.CRC32C in TfRecordSpec; the
    * mask round-trip, framing, truncation ladder, and whole-shard
    * quarantine are pinned there too. Same oracle shape as
    * zst/bz2/xz/zip — the container is graded as transparent.
    */
  private val qTfrecordExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TfRecord.tfrecordExtract(
      graft.ext.TfRecord.encodeTfrecordArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  /** WET conversion under the gate ([[graft.ext.Archives.wetConvert]] —
    * the Common Crawl deliverable): documents become HTML pages inside
    * full-HTTP .warc.gz segments, each segment is CONVERTED to a real
    * `WARC-Type: conversion` plaintext segment (gzip member walk →
    * WARC → HTTP → HTML text extraction → re-serialize + re-gzip), and
    * the standard warcExtract reader then ingests the WET output
    * unchanged. Since every layer is identity-recovering, the oracle
    * computes the final record table straight from the source
    * documents — a slip in EITHER direction of the gzip/WARC framing,
    * the HTTP de-framing, or the HTML extraction fails the checksum.
    */
  private val qWetConvert: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.warcExtract(Archives.wetConvert(Archives.encodeWarcHttpArchives(
      Html.encodeHtmlDocs(table(s, dir, "documents")), nArchives = 16, textCol = "html"))).toDF()

  /** WAT conversion under the gate ([[graft.ext.Archives.watConvert]] —
    * the metadata deliverable completing the response/WET/WAT trio): the
    * LINKED-page fixture (with a real `<title>` injected) rides the full
    * crawl stack into response segments, each segment is converted to
    * `WARC-Type: metadata` records whose block is one canonical JSON
    * object (envelope URI, HTTP status/Content-Type, page title, every
    * outlink resolved against the record's own URI host), and the
    * standard warcExtract reader ingests the WAT output unchanged. The
    * oracle rebuilds the exact JSON text closed-form — link order, the
    * root-relative links re-based onto example.com, title, status — and
    * hashes its bytes, so the gzip/WARC/HTTP framing, the link extractor
    * AND the canonical serializer are all graded bitwise.
    */
  private val qWatConvert: (SparkSession, String) => DataFrame = (s, dir) => {
    val linked = Html.encodeLinkedDocs(table(s, dir, "documents"))
      .withColumn("html", expr(
        "replace(html, '<title></title>', concat('<title>Doc ', doc_id, ' metadata</title>'))"))
    Archives.warcExtract(Archives.watConvert(
      Archives.encodeWarcHttpArchives(linked, nArchives = 16, textCol = "html"))).toDF()
  }

  private val oWatConvert: String =
    """WITH d AS (SELECT doc_id FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |l AS (SELECT doc_id, unnest(range(1, CAST(doc_id % 4 AS BIGINT) + 2)) AS j FROM d),
      |u AS (SELECT doc_id, j,
      |        CASE WHEN j % 2 = 1
      |          THEN 'https://host' || CAST(('0x' || substr(md5('l:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1))::BIGINT % 16 AS VARCHAR) || '.example/p/' || CAST(j AS VARCHAR) || '?a=1&b=2'
      |          ELSE 'https://example.com/r/' || CAST(j AS VARCHAR) END AS url
      |      FROM l),
      |ls AS (SELECT doc_id, string_agg('"' || url || '"', ',' ORDER BY j) AS links
      |       FROM u GROUP BY doc_id),
      |js AS (SELECT d.doc_id,
      |         '{"Container":{"Target-URI":"http://example.com/doc/' || CAST(d.doc_id AS VARCHAR) ||
      |         '"},"Response":{"Status":200,"Content-Type":"text/plain; charset=utf-8"},' ||
      |         '"HTML-Metadata":{"Title":"Doc ' || CAST(d.doc_id AS VARCHAR) || ' metadata",' ||
      |         '"Links":[' || ls.links || ']}}' AS json
      |       FROM d JOIN ls ON d.doc_id = ls.doc_id),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(encode(json)) AS hx,
      |        octet_length(encode(json)) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM js)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS content_length,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** CDX indexing under the gate ([[graft.ext.Archives.cdxIndex]] — the
    * third Common Crawl deliverable, completing response/WET/WAT/CDX):
    * per record the SURT url key, content length and body digest, all
    * replayed closed-form by the oracle. The member OFFSET/LENGTH columns
    * are compression-dependent (not SQL-expressible) and are graded by
    * the `cdx_seek` twin instead.
    */
  private val qCdxRecords: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.cdxIndex(Archives.encodeWarcArchives(table(s, dir, "documents"))).toDF()
      .select(col("archive_id"), col("rec_idx"), col("urlkey"), col("rec_doc_id"),
        col("n_bytes"), col("digest"))

  private val oCdxRecords: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       'com,example)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS digest
      |FROM r""".stripMargin

  /** The CDX offsets graded end to end ([[graft.ext.Archives.cdxSeek]]):
    * every record re-extracted by RANDOM ACCESS — slice the segment at
    * the index's (offset, length), decode that one member alone, parse —
    * and the result must reproduce the standard warcExtract table
    * bitwise (same oracle). A wrong offset or length makes the slice
    * stop being a whole valid gzip member and the row disappears, so the
    * two columns SQL cannot compute are still pinned exactly.
    */
  private val qCdxSeek: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.cdxSeek(Archives.encodeWarcArchives(table(s, dir, "documents"))).toDF()

  /** tf.Example over TFRecord under the gate ([[graft.ext.TfExample]]
    * — the ACTUAL on-disk shape of a converted training corpus, protos
    * inside double-CRC frames): the from-scratch protobuf wire parser
    * (varints, tags, nested length-delimited messages, unknown-field
    * skip — one planted inside Features — and BOTH repeated-int64
    * encodings, packed and unpacked, cycling by doc) reduces each
    * example's features map to integers, floats carried as IEEE BITS
    * chosen closed-form so the whole plane stays bitwise. Wire bytes
    * differentialed against protobuf's own CodedOutputStream in
    * TfExampleSpec. Damage in the framing OR proto plane quarantines
    * the shard whole.
    */
  private val qTfExampleExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TfExample.tfExampleExtract(
      graft.ext.TfExample.encodeTfExampleArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oTfExampleExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx, doc_id,
      |       n::BIGINT AS n_text_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS text_checksum,
      |       (1 + doc_id % 8)::BIGINT AS n_tokens,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(1 + doc_id % 8), i ->
      |         (doc_id + i) % 1000)), (a, x) -> a + x)::BIGINT AS tokens_sum,
      |       ((doc_id * 2654435761) & 2139095039)::BIGINT AS score_bits,
      |       4::BIGINT AS n_features
      |FROM r""".stripMargin

  /** Sentence segmentation under the gate ([[graft.ext.Sentences]] —
    * the unit sentence-level dedup/filtering runs on): the classical
    * rule set (terminator run + optional closing quote + whitespace +
    * upper/digit opener, with an abbreviation guard) over prose whose
    * four hazard arms each make the naive split differ from the ruled
    * one — an honorific `Dr. Capword` the guard must hold, an ellipsis
    * trailing into lower case, a quoted mid-sentence `?"`, and plain
    * `.`/`!` boundaries. The oracle rebuilds every sentence SPAN
    * closed-form and hashes its bytes — wrong boundaries change spans,
    * not just counts.
    */
  private val qSentenceSplit: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sentences.sentenceSplit(
      graft.ext.Sentences.encodeProse(table(s, dir, "documents"))).toDF()

  private val oSentenceSplit: String =
    """WITH d AS (SELECT doc_id, md5('ss:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['alpha','breeze','copper','drift','ember','frost','glint','haze'] AS ws),
      |c AS (SELECT doc_id, j,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wa,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(6 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wb
      |      FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS j)
      |      WHERE j < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |s AS (SELECT doc_id, j,
      |        CASE (doc_id + j) % 4
      |          WHEN 0 THEN 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' mentions ' || wa || ' plus ' || wb ||
      |            CASE WHEN (doc_id + j) % 8 < 4 THEN '.' ELSE '!' END
      |          WHEN 1 THEN 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' cites Dr. ' || upper(substr(wb, 1, 1)) || substr(wb, 2) || ' on ' || wa || '.'
      |          WHEN 2 THEN 'Ellipsis drifts off... then ' || wa || ' resumes near ' || wb || '.'
      |          ELSE 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' asked "' || wa || '?" and kept going.'
      |        END AS sent
      |      FROM c),
      |h AS (SELECT doc_id, j, hex(encode(sent)) AS hx, octet_length(encode(sent)) AS n FROM s)
      |SELECT doc_id, j::BIGINT AS sent_idx, n::BIGINT AS n_chars,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** Sentence-level dedup — `sentence_split`'s stated consumer under
    * the gate: the corpus's sentences collapse on their exact spans
    * (checksum + length), counting occurrences and keeping the first
    * reference (min packed (doc, idx)); the fixture's id-free arm
    * guarantees genuine cross-document duplicates. One hash aggregate
    * over the split's output — precisely the shuffle the PLANS entry
    * for sentence_split says belongs to the consumer.
    */
  private val qSentenceDedup: (SparkSession, String) => DataFrame = (s, dir) => {
    val sents = graft.ext.Sentences.sentenceSplit(
      graft.ext.Sentences.encodeProse(table(s, dir, "documents"))).toDF()
    sents
      .groupBy(col("checksum").as("sent_checksum"), col("n_chars"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(col("doc_id") * 4 + col("sent_idx")).as("first_ref"))
  }

  private val oSentenceDedup: String =
    """WITH d AS (SELECT doc_id, md5('ss:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['alpha','breeze','copper','drift','ember','frost','glint','haze'] AS ws),
      |c AS (SELECT doc_id, j,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(2 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wa,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(6 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wb
      |      FROM d, wt, (SELECT unnest([0, 1, 2, 3]) AS j)
      |      WHERE j < 2 + ('0x' || substr(m, 1, 1))::BIGINT % 3),
      |s AS (SELECT doc_id, j,
      |        CASE (doc_id + j) % 4
      |          WHEN 0 THEN 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' mentions ' || wa || ' plus ' || wb ||
      |            CASE WHEN (doc_id + j) % 8 < 4 THEN '.' ELSE '!' END
      |          WHEN 1 THEN 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' cites Dr. ' || upper(substr(wb, 1, 1)) || substr(wb, 2) || ' on ' || wa || '.'
      |          WHEN 2 THEN 'Ellipsis drifts off... then ' || wa || ' resumes near ' || wb || '.'
      |          ELSE 'Sentence ' || CAST(j AS VARCHAR) || ' of doc ' || CAST(doc_id AS VARCHAR) ||
      |            ' asked "' || wa || '?" and kept going.'
      |        END AS sent
      |      FROM c),
      |h AS (SELECT doc_id, j, hex(encode(sent)) AS hx, octet_length(encode(sent)) AS n FROM s),
      |k AS (SELECT doc_id, j, n,
      |        list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |          ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |          (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS ck
      |      FROM h)
      |SELECT ck AS sent_checksum, n::BIGINT AS n_chars,
      |       count(*)::BIGINT AS n_dups,
      |       min(doc_id * 4 + j)::BIGINT AS first_ref
      |FROM k GROUP BY ck, n""".stripMargin

  /** mbox/MIME email ingestion under the gate ([[graft.ext.Mbox]]):
    * documents become real mbox archives — mboxrd `From ` framing with
    * `>From ` body quoting, RFC 5322 headers with folding and case
    * hazards, and three transfer arms cycling by doc id (7bit with
    * quoting, quoted-printable with soft breaks and the line-start
    * `From ` escape, multipart/alternative with an html DECOY part
    * ahead of a base64 text/plain leaf), plus RFC 2047 Q- and
    * B-encoded Subjects. Every arm must decode to the SAME closed-form
    * body, whose bytes the oracle rebuilds and hashes — a slip in any
    * decoder, the part selection, the unfolding, or the mboxrd
    * unquoting fails the checksum. Damage quarantines the archive.
    */
  private val qMboxExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Mbox.mboxExtract(
      graft.ext.Mbox.encodeMboxArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oMboxExtract: String =
    """WITH d AS (SELECT doc_id, md5('mm:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |wt AS (SELECT ['amber','birch','cedar','dune','ember','fjord','grove','heath'] AS ws),
      |b AS (SELECT doc_id,
      |        'id:' || CAST(doc_id AS VARCHAR) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 6, 1))::BIGINT % 8 AS INT)) ||
      |        CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'From here onward plain text' ELSE '' END AS body,
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 7, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |        list_extract(ws, 1 + CAST(('0x' || substr(m, 8, 1))::BIGINT % 8 AS INT)) AS subject
      |      FROM d, wt),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, body, subject,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS msg_idx
      |      FROM b),
      |h AS (SELECT archive_id, msg_idx, doc_id, subject,
      |        hex(encode(body)) AS hx, octet_length(encode(body)) AS n FROM r)
      |SELECT archive_id::BIGINT AS archive_id, msg_idx::BIGINT AS msg_idx,
      |       doc_id, subject, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  /** ISO-BMFF (MP4) demux under the gate ([[graft.ext.Mp4]]): genuine
    * box trees — ftyp (+ a `free` skip-unknown hazard every 3rd doc),
    * mdat FIRST (the non-faststart camera layout), moov with an AUDIO
    * trak ahead of the video trak every 2nd doc (the hdlr-selection
    * hazard) — resolved through the four sample tables (two-run stts,
    * paired-chunk stsc, uniform stsz, stco) into per-sample byte
    * ranges and decode times, each sample's REAL bytes checksummed.
    * The oracle recomputes offsets from the writer's closed-form
    * layout (ftyp 20 + free + mdat header + audio prefix + 288/chunk)
    * and the checksums from the shared AVI plane model — a walker that
    * picks the wrong track, misses a box, or mis-expands any table
    * cannot reproduce the offsets or the sample bytes.
    */
  private val qMp4Frames: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Mp4.mp4SampleTable(graft.ext.Mp4.encodeMp4(table(s, dir, "documents"))).toDF()

  private val oMp4Frames: String =
    s"""$aviDocsCte
      |SELECT doc_id, k::BIGINT AS sample_idx, (k // 2)::BIGINT AS chunk_idx,
      |       (20 + CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END + 8 +
      |        CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 0 END +
      |        288 * (k // 2) + 144 * (k % 2))::BIGINT AS offset,
      |       144::BIGINT AS n_bytes,
      |       (100 * k)::BIGINT AS dts,
      |       (CASE WHEN doc_id % 5 > 0 AND k = doc_id % 5 THEN 200 ELSE 100 END)::BIGINT AS dur,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(144), j ->
      |         ${ppmByteSql("k + j")})),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM f""".stripMargin

  /** MP3 frame indexing under the gate ([[graft.ext.Mp3]] — the audio
    * shelf's dominant container, indexed headers-only like MP4): real
    * MPEG-1 Layer III streams (self-describing 4-byte frame headers,
    * bitrate/rate/padding cycling every arm, ID3v2 syncsafe-length tag
    * every 2nd doc, ID3v1 trailer every 4th ≡ 1), frames required to
    * TILE the region between the tags exactly. The oracle replays the
    * frame table closed-form — per-frame sizes from the header
    * arithmetic, offsets as the running sum, payload checksums from
    * the shared plane model — so a mis-skipped tag, a size slip, or a
    * lost sync fails the hash; malformed documents drop whole.
    */
  private val qMp3Frames: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Mp3.mp3Frames(graft.ext.Mp3.encodeMp3(table(s, dir, "documents"))).toDF()

  private val oMp3Frames: String =
    s"""$aviDocsCte,
      |fr AS (SELECT doc_id, hx, n, k,
      |        list_extract([128, 160, 192, 224, 256], 1 + CAST((doc_id + k) % 5 AS INT)) AS br,
      |        list_extract([44100, 48000, 32000], 1 + CAST((doc_id + k) % 3 AS INT)) AS sr,
      |        CAST((doc_id + k) % 2 AS INT) AS pad
      |      FROM f),
      |sz AS (SELECT doc_id, hx, n, k, br, sr,
      |        144 * br * 1000 // sr + pad AS fsize
      |      FROM fr),
      |o AS (SELECT doc_id, hx, n, k, br, sr, fsize,
      |        CASE WHEN doc_id % 2 = 0 THEN 30 ELSE 0 END +
      |          COALESCE(sum(fsize) OVER (PARTITION BY doc_id ORDER BY k
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM sz)
      |SELECT doc_id, k::BIGINT AS frame_idx, off::BIGINT AS offset,
      |       fsize::BIGINT AS n_bytes, br::BIGINT AS bitrate_kbps, sr::BIGINT AS sample_rate,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(fsize - 4), j ->
      |         ${ppmByteSql("k + j")})),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM o""".stripMargin

  /** OGG page demux under the gate ([[graft.ext.Ogg]] — the free-codec
    * audio container next to MP3's frame walk): real RFC 3533 streams
    * with BOS/EOS flags, consecutive sequence numbers, lacing tables
    * crossing the 255 boundary both ways, and the format's OWN CRC
    * (MSB-first 0x04C11DB7, init 0 — the fourth checksum flavor in
    * house) verified per page with the CRC field zeroed. The oracle
    * replays the page table closed-form — payload sizes, lacing-derived
    * header lengths, running offsets, granule arithmetic, payload
    * checksums — so a mis-sized lacing walk, a CRC slip, or a sequence
    * drift fails the hash; malformed documents drop whole.
    */
  private val qOggPages: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Ogg.oggPages(graft.ext.Ogg.encodeOgg(table(s, dir, "documents"))).toDF()

  /** Ogg codec identification headers under the gate ([[graft.ext.Ogg]]
    * — the metadata-level parity MP4/MP3 already have): per doc a
    * single-codec stream whose BOS page carries a REAL Vorbis (even ids)
    * or OpusHead (odd ids) identification header, then junk-audio pages
    * with codec-stepped granules and EOS. The reader re-walks the page
    * layer (CRCs, sequencing), extracts the first BOS packet, validates
    * the header fields (version, framing bit, blocksizes, mapping
    * family), and maps the final granule to a duration per the CODEC's
    * clock — Opus always 48 kHz minus pre-skip (RFC 7845), Vorbis at
    * the header rate. The oracle replays channels/rate/pre-skip/
    * duration closed-form; a slip in either the granule rule or any
    * header offset fails the row.
    */
  private val qOggStreams: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Ogg.oggStreams(graft.ext.Ogg.encodeOggStreams(table(s, dir, "documents"))).toDF()

  private val oOggStreams: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        CASE WHEN doc_id % 2 = 1 THEN 'opus' ELSE 'vorbis' END AS codec,
      |        CASE WHEN doc_id % 2 = 1 THEN 1 + (doc_id // 2) % 2
      |             ELSE 1 + (doc_id // 2) % 4 END AS channels,
      |        list_extract([8000, 16000, 22050, 44100, 48000],
      |          1 + CAST(doc_id % 5 AS INT)) AS sample_rate,
      |        CASE WHEN doc_id % 2 = 1 THEN 312 + (doc_id % 5) * 24 ELSE 0 END AS pre_skip,
      |        2 + doc_id % 4 AS nf
      |      FROM d)
      |SELECT doc_id, doc_id AS serial, codec, channels::BIGINT AS channels,
      |       sample_rate::BIGINT AS sample_rate, pre_skip::BIGINT AS pre_skip,
      |       (CASE WHEN codec = 'opus' THEN (960 * nf - pre_skip) * 1000000 // 48000
      |             ELSE 1024 * nf * 1000000 // sample_rate END)::BIGINT AS duration_us
      |FROM c""".stripMargin

  private val oOggPages: String =
    s"""$aviDocsCte,
      |sz AS (SELECT doc_id, hx, n, k,
      |        200 + 77 * ((doc_id + k) % 7) AS psize
      |      FROM f),
      |tot AS (SELECT doc_id, hx, n, k, psize,
      |        27 + (psize // 255 + 1) + psize AS ptotal
      |      FROM sz),
      |o AS (SELECT doc_id, hx, n, k, psize,
      |        COALESCE(sum(ptotal) OVER (PARTITION BY doc_id ORDER BY k
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM tot)
      |SELECT doc_id, k::BIGINT AS page_idx, off::BIGINT AS offset,
      |       (1152 * (k + 1))::BIGINT AS granule, 1::BIGINT AS n_packets,
      |       psize::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(psize), j ->
      |         ${ppmByteSql("k + j")})),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM o""".stripMargin

  /** The REAL multimodal codec path: the payload decoded as raw s16le PCM
    * — an actual byte-level decode, not a byte-statistics stub — framed
    * into 256-sample windows with exact integer RMS/peak statistics. The
    * oracle replays the decode byte for byte in SQL (blob substring + hex
    * + the same sign fix-up), so the whole codec sits under the bitwise
    * gate.
    */
  private val qAudioFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.decodePcm16Frames(
      Multimodal.attachBinary(table(s, dir, "documents")), frameSize = 256).toDF()

  // DuckDB has no blob substring, so the decode indexes the blob's full hex
  // image: byte i of the payload is hex chars [2i+1, 2i+2] of hex(p)
  private val oAudioFrames: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) // 2 AS ns FROM b WHERE octet_length(p) >= 2),
      |fr AS (SELECT doc_id, hx, ns, CAST(unnest(range((ns + 255) // 256)) AS INT) AS frame_idx FROM s),
      |sm AS (SELECT doc_id, frame_idx,
      |         list_transform(
      |           list_transform(range(frame_idx * 256, CAST(least(ns, (frame_idx + 1) * 256) AS INT)), i ->
      |             ('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::INT * 256
      |               + ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::INT),
      |           u -> CASE WHEN u > 32767 THEN u - 65536 ELSE u END) AS xs
      |       FROM fr)
      |SELECT doc_id, frame_idx, len(xs)::BIGINT AS n_samples,
      |       sqrt(CAST(list_reduce(list_prepend(0::BIGINT, list_transform(xs, x -> x::BIGINT * x)),
      |                             (a, y) -> a + y) AS DOUBLE) / len(xs)) AS rms,
      |       CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
      |FROM sm""".stripMargin

  /** CONTAINED audio under the gate — the third RIFF-family codec:
    * [[graft.ext.Multimodal.encodeWav]] writes genuine RIFF/WAVE files
    * (44-byte mono 16 kHz s16le header + the doc's bytes as the data
    * chunk) and `wavFrameStats` must locate the sample window through a
    * real chunk walk, validate the fmt contract, and read the sample rate
    * little-endian before running the shared PCM frame kernel. The oracle
    * replays the frame statistics from the text column (data byte i IS
    * text byte i by the writer's byte model) plus the constant parsed
    * rate — a header misread shifts every sample pair and fails the hash.
    */
  private val qWavFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.wavFrameStats(Multimodal.encodeWav(table(s, dir, "documents")), frameSize = 256).toDF()

  private val oWavFrames: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) // 2 AS ns FROM b WHERE octet_length(p) >= 2),
      |fr AS (SELECT doc_id, hx, ns, CAST(unnest(range((ns + 255) // 256)) AS INT) AS frame_idx FROM s),
      |sm AS (SELECT doc_id, frame_idx,
      |         list_transform(
      |           list_transform(range(frame_idx * 256, CAST(least(ns, (frame_idx + 1) * 256) AS INT)), i ->
      |             ('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::INT * 256
      |               + ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::INT),
      |           u -> CASE WHEN u > 32767 THEN u - 65536 ELSE u END) AS xs
      |       FROM fr)
      |SELECT doc_id, 16000::INT AS sample_rate, frame_idx, len(xs)::BIGINT AS n_samples,
      |       sqrt(CAST(list_reduce(list_prepend(0::BIGINT, list_transform(xs, x -> x::BIGINT * x)),
      |                             (a, y) -> a + y) AS DOUBLE) / len(xs)) AS rms,
      |       CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
      |FROM sm""".stripMargin

  /** LOSSLESS-COMPRESSED audio under the gate: FLAC ([[graft.ext.Flac]]
    * — rice-coded fixed-LPC subset, both directions from scratch). The
    * fixture encodes the SAME s16le-from-text sample plane as the WAV
    * family into real FLAC streams (256-sample frames, subframe arm
    * cycling constant/verbatim/fixed-1/fixed-2, exact cost-minimizing
    * rice parameters with the escape arm, CRC-8 + CRC-16 + STREAMINFO
    * MD5 all real), and the decoder must reproduce the WAV oracle's
    * per-frame RMS/peak table bitwise — the whole codec grades as
    * transparent, and the sample-MD5 check makes a single wrong sample
    * quarantine the document rather than drift the stats.
    */
  private val qFlacFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Flac.flacFrameStats(graft.ext.Flac.encodeFlac(table(s, dir, "documents"))).toDF()

  /** COMPRESSED audio under the gate: G.711 μ-law — the telephony
    * companding codec. [[graft.ext.Multimodal.encodeWavUlaw]] writes a
    * genuine RIFF/WAVE container declaring wFormatTag 7 / mono / 8 kHz /
    * 8-bit with each text byte as one μ-law code;
    * [[graft.ext.Multimodal.ulawFrameStats]] must chunk-walk to the data
    * window, validate the profile, and expand every code to its 16-bit
    * linear sample with the real CCITT algorithm before the frame kernel.
    * The expansion is pure integer arithmetic, so the oracle replays it
    * exactly: c = 255 - x, t = ((c%16)*8 + 132) << ((c//16)%8), linear =
    * ±(t - 132) by the sign bit — any slip in mantissa bias, exponent
    * shift, or sign handling fails the hash on real data.
    */
  private val qUlawFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.ulawFrameStats(Multimodal.encodeWavUlaw(table(s, dir, "documents")), frameSize = 256).toDF()

  private val oUlawFrames: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS ns FROM b WHERE octet_length(p) >= 1),
      |fr AS (SELECT doc_id, hx, ns, CAST(unnest(range((ns + 255) // 256)) AS INT) AS frame_idx FROM s),
      |sm AS (SELECT doc_id, frame_idx,
      |         list_transform(
      |           list_transform(range(frame_idx * 256, CAST(least(ns, (frame_idx + 1) * 256) AS INT)), i ->
      |             255 - ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT),
      |           c -> CASE WHEN c >= 128
      |                THEN 132 - (((c % 16) * 8 + 132) * (1 << ((c // 16) % 8)))
      |                ELSE (((c % 16) * 8 + 132) * (1 << ((c // 16) % 8))) - 132 END) AS xs
      |       FROM fr)
      |SELECT doc_id, 8000::INT AS sample_rate, frame_idx, len(xs)::BIGINT AS n_samples,
      |       sqrt(CAST(list_reduce(list_prepend(0::BIGINT, list_transform(xs, x -> x::BIGINT * x)),
      |                             (a, y) -> a + y) AS DOUBLE) / len(xs)) AS rms,
      |       CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
      |FROM sm""".stripMargin

  /** PCM decimation resample (factor 3), compared by the re-encoded s16le
    * payload's hex image (both engines render hex uppercase; this DuckDB
    * build's md5 is VARCHAR-only, so the bytes compare as hex directly).
    */
  private val qAudioResample: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.resamplePcm16(
      Multimodal.attachBinary(table(s, dir, "documents")), factor = 3).toDF()
      .select(col("doc_id"), col("n_samples_in"), col("n_samples_out"),
        hex(col("resampled")).as("resampled_hex"))

  private val oAudioResample: String =
    """WITH b AS (SELECT doc_id, coalesce(encode(text), ''::BLOB) AS p FROM documents WHERE doc_id IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) // 2 AS ni FROM b),
      |r AS (SELECT doc_id, ni, (ni + 2) // 3 AS no,
      |        list_reduce(
      |          list_prepend('', list_transform(range((ni + 2) // 3), j ->
      |            substr(hx, CAST(12 * j + 1 AS INT), 4))),
      |          (a, x) -> a || x) AS rhx
      |      FROM s)
      |SELECT doc_id, ni::BIGINT AS n_samples_in, no::BIGINT AS n_samples_out,
      |       rhx AS resampled_hex
      |FROM r""".stripMargin

  /** Anti-aliased PCM resample (factor 3): windowed-sinc FIR + decimation,
    * compared like `audio_resample` by the re-encoded payload's hex image.
    * The oracle replays the ENTIRE filter in SQL — decode, zero-padded
    * Q15 integer convolution at each decimated position, floor-division
    * normalize (positive offset makes truncating `//` floor), s16 clamp,
    * little-endian re-encode — with the coefficient integers inlined from
    * the SAME [[graft.ext.Multimodal.firLowpassQ15]] call the operator
    * uses, so the two engines cannot disagree on a tap.
    */
  private val qAudioResampleFiltered: (SparkSession, String) => DataFrame = (s, dir) =>
    Multimodal.resamplePcm16Filtered(
      Multimodal.attachBinary(table(s, dir, "documents")), factor = 3).toDF()
      .select(col("doc_id"), col("n_samples_in"), col("n_samples_out"),
        hex(col("resampled")).as("resampled_hex"))

  private val oAudioResampleFiltered: String = {
    val q = Multimodal.firLowpassQ15(3)
    val h = (q.length - 1) / 2
    val coefs = q.mkString("[", ", ", "]")
    // y[j] = clamp(floorDiv(sum_k q[k] * x[3j + k - h], 2^15)): the +2^36
    // offset keeps the dividend positive (|acc| < 2^31), so DuckDB's
    // truncating // IS floor division; 2^36 / 2^15 = 2^21 is subtracted back
    s"""WITH b AS (SELECT doc_id, coalesce(encode(text), ''::BLOB) AS p FROM documents WHERE doc_id IS NOT NULL),
       |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) // 2 AS ni FROM b),
       |x AS (SELECT doc_id, ni, (ni + 2) // 3 AS no,
       |        list_transform(
       |          list_transform(range(ni), i ->
       |            ('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::INT * 256
       |              + ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::INT),
       |          u -> CASE WHEN u > 32767 THEN u - 65536 ELSE u END) AS xs
       |      FROM s),
       |y AS (SELECT doc_id, ni, no,
       |        list_transform(range(no), j ->
       |          greatest(-32768, least(32767,
       |            (list_reduce(list_prepend(0::BIGINT,
       |               list_transform(range(-$h, ${h + 1}), k ->
       |                 CASE WHEN 3 * j + k >= 0 AND 3 * j + k < ni
       |                      THEN ($coefs)[k + ${h + 1}]::BIGINT * xs[CAST(3 * j + k + 1 AS INT)]
       |                      ELSE 0::BIGINT END)),
       |               (a, v) -> a + v) + 68719476736) // 32768 - 2097152))) AS ys
       |      FROM x)
       |SELECT doc_id, ni::BIGINT AS n_samples_in, no::BIGINT AS n_samples_out,
       |       list_reduce(list_prepend('', list_transform(ys, v ->
       |         printf('%02X%02X',
       |           CASE WHEN v < 0 THEN v + 65536 ELSE v END % 256,
       |           CASE WHEN v < 0 THEN v + 65536 ELSE v END // 256))),
       |         (a, e) -> a || e) AS resampled_hex
       |FROM y""".stripMargin
  }

  /** COMPRESSED text under the gate: each doc becomes a genuine gzip
    * payload ([[graft.ext.Archives.encodeGzipDocs]] — header variant
    * cycles doc_id % 4 over bare/FNAME/FEXTRA/FHCRC; doc_id % 5 == 0 docs
    * are TWO concatenated members), and [[graft.ext.Archives.gunzipStats]]
    * must walk the RFC 1952 header, inflate, verify CRC-32 + ISIZE, and
    * split members to reproduce the decompressed checksum. compressed_len
    * replays the writer's closed-form framing model (10 + extra + 5 per
    * 64 KiB stored block + n + 8 per member), so header-field and framing
    * drift fail the hash, not just content corruption.
    */
  private val qGunzipStats: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.gunzipStats(Archives.encodeGzipDocs(table(s, dir, "documents"))).toDF()

  private val oGunzipStats: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b),
      |m AS (SELECT doc_id, hx, n,
      |        CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS members,
      |        n // 2 AS n1, n - n // 2 AS n2,
      |        CASE doc_id % 4 WHEN 1 THEN 6 + len(CAST(doc_id AS VARCHAR))
      |                        WHEN 2 THEN 8 WHEN 3 THEN 2 ELSE 0 END AS extra
      |      FROM s)
      |SELECT doc_id,
      |       CASE WHEN members = 2
      |            THEN (18 + extra + greatest(1, (n1 + 65534) // 65535) * 5 + n1)
      |               + (18 + greatest(1, (n2 + 65534) // 65535) * 5 + n2)
      |            ELSE 18 + extra + greatest(1, (n + 65534) // 65535) * 5 + n END::BIGINT AS compressed_len,
      |       members::BIGINT AS n_members, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM m""".stripMargin

  /** The compressor half of the DEFLATE story under the gate: compress
    * every doc with the from-scratch LZ77 + fixed-Huffman compressor,
    * decode it back with the from-scratch inflate, and emit the DECODED
    * length + checksum — which the oracle computes from the source text,
    * so any emission bug that damages even one bit of one document fails
    * the hash (a broken round trip emits -1). The compressor's own
    * output bytes are additionally pinned by the JDK-Inflater
    * cross-decoder differential in ArchivesSpec; `ratio`/`deflate_len`
    * stay out of the oracled projection because an LZ77 emission is an
    * engine model, not a SQL-replayable one (same policy as the engine-
    * hash keys in SURVEY §8).
    */
  private val qDeflateRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.compressionSignal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"))

  private val oDeflateRoundtrip: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b)
      |SELECT doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM s""".stripMargin

  /** The crawl-ingestion capstone: documents grouped into 16 WARC-style
    * archives (one gzip member per WARC/1.0 record, members concatenated
    * — the actual .warc.gz layout), then [[graft.ext.Archives.warcExtract]]
    * demuxes on the inflate END POSITION, decodes each member, parses the
    * record headers, and emits per-record rows. The oracle rebuilds the
    * expected record table relationally (row_number by id within archive,
    * Content-Length in UTF-8 bytes, base-31 body checksum) — a slip in
    * member splitting, header walk, or Content-Length slicing fails it.
    */
  private val qWarcExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.warcExtract(Archives.encodeWarcArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oWarcExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS content_length,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** The FULL crawl-record decode stack under the gate: archives whose
    * records store complete HTTP/1.1 response messages — even doc ids
    * framed with `Transfer-Encoding: chunked` (lowercase-hex sizes,
    * zero-chunk terminator), odd ids with Content-Length — so
    * [[graft.ext.Archives.warcHttpExtract]] must run gzip member split ->
    * WARC header parse -> HTTP status/header parse -> chunked de-framing
    * before the body checksum can match. The framing never appears in the
    * output; only a correct decode of BOTH wire paths reproduces the
    * oracle's per-record body checksum.
    */
  private val qWarcHttpExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.warcHttpExtract(Archives.encodeWarcHttpArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oWarcHttpExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, 200::BIGINT AS http_status,
      |       'text/plain; charset=utf-8' AS content_type, n::BIGINT AS body_len,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** The crawl-record decode stack with CONTENT CODINGS — what real WARC
    * response records carry: the body is gzip- or deflate-compressed
    * BEFORE the chunked/Content-Length framing (doc id cycles all
    * framing × coding combinations), and the reader must de-frame then
    * decode through the from-scratch inflate. The oracle replays the
    * DECODED body's length and checksum from the source text, so any
    * coding-layer slip (layering order, unverified gzip trailer or
    * zlib Adler, partial member) fails the per-record hash even though
    * the coding never appears in the output.
    */
  private val qWarcHttpEncExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.warcHttpEncExtract(
      Archives.encodeWarcHttpEncodedArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oWarcHttpEncExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, 200::BIGINT AS http_status,
      |       'text/plain; charset=utf-8' AS content_type,
      |       CASE (doc_id // 2) % 4 WHEN 1 THEN 'gzip' WHEN 2 THEN 'deflate' WHEN 3 THEN 'br' ELSE '' END AS content_encoding,
      |       n::BIGINT AS body_len,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** Sitemap-protocol ingestion under the gate: per-host sitemap FILE
    * sets — a `sitemapindex` naming a plain child and a GZIPPED child
    * (decoded by composition through the repo's own gzip reader) — are
    * parsed by a real strict XML walker (declaration, comments, CDATA,
    * attribute-tolerant tags, named + numeric entity decoding) and
    * flattened to one row per URL. Hazards cycle by doc id (ampersand
    * query strings entity-escaped vs CDATA-wrapped) and by host
    * (pretty-printed vs flat); the oracle rebuilds the URL table
    * closed-form, so an entity slip, a CDATA misread, a shard/order
    * slip, or one damaged gzip byte fails the compare.
    */
  private val qSitemapExtract: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    Sitemaps.sitemapExtract(Sitemaps.encodeSitemaps(urls)).toDF()
  }

  private val oSitemapExtract: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d)
      |SELECT host, (doc_id % 2)::BIGINT AS shard,
      |       (row_number() OVER (PARTITION BY host, doc_id % 2 ORDER BY doc_id) - 1)::BIGINT AS ord,
      |       'https://' || host || path ||
      |         CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS loc,
      |       '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
      |FROM c""".stripMargin

  /** RSS/Atom feed ingestion under the gate ([[graft.ext.Feeds]]): each
    * host's doc set serialized as a real feed PAIR — RSS 2.0 items
    * (entity/CDATA link hazards, RFC 822 pubDates across GMT/±HHMM
    * zones) and Atom entries (link in the href ATTRIBUTE, CDATA ids,
    * RFC 3339 updated across Z/±HH:MM) — then re-parsed through the
    * shared strict XML walker down to (link, guid, epoch seconds). The
    * oracle rebuilds the item table closed-form including the full zone
    * arithmetic, so a slip in either date grammar, the attribute
    * capture, entity decoding, or document ordering fails the hash;
    * damage quarantines the whole host.
    */
  private val qFeedExtract: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    graft.ext.Feeds.feedExtract(graft.ext.Feeds.encodeFeeds(urls)).toDF()
  }

  private val oFeedExtract: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d)
      |SELECT host,
      |       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS dialect,
      |       (row_number() OVER (PARTITION BY host, doc_id % 2 ORDER BY doc_id) - 1)::BIGINT AS ord,
      |       'https://' || host || path ||
      |         CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS link,
      |       'urn:feed:' || host || ':' || CAST(doc_id AS VARCHAR) AS guid,
      |       (1767225600
      |        + list_extract([0,31,59,90,120,151,181,212,243,273,304,334],
      |            1 + CAST(doc_id % 12 AS INT)) * 86400
      |        + (doc_id % 28) * 86400 + (doc_id % 24) * 3600 + (doc_id % 60) * 60
      |        - CASE doc_id % 4 WHEN 2 THEN 19800 WHEN 3 THEN -28800 ELSE 0 END)::BIGINT AS published
      |FROM c""".stripMargin

  /** The DISCOVERY FRONTIER — the integration gate over the whole
    * discovery stack: URLs surfaced by the sitemap protocol AND by both
    * feed dialects (each through its full serialize→strict-parse path)
    * union into one frontier, freshness normalized to epoch seconds
    * (sitemap lastmod dates at midnight UTC; feed pubDate/updated with
    * their zone arithmetic), and every URL is admitted or refused by
    * the robots longest-match evaluator over the SAME per-host rule
    * universe — one broadcast join + integer argmax, the
    * `robots_decisions` plan. Each document surfaces twice (its
    * sitemap shard and its feed dialect), which is the point: a real
    * frontier dedups and prioritizes multi-source discoveries, and the
    * oracle pins that both sources agree on the URL while carrying
    * different freshness signals. Composes five operators; a slip in
    * any parser, the date arithmetic, or the admission precedence
    * fails the hash.
    */
  private val qDiscoveryFrontier: (SparkSession, String) => DataFrame = (s, dir) => {
    val urls = Url.normalize(Url.attachUrls(table(s, dir, "documents")))
      .toDF().select(col("doc_id"), col("host"), col("path"))
    val sm = Sitemaps.sitemapExtract(Sitemaps.encodeSitemaps(urls)).toDF()
      .select(col("host"), col("loc").as("url"), lit("sitemap").as("source"),
        (unix_date(to_date(col("lastmod"))).cast("long") * 86400L).as("freshness"))
    val fd = graft.ext.Feeds.feedExtract(graft.ext.Feeds.encodeFeeds(urls)).toDF()
      .select(col("host"), col("link").as("url"), col("dialect").as("source"),
        col("published").as("freshness"))
    val frontier = sm.unionByName(fd)
      .withColumn("upath", expr("substring(url, length(host) + 9)")) // after 'https://<host>'
    val r = Robots.rulesFor(urls).toDF().select(
      col("host").as("r_host"),
      (length(col("prefix")) * 2 +
        when(col("rule_type") === "allow", 1).otherwise(0)).cast("long").as("score"),
      col("prefix"))
    frontier
      .join(broadcast(r),
        col("host") === col("r_host") && col("upath").startsWith(col("prefix")), "left")
      .groupBy(col("host"), col("url"), col("source"), col("freshness"))
      .agg(max(col("score")).as("best"))
      .select(col("host"), col("url"), col("source"), col("freshness"),
        when(col("best").isNull || col("best") % 2 === 1, "allow")
          .otherwise("disallow").as("decision"))
  }

  private val oDiscoveryFrontier: String =
    """WITH d AS (SELECT doc_id, md5('u:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |c AS (SELECT doc_id,
      |        list_extract(['alpha','beta','gamma','delta'],
      |          1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 4 AS INT)) || '.' ||
      |        list_extract(['example','testsite'],
      |          1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 2 AS INT)) || '.' ||
      |        list_extract(['com','org','net','io'],
      |          1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 4 AS INT)) AS host,
      |        '/' || list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 4, 1))::BIGINT % 8 AS INT)) || '/' ||
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(m, 5, 1))::BIGINT % 8 AS INT)) ||
      |        CAST(doc_id % 100 AS VARCHAR) AS path
      |      FROM d),
      |u2 AS (SELECT doc_id, host,
      |         path || CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS upath
      |       FROM c),
      |fr AS (
      |  SELECT doc_id, host, upath, 'sitemap' AS source,
      |         (1767225600 + (doc_id % 28) * 86400)::BIGINT AS freshness FROM u2
      |  UNION ALL
      |  SELECT doc_id, host, upath,
      |         CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END,
      |         (1767225600
      |          + list_extract([0,31,59,90,120,151,181,212,243,273,304,334],
      |              1 + CAST(doc_id % 12 AS INT)) * 86400
      |          + (doc_id % 28) * 86400 + (doc_id % 24) * 3600 + (doc_id % 60) * 60
      |          - CASE doc_id % 4 WHEN 2 THEN 19800 WHEN 3 THEN -28800 ELSE 0 END)::BIGINT
      |  FROM u2),
      |hr AS (SELECT host, md5(host) AS hm FROM (SELECT DISTINCT host FROM c)),
      |w AS (SELECT host,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 1, 1))::BIGINT % 8 AS INT)) AS w1,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 2, 1))::BIGINT % 8 AS INT)) AS w2,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 3, 1))::BIGINT % 8 AS INT)) AS w3,
      |        list_extract(['data','files','api','docs','img','posts','user','item'],
      |          1 + CAST(('0x' || substr(hm, 4, 1))::BIGINT % 8 AS INT)) AS w4
      |      FROM hr),
      |rules AS (SELECT host, 0 AS af, '/' || w1 AS prefix FROM w
      |          UNION ALL SELECT host, 1, '/' || w1 || '/' || w2 FROM w
      |          UNION ALL SELECT host, 0, '/' || w3 || '/' || w4 FROM w),
      |mt AS (SELECT f.host, f.upath, f.source, f.freshness,
      |         max(len(r.prefix) * 2 + r.af) AS best
      |       FROM fr f LEFT JOIN rules r
      |         ON r.host = f.host AND starts_with(f.upath, r.prefix)
      |       GROUP BY f.host, f.upath, f.source, f.freshness)
      |SELECT host, 'https://' || host || upath AS url, source, freshness,
      |       CASE WHEN best IS NULL OR best % 2 = 1 THEN 'allow' ELSE 'disallow' END AS decision
      |FROM mt""".stripMargin

  /** The zstd-archive ingest path under the gate: documents packed into
    * 16 multi-frame `.zst` streams (per record a SKIPPABLE frame
    * carrying the doc id — the seekable-zstd metadata convention — then
    * a data frame; frames concatenated with no outer framing, exactly
    * the on-disk shape of concatenated zstd), then
    * [[graft.ext.Zstd.zstExtract]] demuxes on the frame-decode END
    * POSITION, pairs each id frame with its data frame, and verifies
    * every frame's content size and XXH64 checksum. The oracle rebuilds
    * the record table relationally — a slip in skippable-frame parsing,
    * frame demux, or any entropy stage fails the per-record checksum.
    */
  private val qZstExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Zstd.zstExtract(
      graft.ext.Zstd.encodeZstArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  /** The `.bz2` ingest path under the gate ([[graft.ext.Bzip2]] — the
    * Wikipedia-dump container): documents packed into 16 multi-stream
    * archives (one stream per record, the lbzip2 convention), then
    * demuxed back through the full from-scratch pipeline — Huffman
    * groups, MTF/RLE2, inverse BWT, RLE1, per-block and combined
    * CRC-32 — down to per-record integers the oracle recomputes from
    * source text. Any slip in any stage fails the per-record checksum;
    * a damaged archive quarantines whole. Same oracle shape as
    * `zst_extract`, so the two container families grade identically.
    */
  private val qBz2Extract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Bzip2.bz2Extract(
      graft.ext.Bzip2.encodeBz2Archives(table(s, dir, "documents"), nArchives = 16)).toDF()

  /** The LZMA round trip under the gate: [[graft.ext.Xz.compress]] —
    * the real greedy-LZMA encoder (range-coded chunks, rep0
    * continuation, raw fallback on expansion) — inverted by the full
    * from-scratch decoder per document, with the (-1,-1) sentinel
    * surfacing any broken stream. Oracle replays length + checksum
    * from source text.
    */
  private val qXzLzmaRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Xz.xzSignal(table(s, dir, "documents")).toDF()

  private val oXzLzmaRoundtrip: String = oDeflateRoundtrip

  /** The `.xz` ingest path under the gate ([[graft.ext.Xz]] — the last
    * classic corpus container): documents packed into 16 multistream
    * archives (one xz stream per record, 4-byte stream padding after
    * every other — the Wikimedia multistream convention), then demuxed
    * through the full from-scratch container stack — stream/block
    * header CRCs, LZMA2 chunk decode (the writer's uncompressed chunks
    * here; genuinely LZMA-coded streams are differentialed in XzSpec
    * against tukaani across presets, props, dict sizes and all four
    * check types), per-block CRC32 integrity check, index
    * cross-check, footer backward-size check. Damage quarantines the
    * archive whole; same oracle shape as `bz2_extract`/`zst_extract`.
    */
  private val qXzExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Xz.xzExtract(
      graft.ext.Xz.encodeXzArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oXzExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  private val oBz2Extract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  private val oZstExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** The dataset-bundle decode path under the gate: documents packed
    * into 16 genuine ZIP archives (EOCD + central directory + local
    * headers, methods cycling stored/fixed/dynamic DEFLATE, bit-3
    * data-descriptor entries in both legal spellings, skip-me extra
    * fields, variable-length archive comment), then fully re-parsed —
    * EOCD back-scan, CD walk, LFH cross-check, inflate, CRC-32/size
    * verify — down to per-entry integers the oracle recomputes straight
    * from the source text. The container framing never needs SQL replay;
    * any structural or decode slip fails the hash (see
    * [[graft.ext.Zip]]).
    */
  private val qZipExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Zip.zipExtract(Zip.encodeZipArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oZipExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** The tarball decode path under the gate: strictly conforming ustar
    * (octal fields, space-normalized header checksums, prefix-field deep
    * paths with interleaved directory entries the reader must skip, both
    * '0' and NUL file typeflags, two-zero-block terminator) re-parsed
    * block by block down to per-entry integers the oracle recomputes
    * from the source text (see [[graft.ext.Tar]]).
    */
  private val qTarExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Tar.tarExtract(Tar.encodeTarArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  /** `.tar.gz` as a composition gate: the gzip member walk (header
    * variants cycling per archive, stored/fixed/dynamic DEFLATE framing)
    * feeds the SAME tar parser — both layers must be bit-perfect for the
    * checksum to survive.
    */
  private val qTgzExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Tar.tgzExtract(Tar.encodeTarArchives(table(s, dir, "documents"), nArchives = 16, gzipped = true)).toDF()

  /** `.tar.xz` under the gate: the ustar parser composed over the full
    * xz container/LZMA2 stack — the modern dist-tarball layering, same
    * oracle as the plain/gzip tar keys so only the compression layer
    * differs between the three.
    */
  private val qTxzExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Tar.txzExtract(Tar.xzWrap(Tar.encodeTarArchives(table(s, dir, "documents"), nArchives = 16))).toDF()

  /** The `.tar.Z` ingest path under the gate ([[graft.ext.UnixCompress]]
    * — the PRE-gzip distribution container, still what the oldest
    * mirrors serve): per-archive tarballs wrapped by the from-scratch
    * compress(1) LZW encoder (width ladder 9→maxbits with the classic
    * code-group realign at every width change, CLEAR on table-full,
    * maxbits cycling 12..16 by archive), then demuxed back through the
    * from-scratch decoder (same realign, burned-slot arithmetic after
    * CLEAR) feeding the strict tar parser. Same oracle shape as
    * tgz/txz — the container is graded as transparent; damage
    * quarantines the archive whole.
    */
  private val qTazExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Tar.tazExtract(Tar.zWrap(Tar.encodeTarArchives(table(s, dir, "documents"), nArchives = 16))).toDF()

  /** The compress(1) round trip under the gate: per-document `.Z`
    * compress→decompress across maxbits 12..16, reduced to length +
    * checksum the oracle recomputes from source text; a broken stream
    * surfaces as the (-1,-1) sentinel.
    */
  private val qZRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.UnixCompress.zSignal(table(s, dir, "documents")).toDF()

  private val oTarExtract: String =
    """WITH d AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS archive_id, doc_id, hex(p) AS hx, octet_length(p) AS n,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
      |      FROM d)
      |SELECT archive_id::BIGINT AS archive_id, rec_idx::BIGINT AS rec_idx,
      |       doc_id::BIGINT AS rec_doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM r""".stripMargin

  /** The crawl pipeline's first transform under the gate: every
    * document rendered into a hostile HTML page (deterministic numeric
    * character references, quoted-'>' attributes, script/style/comment
    * decoys, mismatched-case tags) and re-extracted by the single-pass
    * state machine in [[graft.ext.Html]]; exact extraction recovers the
    * source text exactly, whose stats the oracle recomputes directly —
    * any tag-walk, RAWTEXT, or entity-decode slip fails the hash.
    */
  /** Main-content extraction under the gate ([[graft.ext.Boilerplate]])
    * — the curation step that separates prose from chrome. Pages carry
    * a nav bar, a short heading, 2–4 content paragraphs (one with an
    * inline link that must NOT flip it, one with a character
    * reference), an optional high-link-density related-links div
    * OUTSIDE any semantic tag (the link rule's test), an optional
    * aside, and a footer — plus the parser hazards (script/comment
    * decoys, quoted-'>' attribute, uppercase tags, `&nbsp;`). The
    * oracle rebuilds every block's rendered text closed-form and
    * replays all three label rules in integer space, then hashes the
    * text — so segmentation, entity decoding, whitespace collapse,
    * link counting, semantic nesting, and the decision table all sit
    * under one bitwise hash.
    */
  private val qContentExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Boilerplate.contentBlocks(Boilerplate.encodePages(table(s, dir, "documents"))).toDF()

  private val oContentExtract: String =
    """WITH d AS (SELECT doc_id, md5('bp:' || CAST(doc_id AS VARCHAR)) AS m
      |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |nb AS (SELECT doc_id, m,
      |         2 + ('0x' || substr(m, 4, 1))::BIGINT % 3 AS np,
      |         CASE WHEN ('0x' || substr(m, 21, 1))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS relp,
      |         CASE WHEN ('0x' || substr(m, 17, 1))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS asdp
      |       FROM d),
      |wt AS (SELECT ['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel'] AS ws),
      |blocks AS (
      |  SELECT doc_id, 0::BIGINT AS block_id, 'Home About News Contact' AS s,
      |         20::BIGINT AS lc, 'boilerplate' AS label
      |  FROM nb
      |  UNION ALL
      |  SELECT doc_id, 1,
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, 1, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, 2, 1))::BIGINT % 8 AS INT)) || ' ' ||
      |         list_extract(ws, 1 + CAST(('0x' || substr(m, 3, 1))::BIGINT % 8 AS INT)),
      |         0, 'boilerplate'
      |  FROM nb, wt
      |  UNION ALL
      |  SELECT doc_id, 2 + j,
      |         'id:' || CAST(doc_id AS VARCHAR) || ':p' || CAST(j AS VARCHAR) || ' ' ||
      |           wa || ' ' || wb || ' ' || wa || ' ' || wb || ' ' || wa || ' ' || wb ||
      |           CASE WHEN j = 0 AND doc_id % 4 = 1 THEN ' A&B' ELSE '' END,
      |         CASE WHEN j = 0 AND doc_id % 3 = 0 THEN len(wb) ELSE 0 END,
      |         'content'
      |  FROM (SELECT doc_id, np, j,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(5 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wa,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, CAST(9 + j AS INT), 1))::BIGINT % 8 AS INT)) AS wb
      |        FROM nb, wt, (SELECT unnest([0, 1, 2, 3]) AS j))
      |  WHERE j < np
      |  UNION ALL
      |  SELECT doc_id, 2 + np,
      |         'More: ' || r1 || ' ' || r2 || ' ' || r3,
      |         len(r1) + len(r2) + len(r3), 'boilerplate'
      |  FROM (SELECT doc_id, np, relp,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 22, 1))::BIGINT % 8 AS INT)) AS r1,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 23, 1))::BIGINT % 8 AS INT)) AS r2,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 24, 1))::BIGINT % 8 AS INT)) AS r3
      |        FROM nb, wt)
      |  WHERE relp = 1
      |  UNION ALL
      |  SELECT doc_id, 2 + np + relp,
      |         a1 || ' ' || a2 || ' ' || a3,
      |         len(a1) + len(a2) + len(a3), 'boilerplate'
      |  FROM (SELECT doc_id, np, relp, asdp,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 18, 1))::BIGINT % 8 AS INT)) AS a1,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 19, 1))::BIGINT % 8 AS INT)) AS a2,
      |          list_extract(ws, 1 + CAST(('0x' || substr(m, 20, 1))::BIGINT % 8 AS INT)) AS a3
      |        FROM nb, wt)
      |  WHERE asdp = 1
      |  UNION ALL
      |  SELECT doc_id, 2 + np + relp + asdp,
      |         '(c) 2026 example.com All rights reserved', 0, 'boilerplate'
      |  FROM nb),
      |h AS (SELECT doc_id, block_id, s, lc, label,
      |        hex(encode(s)) AS hx, octet_length(encode(s)) AS n FROM blocks)
      |SELECT doc_id, block_id::BIGINT AS block_id, n::BIGINT AS n_chars,
      |       lc::BIGINT AS n_link_chars, label,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS checksum
      |FROM h""".stripMargin

  private val qHtmlExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Html.htmlTextStats(Html.encodeHtmlDocs(table(s, dir, "documents"))).toDF()

  private val oHtmlExtract: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b)
      |SELECT doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM s""".stripMargin

  /** Crawl link extraction (Html.pageLinks over Html.encodeLinkedDocs):
    * every page carries 1–4 real anchors in rotating attribute spellings
    * plus the decoys a regex scraper trips over (anchors inside script
    * strings/comments, no-href and empty-href anchors); the extractor
    * must recover EXACTLY the planted set — absolute targets md5-derived
    * and rebuilt closed-form by the oracle, root-relative targets
    * resolved to the page's source host, `&amp;` decoded to `&`.
    */
  private val oLinkUniverse: String =
    """WITH d AS (SELECT doc_id FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |l AS (SELECT doc_id, unnest(range(1, CAST(doc_id % 4 AS BIGINT) + 2)) AS j FROM d),
      |u AS (SELECT doc_id, j,
      |        CASE WHEN j % 2 = 1
      |          THEN 'host' || CAST(('0x' || substr(md5('l:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1))::BIGINT % 16 AS VARCHAR) || '.example'
      |          ELSE 'src' || CAST(doc_id % 8 AS VARCHAR) || '.example' END AS host
      |      FROM l)""".stripMargin

  private val qLinkExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Html.pageLinks(Html.encodeLinkedDocs(table(s, dir, "documents"))).toDF()

  private val oLinkExtract: String =
    s"""$oLinkUniverse
       |SELECT doc_id, j AS link_idx,
       |       CASE WHEN j % 2 = 1
       |         THEN 'https://' || host || '/p/' || CAST(j AS VARCHAR) || '?a=1&b=2'
       |         ELSE 'https://' || host || '/r/' || CAST(j AS VARCHAR) END AS url,
       |       host
       |FROM u""".stripMargin

  /** Host-pair edge roll-up off the extracted links — the input shape the
    * pagerank/HITS family consumes. One hash aggregate on the pair.
    */
  private val qHostLinkEdges: (SparkSession, String) => DataFrame = (s, dir) =>
    Html.hostLinkEdges(Html.encodeLinkedDocs(table(s, dir, "documents")))

  private val oHostLinkEdges: String =
    s"""$oLinkUniverse
       |SELECT 'src' || CAST(doc_id % 8 AS VARCHAR) || '.example' AS src_host,
       |       host AS dst_host, count(*)::BIGINT AS n
       |FROM u GROUP BY 1, 2""".stripMargin

  /** Encoding hygiene under the gate: the full RFC 3629 UTF-8 validator
    * replayed BITWISE in SQL. The fold's whole state packs into one
    * non-negative BIGINT (expecting | constraint<<2 | invalid<<5 |
    * codepoints<<25 — see [[graft.ext.Encoding]]), so DuckDB's
    * `list_reduce` steps through the identical transition table:
    * continuation classes for E0/ED/F0/F4 (overlong, surrogate, and
    * plane-range guards), C0/C1 and F5..FF rejected as leads, truncated
    * tails counted. The fixture XORs one byte of every third doc with
    * 0xC0 (ASCII becomes an orphan continuation; a multi-byte lead
    * becomes ASCII and strands its tail), replayed positionally by the
    * oracle — the validator is graded on genuinely damaged bytes.
    */
  private val qUtf8Stats: (SparkSession, String) => DataFrame = (s, dir) =>
    Encoding.utf8Stats(Encoding.corruptBytes(
      Multimodal.attachBinary(table(s, dir, "documents"))
        .filter(col("doc_id").isNotNull && col("doc_id") >= 0 && col("payload").isNotNull))).toDF()

  private val oUtf8Stats: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b),
      |c AS (SELECT doc_id, n,
      |        list_transform(range(n), i ->
      |          CASE WHEN doc_id % 3 = 0 AND i = doc_id % n
      |               THEN xor(('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT, 192)
      |               ELSE ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT END) AS bs
      |      FROM s),
      |f AS (SELECT doc_id, n,
      |        list_reduce(list_prepend(0::BIGINT, bs), (s, b) ->
      |          CASE WHEN s % 4 = 0 THEN
      |            CASE WHEN b <= 127 THEN s + 33554432
      |                 WHEN b BETWEEN 194 AND 223 THEN s + 1
      |                 WHEN b = 224 THEN s + 6
      |                 WHEN (b BETWEEN 225 AND 236) OR b = 238 OR b = 239 THEN s + 2
      |                 WHEN b = 237 THEN s + 10
      |                 WHEN b = 240 THEN s + 15
      |                 WHEN b BETWEEN 241 AND 243 THEN s + 3
      |                 WHEN b = 244 THEN s + 19
      |                 ELSE s + 32 END
      |          ELSE
      |            CASE WHEN CASE (s // 4) % 8
      |                   WHEN 1 THEN b BETWEEN 160 AND 191
      |                   WHEN 2 THEN b BETWEEN 128 AND 159
      |                   WHEN 3 THEN b BETWEEN 144 AND 191
      |                   WHEN 4 THEN b BETWEEN 128 AND 143
      |                   ELSE b BETWEEN 128 AND 191 END
      |                 THEN s - 1 - 4 * ((s // 4) % 8) + CASE WHEN s % 4 = 1 THEN 33554432 ELSE 0 END
      |                 ELSE s - (s % 4) - 4 * ((s // 4) % 8) + 32 END
      |          END) AS fs
      |      FROM c),
      |g AS (SELECT doc_id, n,
      |        CASE WHEN fs % 4 <> 0 THEN fs - (fs % 4) - 4 * ((fs // 4) % 8) + 32 ELSE fs END AS fs2
      |      FROM f)
      |SELECT doc_id, n::BIGINT AS n_bytes,
      |       (fs2 // 33554432)::BIGINT AS n_codepoints,
      |       ((fs2 // 32) % 1048576)::BIGINT AS n_invalid,
      |       ((fs2 // 32) % 1048576) = 0 AS is_valid
      |FROM g""".stripMargin

  /** Charset detection + transcoding under the gate ([[graft.ext.Charset]]):
    * the WHATWG precedence chain (BOM > Content-Type header > `<meta>`
    * prescan > windows-1252 default, with ISO-8859-1→cp1252 label
    * aliasing) over a declaration-hazard fixture — per doc, md5 nibbles
    * pick an actual encoding (utf-8 / cp1252 / utf-8+BOM / utf-16le+BOM),
    * a declaration mode (correct header / meta-only / WRONG header /
    * undeclared / header-vs-meta conflict) and a non-ASCII snippet.
    * The oracle replays the identical picks and joins a closed-form
    * 160-row expected-outcome table whose decoded strings were computed
    * with the JDK's decoders (an implementation INDEPENDENT of the
    * from-scratch WHATWG decoders being graded), then hashes the decoded
    * UTF-8 bytes positionally — so a slip in precedence, aliasing, BOM
    * stripping, or replacement-character semantics fails bitwise.
    */
  private val qCharsetDecode: (SparkSession, String) => DataFrame = (s, dir) =>
    Charset.charsetSignal(Charset.encodeCharsetDocs(table(s, dir, "documents"))).toDF()

  /** The charset expected-outcome CTE chain (shared by the standalone
    * gate and the seven-layer crawl composition): per-doc md5 picks
    * joined to the JDK-computed 160-combo table, reduced to the decoded
    * text's hex image. Ends with `h(doc_id, detected, source, hx, n)`.
    */
  private def charsetOracleCtes: String = {
    def esc(s: String) = s.replace("'", "''")
    val rows = Charset.oracleCombos.map { case (a, d, p, prefix, piece, detected, source) =>
      s"($a, $d, $p, '${esc(prefix)}', '${esc(piece)}', '$detected', '$source')"
    }.mkString(",\n      |    ")
    s"""d0 AS (SELECT doc_id FROM documents
       |            WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
       |q AS (SELECT doc_id,
       |        ('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT % 4 AS a,
       |        ('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)), 2, 1))::BIGINT % 5 AS d,
       |        ('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)), 3, 1))::BIGINT % 8 AS p
       |      FROM d0),
       |t AS (SELECT * FROM (VALUES
       |    $rows) v(a, d, p, prefix, piece, detected, source)),
       |j AS (SELECT q.doc_id, t.prefix || 'id:' || CAST(q.doc_id AS VARCHAR) || ':' || t.piece AS dec,
       |             t.detected, t.source
       |      FROM q JOIN t ON t.a = q.a AND t.d = q.d AND t.p = q.p),
       |h AS (SELECT doc_id, detected, source, hex(encode(dec)) AS hx,
       |             octet_length(encode(dec)) AS n FROM j)""".stripMargin
  }

  private val oCharsetDecode: String =
    s"""WITH $charsetOracleCtes
       |SELECT doc_id, detected, source, n::BIGINT AS n_bytes_out,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (s, b) -> (s * 31 + b) % 1000000007)::BIGINT AS checksum
       |FROM h""".stripMargin

  /** The crawl stack's TEXT-PLANE capstone ([[graft.ext.Archives.warcHttpCharsetExtract]]):
    * SEVEN layers under one bitwise hash — gzip member framing, WARC
    * record parse, HTTP de-framing (chunked or Content-Length),
    * RFC 9110 content-coding decode (identity/gzip/deflate/br — the br
    * arm through the REAL q1 encoder), WHATWG charset precedence (the
    * HTTP Content-Type is the transport tier; BOM and meta prescan read
    * the decoded payload), transcoding to canonical UTF-8, and the
    * positional checksum. The body recipe is the SAME declaration-hazard
    * fixture as `charset_decode` ([[graft.ext.Charset.fixtureRecord]]),
    * so the standalone and composed gates grade identical semantics —
    * a regression in any layer, or in how the layers hand off, fails
    * exactly one of them and localizes itself.
    */
  private val qCrawlCharsetPipeline: (SparkSession, String) => DataFrame = (s, dir) =>
    Archives.warcHttpCharsetExtract(
      Archives.encodeWarcHttpCharsetArchives(table(s, dir, "documents"), nArchives = 16)).toDF()

  private val oCrawlCharsetPipeline: String =
    s"""WITH $charsetOracleCtes,
       |r AS (SELECT doc_id, doc_id % 16 AS archive_id,
       |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS rec_idx
       |      FROM d0)
       |SELECT r.archive_id::BIGINT AS archive_id, r.rec_idx::BIGINT AS rec_idx,
       |       r.doc_id AS rec_doc_id, h.detected, h.source, h.n::BIGINT AS n_bytes_out,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(h.n), i ->
       |         ('0x' || substr(h.hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (s, b) -> (s * 31 + b) % 1000000007)::BIGINT AS checksum
       |FROM r JOIN h ON h.doc_id = r.doc_id""".stripMargin

  /** Link-graph authority under the gate: 10 rounds of fixed-point
    * integer PageRank over the deterministic host graph (one link per
    * doc, `doc_id % 64 -> md5(doc_id) % 64`). Integer floor divisions
    * and order-free BIGINT sums make every iteration bit-identical
    * across engines and partitionings — the oracle UNROLLS all ten
    * rounds as chained CTEs replaying the exact recurrence, so a slip
    * in out-degree weighting, damping arithmetic, or the iteration
    * count itself fails the hash ([[graft.ext.Graph]] documents the
    * fixed-point-vs-float design argument).
    */
  private val qHostPagerank: (SparkSession, String) => DataFrame = (s, dir) =>
    Graph.pagerank(Graph.hostEdges(table(s, dir, "documents")))
      .select(col("h").as("host"), col("pr"))

  private val oHostPagerank: String = {
    val scale = 1000000000000L
    val iters = (1 to 10).map { k =>
      s"""p$k AS (SELECT n.h, (15 * $scale) // (100 * (SELECT cnt FROM nc))
         |         + (85 * coalesce(s.inc, 0)) // 100 AS pr
         |       FROM nodes n LEFT JOIN (
         |         SELECT e.dst AS h, sum(e.w * (p.pr // o.od)) AS inc
         |         FROM e JOIN p${k - 1} p ON p.h = e.src JOIN outd o ON o.src = e.src
         |         GROUP BY e.dst) s ON s.h = n.h)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM d),
       |e AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS w FROM e0 WHERE src <> dst GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS h FROM e UNION SELECT DISTINCT dst FROM e),
       |nc AS MATERIALIZED (SELECT count(*)::BIGINT AS cnt FROM nodes),
       |outd AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS od FROM e GROUP BY 1),
       |p0 AS (SELECT h, $scale // (SELECT cnt FROM nc) AS pr FROM nodes),
       |$iters
       |SELECT h AS host, pr::BIGINT AS pr FROM p10""".stripMargin
  }

  /** HITS over the same host graph — the mutual-reinforcement companion
    * gate to `host_pagerank`: 8 rounds of auth-from-hubs / hubs-from-auth
    * with per-round integer rescaling to Σ = 10^6 (one floor division
    * per node), all order-free BIGINT arithmetic, oracle-unrolled as
    * chained CTEs with the round's Σ as a scalar subquery. Scores for
    * BOTH roles are emitted, so a transposed join direction (the classic
    * HITS bug) fails the hash immediately.
    */
  private val qHostHits: (SparkSession, String) => DataFrame = (s, dir) =>
    Graph.hits(Graph.hostEdges(table(s, dir, "documents")))
      .select(col("h").as("host"), col("hub"), col("auth"))

  private val oHostHits: String = {
    val scale = 1000000L
    // MATERIALIZED is load-bearing: each round's rescale reads its raw
    // relation twice (scalar-sum subquery + projection), so inlined CTEs
    // would re-expand the whole chain per reference — 2^iterations scans
    val iters = (1 to 8).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT n.h, coalesce(s.v, 0) AS v FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS h, sum(e.w * p.v) AS v FROM e JOIN h${k - 1} p ON p.h = e.src
         |    GROUP BY e.dst) s ON s.h = n.h),
         |a$k AS MATERIALIZED (SELECT h, (v * $scale) // (SELECT sum(v) FROM ar$k) AS v FROM ar$k),
         |hr$k AS MATERIALIZED (SELECT n.h, coalesce(s.v, 0) AS v FROM nodes n LEFT JOIN (
         |    SELECT e.src AS h, sum(e.w * p.v) AS v FROM e JOIN a$k p ON p.h = e.dst
         |    GROUP BY e.src) s ON s.h = n.h),
         |h$k AS MATERIALIZED (SELECT h, (v * $scale) // (SELECT sum(v) FROM hr$k) AS v FROM hr$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM d),
       |e AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS w FROM e0 WHERE src <> dst GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS h FROM e UNION SELECT DISTINCT dst FROM e),
       |h0 AS MATERIALIZED (SELECT h, ${scale}::BIGINT AS v FROM nodes),
       |$iters
       |SELECT h8.h AS host, h8.v::BIGINT AS hub, a8.v::BIGINT AS auth
       |FROM h8 JOIN a8 ON a8.h = h8.h""".stripMargin
  }

  /** Per-host triangle counts + local clustering coefficient over the
    * host graph — the community-vs-link-farm signal next to PageRank
    * and HITS. The Spark side runs degree-ordered-orientation wedge
    * enumeration (each triangle found exactly once at its lowest-order
    * vertex, oriented out-degree bounded by O(√m)); the oracle replays
    * the SAME orientation in SQL, so a double-counted wedge, a
    * transposed closing-edge probe, or a tie-break slip in the
    * `(degree, node)` order fails the hash. All-integer until the one
    * final IEEE division (`2·tri / (deg·(deg−1))`) on exact counts —
    * bitwise portable.
    */
  private val qHostTriangles: (SparkSession, String) => DataFrame = (s, dir) =>
    Graph.triangles(Graph.hostEdges(table(s, dir, "documents")))

  private val oHostTriangles: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
      |e0 AS (SELECT doc_id % 64 AS src,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
      |       FROM d),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |       FROM e0 WHERE src <> dst),
      |deg AS MATERIALIZED (SELECT h, count(*)::BIGINT AS deg FROM (
      |         SELECT u AS h FROM und UNION ALL SELECT v FROM und) t GROUP BY 1),
      |o AS MATERIALIZED (
      |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS a,
      |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS b,
      |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN dv.deg ELSE du.deg END AS db
      |  FROM und JOIN deg du ON du.h = und.u JOIN deg dv ON dv.h = und.v),
      |tri AS (SELECT x.a AS ta, x.b AS tb, y.b AS tc
      |        FROM o x JOIN o y ON x.a = y.a AND (x.db < y.db OR (x.db = y.db AND x.b < y.b))
      |        JOIN o z ON z.a = x.b AND z.b = y.b),
      |tc AS (SELECT h, count(*)::BIGINT AS tri FROM (
      |         SELECT ta AS h FROM tri UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri) t
      |       GROUP BY 1)
      |SELECT deg.h AS host, deg.deg, coalesce(tc.tri, 0)::BIGINT AS tri,
      |       CASE WHEN deg.deg < 2 THEN 0.0::DOUBLE
      |            ELSE 2.0 * coalesce(tc.tri, 0) / (deg.deg * (deg.deg - 1)) END AS lcc
      |FROM deg LEFT JOIN tc ON tc.h = deg.h""".stripMargin

  /** Multi-source BFS crawl distance over the host graph — seeds are the
    * whitelist hosts `h % 16 = 0`, 8 fixed synchronous rounds of the
    * BIGINT min/plus recurrence ([[graft.ext.Graph.bfs]]). The oracle
    * UNROLLS all 8 rounds as chained CTEs replaying the exact
    * `least(d, min(in-depth)+1)` step with the same 2^30 unreached
    * sentinel, so a transposed edge direction, an off-by-one hop, a
    * wrong sentinel comparison, or a dropped round fails the hash.
    */
  private val qHostBfs: (SparkSession, String) => DataFrame = (s, dir) => {
    val edges = Graph.hostEdges(table(s, dir, "documents"))
    val seeds = edges.select(col("src").as("h")).union(edges.select(col("dst").as("h")))
      .distinct().filter(col("h") % 16 === 0)
    Graph.bfs(edges, seeds, rounds = 8)
  }

  private val oHostBfs: String = {
    val inf = Graph.Unreached
    val iters = (1 to 8).map { k =>
      s"""d$k AS MATERIALIZED (SELECT n.h, least(n.d, coalesce(m.c, $inf)) AS d
         |  FROM d${k - 1} n LEFT JOIN (
         |    SELECT e.dst AS h, min(p.d) + 1 AS c FROM e JOIN d${k - 1} p ON p.h = e.src
         |    GROUP BY e.dst) m ON m.h = n.h)""".stripMargin
    }.mkString(",\n")
    s"""WITH dd AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM dd),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS h FROM e UNION SELECT DISTINCT dst FROM e),
       |d0 AS (SELECT h, CASE WHEN h % 16 = 0 THEN 0 ELSE $inf END AS d FROM nodes),
       |$iters
       |SELECT h AS host,
       |       (CASE WHEN d >= $inf THEN NULL ELSE d END)::BIGINT AS depth FROM d8""".stripMargin
  }

  /** Bounded k-core peel (k = 10, 8 rounds) over the undirected host
    * graph — the link-robustness companion to `host_triangles`
    * ([[graft.ext.Graph.kcore]]). The oracle unrolls every peel round
    * (degree count -> survivor filter -> edge restriction) as chained
    * CTEs plus the final survivor degree read-out, so a missed cascade
    * round, a directed-degree slip, or an off-by-one in the >= k
    * threshold fails the hash. GraphSpec asserts the fixture settles
    * inside the 8-round budget, so the bounded result IS the k-core.
    */
  private val qHostKcore: (SparkSession, String) => DataFrame = (s, dir) =>
    Graph.kcore(Graph.hostEdges(table(s, dir, "documents")), k = 10, rounds = 8)

  private val oHostKcore: String = {
    val k = 10
    val iters = (1 to 8).map { r =>
      s"""a$r AS MATERIALIZED (SELECT h FROM (
         |    SELECT u AS h FROM u${r - 1} UNION ALL SELECT v FROM u${r - 1}) t
         |  GROUP BY h HAVING count(*) >= $k),
         |u$r AS MATERIALIZED (SELECT u${r - 1}.u, u${r - 1}.v FROM u${r - 1}
         |  JOIN a$r x ON x.h = u${r - 1}.u JOIN a$r y ON y.h = u${r - 1}.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH dd AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM dd),
       |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM e0 WHERE src <> dst),
       |$iters
       |SELECT h AS host, count(*)::BIGINT AS core_deg FROM (
       |  SELECT u AS h FROM u8 UNION ALL SELECT v FROM u8) t
       |GROUP BY h HAVING count(*) >= $k""".stripMargin
  }

  /** Multi-pass SNM edit-distance pairs ([[graft.ext.Dedup
    * .editDistancePairsMultiPass]]): forward-text + reversed-text sort
    * passes, candidate union deduped before the kernel — the
    * Hernández–Stolfo recall completion of `edit_distance_pairs`,
    * still window·N linear. The oracle replays both rankings, the
    * UNION dedup, and the kernel via a join back to the gated base.
    */
  private val qEditDistancePairsMp: (SparkSession, String) => DataFrame = (s, dir) =>
    // window 8 per pass: two passes share the SAME total candidate budget
    // as the single-pass key's window 16 (budget parity — the comparison
    // the two keys invite is recall per candidate, not recall per pass)
    Dedup.editDistancePairsMultiPass(table(s, dir, "documents"), maxDist = 64, window = 8)

  private val oEditDistancePairsMp: String =
    """WITH b AS (SELECT doc_id, text, lang FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
      |             AND octet_length(text::BLOB) = len(text)),
      |r1 AS (SELECT doc_id, text, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY len(text), text, doc_id) AS rn
      |       FROM b),
      |r2 AS (SELECT doc_id, text, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY len(text), reverse(text), doc_id) AS rn
      |       FROM b),
      |c AS (SELECT least(a.doc_id, z.doc_id) AS id_a, greatest(a.doc_id, z.doc_id) AS id_b
      |      FROM r1 a JOIN r1 z ON a.lang = z.lang AND z.rn > a.rn AND z.rn <= a.rn + 8
      |      UNION
      |      SELECT least(a.doc_id, z.doc_id), greatest(a.doc_id, z.doc_id)
      |      FROM r2 a JOIN r2 z ON a.lang = z.lang AND z.rn > a.rn AND z.rn <= a.rn + 8),
      |p AS (SELECT c.id_a, c.id_b, levenshtein(x.text, y.text) AS dist
      |      FROM c JOIN b x ON x.doc_id = c.id_a JOIN b y ON y.doc_id = c.id_b)
      |SELECT id_a, id_b, dist::BIGINT AS dist FROM p WHERE dist <= 64""".stripMargin

  /** Three-pass SNM edit-distance pairs ([[graft.ext.Dedup
    * .editDistancePairsPhonetic]]): the Hernández–Stolfo multi-pass
    * completion — forward + reversed + per-token-Soundex sort keys —
    * catching sound-alike typos ("smyth") that break BOTH
    * lexicographic orderings. Window 8 per pass, so passes 1–2 equal
    * `edit_distance_pairs_mp`'s and the result supersets it by
    * construction. The oracle replays all three rankings (the phonetic
    * key as the `soundex_keys` SQL fold applied per token), the UNION
    * dedup, and the kernel.
    */
  private val qEditDistancePairs3p: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.editDistancePairsPhonetic(table(s, dir, "documents"), maxDist = 64, window = 8)

  private val oEditDistancePairs3p: String = {
    def codeCase(c: String): String =
      s"""CASE WHEN list_contains(['b','f','p','v'], $c) THEN '1'
         | WHEN list_contains(['c','g','j','k','q','s','x','z'], $c) THEN '2'
         | WHEN list_contains(['d','t'], $c) THEN '3'
         | WHEN $c = 'l' THEN '4'
         | WHEN list_contains(['m','n'], $c) THEN '5'
         | WHEN $c = 'r' THEN '6'
         | WHEN list_contains(['a','e','i','o','u','y'], $c) THEN '0'
         | ELSE '-' END""".stripMargin
    // per-token NARA Soundex as a nested lambda: init acc = '|' || code of
    // the first char; fold the remaining chars with the soundex_keys fold
    val sdx =
      s"""substr(w, 1, 1) || substr(split_part(
         |  list_reduce(
         |    list_prepend('|' || (${codeCase("substr(w, 1, 1)")}),
         |      list_transform(list_transform(range(2, length(w) + 1),
         |        i -> substr(w, i, 1)), c -> ${codeCase("c")})),
         |    (acc, k) -> CASE
         |      WHEN k = '-' THEN acc
         |      WHEN k = '0' THEN split_part(acc, '|', 1) || '|0'
         |      WHEN k = split_part(acc, '|', 2) THEN acc
         |      ELSE (split_part(acc, '|', 1) || k) || ('|' || k) END),
         |  '|', 1) || '000', 1, 3)""".stripMargin
    s"""WITH b AS (SELECT doc_id, text, lang FROM documents
       |           WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
       |             AND octet_length(text::BLOB) = len(text)),
       |pk AS (SELECT doc_id, text, lang,
       |         array_to_string(list_transform(
       |           list_filter(string_split($normSql, ' '), w -> w <> ''),
       |           w -> $sdx), ' ') AS ph
       |       FROM b),
       |r1 AS (SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY len(text), text, doc_id) AS rn
       |       FROM b),
       |r2 AS (SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY len(text), reverse(text), doc_id) AS rn
       |       FROM b),
       |r3 AS (SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY len(ph), ph, doc_id) AS rn
       |       FROM pk),
       |c AS (SELECT least(a.doc_id, z.doc_id) AS id_a, greatest(a.doc_id, z.doc_id) AS id_b
       |      FROM r1 a JOIN r1 z ON a.lang = z.lang AND z.rn > a.rn AND z.rn <= a.rn + 8
       |      UNION
       |      SELECT least(a.doc_id, z.doc_id), greatest(a.doc_id, z.doc_id)
       |      FROM r2 a JOIN r2 z ON a.lang = z.lang AND z.rn > a.rn AND z.rn <= a.rn + 8
       |      UNION
       |      SELECT least(a.doc_id, z.doc_id), greatest(a.doc_id, z.doc_id)
       |      FROM r3 a JOIN r3 z ON a.lang = z.lang AND z.rn > a.rn AND z.rn <= a.rn + 8),
       |p AS (SELECT c.id_a, c.id_b, levenshtein(x.text, y.text) AS dist
       |      FROM c JOIN b x ON x.doc_id = c.id_a JOIN b y ON y.doc_id = c.id_b)
       |SELECT id_a, id_b, dist::BIGINT AS dist FROM p WHERE dist <= 64""".stripMargin
  }

  /** Synchronous label-propagation communities (8 rounds) over the
    * undirected host graph ([[graft.ext.Graph.lpa]]) — the community
    * assignment companion to `dedup_clusters`' connected components:
    * LPA separates densely-linked groups INSIDE one component. The
    * oracle unrolls every round as chained CTEs — neighbor-label count,
    * then the (count DESC, label ASC) argmax via a window row_number —
    * so a self-vote, an asynchronous update leak, a transposed
    * neighbor relation, or a tie broken toward the larger label fails
    * the hash. All-integer, order-free, bitwise on any engine.
    */
  private val qHostCommunities: (SparkSession, String) => DataFrame = (s, dir) =>
    Graph.lpa(Graph.hostEdges(table(s, dir, "documents")), rounds = 8)

  private val oHostCommunities: String = {
    val iters = (1 to 8).map { r =>
      s"""c$r AS (SELECT nb.h, l.lbl, count(*) AS cnt
         |  FROM nb JOIN l${r - 1} l ON l.h = nb.nbr GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT h, lbl FROM (
         |  SELECT h, lbl, row_number() OVER (PARTITION BY h ORDER BY cnt DESC, lbl ASC) AS rn
         |  FROM c$r) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH dd AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM dd),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM e0 WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT u AS h, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
       |l0 AS MATERIALIZED (SELECT DISTINCT h, h AS lbl FROM nb),
       |$iters
       |SELECT h AS host, lbl AS community FROM l8""".stripMargin
  }

  /** Sorted-neighborhood exact edit-distance pairs ([[graft.ext.Dedup
    * .editDistancePairs]]): per-language `(length, text, id)` rank —
    * computed distributively, no Window node — window-16 neighbor
    * pairing, banded levenshtein kernel at maxDist 64. The oracle
    * replays the ranking (as the window form, bitwise-equal to the
    * partition-offset rank), the neighbor join (including the ASCII
    * gate), and recomputes every surviving pair with DuckDB's own
    * levenshtein — byte-based, which equals Spark's codepoint distance
    * exactly on the ASCII-gated input — so a wrong rank, a leaked
    * non-ASCII doc, a threshold off-by-one, or a banded-kernel bug in
    * the −1 cutoff all fail the hash.
    */
  private val qEditDistancePairs: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.editDistancePairs(table(s, dir, "documents"), maxDist = 64, window = 16)

  private val oEditDistancePairs: String =
    """WITH b AS (SELECT doc_id, text, lang FROM documents
      |           WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
      |             AND octet_length(text::BLOB) = len(text)),
      |r AS (SELECT doc_id, text, lang,
      |        row_number() OVER (PARTITION BY lang ORDER BY len(text), text, doc_id) AS rn
      |      FROM b),
      |p AS (SELECT least(a.doc_id, c.doc_id) AS id_a, greatest(a.doc_id, c.doc_id) AS id_b,
      |        levenshtein(a.text, c.text) AS dist
      |      FROM r a JOIN r c ON a.lang = c.lang AND c.rn > a.rn AND c.rn <= a.rn + 16)
      |SELECT id_a, id_b, dist::BIGINT AS dist FROM p WHERE dist <= 64""".stripMargin

  /** Histogram selectivity estimation ([[graft.plans.Selectivity
    * .estimate]]): the V-opt histogram of l_quantity answering four
    * `<= V` range probes by full-bucket sums + floor-pinned
    * uniform-within-bucket interpolation, graded next to the exact
    * counts. The oracle replays the frequency relation, the full DP
    * (the vopt CTE pattern over the value domain), the bucket bounds,
    * and both the estimate CASE-sum and the exact counts.
    */
  private val qSelectivityEst: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.plans.Selectivity.estimate(table(s, dir, "lineitem"), "l_quantity",
      probes = Seq(500L, 1300L, 2700L, 4100L))

  private val oSelectivityEst: String = {
    def dplevel(b: Int) =
      s"""dp$b AS (SELECT i, p, q, v, j FROM (
         |  SELECT i.t AS i, i.p, i.q,
         |         (d.v + ((i.t - d.i) * (i.q - d.q) - (i.p - d.p) * (i.p - d.p)))::BIGINT AS v,
         |         d.i AS j,
         |         row_number() OVER (PARTITION BY i.t
         |           ORDER BY (d.v + ((i.t - d.i) * (i.q - d.q) - (i.p - d.p) * (i.p - d.p))) ASC, d.i ASC) AS rn
         |  FROM pre i JOIN dp${b - 1} d ON d.i < i.t AND d.i >= ${b - 1}) z WHERE rn = 1)""".stripMargin
    s"""WITH fr AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS val, count(*)::BIGINT AS f
       |        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
       |r0 AS (SELECT val, f, row_number() OVER (ORDER BY val) AS t FROM fr),
       |r AS (SELECT * FROM r0 WHERE t <= 4096),
       |nn AS (SELECT max(t) AS n FROM r),
       |pre AS (SELECT t, val, f,
       |        sum(f) OVER (ORDER BY t)::BIGINT AS p,
       |        sum(f * f) OVER (ORDER BY t)::BIGINT AS q
       |        FROM r),
       |dp1 AS (SELECT t AS i, p, q, (t * q - p * p)::BIGINT AS v FROM pre),
       |${dplevel(2)},
       |${dplevel(3)},
       |${dplevel(4)},
       |bounds AS (SELECT nn.n AS e4, d4.j AS e3, d3.j AS e2, d2.j AS e1
       |  FROM nn JOIN dp4 d4 ON d4.i = nn.n JOIN dp3 d3 ON d3.i = d4.j JOIN dp2 d2 ON d2.i = d3.j),
       |bk0 AS (SELECT 1 AS bkt, 1 AS ts, e1 AS te FROM bounds
       |  UNION ALL SELECT 2, e1 + 1, e2 FROM bounds
       |  UNION ALL SELECT 3, e2 + 1, e3 FROM bounds
       |  UNION ALL SELECT 4, e3 + 1, e4 FROM bounds),
       |bk AS (SELECT bk0.bkt, lo.val AS v_lo, hi.val AS v_hi,
       |         (ph.p - coalesce(pl.p, 0))::BIGINT AS f_total
       |       FROM bk0
       |       JOIN pre lo ON lo.t = bk0.ts JOIN pre hi ON hi.t = bk0.te
       |       JOIN pre ph ON ph.t = bk0.te LEFT JOIN pre pl ON pl.t = bk0.ts - 1),
       |probes(v_cut) AS (VALUES (500::BIGINT), (1300::BIGINT), (2700::BIGINT), (4100::BIGINT)),
       |est AS (SELECT pr.v_cut,
       |         sum(CASE WHEN bk.v_hi <= pr.v_cut THEN bk.f_total
       |                  WHEN bk.v_lo > pr.v_cut THEN 0
       |                  ELSE (bk.f_total * (pr.v_cut - bk.v_lo + 1)) // (bk.v_hi - bk.v_lo + 1) END)::BIGINT AS est_rows
       |        FROM probes pr CROSS JOIN bk GROUP BY 1),
       |ex AS (SELECT pr.v_cut, coalesce(sum(CASE WHEN fr.val <= pr.v_cut THEN fr.f ELSE 0 END), 0)::BIGINT AS exact_rows
       |        FROM probes pr CROSS JOIN fr GROUP BY 1)
       |SELECT est.v_cut, est.est_rows, ex.exact_rows,
       |       (est.est_rows - ex.exact_rows)::BIGINT AS err
       |FROM est JOIN ex ON ex.v_cut = est.v_cut""".stripMargin
  }

  /** System R join-order enumeration ([[graft.plans.JoinOrder
    * .enumerate]]): all 8 connected left-deep orders of the
    * nation–customer–orders–lineitem chain, costed with the Selinger
    * C_out model over EXACT data-derived statistics (counts + distinct
    * join keys), floor-division order pinned. The oracle recomputes the
    * stats in SQL and replays every order's cost expression — generated
    * from the SAME `stepPlan` the operator costs with, so the two
    * cannot drift — and a transposed denominator, a missed order, or a
    * re-associated floor fails rows/hash.
    */
  private val qJoinOrderDp: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.plans.JoinOrder.enumerate(s, Map(
      "nation" -> table(s, dir, "nation"), "customer" -> table(s, dir, "customer"),
      "orders" -> table(s, dir, "orders"), "lineitem" -> table(s, dir, "lineitem")))

  private val oJoinOrderDp: String = {
    import graft.plans.{JoinOrder => J}
    val pfx = Map("nation" -> "n", "customer" -> "c", "orders" -> "o", "lineitem" -> "l")
    val cards = J.Relations.map(r => s"(SELECT count(*) FROM $r) AS c_$r").mkString(",\n|  ")
    val dists = J.DistinctStats.map { case (r, k) =>
      s"(SELECT count(DISTINCT ${pfx(r)}_$k) FROM $r) AS d_${r}_$k"
    }.mkString(",\n|  ")
    val arms = J.ConnectedOrders.map { ord =>
      var est = s"c_${ord.head}"
      val costs = J.stepPlan(ord).map { case (r, anchor, k) =>
        est = s"(($est * c_$r) // greatest(d_${anchor}_$k, d_${r}_$k))"
        est
      }
      val name = ord.map(pfx).mkString(".")
      s"SELECT '$name' AS ord, (${costs.mkString(" + ")})::BIGINT AS est_cost, $est::BIGINT AS est_rows FROM s"
    }.mkString("\n|UNION ALL ")
    s"""WITH s AS (SELECT
       |  $cards,
       |  $dists)
       |$arms""".stripMargin
  }

  /** Greedy max-coverage selection ([[graft.ext.Coverage.greedySelect]],
    * k = 8): submodular data curation over distinct word bigrams. The
    * oracle unrolls every greedy round as MATERIALIZED CTE levels —
    * covered-set, marginal-gain aggregate, (gain DESC, id ASC) argmax —
    * so a drifted marginal count, a tie toward the larger id, or a
    * round that double-counts covered grams fails rows/hash.
    */
  private val qCoverageSelect: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Coverage.greedySelect(table(s, dir, "documents"), k = 8)

  private val oCoverageSelect: String = {
    val k = 8
    val rounds = (1 to k).map { r =>
      if (r == 1)
        s"""m1 AS MATERIALIZED (SELECT g.doc_id AS d, count(*) AS marg FROM g GROUP BY 1),
           |s1 AS MATERIALIZED (SELECT d, marg FROM (
           |  SELECT d, marg, row_number() OVER (ORDER BY marg DESC, d ASC) AS rn FROM m1) z
           |  WHERE rn = 1)""".stripMargin
      else {
        val selset = "(" + (1 until r).map(i => s"(SELECT d FROM s$i)").mkString(", ") + ")"
        s"""cov${r - 1} AS MATERIALIZED (SELECT DISTINCT gr FROM g WHERE doc_id IN $selset),
           |m$r AS MATERIALIZED (SELECT g.doc_id AS d, count(*) AS marg FROM g
           |  WHERE g.doc_id NOT IN $selset AND g.gr NOT IN (SELECT gr FROM cov${r - 1})
           |  GROUP BY 1),
           |s$r AS MATERIALIZED (SELECT d, marg FROM (
           |  SELECT d, marg, row_number() OVER (ORDER BY marg DESC, d ASC) AS rn FROM m$r) z
           |  WHERE rn = 1)""".stripMargin
      }
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT $r::BIGINT AS rank, d AS doc_id, marg::BIGINT AS marginal_gain FROM s$r")
      .mkString("\n UNION ALL ")
    s"""WITH w0 AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |         WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |g AS MATERIALIZED (SELECT DISTINCT doc_id,
       |      unnest(list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))) AS gr
       |    FROM w0 WHERE len(w) >= 2),
       |$rounds
       |$out""".stripMargin
  }

  /** Grid DBSCAN ([[graft.ext.Density.gridDbscan]]): density clustering
    * of the (hour-of-week, value-band) event grid — dense cells (>= 8
    * points) cluster by 8-connectivity, sparse cells are NOISE (NULL).
    * The oracle replays the grid, the density cut, the adjacency edges,
    * and a recursive reachability closure with min-cell labels, so a
    * wrong neighbor offset, a density off-by-one, or a dropped isolated
    * dense cell fails the hash.
    */
  private val qGridDbscan: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Density.gridDbscan(
      table(s, dir, "events").filter(col("value") >= 0),
      xExpr = "(ts DIV 1000000 DIV 3600000) % 168",
      yExpr = "CAST(round(value * 100) AS LONG) DIV 500",
      minPts = 8L)

  private val oGridDbscan: String =
    """WITH RECURSIVE c AS (
      |  SELECT (epoch_ms(ts) // 3600000) % 168 AS cx,
      |         CAST(round(value * 100) AS BIGINT) // 500 AS cy, count(*)::BIGINT AS n_points
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND value >= 0
      |  GROUP BY 1, 2),
      |cc AS (SELECT *, cx * 4000000 + (cy + 1000000) AS cell FROM c
      |       WHERE cx >= 0 AND abs(cy) < 1000000),
      |dense AS (SELECT * FROM cc WHERE n_points >= 8),
      |e0 AS (SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b
      |       ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.cell < b.cell),
      |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach AS (SELECT src AS id, src AS r FROM sym
      |          UNION SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      |comp AS (SELECT id AS cell, min(r) AS comp FROM reach GROUP BY 1)
      |SELECT cc.cx, cc.cy, cc.n_points,
      |       CASE WHEN d.cell IS NULL THEN NULL
      |            ELSE coalesce(comp.comp, d.cell) END AS cluster
      |FROM cc LEFT JOIN dense d ON d.cell = cc.cell
      |LEFT JOIN comp ON comp.cell = cc.cell""".stripMargin

  /** Rendezvous shard assignment ([[graft.plans.ScaleOps
    * .rendezvousShards]], n = 16): per-key argmax over md5 weights for
    * 16 and 17 shards — the elastic-repartitioning contract (moved keys
    * land ONLY on the new shard, expected churn 1/17) is pinned in
    * ScaleOpsSpec; the oracle replays the identical hex-string argmax.
    */
  private val qRendezvousShards: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.plans.ScaleOps.rendezvousShards(table(s, dir, "documents"), "doc_id", 16)

  private val oRendezvousShards: String = {
    def w(k: Int) = (0 until k).map(s => s"md5(id::VARCHAR || '#$s')").mkString("[", ", ", "]")
    s"""WITH ids AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id IS NOT NULL),
       |x AS (SELECT id,
       |        (list_position(${w(16)}, list_max(${w(16)})) - 1)::BIGINT AS shard,
       |        (list_position(${w(17)}, list_max(${w(17)})) - 1)::BIGINT AS shard_next
       |      FROM ids)
       |SELECT id, shard, shard_next, shard <> shard_next AS moved FROM x""".stripMargin
  }

  /** Incremental view maintenance ([[graft.ext.Ivm.maintainAgg]]): the
    * per-type (count, sum, avg) view maintained from a base aggregate
    * plus a SIGNED delta aggregate (inserts `event_id % 5 = 4`,
    * retractions of base rows `event_id % 13 = 0`), merged by one outer
    * join — never a base rescan. The oracle computes the view DIRECTLY
    * from the effective multiset with no delta algebra anywhere, so the
    * incremental path must equal a full recompute bitwise (the IVM
    * identity itself is the gate).
    */
  private val qIvmAgg: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = table(s, dir, "events")
      .filter(col("event_id").isNotNull && col("event_id") >= 0)
      .withColumn("cents", expr("CAST(round(value * 100) AS LONG)"))
    val base = ev.filter(col("event_id") % 5 =!= 4)
    val ins = ev.filter(col("event_id") % 5 === 4).withColumn("op", lit("I"))
    val ret = base.filter(col("event_id") % 13 === 0).withColumn("op", lit("R"))
    graft.ext.Ivm.maintainAgg(base, ins.unionByName(ret), "event_type", "cents")
  }

  private val oIvmAgg: String =
    """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |            FROM events
      |            WHERE event_id IS NOT NULL AND event_id >= 0
      |              AND event_type IS NOT NULL AND value IS NOT NULL),
      |eff AS (SELECT * FROM ev WHERE event_id % 5 = 4 OR event_id % 13 <> 0)
      |SELECT event_type, count(*)::BIGINT AS n, sum(cents)::BIGINT AS sum_cents,
      |       (sum(cents)::DOUBLE / count(*)::DOUBLE) AS avg_value
      |FROM eff GROUP BY 1""".stripMargin

  /** Row-pattern matching ([[graft.ext.EventAnalytics.patternRuns]]):
    * `view+ click+ purchase+` over contiguous maximal runs per user —
    * MATCH_RECOGNIZE semantics (greedy quantifiers, skip-past-last-row)
    * via gaps-and-islands + a consecutive-run self-join. Micros feed
    * the gate (the `funnel` nano-tie convention). The oracle replays
    * the identical window/island/join pipeline, so a broken run
    * boundary, an interleaved-event leak, or an off-by-one run id
    * fails the hash.
    */
  private val qPatternMatch: (SparkSession, String) => DataFrame = (s, dir) =>
    EventAnalytics.patternRuns(
      table(s, dir, "events").withColumn("ts", expr("CAST(ts DIV 1000 AS BIGINT)")),
      "view", "click", "purchase")

  private val oPatternMatch: String =
    """WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t, event_id AS eid
      |           FROM events
      |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |             AND ts IS NOT NULL AND event_id IS NOT NULL),
      |r0 AS (SELECT *, CASE WHEN lag(et) OVER (PARTITION BY u ORDER BY t, eid) = et
      |                      THEN 0 ELSE 1 END AS brk FROM e),
      |r1 AS (SELECT *, sum(brk) OVER (PARTITION BY u ORDER BY t, eid) AS run_id FROM r0),
      |runs AS (SELECT u, run_id, min(et) AS et, min(t) AS t0, max(t) AS t1,
      |                count(*)::BIGINT AS len
      |         FROM r1 GROUP BY 1, 2)
      |SELECT a.u AS user_id, a.t0 AS match_start, c.t1 AS match_end,
      |       a.len AS n_a, b.len AS n_b, c.len AS n_c
      |FROM runs a
      |JOIN runs b ON b.u = a.u AND b.run_id = a.run_id + 1
      |JOIN runs c ON c.u = a.u AND c.run_id = b.run_id + 1
      |WHERE a.et = 'view' AND b.et = 'click' AND c.et = 'purchase'""".stripMargin

  /** Two-phase distributed skyline ([[graft.ext.Skyline.skyline]]):
    * the Pareto frontier of parts minimizing (retail price, size).
    * The oracle is the direct NOT EXISTS dominance definition — ground
    * truth, not another BNL — so a lost frontier point, a kept
    * dominated point, or equal-pair mishandling (duplicates of a
    * frontier point must ALL survive) fails rows/hash.
    */
  private val qSkylineParts: (SparkSession, String) => DataFrame = (s, dir) =>
    Skyline.skyline(
      table(s, dir, "part").withColumn("price_c", expr("CAST(round(p_retailprice * 100) AS LONG)")),
      "p_partkey", "price_c", "p_size")

  private val oSkylineParts: String =
    """WITH p AS (SELECT p_partkey AS id, CAST(round(p_retailprice * 100) AS BIGINT) AS x,
      |                  p_size::BIGINT AS y
      |           FROM part
      |           WHERE p_partkey IS NOT NULL AND p_retailprice IS NOT NULL AND p_size IS NOT NULL)
      |SELECT a.id, a.x, a.y FROM p a WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))""".stripMargin

  /** V-optimal histogram construction ([[graft.ext.Vopt.histogram]]):
    * B = 4 buckets per event series by exact integer DP over prefix
    * moments (cost = n·Σx² − (Σx)², never a float), per-series input
    * capped at the first 2048 bucket positions (the bounded-sample
    * convention of every production statistics builder — replayed by
    * the oracle). The oracle unrolls all four DP levels as CTEs — each
    * level an (i, j) join with a (cost ASC, j ASC) window argmin — and
    * walks the parents back from dp4(n), so a drifted cost term, a tie
    * broken toward the larger split, or an off-by-one boundary fails
    * the hash on every downstream bucket row.
    */
  private val qVoptHistogram: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Vopt.histogram(table(s, dir, "events"), buckets = 4, maxN = 2048)

  private val oVoptHistogram: String = {
    def dplevel(b: Int) =
      s"""dp$b AS (SELECT series, i, p, q, v, j FROM (
         |  SELECT i.series, i.t AS i, i.p, i.q,
         |         (d.v + ((i.t - d.i) * (i.q - d.q) - (i.p - d.p) * (i.p - d.p)))::BIGINT AS v,
         |         d.i AS j,
         |         row_number() OVER (PARTITION BY i.series, i.t
         |           ORDER BY (d.v + ((i.t - d.i) * (i.q - d.q) - (i.p - d.p) * (i.p - d.p))) ASC, d.i ASC) AS rn
         |  FROM pre i JOIN dp${b - 1} d ON d.series = i.series AND d.i < i.t AND d.i >= ${b - 1}) z WHERE rn = 1)""".stripMargin
    s"""WITH se AS (
       |  SELECT event_type AS series, epoch_ms(ts) // 3600000 AS bucket,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, 2),
       |st0 AS (SELECT series, bucket, x,
       |              row_number() OVER (PARTITION BY series ORDER BY bucket) AS t
       |       FROM se),
       |stc AS (SELECT * FROM st0 WHERE t <= 2048),
       |nn AS (SELECT series, max(t) AS n FROM stc GROUP BY 1 HAVING max(t) >= 4),
       |pre AS (SELECT s.series, s.t, s.x,
       |        sum(s.x) OVER (PARTITION BY s.series ORDER BY s.t)::BIGINT AS p,
       |        sum(s.x * s.x) OVER (PARTITION BY s.series ORDER BY s.t)::BIGINT AS q
       |        FROM stc s JOIN nn ON nn.series = s.series),
       |dp1 AS (SELECT series, t AS i, p, q, (t * q - p * p)::BIGINT AS v FROM pre),
       |${dplevel(2)},
       |${dplevel(3)},
       |${dplevel(4)},
       |bounds AS (
       |  SELECT nn.series, nn.n AS e4, d4.j AS e3, d3.j AS e2, d2.j AS e1
       |  FROM nn
       |  JOIN dp4 d4 ON d4.series = nn.series AND d4.i = nn.n
       |  JOIN dp3 d3 ON d3.series = nn.series AND d3.i = d4.j
       |  JOIN dp2 d2 ON d2.series = nn.series AND d2.i = d3.j),
       |bk AS (
       |  SELECT series, 1 AS bkt, 1 AS t_start, e1 AS t_end FROM bounds
       |  UNION ALL SELECT series, 2, e1 + 1, e2 FROM bounds
       |  UNION ALL SELECT series, 3, e2 + 1, e3 FROM bounds
       |  UNION ALL SELECT series, 4, e3 + 1, e4 FROM bounds)
       |SELECT bk.series AS series, bk.bkt::BIGINT AS bkt, bk.t_start::BIGINT AS t_start,
       |       bk.t_end::BIGINT AS t_end, (bk.t_end - bk.t_start + 1)::BIGINT AS n,
       |       (pe.p - coalesce(ps.p, 0))::BIGINT AS sum_cents,
       |       ((bk.t_end - bk.t_start + 1) * (pe.q - coalesce(ps.q, 0))
       |         - (pe.p - coalesce(ps.p, 0)) * (pe.p - coalesce(ps.p, 0)))::BIGINT AS sse_n
       |FROM bk
       |JOIN pre pe ON pe.series = bk.series AND pe.t = bk.t_end
       |LEFT JOIN pre ps ON ps.series = bk.series AND ps.t = bk.t_start - 1""".stripMargin
  }

  /** Dremel record shredding ([[graft.ext.Dremel.shredStats]]): the
    * doc→words[]→{optional code, repeated chars} schema shredded into
    * per-leaf (r, d, v) streams, each stream folded order-sensitively,
    * plus a checksum of the records REASSEMBLED from the streams alone.
    * The oracle recomputes the level streams closed-form from the word
    * positions (the engineered j%3 / j%4 arms) and the reassembled
    * checksum DIRECTLY from the source text — so level slips, lost
    * elements, and reassembly-FSM bugs each fail independently.
    */
  private val qDremelShred: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Dremel.shredStats(table(s, dir, "documents"))

  private val oDremelShred: String = {
    val P = graft.ext.Dremel.FoldPrime
    val nullV = 262143
    s"""WITH d0 AS (SELECT doc_id, $normSql AS n
       |        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |w0 AS (SELECT doc_id, string_split(n, ' ') AS ws FROM d0 WHERE n <> ''),
       |s AS (SELECT doc_id,
       |  list_transform(range(1, len(ws) + 1), j ->
       |    (((CASE WHEN j = 1 THEN 0 ELSE 1 END) * 4 + (CASE WHEN j % 3 <> 0 THEN 2 ELSE 1 END)) * 262144
       |    + (CASE WHEN j % 3 <> 0 THEN length(ws[j]) ELSE $nullV END))::BIGINT) AS code_encs,
       |  flatten(list_transform(range(1, len(ws) + 1), j ->
       |    CASE WHEN j % 4 = 0
       |      THEN [(((CASE WHEN j = 1 THEN 0 ELSE 1 END) * 4 + 1) * 262144 + $nullV)::BIGINT]
       |      ELSE list_transform(range(1, length(ws[j]) + 1), i ->
       |        (((CASE WHEN i = 1 THEN (CASE WHEN j = 1 THEN 0 ELSE 1 END) ELSE 2 END) * 4 + 2) * 262144
       |        + (ord(substr(ws[j], i, 1)) % 65536))::BIGINT)
       |    END)) AS char_encs,
       |  list_transform(range(1, len(ws) + 1), j ->
       |    (((CASE WHEN j % 4 = 0 THEN $nullV
       |       ELSE list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(ws[j]) + 1),
       |              i -> (ord(substr(ws[j], i, 1)) % 65536)::BIGINT)), (a, b) -> (a * 31 + b) % $P) END) * 31
       |     + (CASE WHEN j % 3 <> 0 THEN length(ws[j]) ELSE $nullV END)) % $P)::BIGINT) AS word_terms
       |  FROM w0)
       |SELECT doc_id, len(code_encs)::BIGINT AS n_code, len(char_encs)::BIGINT AS n_chars,
       |  list_reduce(list_prepend(0::BIGINT, code_encs), (a, b) -> (a * 31 + b) % $P)::BIGINT AS code_checksum,
       |  list_reduce(list_prepend(0::BIGINT, char_encs), (a, b) -> (a * 31 + b) % $P)::BIGINT AS chars_checksum,
       |  list_reduce(list_prepend(0::BIGINT, word_terms), (a, b) -> (a * 31 + b) % $P)::BIGINT AS reassembled_checksum
       |FROM s""".stripMargin
  }

  /** WordPiece greedy longest-match tokenization ([[graft.ext.Wordpiece
    * .tokenStats]]): per-doc token/UNK counts + the order-sensitive
    * Σ c_w·w checksum over per-word base-31 token folds. The oracle
    * replays the IDENTICAL greedy walk as a recursive CTE whose step is
    * a LATERAL longest-match probe over a vocabulary VALUES table
    * generated from [[graft.ext.Wordpiece.Vocab]] (pieces, lengths, and
    * spelled-token folds — so vocab drift between engines is
    * impossible), with BERT whole-word-UNK semantics (a failed match
    * resets the word to ONE [UNK] token). A wrong greedy choice, a
    * start/continuation mix-up, a dropped word position, or an UNK that
    * keeps partial tokens fails the hash.
    */
  private val qWordpieceTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Wordpiece.tokenStats(table(s, dir, "documents"))

  private val oWordpieceTokens: String = {
    import graft.ext.{Wordpiece => W}
    val rows = W.Vocab.map { case (p, cont) =>
      val spelled = (if (cont) "##" else "") + p
      s"('$p', ${cont.toString.toUpperCase}, ${p.length}, ${W.fold(spelled)})"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |vocab(piece, cont, len, fold) AS (VALUES $rows),
       |w0 AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents
       |       WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |words AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS w FROM w0),
       |r AS (
       |  SELECT doc_id, w, word, 0 AS pos, 0::BIGINT AS ntok, 0::BIGINT AS nunk, 0::BIGINT AS c
       |  FROM words WHERE len(word) > 0
       |  UNION ALL
       |  SELECT r.doc_id, r.w, r.word,
       |         CASE WHEN m.len IS NULL THEN len(r.word) ELSE r.pos + m.len END,
       |         CASE WHEN m.len IS NULL THEN 1 ELSE r.ntok + 1 END,
       |         CASE WHEN m.len IS NULL THEN 1 ELSE r.nunk END,
       |         CASE WHEN m.len IS NULL THEN ${W.UnkFold}
       |              ELSE (r.c * 31 + m.fold) % ${W.FoldPrime} END
       |  FROM r LEFT JOIN LATERAL (
       |    SELECT v.len, v.fold FROM vocab v
       |    WHERE v.cont = (r.pos > 0) AND substr(r.word, r.pos + 1, v.len) = v.piece
       |    ORDER BY v.len DESC LIMIT 1) m ON TRUE
       |  WHERE r.pos < len(r.word)),
       |done AS (SELECT * FROM r WHERE pos = len(word) AND len(word) > 0)
       |SELECT doc_id, count(*)::BIGINT AS n_words, sum(ntok)::BIGINT AS n_tokens,
       |       sum(nunk)::BIGINT AS n_unk, sum(c * w)::BIGINT AS checksum
       |FROM done GROUP BY doc_id""".stripMargin
  }

  /** Fellegi–Sunter match scoring over the edit-distance blocks
    * ([[graft.ext.Dedup.erMatchScores]]): agreement vector (exact /
    * near / source / length) + fixed centi-log-odds evidence sum +
    * three-way decision. The oracle replays the identical blocking,
    * recomputes every field with DuckDB's own comparators (full
    * levenshtein <= 4 where Spark runs the banded kernel — equal on the
    * ASCII-gated input), and re-spells the weight table as CASE arms —
    * so a drifted weight, a wrong threshold, or a field comparator slip
    * fails the hash.
    */
  private val qErMatchScores: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.erMatchScores(table(s, dir, "documents"))

  private val oErMatchScores: String = {
    import Dedup.{ErWeights => W}
    s"""WITH b AS (SELECT doc_id, text, source, lang FROM documents
       |           WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
       |             AND source IS NOT NULL AND octet_length(text::BLOB) = len(text)),
       |r AS (SELECT doc_id, text, source, lang,
       |        row_number() OVER (PARTITION BY lang ORDER BY len(text), text, doc_id) AS rn
       |      FROM b),
       |p AS (SELECT least(a.doc_id, c.doc_id) AS id_a, greatest(a.doc_id, c.doc_id) AS id_b,
       |        a.text = c.text AS g_exact,
       |        levenshtein(a.text, c.text) <= 4 AS g_near,
       |        a.source = c.source AS g_source,
       |        abs(len(a.text) - len(c.text)) <= 2 AS g_len
       |      FROM r a JOIN r c ON a.lang = c.lang AND c.rn > a.rn AND c.rn <= a.rn + 16),
       |sc AS (SELECT id_a, id_b, g_exact, g_near, g_source, g_len,
       |        (CASE WHEN g_exact THEN ${W.exactAgree} ELSE ${W.exactDis} END
       |       + CASE WHEN g_near THEN ${W.nearAgree} ELSE ${W.nearDis} END
       |       + CASE WHEN g_source THEN ${W.sourceAgree} ELSE ${W.sourceDis} END
       |       + CASE WHEN g_len THEN ${W.lenAgree} ELSE ${W.lenDis} END)::BIGINT AS score
       |      FROM p)
       |SELECT id_a, id_b, g_exact, g_near, g_source, g_len, score,
       |       CASE WHEN score >= ${W.matchAt} THEN 'match' ELSE 'possible' END AS decision
       |FROM sc WHERE score >= ${W.possibleAt}""".stripMargin
  }

  /** Crawl-frontier prioritization ([[graft.ext.Graph.crawlPriority]]):
    * the top-32 hosts by `pagerank DIV (1 + bfs_depth)` with k-core
    * degree carried as the robustness feature — all three component
    * chains (10 PageRank rounds, 8 BFS rounds, 8 k-core peels) unrolled
    * in ONE oracle over a shared edge derivation, so the composition is
    * graded end to end: a component drifting, a join dropping unreached
    * hosts, or a tie broken off the (score, host) order fails the hash.
    */
  private val qCrawlPriority: (SparkSession, String) => DataFrame = (s, dir) => {
    val edges = Graph.hostEdges(table(s, dir, "documents"))
    val seeds = edges.select(col("src").as("h")).union(edges.select(col("dst").as("h")))
      .distinct().filter(col("h") % 16 === 0)
    Graph.crawlPriority(edges, seeds, topK = 32, k = 10, rounds = 8)
  }

  private val oCrawlPriority: String = {
    val scale = 1000000000000L
    val inf = Graph.Unreached
    val prIters = (1 to 10).map { k =>
      s"""p$k AS (SELECT n.h, (15 * $scale) // (100 * (SELECT cnt FROM nc))
         |         + (85 * coalesce(s.inc, 0)) // 100 AS pr
         |       FROM nodes n LEFT JOIN (
         |         SELECT e.dst AS h, sum(e.w * (p.pr // o.od)) AS inc
         |         FROM ew e JOIN p${k - 1} p ON p.h = e.src JOIN outd o ON o.src = e.src
         |         GROUP BY e.dst) s ON s.h = n.h)""".stripMargin
    }.mkString(",\n")
    val bfsIters = (1 to 8).map { k =>
      s"""d$k AS MATERIALIZED (SELECT n.h, least(n.d, coalesce(m.c, $inf)) AS d
         |  FROM d${k - 1} n LEFT JOIN (
         |    SELECT e.dst AS h, min(p.d) + 1 AS c FROM eb e JOIN d${k - 1} p ON p.h = e.src
         |    GROUP BY e.dst) m ON m.h = n.h)""".stripMargin
    }.mkString(",\n")
    val coreIters = (1 to 8).map { r =>
      s"""a$r AS MATERIALIZED (SELECT h FROM (
         |    SELECT u AS h FROM u${r - 1} UNION ALL SELECT v FROM u${r - 1}) t
         |  GROUP BY h HAVING count(*) >= 10),
         |u$r AS MATERIALIZED (SELECT u${r - 1}.u, u${r - 1}.v FROM u${r - 1}
         |  JOIN a$r x ON x.h = u${r - 1}.u JOIN a$r y ON y.h = u${r - 1}.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH dd AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |e0 AS (SELECT doc_id % 64 AS src,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS dst
       |       FROM dd),
       |ew AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS w FROM e0 WHERE src <> dst GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS h FROM ew UNION SELECT DISTINCT dst FROM ew),
       |nc AS MATERIALIZED (SELECT count(*)::BIGINT AS cnt FROM nodes),
       |outd AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS od FROM ew GROUP BY 1),
       |p0 AS (SELECT h, $scale // (SELECT cnt FROM nc) AS pr FROM nodes),
       |$prIters,
       |eb AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |d0 AS (SELECT h, CASE WHEN h % 16 = 0 THEN 0 ELSE $inf END AS d FROM nodes),
       |$bfsIters,
       |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM e0 WHERE src <> dst),
       |$coreIters,
       |cores AS (SELECT h, count(*)::BIGINT AS core_deg FROM (
       |    SELECT u AS h FROM u8 UNION ALL SELECT v FROM u8) t
       |  GROUP BY h HAVING count(*) >= 10),
       |j AS (SELECT p.h AS host, p.pr::BIGINT AS pr,
       |        (CASE WHEN d.d >= $inf THEN NULL ELSE d.d END)::BIGINT AS depth,
       |        coalesce(c.core_deg, 0)::BIGINT AS core_deg
       |      FROM p10 p JOIN d8 d ON d.h = p.h LEFT JOIN cores c ON c.h = p.h)
       |SELECT host, pr, depth, core_deg,
       |       (CASE WHEN depth IS NULL THEN 0 ELSE pr // (1 + depth) END)::BIGINT AS score
       |FROM j ORDER BY score DESC, host LIMIT 32""".stripMargin
  }

  /** The fixed blocklist for the Aho–Corasick gate: phrases from the
    * corpus vocabulary, deliberately including self-overlapping patterns
    * ("table table", "a a") and a pattern that is a substring of another
    * ("table" in "table table", "value table part") — the two cases a
    * replace()-count or non-overlapping matcher gets wrong.
    */
  private val blocklistPats = Seq(
    "table", "table table", "scan scan", "fast key", "a a", "spark",
    "window window", "stream", "value table part", "big big", "merge batch", "the line")

  /** One-pass multi-pattern matching: every (overlapping) occurrence of
    * every blocklist phrase, counted by a broadcast Aho–Corasick
    * automaton in a map-only plan. The oracle is a brute positional
    * probe — substr equality at every start offset — so the automaton's
    * failure/output-link semantics are graded against ground truth, not
    * against another automaton.
    */
  private val qBlocklistMatch: (SparkSession, String) => DataFrame = (s, dir) =>
    Blocklist.matchCounts(table(s, dir, "documents"), blocklistPats).toDF()

  private val oBlocklistMatch: String = {
    val values = blocklistPats.map(p => s"('$p')").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $normSql AS t FROM documents
       |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |p AS (SELECT pat FROM (VALUES $values) v(pat)),
       |g AS (SELECT CAST(i AS INT) AS i FROM generate_series(1, 65536) s(i)),
       |hits AS (SELECT d.doc_id, p.pat, count(*) AS n
       |         FROM d CROSS JOIN p JOIN g ON g.i <= len(d.t) - len(p.pat) + 1
       |         WHERE substr(d.t, g.i, len(p.pat)) = p.pat
       |         GROUP BY 1, 2)
       |SELECT doc_id, pat AS pattern, n::BIGINT AS n_matches FROM hits""".stripMargin
  }

  /** HyperLogLog register table (b = 6, 64 registers) over the corpus
    * token stream — the mergeable distinct-count sketch, md5-portable so
    * every register value is replayed bitwise: bucket = low 6 bits of
    * the 60-bit hash, register = max rank computed by the SAME integer
    * CASE cascade in both engines (never floor(log2): float log at a
    * power-of-two boundary is engine-divergent). The float estimate
    * stays in SketchesSpec; the oracle grades the full register state.
    */
  private val qHllRegisters: (SparkSession, String) => DataFrame = (s, dir) =>
    Sketches.hllRegisters(table(s, dir, "documents"))

  private val oHllRegisters: String =
    s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
       |h AS (SELECT ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM t WHERE token <> ''),
       |regs AS (SELECT h % 64 AS bucket,
       |           max(${Sketches.rankCaseSql("(h // 64)", 54)}) AS max_rank
       |         FROM h GROUP BY 1)
       |SELECT g.g::BIGINT AS bucket, coalesce(r.max_rank, 0)::BIGINT AS max_rank
       |FROM generate_series(0, 63) g(g) LEFT JOIN regs r ON r.bucket = g.g""".stripMargin

  /** Count-Min sketch (4 x 1024) of token frequencies — the mergeable
    * frequency sketch: the one count shuffle is capped at d*w rows per
    * map task by partial aggregation, so the exchange carries cells, not
    * tokens. All 4096 cells are emitted (0 when unhit) = the complete
    * mergeable state; the oracle replays every cell from the same
    * md5-derived row hashes.
    */
  private val qCmsCounts: (SparkSession, String) => DataFrame = (s, dir) =>
    Sketches.cmsCounts(table(s, dir, "documents"))

  private val oCmsCounts: String =
    s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
       |tok AS (SELECT token FROM t WHERE token <> ''),
       |cells AS (SELECT s.i AS sketch_row,
       |            ('0x' || substr(md5(s.i || ':' || token), 1, 15))::BIGINT % 1024 AS col,
       |            count(*) AS cnt
       |          FROM tok CROSS JOIN generate_series(0, 3) s(i)
       |          GROUP BY 1, 2)
       |SELECT (g.g // 1024)::BIGINT AS sketch_row, (g.g % 1024)::BIGINT AS col,
       |       coalesce(c.cnt, 0)::BIGINT AS cnt
       |FROM generate_series(0, 4095) g(g)
       |LEFT JOIN cells c ON c.sketch_row = g.g // 1024 AND c.col = g.g % 1024""".stripMargin

  /** Haar wavelet synopsis ([[graft.ext.Wavelet.synopsis]]): top-16
    * unnormalized Haar coefficients per event series (n = 512, 9
    * levels, zero-padded) — the third synopsis family next to the
    * histograms and sketches, all-integer by the unnormalized-transform
    * trade. The oracle unrolls every level as list_transform pairs and
    * replays the (|coef| DESC, level, pos) ranking, so a transposed
    * sum/difference, a wrong pairing parity, or an unstable tie fails
    * the hash.
    */
  private val qWaveletSynopsis: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Wavelet.synopsis(table(s, dir, "events"), n = 512, k = 16)

  private val oWaveletSynopsis: String = {
    val N = 512; val LV = 9; val K = 16
    val lvls = (1 to LV).map { lv =>
      val prev = if (lv == 1) "l0" else s"x${lv - 1}"
      s"""x$lv AS (SELECT series,
         |  list_transform(range(1, len($prev.a) // 2 + 1), i -> $prev.a[2*i-1] + $prev.a[2*i]) AS a,
         |  list_transform(range(1, len($prev.a) // 2 + 1), i -> $prev.a[2*i-1] - $prev.a[2*i]) AS d
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to LV).map(lv =>
      s"SELECT series, $lv AS level, generate_subscripts(d, 1) AS pos, unnest(d) AS coef FROM x$lv")
      .mkString("\n  UNION ALL ")
    s"""WITH se AS (
       |  SELECT event_type AS series, epoch_ms(ts) // 3600000 AS bucket,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
       |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, 2),
       |st AS (SELECT series, bucket, x,
       |         row_number() OVER (PARTITION BY series ORDER BY bucket) AS t FROM se),
       |lc AS (SELECT series, list(x ORDER BY t) AS l FROM st WHERE t <= $N GROUP BY 1),
       |l0 AS (SELECT series,
       |  l || list_transform(range(1, $N - len(l) + 1), i -> 0::BIGINT) AS a
       |  FROM lc),
       |$lvls,
       |coefs AS (
       |  $unions
       |  UNION ALL SELECT series, ${LV + 1} AS level, 1 AS pos, a[1] AS coef FROM x$LV),
       |rk AS (SELECT series, level, pos, coef,
       |         row_number() OVER (PARTITION BY series ORDER BY abs(coef) DESC, level ASC, pos ASC) AS rank
       |       FROM coefs)
       |SELECT series, rank::BIGINT AS rank, level::BIGINT AS level, pos::BIGINT AS pos,
       |       coef::BIGINT AS coef
       |FROM rk WHERE rank <= $K""".stripMargin
  }

  /** Soundex phonetic keys ([[graft.ext.TextAnalysis.soundexKeys]]):
    * NARA Soundex per vocabulary token — h/w transparency, vowel
    * adjacency reset, first-letter code suppression all replayed by
    * the oracle's list_reduce fold carrying the (digits, lastCode)
    * state in a packed string accumulator.
    */
  private val qSoundexKeys: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.soundexKeys(table(s, dir, "documents"))

  private val oSoundexKeys: String = {
    val codecase = """CASE WHEN list_contains(['b','f','p','v'], c) THEN '1'
      | WHEN list_contains(['c','g','j','k','q','s','x','z'], c) THEN '2'
      | WHEN list_contains(['d','t'], c) THEN '3'
      | WHEN c = 'l' THEN '4'
      | WHEN list_contains(['m','n'], c) THEN '5'
      | WHEN c = 'r' THEN '6'
      | WHEN list_contains(['a','e','i','o','u','y'], c) THEN '0'
      | ELSE '-' END""".stripMargin
    s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
       |v AS (SELECT token, count(*)::BIGINT AS freq FROM t WHERE token <> '' GROUP BY 1),
       |cd AS (SELECT token, freq,
       |         list_transform(list_transform(range(1, length(token) + 1),
       |           i -> substr(token, i, 1)), c -> $codecase) AS codes
       |       FROM v),
       |f AS (SELECT token, freq,
       |  list_reduce(list_prepend('|' || codes[1], codes[2:]),
       |    (acc, k) -> CASE
       |      WHEN k = '-' THEN acc
       |      WHEN k = '0' THEN split_part(acc, '|', 1) || '|0'
       |      WHEN k = split_part(acc, '|', 2) THEN acc
       |      ELSE (split_part(acc, '|', 1) || k) || ('|' || k) END) AS st
       |  FROM cd)
       |SELECT token, substr(token, 1, 1) || substr(split_part(st, '|', 1) || '000', 1, 3) AS sdx,
       |       freq
       |FROM f""".stripMargin
  }

  /** Bitmap secondary index ([[graft.ext.BitmapIndex.build]]) over
    * documents.lang: one 62-bit word per 62-doc block per value, built
    * by a single bit_or aggregate. 62 bits because DuckDB's shift is
    * overflow-checked where the JVM wraps — the whole word algebra
    * stays bit-identical. The oracle replays shift/or-fold/popcount.
    */
  private val qBitmapIndex: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.BitmapIndex.build(table(s, dir, "documents"), "doc_id", "lang")

  private val oBitmapIndex: String =
    """SELECT lang AS v, doc_id // 62 AS w,
      |       bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS bits,
      |       bit_count(bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)))::BIGINT AS popcnt
      |FROM documents
      |WHERE doc_id IS NOT NULL AND doc_id >= 0 AND lang IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** Bitmap conjunctive queries ([[graft.ext.BitmapIndex.andCounts]]):
    * every (lang, source) count answered THROUGH the index — word-
    * aligned AND + popcount, no base scan — next to the exact count.
    * The gate is the identity itself: a dropped word, a misaligned
    * block, or a double-set bit fails on the first pair.
    */
  private val qBitmapAndQuery: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.BitmapIndex.andCounts(table(s, dir, "documents"), "doc_id", "lang", "source")

  private val oBitmapAndQuery: String =
    """WITH base AS (SELECT doc_id, lang, source FROM documents
      |              WHERE doc_id IS NOT NULL AND doc_id >= 0
      |                AND lang IS NOT NULL AND source IS NOT NULL),
      |ia AS (SELECT lang AS a, doc_id // 62 AS w,
      |         bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS ba
      |       FROM base GROUP BY 1, 2),
      |ib AS (SELECT source AS b, doc_id // 62 AS w,
      |         bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS bb
      |       FROM base GROUP BY 1, 2),
      |vi AS (SELECT ia.a, ib.b, sum(bit_count(ia.ba & ib.bb))::BIGINT AS n_bitmap
      |       FROM ia JOIN ib ON ia.w = ib.w GROUP BY 1, 2),
      |ex AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS n_exact
      |       FROM base GROUP BY 1, 2)
      |SELECT ex.a, ex.b, coalesce(vi.n_bitmap, 0)::BIGINT AS n_bitmap, ex.n_exact
      |FROM ex LEFT JOIN vi ON vi.a = ex.a AND vi.b = ex.b""".stripMargin

  /** Sequence packing ([[graft.ext.Packing.packSequences]]):
    * next-fit-decreasing context-window binning within (lang, 256-doc
    * shard) — the training-batch layout step after tokenization. The
    * oracle replays the token counts, the (n_tokens DESC, doc_id)
    * in-shard order, and the whole next-fit recurrence as a per-shard
    * recursive CTE (the EWMA/Holt skeleton), so a wrong sort key, a
    * capacity off-by-one, a shard leak, or a mishandled oversized doc
    * fails the hash.
    */
  private val qPackSequences: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Packing.packSequences(table(s, dir, "documents"), capacity = 256, shardDocs = 256)

  private def oPackBase: String =
    s"""base AS (SELECT lang, doc_id // 256 AS shard, doc_id,
       |    len(list_filter(string_split($normSql, ' '), w -> w <> ''))::BIGINT AS n_tokens
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND doc_id >= 0
       |    AND text IS NOT NULL AND lang IS NOT NULL),
       |st AS (SELECT lang, shard, doc_id, n_tokens,
       |    row_number() OVER (PARTITION BY lang, shard
       |                       ORDER BY n_tokens DESC, doc_id) AS t
       |  FROM base),
       |r AS (
       |  SELECT lang, shard, doc_id, n_tokens, t,
       |         1::BIGINT AS bin, n_tokens AS fill
       |  FROM st WHERE t = 1
       |  UNION ALL
       |  SELECT st.lang, st.shard, st.doc_id, st.n_tokens, st.t,
       |         CASE WHEN r.fill + st.n_tokens > 256 AND r.fill > 0
       |              THEN r.bin + 1 ELSE r.bin END,
       |         CASE WHEN r.fill + st.n_tokens > 256 AND r.fill > 0
       |              THEN st.n_tokens ELSE r.fill + st.n_tokens END
       |  FROM r JOIN st ON st.lang = r.lang AND st.shard = r.shard
       |                AND st.t = r.t + 1)""".stripMargin

  private val oPackSequences: String =
    s"""WITH RECURSIVE $oPackBase
       |SELECT lang, shard, doc_id, n_tokens, bin, fill AS fill_after,
       |       n_tokens > 256 AS overflow
       |FROM r""".stripMargin

  /** Packing efficiency roll-up ([[graft.ext.Packing.packStats]]):
    * bins / docs / tokens / PADDING per language — the number packing
    * exists to minimize, as exact integers over the same replayed
    * recurrence.
    */
  private val qPackStats: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Packing.packStats(table(s, dir, "documents"), capacity = 256, shardDocs = 256)

  private val oPackStats: String =
    s"""WITH RECURSIVE $oPackBase,
       |bins AS (SELECT lang, shard, bin, max(fill) AS bin_fill,
       |                count(*)::BIGINT AS bin_docs
       |         FROM r GROUP BY 1, 2, 3)
       |SELECT lang, count(*)::BIGINT AS n_bins, sum(bin_docs)::BIGINT AS n_docs,
       |       sum(bin_fill)::BIGINT AS n_tokens,
       |       sum(greatest(0, 256 - bin_fill))::BIGINT AS padding
       |FROM bins GROUP BY 1""".stripMargin

  /** WAH-run compression of a bitmap index
    * ([[graft.ext.BitmapIndex.compress]]) over a range-clustered
    * attribute (`doc_id DIV 256` — the date-partition/shard shape where
    * fill runs actually occur): maximal runs of all-ones words collapse
    * to (ws, we) segments inside Roaring-style 1024-word containers, so
    * the run window is bounded at any corpus size. The oracle replays
    * the build, the gaps-and-islands run detection, and the segment
    * popcounts.
    */
  private val qBitmapCompress: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.BitmapIndex.compress(graft.ext.BitmapIndex.build(
      table(s, dir, "documents")
        .withColumn("shard", expr("CAST(doc_id DIV 256 AS BIGINT)")),
      "doc_id", "shard"))

  private val oBitmapCompress: String =
    """WITH idx AS (SELECT doc_id // 256 AS v, doc_id // 62 AS w,
      |         bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS bits
      |       FROM documents
      |       WHERE doc_id IS NOT NULL AND doc_id >= 0
      |       GROUP BY 1, 2),
      |seg AS (SELECT v, w, bits, w // 1024 AS ctr FROM idx),
      |lits AS (SELECT v, ctr, w AS ws, w AS we, bits FROM seg
      |         WHERE bits <> 4611686018427387903),
      |runs0 AS (SELECT v, ctr, w,
      |            w - row_number() OVER (PARTITION BY v, ctr ORDER BY w) AS isl
      |          FROM seg WHERE bits = 4611686018427387903),
      |runs AS (SELECT v, ctr, min(w) AS ws, max(w) AS we,
      |           4611686018427387903::BIGINT AS bits
      |         FROM runs0 GROUP BY v, ctr, isl),
      |u AS (SELECT * FROM lits UNION ALL SELECT * FROM runs)
      |SELECT v, ctr, ws, we, bits,
      |       (bit_count(bits)::BIGINT * (we - ws + 1))::BIGINT AS popcnt
      |FROM u""".stripMargin

  /** Conjunctive counts through the COMPRESSED bitmap index
    * ([[graft.ext.BitmapIndex.andCountsCompressed]]) for every
    * (shard, lang) pair: the AND runs on run-length segments (an
    * equi-join on the container + in-container overlap, each pair
    * contributing popcount × overlap words), so a thousand-word fill
    * run ANDs in one row. The gate is the identity n_bitmap == n_exact
    * over the compressed form — a split run, an off-by-one overlap, or
    * a double-counted boundary fails on the first pair.
    */
  private val qBitmapAndCompressed: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.BitmapIndex.andCountsCompressed(
      table(s, dir, "documents")
        .withColumn("shard", expr("CAST(doc_id DIV 256 AS BIGINT)")),
      "doc_id", "shard", "lang")

  private val oBitmapAndCompressed: String =
    """WITH base AS (SELECT doc_id, doc_id // 256 AS shard, lang FROM documents
      |              WHERE doc_id IS NOT NULL AND doc_id >= 0 AND lang IS NOT NULL),
      |ia AS (SELECT shard AS v, doc_id // 62 AS w,
      |         bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS bits
      |       FROM base GROUP BY 1, 2),
      |sa AS (SELECT v, w, bits, w // 1024 AS ctr FROM ia),
      |ca AS (SELECT v, ctr, w AS ws, w AS we, bits FROM sa
      |       WHERE bits <> 4611686018427387903
      |       UNION ALL
      |       SELECT v, ctr, min(w), max(w), 4611686018427387903::BIGINT
      |       FROM (SELECT v, ctr, w,
      |               w - row_number() OVER (PARTITION BY v, ctr ORDER BY w) AS isl
      |             FROM sa WHERE bits = 4611686018427387903)
      |       GROUP BY v, ctr, isl),
      |ib AS (SELECT lang AS v, doc_id // 62 AS w,
      |         bit_or(1::BIGINT << CAST(doc_id % 62 AS INT)) AS bits
      |       FROM base GROUP BY 1, 2),
      |sb AS (SELECT v, w, bits, w // 1024 AS ctr FROM ib),
      |cb AS (SELECT v, ctr, w AS ws, w AS we, bits FROM sb
      |       WHERE bits <> 4611686018427387903
      |       UNION ALL
      |       SELECT v, ctr, min(w), max(w), 4611686018427387903::BIGINT
      |       FROM (SELECT v, ctr, w,
      |               w - row_number() OVER (PARTITION BY v, ctr ORDER BY w) AS isl
      |             FROM sb WHERE bits = 4611686018427387903)
      |       GROUP BY v, ctr, isl),
      |vi AS (SELECT ca.v AS a, cb.v AS b,
      |         sum(bit_count(ca.bits & cb.bits)::BIGINT *
      |             (least(ca.we, cb.we) - greatest(ca.ws, cb.ws) + 1))::BIGINT
      |           AS n_bitmap
      |       FROM ca JOIN cb ON ca.ctr = cb.ctr
      |         AND ca.ws <= cb.we AND cb.ws <= ca.we
      |       GROUP BY 1, 2),
      |ex AS (SELECT shard AS a, lang AS b, count(*)::BIGINT AS n_exact
      |       FROM base GROUP BY 1, 2)
      |SELECT ex.a, ex.b, coalesce(vi.n_bitmap, 0)::BIGINT AS n_bitmap, ex.n_exact
      |FROM ex LEFT JOIN vi ON vi.a = ex.a AND vi.b = ex.b""".stripMargin

  /** CMS join-size estimation ([[graft.ext.Sketches.cmsJoinSize]]) for
    * orders ⋈ customer on custkey: the AGMS inner-product estimator —
    * min over sketch rows of the cellwise product — next to the exact
    * join count as the evaluation harness. The oracle replays the
    * sketches, the per-row inner products, the min, and the exact join,
    * all in exact integers; the never-underestimates law is pinned in
    * SketchesSpec.
    */
  private val qCmsJoinSize: (SparkSession, String) => DataFrame = (s, dir) =>
    Sketches.cmsJoinSize(
      table(s, dir, "orders"), "o_custkey",
      table(s, dir, "customer"), "c_custkey")

  private val oCmsJoinSize: String =
    """WITH lk AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders WHERE o_custkey IS NOT NULL),
      |rk AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer WHERE c_custkey IS NOT NULL),
      |lc AS (SELECT s.i AS r, ('0x' || substr(md5(s.i || ':' || k), 1, 15))::BIGINT % 1024 AS c,
      |         count(*) AS cnt
      |       FROM lk CROSS JOIN generate_series(0, 3) s(i) GROUP BY 1, 2),
      |rc AS (SELECT s.i AS r, ('0x' || substr(md5(s.i || ':' || k), 1, 15))::BIGINT % 1024 AS c,
      |         count(*) AS cnt
      |       FROM rk CROSS JOIN generate_series(0, 3) s(i) GROUP BY 1, 2),
      |p AS (SELECT lc.r, sum(lc.cnt * rc.cnt) AS ip
      |      FROM lc JOIN rc ON lc.r = rc.r AND lc.c = rc.c GROUP BY 1),
      |ip AS (SELECT g.g AS sketch_row, coalesce(p.ip, 0)::BIGINT AS inner_product
      |       FROM generate_series(0, 3) g(g) LEFT JOIN p ON p.r = g.g),
      |ex AS (SELECT count(*)::BIGINT AS exact_size
      |       FROM orders JOIN customer ON o_custkey = c_custkey),
      |es AS (SELECT min(inner_product)::BIGINT AS est_size FROM ip)
      |SELECT ip.sketch_row::BIGINT AS sketch_row, ip.inner_product, ex.exact_size, es.est_size
      |FROM ip, ex, es""".stripMargin

  /** The SECOND from-scratch compression format under the gate: Snappy —
    * the block codec inside most real parquet files. Same round-trip
    * oracle shape as `deflate_roundtrip` (decoded length + checksum
    * replayed from source text; emission-model values live in the spec's
    * snappy-java cross-differential, BOTH directions: our decoder reads
    * the production library's streams and vice versa).
    */
  private val qSnappyRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    Snappy.snappySignal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"))

  // the round-trip contract is format-independent: same replay as deflate
  private val oSnappyRoundtrip: String = oDeflateRoundtrip

  /** The THIRD compression format under the gate: the LZ4 block codec —
    * what Spark compresses its own shuffle with — including the block
    * format's end-of-stream margins (final sequence literals-only, last
    * 5 bytes literal, no match start in the last 12). Same round-trip
    * oracle; both cross-differential directions vs lz4-java in Lz4Spec.
    */
  private val qLz4Roundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    Lz4.lz4Signal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"))

  private val oLz4Roundtrip: String = oDeflateRoundtrip

  /** The FOURTH entropy-coding family under the gate: static byte-wise
    * rANS (the zstd-family coder) — backward encode with renormalizing
    * 32-bit state, slot-table forward decode, deterministic M = 2^12
    * model normalization, strict state-returns-to-L verification. Same
    * round-trip oracle; RansSpec pins the rate against Shannon entropy
    * (the fractional-bit precision that justifies ANS over Huffman).
    */
  private val qRansRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    Rans.ransSignal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"))

  private val oRansRoundtrip: String = oDeflateRoundtrip

  /** The FIFTH compression format under the gate — and the capstone:
    * the zstd frame codec (RFC 8878) built from scratch over the
    * repo's own entropy stages (FSE tables + canonical Huffman + LZ77
    * sequences + XXH64 checksum). The encoder emits predefined-FSE
    * compressed blocks; the decoder reads the full grammar including
    * Huffman literals and described/repeat tables. Same round-trip
    * oracle; BOTH cross-differential directions vs zstd-jni (libzstd)
    * at levels 1/3/9/19 in ZstdSpec.
    */
  private val qZstdRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Zstd.zstdSignal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"))

  private val oZstdRoundtrip: String = oDeflateRoundtrip

  /** The FIFTH compression format under the gate: brotli (RFC 7932) —
    * the web's second `Content-Encoding`. The round trip pairs the
    * raw-framing writer with the FULL from-scratch decoder (prefix
    * codes, context modeling, static dictionary + 121 transforms); the
    * compressed-path sophistication is differentialed in BrotliSpec
    * against committed libbrotli streams across qualities 0-11 and
    * windows 10-24. Beyond the deflate-shape replay, the oracle also
    * pins `br_len` via the closed-form framed-length model (empty → 1
    * byte; one 4-nibble block → n+4; one 5-nibble block → n+5), so the
    * encoder's framing can't drift without failing the hash.
    */
  private val qBrotliRoundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Brotli.brotliSignal(table(s, dir, "documents")).toDF()
      .select(col("doc_id"), col("n_bytes"), col("br_len"), col("checksum"))

  private val oBrotliRoundtrip: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b)
      |SELECT doc_id, n::BIGINT AS n_bytes,
      |       CASE WHEN n = 0 THEN 1 WHEN n <= 65536 THEN n + 4 ELSE n + 5 END::BIGINT AS br_len,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM s""".stripMargin

  /** The REAL brotli encoder under the gate: [[graft.ext.Brotli.compressQ1]]
    * emits genuinely COMPRESSED meta-blocks (greedy hash-4 LZ77,
    * per-block literal/insert-copy/distance prefix codes in the simple
    * or complex serialization, distance ring mirroring) which the full
    * decoder — itself differentialed against committed libbrotli
    * streams — must invert bit-exactly. The oracle replays length +
    * checksum from source text; a sentinel (-1, -1) surfaces any
    * document whose round trip breaks, so one bad prefix-code
    * serialization in 500 documents fails the hash. Compressed SIZE is
    * the engine-model half, pinned in BrotliSpec (q1 beats raw framing
    * on compressible text).
    */
  private val qBrotliQ1Roundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Brotli.brotliQ1Signal(table(s, dir, "documents")).toDF()

  private val oBrotliQ1Roundtrip: String = oDeflateRoundtrip

  /** IDNA/punycode under the gate: a deterministic unicode host per doc
    * (one non-ASCII code point in the site label; every fifth id pure
    * ASCII) goes through the from-scratch RFC 3492 bootstring ENCODER
    * to its `xn--` form and back through the strict DECODER; the oracle
    * rebuilds the expected unicode host closed-form with `chr()`, so
    * the decode must invert the encode bit-exactly — one bias
    * adaptation or insertion-point slip changes a code point and fails
    * the hash. Both directions are additionally differentialed against
    * `java.net.IDN` in PunycodeSpec.
    */
  private val qIdnaHostDecode: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Punycode.idnaSignal(table(s, dir, "documents")).toDF()

  private val oIdnaHostDecode: String =
    """SELECT doc_id,
      |  list_extract(['news','shop','blog','mail','docs','wiki','cloud','store'],
      |    1 + CAST(doc_id % 8 AS INT)) ||
      |  CASE WHEN doc_id % 5 = 0 THEN ''
      |       ELSE chr(list_extract([233, 252, 241, 20013, 1076, 945],
      |              1 + CAST(doc_id % 6 AS INT))) END ||
      |  CAST(doc_id % 10 AS VARCHAR) || '.' ||
      |  list_extract(['com','org','net','io'], 1 + CAST(doc_id % 4 AS INT)) AS host_unicode,
      |  (CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_idn_labels
      |FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0""".stripMargin

  /** Distributed zstd dictionary TRAINING under the gate: the
    * COVER-style selection — shingle frequencies → top-gram table →
    * stride-sampled candidate segments scored by covered-shingle mass →
    * top-k — with every ordering pinned to (count DESC, UTF-8 bytes
    * ASC), so the whole selection replays relationally in DuckDB. One
    * drifted tie-break, a missed segment position, or an off-by-one in
    * the shingle window changes the ranked table and fails the hash.
    */
  private val qZstdDictTrain: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Zstd.dictTrain(table(s, dir, "documents"))

  private val oZstdDictTrain: String =
    """WITH d AS (SELECT text FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |g AS (SELECT unnest(list_transform(range(length(text) - 7), i ->
      |        substr(text, CAST(i + 1 AS INT), 8))) AS gram
      |      FROM d WHERE length(text) >= 8),
      |f AS (SELECT gram, count(*)::BIGINT AS cnt FROM g GROUP BY 1),
      |tf AS (SELECT gram, cnt FROM
      |        (SELECT gram, cnt, row_number() OVER (ORDER BY cnt DESC, encode(gram)) AS rk FROM f)
      |       WHERE rk <= 2048),
      |s AS (SELECT DISTINCT segment FROM
      |        (SELECT unnest(list_transform(range((length(text) - 64) // 32 + 1), j ->
      |           substr(text, CAST(j * 32 + 1 AS INT), 64))) AS segment
      |         FROM d WHERE length(text) >= 64)),
      |sg AS (SELECT s.segment, unnest(list_transform(range(57), k ->
      |         substr(s.segment, CAST(k + 1 AS INT), 8))) AS gram
      |       FROM s),
      |sc AS (SELECT sg.segment, sum(coalesce(tf.cnt, 0))::BIGINT AS score
      |       FROM sg LEFT JOIN tf ON sg.gram = tf.gram GROUP BY 1),
      |r AS (SELECT segment, score,
      |        row_number() OVER (ORDER BY score DESC, encode(segment)) AS rk
      |      FROM sc)
      |SELECT (rk - 1)::BIGINT AS seg_rank, score, segment FROM r WHERE rk <= 128""".stripMargin

  /** The dictionary PAIR under the gate: compress every document
    * against the corpus-trained raw-content dictionary (LZ77 window
    * pre-seeded, offsets reaching past the output start), decode
    * through the dictionary-aware decoder, replay length + checksum
    * from source text. ZstdSpec pins the other halves: libzstd decodes
    * our dict frames against the same dictionary, and the dict must
    * strictly beat the no-dict encoder on the fixture corpus.
    */
  private val qZstdDictRoundtrip: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    // the trained dictionary is the roundtrip's staged PREREQUISITE (the
    // operator under test is dict compress/decode); `zstd_dict_train`
    // still times the training pass itself every rep
    val dict = stagedFixture("zstd_dict", s, dir) {
      graft.ext.Zstd.assembleDict(graft.ext.Zstd.dictTrain(docs))
    }
    graft.ext.Zstd.dictSignal(docs, dict).toDF()
  }

  private val oZstdDictRoundtrip: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |s AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b)
      |SELECT doc_id, n::BIGINT AS n_bytes,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM s""".stripMargin

  /** Merge-based subword tokenization under the gate: the BPE apply
    * phase with a fixed 40-rule priority merge table. The oracle is the
    * ENTIRE tokenizer replayed in SQL — codepoint spelling via
    * substr-per-character, then the nested 40-deep replace() chain built
    * from the SAME [[graft.ext.Bpe.Merges]] table the operator folds
    * over, exploiting that `String.replace` and DuckDB `replace` share
    * left-to-right non-overlapping pass semantics. The checksum covers
    * the merged symbol stream, so one drifted merge in one document
    * fails the hash.
    */
  private val qBpeTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    Bpe.bpeStats(table(s, dir, "documents")).toDF()

  private val oBpeTokens: String = {
    val merged = Bpe.oracleMergedExpr("text")
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
       |m AS (SELECT doc_id, length(text) AS n_chars, $merged AS mg FROM d),
       |s AS (SELECT doc_id, n_chars, hex(encode(mg)) AS hx, octet_length(encode(mg)) AS n,
       |        CASE WHEN n_chars = 0 THEN 0 ELSE len(string_split(mg, ' ')) END AS n_tokens
       |      FROM m)
       |SELECT doc_id, n_chars::BIGINT AS n_chars, n_tokens::BIGINT AS n_tokens,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
       |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
       |FROM s""".stripMargin
  }

  /** BPE TRAINING under the gate: 8 rounds of the distributed
    * merge-learning loop — corpus-wide adjacent-pair counting, a
    * deterministic argmax (count DESC, md5(pair) ASC — ASCII hex, so the
    * engines' string orders agree), and the one-pass corpus rewrite —
    * with the oracle replaying EVERY round as a MATERIALIZED CTE chain.
    * The output is the learned merge table itself (rank, pair, count at
    * selection time): a drifted count, tie-break, or rewrite in any
    * round changes the remaining rounds and fails the hash.
    */
  private val qBpeTrain: (SparkSession, String) => DataFrame = (s, dir) =>
    Bpe.trainMerges(table(s, dir, "documents"), rounds = 8)

  private val oBpeTrain: String = Bpe.oracleTrainSql("text", rounds = 8)

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING under the gate
    * ([[graft.ext.Unigram]]): seed vocabulary from corpus substrings,
    * two Viterbi-EM rounds in exact integer space (the Σ(score − B)
    * objective orders by fewest-tokens-then-highest-score), shrinking
    * top-K pruning with the md5 tie-break. The oracle UNROLLS the whole
    * loop relationally — chunking, the 4-way substring seed, all 8
    * forward DP stages and all 8 min-j backtrack stages per round, the
    * count re-estimation, the prune — so a slip in the DP recurrence,
    * the tie-break, or the EM bookkeeping anywhere fails the hash.
    */
  private val qUnigramTrain: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Unigram.train(table(s, dir, "documents"))

  private val oUnigramTrain: String = graft.ext.Unigram.oracleTrainSql("text")

  /** The APPLY half: train-then-segment end-to-end. Per document, chunk
    * count and total Viterbi token count under the FINAL vocabulary;
    * the oracle re-derives the vocabulary (same chain as
    * `unigram_train`), runs one more DP under it, and recovers each
    * chunk's token count exactly from the DP value
    * (`ntok = (B−1−v) // B`).
    */
  private val qUnigramTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Unigram.tokenStats(table(s, dir, "documents")).toDF()

  private val oUnigramTokens: String = graft.ext.Unigram.oracleTokensSql("text")

  /** Per-document suffix arrays under the gate — the exact-substring
    * dedup index — built by prefix doubling out of `lead` + `dense_rank`
    * alone, so the oracle unrolls all 10 rounds as MATERIALIZED window
    * CTEs and hash-compares the suffix ORDER itself (positions folded in
    * SA order). 10 rounds resolve documents up to 1024 codepoints; the
    * corpus max is 577.
    */
  private val qSuffixArray: (SparkSession, String) => DataFrame = (s, dir) =>
    Suffix.suffixArrayStats(table(s, dir, "documents"), rounds = 10).toDF()

  private val oSuffixArray: String = Suffix.oracleSql("text", rounds = 10)

  /** RFC 4180 CSV under the gate: documents become hostile CSV shards —
    * EVERY record's fifth field carries a quote-escape, an embedded
    * comma, and an embedded NEWLINE (`q="<source>", line\n<lang>`), the
    * case that breaks line-split-first readers — and
    * [[graft.ext.Csv.csvExtract]]'s strict state machine must invert the
    * writer exactly: the oracle computes each record's field checksum
    * (fields joined by the 0x1F unit separator) straight from the source
    * columns, so any quoting, unescaping, or record-splitting slip fails
    * the hash.
    */
  private val qCsvExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    Csv.csvExtract(Csv.encodeCsvShards(table(s, dir, "documents"), nShards = 16)).toDF()

  private val oCsvExtract: String =
    """WITH d AS (SELECT doc_id, lang, source, text FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0
      |             AND text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
      |r AS (SELECT doc_id % 16 AS shard_id,
      |        row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1 AS row_idx,
      |        encode(CAST(doc_id AS VARCHAR) || chr(31) || lang || chr(31) || source || chr(31)
      |               || text || chr(31)
      |               || 'q="' || source || '", line' || chr(10) || lang) AS j
      |      FROM d),
      |s AS (SELECT shard_id, row_idx, hex(j) AS hx, octet_length(j) AS n FROM r)
      |SELECT shard_id::BIGINT AS shard_id, row_idx::BIGINT AS row_idx, 5::BIGINT AS n_fields,
      |       list_reduce(list_prepend(0::BIGINT, list_transform(range(n), i ->
      |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)),
      |         (a, x) -> (a * 31 + x) % 1000000007) AS checksum
      |FROM s""".stripMargin

  /** The composed curation pipeline (exact dedup -> LSH near-dup removal ->
    * quality gate -> language tag); the oracle replays every stage in SQL
    * with the exact jaccard pairs standing in for the LSH+verify stage
    * (recall 1 at this corpus's jaccard margins).
    */
  /** The clustered curation variant: near-dup removal keeps one
    * representative (min doc_id) per CONNECTED COMPONENT of the verified
    * pair graph, not merely the smaller side of each pair. Oracle = the
    * same stage replay with the pair-drop swapped for a recursive-CTE
    * transitive closure. Inherits the documented probabilistic LSH-recall
    * gate of `curation_pipeline`/`minhash_lsh_verified`.
    */
  private val qCurationClustered: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.CurationPipeline.curateClustered(table(s, dir, "documents"))

  private val oCurationClustered: String =
    s"""WITH RECURSIVE keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($normSql)
       |), dd AS (
       |  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)
       |), toks AS (
       |  SELECT doc_id, text, string_split($normSql, ' ') AS w FROM dd
       |), grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 3
       |), sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |admitted AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100000),
       |capped AS (SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM admitted)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE i / (sa.sz + sb.sz - i) >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT src AS id, src AS r FROM sym
       |          UNION SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
       |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r)),
       |nd AS (SELECT * FROM toks WHERE doc_id NOT IN (SELECT id FROM losers)),
       |q AS (
       |  SELECT doc_id, length(text)::bigint AS n_chars, len(w)::bigint AS n_tokens,
       |         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) * 1.0 / len(w) ELSE 0.0 END AS distinct_ratio,
       |         len(list_filter(w, t -> list_contains(['the','and','of','is','a','in','to'], t)))::bigint AS score_en,
       |         len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','nicht'], t)))::bigint AS score_de,
       |         len(list_filter(w, t -> list_contains(['le','la','les','et','est','une','dans'], t)))::bigint AS score_fr,
       |         len(list_filter(w, t -> list_contains(['el','los','las','y','es','una','en'], t)))::bigint AS score_es
       |  FROM nd)
       |SELECT doc_id, n_chars, n_tokens, distinct_ratio,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |       WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS lang_pred
       |FROM q WHERE n_chars >= 100 AND distinct_ratio >= 0.3""".stripMargin

  private val qCuration: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.CurationPipeline.curate(table(s, dir, "documents"))

  private val oCuration: String =
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($normSql)
       |), dd AS (
       |  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)
       |), toks AS (
       |  SELECT doc_id, text, string_split($normSql, ' ') AS w FROM dd
       |), grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 3
       |), sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |admitted AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 100000),
       |capped AS (SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM admitted)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |losers AS (
       |  SELECT DISTINCT id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE i / (sa.sz + sb.sz - i) >= 0.5),
       |nd AS (SELECT * FROM toks WHERE doc_id NOT IN (SELECT id_b FROM losers)),
       |q AS (
       |  SELECT doc_id, length(text)::bigint AS n_chars, len(w)::bigint AS n_tokens,
       |         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) * 1.0 / len(w) ELSE 0.0 END AS distinct_ratio,
       |         len(list_filter(w, t -> list_contains(['the','and','of','is','a','in','to'], t)))::bigint AS score_en,
       |         len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','nicht'], t)))::bigint AS score_de,
       |         len(list_filter(w, t -> list_contains(['le','la','les','et','est','une','dans'], t)))::bigint AS score_fr,
       |         len(list_filter(w, t -> list_contains(['el','los','las','y','es','una','en'], t)))::bigint AS score_es
       |  FROM nd)
       |SELECT doc_id, n_chars, n_tokens, distinct_ratio,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |       WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS lang_pred
       |FROM q WHERE n_chars >= 100 AND distinct_ratio >= 0.3""".stripMargin

  // ------------------------------------------------------------ embeddings

  /** Left-fold dot/norm in DuckDB matching Spark's `aggregate` fold order ->
    * bitwise-identical doubles.
    */
  private val dotSql = (a: String, b: String) =>
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"
  private val normSqlExpr = (e: String) =>
    s"sqrt(list_reduce(list_prepend(0.0, list_transform($e, x -> CAST(x AS double) * CAST(x AS double))), (acc, x) -> acc + x))"

  private val qEmbeddingNorms: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.functions.VectorFunctions._
    table(s, dir, "embeddings")
      .select(col("vec_id"), l2Norm(toDoubleArray(col("embedding"))).as("norm"))
  }

  private val oEmbeddingNorms: String =
    s"""SELECT vec_id, ${normSqlExpr("embedding")} AS norm FROM embeddings""".stripMargin

  /** Incremental dedup: docs with doc_id % 5 == 0 are the "new batch", the
    * rest the historical corpus; output = new docs whose normalized content
    * is absent from the corpus. The Bloom prefilter is result-invisible
    * (no false negatives; positives exact-verified), so the oracle is a
    * plain anti-join on the content fingerprint.
    */
  private val qIncrementalDedup: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    graft.ext.Dedup.incrementalDedupNew(
      newDocs = docs.filter(col("doc_id") % 5 === 0),
      corpus = docs.filter(col("doc_id") % 5 =!= 0),
      expectedCorpusItems = 100000L)
      .select(col("doc_id"), col("n_chars"))
  }

  // NOT EXISTS, not NOT IN: a null corpus text would put a NULL in the
  // NOT IN list and empty the whole result, while the Spark side's
  // left_anti keeps every non-matching row — NOT EXISTS matches anti-join
  // semantics exactly
  private val oIncrementalDedup: String =
    s"""SELECT n.doc_id, n.n_chars
       |FROM documents n
       |WHERE n.doc_id % 5 = 0 AND NOT EXISTS (
       |  SELECT 1 FROM documents c WHERE c.doc_id % 5 <> 0
       |  AND md5(lower(trim(regexp_replace(c.text, '[ \\t\\n\\f\\r]+', ' ', 'g'))))
       |    = md5(lower(trim(regexp_replace(n.text, '[ \\t\\n\\f\\r]+', ' ', 'g')))))""".stripMargin

  /** Eval-set decontamination: docs with doc_id % 50 == 7 play the
    * benchmark set; the rest are training docs, and any training doc
    * sharing a word-4-gram with the benchmark set is dropped (n=4 because
    * the fixture's synthetic vocabulary is tiny — at n=3 more than half the
    * corpus is "contaminated", at n>=5 only planted duplicates are; the
    * production default is n=13). Spark joins on xxhash64 gram hashes, the
    * oracle on gram strings — identical membership up to hash collisions,
    * the same documented gate as every gram-hash path.
    */
  private val qDecontaminate: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    graft.ext.Dedup.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 7),
      docs.filter(col("doc_id") % 50 === 7),
      n = 4)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  private val oDecontaminate: String =
    s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 4),
       |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 7),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE doc_id % 50 <> 7 AND g IN (SELECT g FROM eval_g))
       |SELECT doc_id, source, n_chars FROM documents
       |WHERE doc_id % 50 <> 7
       |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = documents.doc_id)""".stripMargin

  /** Z-order (Morton) layout code over (l_partkey, l_suppkey), aggregated
    * per 2^20-code bucket — the multi-dimensional-locality layout key,
    * pure integer bit math in both engines.
    */
  private val qZorderStats: (SparkSession, String) => DataFrame = (s, dir) => {
    val code = graft.plans.ScaleOps.mortonCode(
      col("l_partkey").cast("long"), col("l_suppkey").cast("long"), bitsPerDim = 20)
    table(s, dir, "lineitem")
      .withColumn("__z", code)
      .withColumn("z_bucket", expr("__z DIV 1048576"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
  }

  private val oZorderStats: String = {
    val terms = (0 until 20).map { b =>
      s"(((l_partkey >> $b) & 1) << ${2 * b}) + (((l_suppkey >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")
    s"""SELECT ($terms) // 1048576 AS z_bucket,
       |  count(*) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM lineitem GROUP BY 1""".stripMargin
  }

  /** Random-projection dim reduction (64 -> 16) with hash-derived planes:
    * coefficient (i,j) = md5("i:j")-uniform scaled to [-1,1), every step
    * IEEE-exact, the dot fold ascending — so the oracle re-derives the
    * planes and replays the projection bitwise.
    */
  private val qRandomProject: (SparkSession, String) => DataFrame = (s, dir) =>
    Projection.randomProject(table(s, dir, "embeddings"), k = 16, dim = 64)

  private val oRandomProject: String =
    """SELECT vec_id, CAST(i AS int) AS dim,
      |  list_reduce(list_prepend(0.0, list_transform(range(len(embedding)), j ->
      |    CAST(embedding[CAST(j AS int) + 1] AS double) *
      |      ((('0x' || substr(md5(i || ':' || j), 1, 8))::BIGINT / 4294967296.0) * 2 - 1)
      |  )), (a, x) -> a + x) AS value
      |FROM embeddings CROSS JOIN (SELECT unnest(range(16)) AS i) dims""".stripMargin

  /** Per-dimension standardization stats — the event-stats decimal-moment
    * pattern applied position-wise over the embedding arrays (probed at the
    * shipped scale factors: the DECIMAL(38,8) cast of these float-derived
    * doubles and their squares agrees bitwise between engines over every
    * fixture value).
    */
  private val qFeatureStats: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Features.featureStats(table(s, dir, "embeddings"))

  private val oFeatureStats: String =
    """WITH x AS (
      |  SELECT CAST(i AS INT) AS dim, CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
      |  FROM (SELECT embedding, unnest(range(len(embedding))) AS i FROM embeddings
      |        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
      |  WHERE embedding[CAST(i AS INT) + 1] IS NOT NULL),
      |m AS (
      |  SELECT dim, count(*) AS n,
      |         CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS s2,
      |         min(x) AS min_x, max(x) AS max_x
      |  FROM x GROUP BY 1)
      |SELECT dim, n, s1 / n AS mean,
      |       CASE WHEN n > 1 THEN
      |         CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
      |              THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END
      |       END AS std,
      |       min_x, max_x
      |FROM m""".stripMargin

  /** Top-2 principal components of the embedding corpus. Rows-only by
    * necessity: the eigenvectors come from power iteration on the one-pass
    * covariance — not SQL-expressible — and the covariance's partition-order
    * double fold is bit-stable only for a fixed input layout. PcaSpec pins
    * the numerics (planted-direction recovery, orthogonality, captured
    * variance) and the projection kernel is the oracled dot.
    */
  private val qPcaProject: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Features.pcaProject(table(s, dir, "embeddings"), k = 2, dim = 64)

  private val qCosinePairs: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.embeddingCosinePairs(table(s, dir, "embeddings"), threshold = 0.4)

  private val oCosinePairs: String =
    s"""WITH n AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS double)) AS e,
       |                  ${normSqlExpr("embedding")} AS nrm FROM embeddings)
       |SELECT a.id AS id_a, b.id AS id_b, ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS cosine
       |FROM n a JOIN n b ON a.id < b.id
       |WHERE ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) >= 0.4""".stripMargin

  private val qCosineTopK: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 10)
  }

  private val oCosineTopK: String =
    s"""WITH n AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS double)) AS e,
       |                  ${normSqlExpr("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT * FROM n WHERE id % 25 = 0),
       |scored AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id, ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) AS cosine
       |  FROM n c JOIN q ON q.id <> c.id),
       |ranked AS (
       |  SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk,
       |         neighbor_id, cosine
       |  FROM scored)
       |SELECT query_id, rnk, neighbor_id, cosine FROM ranked WHERE rnk <= 10""".stripMargin

  /** Hard-negative mining ([[graft.ext.Similarity.hardNegatives]]): the
    * `cosine_topk` scaffold with a cross-label gate in the kernel —
    * anchors are the `vec_id % 25 = 0` batch, negatives the top-10
    * highest-cosine different-label corpus vectors. The oracle replays
    * the scoring join (same `list_reduce` dot fold), the label/self
    * exclusions, and the (cosine DESC, id) rank, so a same-label leak, a
    * missing self-exclusion, or a tie broken the other way fails the
    * hash.
    */
  private val qHardNegatives: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 25 === 0), k = 10)
  }

  private val oHardNegatives: String =
    s"""WITH n AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS double)) AS e,
       |                  ${normSqlExpr("embedding")} AS nrm, CAST(label AS BIGINT) AS lbl
       |           FROM embeddings
       |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND label IS NOT NULL),
       |q AS (SELECT * FROM n WHERE id % 25 = 0),
       |scored AS (
       |  SELECT q.id AS anchor_id, c.id AS neg_id, ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) AS cosine
       |  FROM n c JOIN q ON q.lbl <> c.lbl AND q.id <> c.id),
       |ranked AS (
       |  SELECT anchor_id, row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS rnk,
       |         neg_id, cosine
       |  FROM scored)
       |SELECT anchor_id, rnk, neg_id, cosine FROM ranked WHERE rnk <= 10""".stripMargin

  /** k-NN majority-label vote (auto-labeling): exact top-10 neighbors per
    * query + a deterministic (votes desc, label asc) pick. The oracle
    * replays oCosineTopK's ranking (already proven bitwise against the
    * TopKAggregator) and the vote via a window over label counts.
    */
  private val qKnnLabelVote: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.knnLabelVote(emb, emb.filter(col("vec_id") % 25 === 0), k = 10)
  }

  private val oKnnLabelVote: String =
    s"""WITH n AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS double)) AS e,
       |                  ${normSqlExpr("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT * FROM n WHERE id % 25 = 0),
       |scored AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id, ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) AS cosine
       |  FROM n c JOIN q ON q.id <> c.id),
       |ranked AS (
       |  SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk,
       |         neighbor_id
       |  FROM scored),
       |votes AS (
       |  SELECT r.query_id, e.label AS knn_label, count(*) AS n_votes
       |  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
       |  WHERE r.rnk <= 10 AND e.label IS NOT NULL
       |  GROUP BY 1, 2),
       |pick AS (
       |  SELECT query_id, knn_label, n_votes,
       |         row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, knn_label) AS rn
       |  FROM votes)
       |SELECT query_id, knn_label, n_votes FROM pick WHERE rn = 1""".stripMargin

  /** IVF probing ALL clusters (nprobe = nlist): the candidate set is then the
    * full corpus, so the result must equal exact brute force bitwise — one
    * oracle (oCosineTopK) verifies the whole IVF machinery end to end:
    * sampling, k-means, assignment, probing, in-cluster scoring, top-k.
    * The approximate configuration (nprobe < nlist) is exercised by
    * `ivf_topk` below and by SimilaritySpec's recall bound.
    */
  private val qIvfTopKFull: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 10, nlist = 16, nprobe = 16)
  }

  /** Approximate configuration for the bench recall probe. The synthetic
    * embeddings are STRUCTURELESS (i.i.d. components), so recall tracks the
    * probed fraction: nprobe 8/16 holds recall@10 ~0.8 at half the scoring
    * work of brute force (nprobe=4 measured 0.53 at sf0.1). Explicit nlist
    * because the corpus-adaptive default (nlist <= 0, constant expected cell
    * size) would shrink the probed fraction — and on clusterless vectors the
    * recall — as the corpus grows; on real clustered embeddings that default
    * plus a fixed nprobe is the scale-correct shape (SimilaritySpec pins
    * both regimes).
    */
  private val qIvfTopK: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 10, nlist = 16, nprobe = 8)
  }

  /** SRP-LSH cosine near-dup pairs in the regime SRP is designed for
    * (threshold >= ~0.9). The corpus has no organic high-cosine pairs (max
    * pairwise cosine ~0.51 at sf0.01, ~0.60 at sf0.1), so the query plants
    * deterministic near-duplicates — vec_id + 1000000 with the first
    * component scaled by 1.01, cosine ~0.99995 to its source — and the
    * oracle replays the identical construction in SQL against the exact
    * pair join at the same threshold.
    *
    * PROBABILISTIC GATE (same pattern as minhash_lsh_verified, documented):
    * equality with the exact oracle asserts SRP recall = 1 here. With 128
    * planes in 8 bands (16 rows/band), a planted pair at cosine c is missed
    * with probability (1 - p^16)^8 where p = 1 - acos(c)/pi — ~5e-10 at
    * c = 0.9999 — and no organic pair can reach the 0.9 threshold, so the
    * deterministic fixture surfaces exactly the planted pairs. 16 rows/band
    * (not 8) on purpose: unrelated vectors agree on a random plane with
    * p ~ 0.53, so r = 8 admits ~10% of ALL pairs as candidates while r = 16
    * admits ~0.03% — banding depth is what makes SRP prune at scale.
    */
  private val qSrpCosinePairs: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.functions.VectorFunctions.toDoubleArray
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("embedding"))
    val planted = base
      .filter(col("vec_id") % 20 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("embedding"))
    Similarity.srpCosinePairs(base.union(planted), threshold = 0.9, planes = 128, bands = 8)
  }

  /** IVF-bucketed cosine near-dup pairs on the same planted fixture as
    * `srp_cosine_pairs`, sharing its exact-pairs oracle: a planted pair at
    * cosine ~0.99995 is assigned the same nearest centroid (nassign = 2
    * additionally covers Voronoi-boundary straddling), and no organic pair
    * reaches the 0.9 threshold — so the bucketed path must surface exactly
    * the planted pairs. Deterministic for fixed data + sample order;
    * verified at all shipped scale factors. `nlist` is left at its auto
    * default on purpose: the query exercises the corpus-sized quantizer
    * path (the fixed-nlist configuration's candidate volume grows
    * quadratically with the corpus and regressed the round-5 bench).
    */
  private val qIvfCosinePairs: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.functions.VectorFunctions.toDoubleArray
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("embedding"))
    val planted = base
      .filter(col("vec_id") % 20 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("embedding"))
    Similarity.ivfCosinePairs(base.union(planted), threshold = 0.9, nassign = 2)
  }

  private val oSrpCosinePairs: String =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS e FROM embeddings
       |), aug AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(range(1, len(e) + 1), i -> CASE WHEN i = 1 THEN e[i] * 1.01 ELSE e[i] END) AS e
       |  FROM base WHERE vec_id % 20 = 0
       |), n AS (
       |  SELECT vec_id AS id, e,
       |         sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)), (acc, x) -> acc + x)) AS nrm
       |  FROM aug
       |)
       |SELECT a.id AS id_a, b.id AS id_b, ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS cosine
       |FROM n a JOIN n b ON a.id < b.id
       |WHERE ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) >= 0.9""".stripMargin

  /** Semantic dedup on the planted fixture shared with `srp_cosine_pairs` /
    * `ivf_cosine_pairs`: each planted near-dup (vec_id + 1000000) forms a
    * 2-member component with its source, whose minimum id — the source —
    * is the surviving representative, so the output is exactly the base
    * corpus. The oracle replays the full composition: exact cosine pairs
    * at the threshold, recursive-CTE transitive closure, anti-join of
    * non-representative members. Deterministic for fixed data + sample
    * order, like the pair queries it builds on.
    */
  private val qSemanticDedup: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.functions.VectorFunctions.toDoubleArray
    val base = table(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("embedding"))
    val planted = base
      .filter(col("vec_id") % 20 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("embedding"))
    graft.ext.Dedup.semanticDedup(base.union(planted), threshold = 0.9, nassign = 2)
      .select(col("vec_id"))
  }

  private val oSemanticDedup: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS e FROM embeddings
       |), aug AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(range(1, len(e) + 1), i -> CASE WHEN i = 1 THEN e[i] * 1.01 ELSE e[i] END) AS e
       |  FROM base WHERE vec_id % 20 = 0
       |), n AS (
       |  SELECT vec_id AS id, e,
       |         sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)), (acc, x) -> acc + x)) AS nrm
       |  FROM aug
       |), pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM n a JOIN n b ON a.id < b.id
       |  WHERE ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) >= 0.9
       |), sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |           UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT src AS id, src AS r FROM sym
       |          UNION SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1)
       |SELECT vec_id FROM aug
       |WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.id = aug.vec_id AND c.id <> c.component)""".stripMargin

  /** Per-class embedding centroids, flattened to (label, pos, centroid_val)
    * scalar rows. The per-dimension sum folds in vec_id order on BOTH
    * engines (sort_array(collect_list(struct)) in Spark == list(... ORDER
    * BY vec_id) in DuckDB), so the double mean is bitwise reproducible —
    * arbitrary floats cannot go through a decimal cast (decimal rounding
    * rules differ across engines), an ordered fold is the portable form.
    */
  private val qLabelCentroids: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "embeddings")
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(
        (aggregate(
          transform(
            array_sort(collect_list(struct(col("vec_id"), col("x")))),
            e => e.getField("x").cast("double")),
          lit(0.0), (a, x) => a + x) / count(lit(1))).as("centroid_val"))

  private val oLabelCentroids: String =
    """WITH flat AS (
      |  SELECT label, vec_id,
      |         unnest(range(0, len(embedding))) AS pos,
      |         unnest(list_transform(embedding, x -> CAST(x AS double))) AS x
      |  FROM embeddings)
      |SELECT label, pos,
      |       list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)), (a, y) -> a + y) / count(*) AS centroid_val
      |FROM flat GROUP BY 1, 2""".stripMargin

  /** The salted skew join under the correctness gate: salting must be
    * result-invisible (the oracle is the plain join), it only changes how
    * a hot key's rows spread across reducers.
    */
  private val qSaltedJoin: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = table(s, dir, "events").select(col("user_id"), col("value"))
    val cust = table(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.plans.ScaleOps.saltedInnerJoin(ev, cust, "user_id", salts = 8)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  private val oSaltedJoin: String =
    """SELECT c_mktsegment, count(*) AS n,
      |       CAST(sum(CAST(value AS decimal(18,2))) AS double) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin

  /** int8 scalar quantization quality per vector — floor-based codec math is
    * engine-portable (round-half rules are not), so scale, the code
    * checksum, and the left-fold reconstruction error all match bitwise.
    */
  private val qQuantize: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Quantization.quantizationStats(table(s, dir, "embeddings"))

  /** Product quantization codes + reconstruction error. Rows-only by
    * necessity (the pca_project pattern): per-subspace k-means codebooks
    * are not SQL-expressible. QuantizationSpec pins exact reconstruction
    * under a covering codebook, partition-invariance of the whole encode,
    * the subspace-count error monotonicity, and the exclusion guards.
    *
    * The registered projection folds `code array<int>` into scalars (the
    * `quantize_stats` q_sum pattern): the driver's correctness harness
    * row-sorts with pandas, which cannot order array cells — an
    * array-typed output column nulls even the rows-only spark_rows
    * signal. `code_pack` is the injective positional fold (m=8 codes in
    * [0,16) pack into 16^8 = 2^32 < Long.MaxValue); the library operator
    * [[graft.ext.Quantization.productQuantize]] keeps the raw array.
    */
  private val qPqCodes: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Quantization.productQuantize(
        table(s, dir, "embeddings"), dim = 64, m = 8, codebookSize = 16)
      .select(
        col("vec_id"),
        expr("aggregate(code, 0L, (a, x) -> a * 16 + x)").as("code_pack"),
        size(col("code")).as("code_len"),
        col("recon_err"))

  /** PQ-ADC shortlist + exact rerank (rows-only, like every codebook path):
    * SimilaritySpec pins exactness in the covering-codebook regime and
    * cluster-level recall + determinism on the clustered fixture. The
    * registered configuration reranks the ADC top-50 exactly — the
    * production shape for PQ search: ADC-only ordering on STRUCTURELESS
    * i.i.d. vectors is quantization-noise-dominated (recall@10 ~0.25 vs
    * exact L2 at sf0.1), while the rerank recovers the true ordering from
    * a shortlist 5x the answer size. Bench records both family recalls
    * (`pq_topk_recall`, `ivfpq_topk_recall`) per round.
    */
  private val qPqTopK: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 10, dim = 64, m = 8,
      codebookSize = 256, rerank = 50)
  }

  /** PQ path with `rerank` >= corpus size: the ADC shortlist then contains
    * EVERY corpus row, so the exact-rerank tail scores the whole corpus and
    * the output must equal exact squared-L2 brute force bitwise — one
    * window-rank oracle verifies the PQ machinery end to end (codebook
    * training, encode, ADC tables, the bounded shortlist aggregate, the
    * rerank join and L2 kernel), the `ivf_topk_full` pattern applied to the
    * PQ family. rerank = 4096 covers every shipped scale factor's corpus
    * (500 at sf0.01, 2000 at sf0.1); a larger corpus would degrade this key
    * to approximate, so the exactness contract is corpus <= rerank.
    * cb = 16 on purpose: exactness cannot depend on codebook quality here,
    * so the cheap training configuration keeps the gate fast. Bench's PQ
    * recall probes rank `pq_topk`/`ivfpq_topk` against THIS key's output
    * (a Spark job) instead of a driver-side O(|Q| * N) reference.
    */
  private val qPqTopKFull: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 10, dim = 64, m = 8,
      codebookSize = 16, rerank = 4096)
  }

  /** Exact squared-L2 top-10 window-rank replay for `pq_topk_full`. The
    * distance fold replays [[graft.ext.Similarity]]'s rerank kernel order —
    * a sequential index-order sum of (c[i]-q[i])^2 in doubles — so values
    * match bitwise. Self-pairs are kept (the PQ surface's convention:
    * a query's own vector is its nearest neighbor at distance 0), unlike
    * the cosine oracle's `q.id <> c.id`.
    */
  private val oPqTopKFull: String =
    """WITH n AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS double)) AS e
      |           FROM embeddings
      |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) >= 64),
      |q AS (SELECT * FROM n WHERE id % 25 = 0),
      |scored AS (
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |             i -> (c.e[i] - q.e[i]) * (c.e[i] - q.e[i]))), (acc, x) -> acc + x) AS approx_dist
      |  FROM n c, q),
      |ranked AS (
      |  SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rnk,
      |         neighbor_id, approx_dist
      |  FROM scored)
      |SELECT query_id, rnk, neighbor_id, approx_dist FROM ranked WHERE rnk <= 10""".stripMargin

  /** IVF-PQ composition (rows-only): coarse cells + residual PQ + per-cell
    * ADC + exact rerank of the shortlist. Explicit nlist/nprobe for the
    * structureless bench vectors, the ivf_topk rationale; cb=256 + rerank
    * because ADC-only ordering on i.i.d. vectors is quantization-noise-
    * dominated (measured recall@10 0.29 at cb=16 no-rerank vs 0.74 here —
    * the residual ceiling is the probed fraction, exactly ivf_topk's 0.8).
    */
  private val qIvfPqTopK: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") % 25 === 0),
      k = 10, dim = 64, nlist = 16, nprobe = 8, m = 8, codebookSize = 256, rerank = 50)
  }

  /** The IVF-PQ composition's end-to-end-equality gate, `pq_topk_full`'s
    * logic applied one level up: probing EVERY cell (nprobe = nlist) makes
    * the candidate set the whole corpus, and `rerank` >= corpus size
    * exact-reranks all of it — so coarse assignment, residual encode,
    * per-(query, cell) ADC tables, the shortlist aggregate, and the rerank
    * tail must together reproduce brute-force squared-L2 top-k bitwise
    * (same oracle). cb = 16: exactness can't depend on codebook quality.
    */
  private val qIvfPqTopKFull: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") % 25 === 0),
      k = 10, dim = 64, nlist = 16, nprobe = 16, m = 8, codebookSize = 16, rerank = 4096)
  }

  private val oQuantize: String =
    """WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS e FROM embeddings),
      |s AS (SELECT vec_id, e,
      |             list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))), (a, x) -> greatest(a, x)) AS scale
      |      FROM n),
      |q AS (SELECT vec_id, e, scale,
      |             CASE WHEN scale > 0 THEN list_transform(e, x -> CAST(floor(x / scale * 127) AS int))
      |                  ELSE list_transform(e, x -> 0) END AS qv
      |      FROM s)
      |SELECT vec_id, scale,
      |       list_reduce(list_prepend(CAST(0 AS bigint), list_transform(qv, x -> CAST(x AS bigint))), (a, x) -> a + x) AS q_sum,
      |       list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
      |                   i -> (e[i] - qv[i] * scale / 127) * (e[i] - qv[i] * scale / 127))), (a, x) -> a + x) AS recon_err
      |FROM q""".stripMargin

  // ------------------------------------------------------------ relational

  private val qQ1: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,6)")).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).cast("decimal(28,6)")).cast("double").as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(col("l_discount").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private val oQ1: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS decimal(28,2))) AS double) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) AS double) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS decimal(28,6))) AS double) AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_discount AS decimal(18,2))) AS double) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
      |GROUP BY 1, 2""".stripMargin

  private val qQ3: (SparkSession, String) => DataFrame = (s, dir) => {
    val customer = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = table(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val lineitem = table(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,6)")).as("rev"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
      .select(
        col("l_orderkey"),
        col("rev").cast("double").as("revenue"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_date_ms"))
  }

  private val oQ3: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) AS double) AS revenue,
      |  epoch_ms(o_orderdate) AS order_date_ms
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < timestamp '1998-01-01 00:00:00' AND l_shipdate > timestamp '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) DESC, l_orderkey
      |LIMIT 10""".stripMargin

  private val qQ5: (SparkSession, String) => DataFrame = (s, dir) => {
    val nation = table(s, dir, "nation")
    val region = table(s, dir, "region").filter(col("r_name") === "ASIA")
    val orders = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    table(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,6)")).cast("double").as("revenue"))
  }

  private val oQ5: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) AS double) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= timestamp '1996-01-01 00:00:00' AND o_orderdate < timestamp '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  private val qTopOrders: (SparkSession, String) => DataFrame = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  private val oTopOrders: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** The SCALE path for `top_orders_per_cust`: same (score desc, id asc)
    * total order through the bounded TopKAggregator instead of a rank
    * window — shuffles O(k) rows per (group, partition), not every order.
    * Same oracle semantics (different column names keep both keys).
    */
  private val qGroupedTopK: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.plans.ScaleOps.groupedTopK(
      table(s, dir, "orders"), groupCol = "o_custkey",
      idCol = "o_orderkey", scoreCol = "o_totalprice", k = 3)

  // o_totalprice IS NOT NULL mirrors groupedTopK's null-row drop (the
  // bounded buffer has no null slot; row_number would rank nulls LAST and
  // emit them in small groups) — no-op on TPC-H, load-bearing on null data
  private val oGroupedTopK: String =
    """SELECT o_custkey, rn AS rnk, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders WHERE o_totalprice IS NOT NULL) WHERE rn <= 3""".stripMargin

  private val qPartsUnsold: (SparkSession, String) => DataFrame = (s, dir) => {
    val sold = table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_partkey"))
    table(s, dir, "part")
      .join(sold, col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_name")
  }

  // NOT EXISTS, not NOT IN: one null l_partkey in the window would make
  // NOT IN never-true and empty the oracle while Spark's left_anti keeps
  // every unsold part (same hazard documented at the incremental_dedup
  // oracle)
  private val oPartsUnsold: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate >= timestamp '1997-03-01 00:00:00' AND l_shipdate < timestamp '1997-04-01 00:00:00')""".stripMargin

  /** The SQL text surface: the same engine drives `spark.sql` over temp
    * views (TPC-H Q6 shape — the classic pushdown showcase: both filters
    * reach the parquet scan).
    */
  private val qQ6Sql: (SparkSession, String) => DataFrame = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem_v")
    s.sql(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS decimal(28,6))) AS double) AS revenue
        |FROM graft_lineitem_v
        |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00' AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin)
  }

  private val oQ6Sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS decimal(28,6))) AS double) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00' AND l_shipdate < timestamp '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin

  /** TPC-H Q13 shape (customer distribution): LEFT OUTER join with the
    * filter in the JOIN predicate — the signature that preserves
    * zero-order customers (a WHERE filter would silently drop them) —
    * then the two-level count histogram. o_orderpriority stands in for
    * Q13's o_comment anti-pattern (this synthetic orders table carries
    * no comment column); `count(o_orderkey)` skips the outer nulls
    * exactly like the spec query.
    */
  private val qQ13Custdist: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "customer")
      .join(table(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))

  private val oQ13Custdist: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q4 shape (order priority checking): the EXISTS semi-join —
    * orders with at least one returned line item, counted by priority.
    * `l_returnflag = 'R'` stands in for Q4's commit-vs-receipt lateness
    * predicate (this synthetic lineitem carries no commit/receipt
    * dates); the plan shape — a LEFT SEMI join that never duplicates an
    * order however many lineitems match — is the point.
    */
  private val qQ4PrioritySemi: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "orders")
      .join(table(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))

  private val oQ4PrioritySemi: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY 1""".stripMargin

  private val qRollup: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private val oRollup: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  private val qCube: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private val oCube: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Pivot: per-ship-month quantity matrix over the return flags. The pivot
    * value list is explicit so the output schema is static (a discovered
    * pivot would scan twice and make the schema data-dependent).
    */
  private val qPivotMonthly: (SparkSession, String) => DataFrame = (s, dir) =>
    table(s, dir, "lineitem")
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))

  private val oPivotMonthly: String =
    """SELECT CAST(month(l_shipdate) AS integer) AS ship_month,
      |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS "A",
      |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS "N",
      |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS "R"
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Blocked fuzzy matching (entity resolution) on part names within a
    * composite (brand, size) block; `levenshtein` unit costs are
    * engine-identical. Brand alone leaves ~800-part blocks at sf0.1 (~8M
    * comparisons); composing size in cuts that ~50x, the standard ER answer
    * (the length-band + thresholded-levenshtein prunes inside the operator
    * are result-invisible, so the oracle needs only the block predicate).
    */
  private val qFuzzyPartMatch: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.blockedEditDistancePairs(
      table(s, dir, "part"), idCol = "p_partkey", strCol = "p_name",
      blockCols = Seq("p_brand", "p_size"), maxDist = 2)

  private val oFuzzyPartMatch: String =
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS integer) AS edit_dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin

  /** C4-style line-level dedup. The synthetic corpus is single-line, so the
    * query first synthesizes multi-line text DETERMINISTICALLY in both
    * engines — lines of 8 raw space-split tokens joined by \n (the tiny
    * vocabulary makes 8-token lines collide across docs, which is exactly
    * what exercises first-occurrence-wins) — then keeps each distinct line
    * only at its (doc_id, pos)-minimal occurrence. Spark groups lines by
    * their MD5 digest (16-byte shuffle key, the [[Dedup.exact]] content-key
    * pattern), the oracle by the line string — identical membership up to
    * MD5 collisions, the same documented gate as every digest path.
    */
  private val qLineDedup: (SparkSession, String) => DataFrame = (s, dir) => {
    val w = split(col("text"), " ")
    val nLines = ceil(size(w) / lit(8.0)).cast("int")
    val multiline = array_join(
      transform(sequence(lit(0), nLines - 1), i => array_join(slice(w, i * 8 + 1, lit(8)), " ")),
      "\n")
    // round 18: spread the RAW docs before synthesizing the multi-line
    // text, and fence the synthesis. The transform/slice chain is an
    // interpreted HOF per doc; projected before lineDedup's spread it sat
    // BELOW the exchange (whole corpus synthesized on the one scan task),
    // and the Generate branch's pushed-down prerequisites re-evaluated it
    // ~3x per row inside a filter UNDER a second, non-reusable exchange.
    // Spread-then-fence runs it wide, once, above ONE shared exchange.
    Dedup.lineDedup(
      graft.ext.Stage.spread(table(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), graft.functions.Fence.evalOnce(multiline).as("text")))
  }

  private val oLineDedup: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(range(0, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT)),
      |      i -> array_to_string(string_split(text, ' ')[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ')), chr(10)) AS t
      |  FROM documents),
      |ls AS (SELECT doc_id, string_split(t, chr(10)) AS xs FROM d),
      |lines AS (SELECT doc_id, unnest(xs) AS l, generate_subscripts(xs, 1) - 1 AS pos FROM ls),
      |keep AS (
      |  SELECT doc_id, pos, l FROM (
      |    SELECT doc_id, pos, l, row_number() OVER (PARTITION BY l ORDER BY doc_id, pos) AS rn FROM lines)
      |  WHERE rn = 1),
      |rebuilt AS (
      |  SELECT doc_id, count(*) AS n_kept, string_agg(l, chr(10) ORDER BY pos) AS dedup_text
      |  FROM keep GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.dedup_text, '') AS dedup_text,
      |       len(ls.xs)::BIGINT AS n_lines, coalesce(r.n_kept, 0)::BIGINT AS n_kept
      |FROM d JOIN ls USING (doc_id) LEFT JOIN rebuilt r ON r.doc_id = d.doc_id""".stripMargin

  /** Source-mixture sampling to per-source token budgets, replayed exactly:
    * the oracle recomputes each source's token total and the identical
    * hugeint draw compare. src0's budget exceeds its total (kept whole),
    * src1 is thinned to ~a third, src3 is budget-0 (dropped whole), every
    * unlisted source is dropped — all four regimes in one result.
    */
  private val qMixtureSample: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sampling.mixtureSample(
      table(s, dir, "documents")
        .withColumn("n_tok", size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")),
      budgets = Map("src0" -> 2000L, "src1" -> 500L, "src3" -> 0L),
      sourceCol = "source", idCol = "doc_id", weightCol = "n_tok")
      .select(col("doc_id"), col("source"), col("n_tok"))

  // totals sum over ALL rows of the source (null ids included, null
  // weights as 0) exactly like the Spark aggregate; the null-id exclusion
  // applies only to the emitted rows — the same order of operations as
  // mixtureSample itself
  private val oMixtureSample: String =
    s"""WITH w AS (SELECT doc_id, source, len(string_split($normSql, ' '))::BIGINT AS n_tok FROM documents),
       |t AS (SELECT source, sum(coalesce(n_tok, 0)) AS tot FROM w GROUP BY source),
       |b AS (SELECT * FROM (VALUES ('src0', 2000), ('src1', 500), ('src3', 0)) AS v(source, budget))
       |SELECT w.doc_id, w.source, w.n_tok
       |FROM w JOIN t USING (source) JOIN b USING (source)
       |WHERE w.doc_id IS NOT NULL
       |  AND (b.budget >= t.tot
       |   OR ('0x' || substr(md5('v' || w.source || ':' || w.doc_id), 1, 8))::BIGINT::HUGEINT * t.tot::HUGEINT
       |      < b.budget::HUGEINT * 4294967296::HUGEINT)""".stripMargin

  /** Per-stratum cap ("domain balancing"): at most 5 docs per source, the 5
    * smallest (md5 draw, id) per stratum — selected through the bounded
    * top-k aggregator on the Spark side, replayed as a rank window by the
    * oracle (both share the (draw asc, id asc) total order).
    */
  private val qStratumCap: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sampling.stratumCapK(
      table(s, dir, "documents"), strataCol = "source", idCol = "doc_id", k = 5)
      .select(col("doc_id"), col("source"), col("n_chars"))

  // the draw replays stratumCapK's INJECTIVE stratum encoding ('v' prefix
  // for real strata, marker 'n' for a null stratum) and its null-id
  // exclusion — without them the oracle silently diverges on the first
  // corpus with a null source or id
  private val oStratumCap: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars, row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY ('0x' || substr(md5(coalesce('v' || source, 'n') || ':' || doc_id), 1, 8))::BIGINT, doc_id) AS rn
      |  FROM documents WHERE doc_id IS NOT NULL) WHERE rn <= 5""".stripMargin

  /** Per-event rolling 1-hour stats per user over the event-time RANGE
    * frame — SQL-standard peer-row semantics (ties share a frame), decimal
    * exact sums, named-window replay in the oracle.
    */
  private val qRollingStats: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.EventAnalytics.rollingStats(
      table(s, dir, "events")
        .select(col("user_id"), expr(tsMillis).as("ts_ms"), col("value")),
      windowMillis = 3600000L)

  private val oRollingStats: String =
    """SELECT user_id, epoch_ms(ts) AS ts_ms, value,
      |       count(*) OVER w AS n_window,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w AS avg_window,
      |       min(value) OVER w AS min_window,
      |       max(value) OVER w AS max_window
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Robust MAD outliers per event type (EventAnalytics.madOutliers): the
    * medians are Spark `percentile` == DuckDB `quantile_cont` (verified
    * bitwise-identical interpolation), and every derived double is the
    * same single IEEE op in both engines, so the flagged set and its
    * robust z-scores hash-match exactly.
    */
  private val qMadOutliers: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.EventAnalytics.madOutliers(table(s, dir, "events"), k = 3.0)

  private val oMadOutliers: String =
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL GROUP BY 1),
      |d AS (SELECT e.event_id, e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      |      FROM events e JOIN m USING (event_type)
      |      WHERE e.event_type IS NOT NULL AND e.value IS NOT NULL),
      |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT d.event_id, d.event_type, d.value, d.med, s.mad,
      |       (d.value - d.med) / (1.4826 * s.mad) AS rob_z
      |FROM d JOIN s USING (event_type)
      |WHERE s.mad > 0.0 AND d.dev > 3.0 * 1.4826 * s.mad""".stripMargin

  /** Mergeable quarter-log2 histogram sketch over event values
    * (LogHistogram.sketch): the FULL sketch state — every (group, bucket,
    * lb, n) row — replayed bitwise by the oracle. The bucketing is pure
    * integer arithmetic (comparison-cascade log2 + shifts), the only
    * float being one shared IEEE division for the lower bound.
    */
  private val qLogHistogram: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.LogHistogram.sketch(table(s, dir, "events"))

  /** Shared oracle prefix: cents + exponent + bucket/lb per event row. */
  private def oLogHistBuckets: String =
    s"""WITH b AS (
       |  SELECT event_type, c, ${graft.ext.LogHistogram.log2CaseSql("c")} AS e
       |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
       |        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL)),
       |k AS (
       |  SELECT event_type,
       |         CAST(CASE WHEN c <= 0 THEN -1 ELSE e * 4 + ((c * 4 >> e) - 4) END AS INTEGER) AS bucket,
       |         CASE WHEN c <= 0 THEN 0.0 ELSE CAST(((c * 4 >> e) << e) AS DOUBLE) / 400.0 END AS lb
       |  FROM b),
       |s AS (SELECT event_type, bucket, lb, count(*)::BIGINT AS n FROM k GROUP BY 1, 2, 3)""".stripMargin

  private val oLogHistogram: String =
    s"""$oLogHistBuckets
       |SELECT event_type, bucket, lb, n FROM s""".stripMargin

  /** Rank-quantiles read off the sketch (LogHistogram.quantiles): first
    * bucket whose cumulative count reaches ⌈q·n⌉. Integer window sums
    * (DuckDB's HUGEINT sums cast back) + the same IEEE rank product.
    */
  private val qLogHistogramQuantiles: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.LogHistogram.quantiles(table(s, dir, "events"))

  private val oLogHistogramQuantiles: String =
    s"""$oLogHistBuckets,
       |c AS (SELECT event_type, bucket, lb, n,
       |             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
       |             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
       |      FROM s),
       |q AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
       |SELECT c.event_type, q.q,
       |       CAST(ceil(q.q * CAST(c.total AS DOUBLE)) AS BIGINT) AS rank,
       |       c.lb AS est
       |FROM c CROSS JOIN q
       |WHERE c.cum >= CAST(ceil(q.q * CAST(c.total AS DOUBLE)) AS BIGINT)
       |  AND (c.cum - c.n) < CAST(ceil(q.q * CAST(c.total AS DOUBLE)) AS BIGINT)""".stripMargin

  /** Exact curriculum bucketing: quartiles of document length per language,
    * (n_chars, doc_id) total order with NULLS FIRST pinned on both engines
    * (defaults differ: Spark sorts nulls first ascending, DuckDB last).
    * ntile remainder semantics are the SQL standard in both.
    */
  private val qCurriculumBuckets: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sampling.quantileBuckets(
      table(s, dir, "documents"), k = 4, valueCol = "n_chars", idCol = "doc_id", strataCol = "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))

  private val oCurriculumBuckets: String =
    """SELECT doc_id, lang, n_chars,
      |       CAST(ntile(4) OVER (PARTITION BY lang
      |         ORDER BY n_chars ASC NULLS FIRST, doc_id ASC NULLS FIRST) AS INT) AS bucket
      |FROM documents""".stripMargin

  /** Corpus-trained bigram LM fluency score — mean transition probability
    * per doc, no `ln` so every step is one correctly-rounded IEEE op on
    * exact integer counts, summed in position order by an ordered fold the
    * oracle mirrors with `list(p ORDER BY pos)`. Spark counts bigrams by
    * their space-joined string, the oracle by the (w1, w2) pair —
    * identical groups, since normalized tokens cannot contain spaces.
    */
  private val qLmScore: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.bigramLmScore(table(s, dir, "documents"))

  private val oLmScore: String =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |bi0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS pos FROM t WHERE len(w) >= 2),
       |bi AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |              w[CAST(pos AS INT) + 1] AS w1, w[CAST(pos AS INT) + 2] AS w2
       |       FROM bi0),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       |scored AS (
       |  SELECT bi.doc_id, bi.pos, CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
       |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         list_reduce(list_prepend(0.0, list(p ORDER BY pos)), (a, x) -> a + x) AS s
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       |       coalesce(a.s / a.n_bigrams, 0.0) AS lm_score
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Heavy-hitters vocabulary through the Misra-Gries sketch + exact
    * recount, checked against the EXACT vocabulary oracle: the fixture's
    * distinct-token count (~31) sits far below sketchK = 256, so no MG
    * eviction can fire on any partition and the sketch surfaces every
    * term — the oracle then verifies the whole sketch/merge/recount
    * machinery end to end (the `ivf_topk_full` pattern). The eviction
    * regime, where the result is exact only above the n/(sketchK+1)
    * frequency threshold, is exercised by FreqSketchSpec.
    */
  private val qVocabHeavyHitters: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.approxVocabulary(table(s, dir, "documents"), topK = 100, sketchK = 256)

  /** Cross-source n-gram overlap audit. Spark pairs sources over xxhash64
    * gram hashes, the oracle over gram strings — identical sets up to hash
    * collisions, the standard gram-hash gate.
    */
  private val qSourceOverlap: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.sourceNgramOverlap(table(s, dir, "documents"), n = 6)

  private val oSourceOverlap: String =
    s"""WITH toks AS (SELECT source, string_split($normSql, ' ') AS w FROM documents WHERE source IS NOT NULL),
       |g AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(w) - 4), i -> array_to_string(w[i:i+5], ' '))) AS g
       |      FROM toks WHERE len(w) >= 6),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2),
       |s AS (SELECT source, count(*) AS sz FROM g GROUP BY 1)
       |SELECT p.source_a, p.source_b, p.n_shared,
       |       CAST(p.n_shared AS DOUBLE) / (sa.sz + sb.sz - p.n_shared) AS jaccard
       |FROM p JOIN s sa ON sa.source = p.source_a JOIN s sb ON sb.source = p.source_b""".stripMargin

  /** Corpus snapshot diff over two deterministically synthesized versions
    * of the documents table: ids at %11 == 0 are missing from the old
    * snapshot (-> added), %13 == 0 missing from the new (-> removed),
    * %7 == 0 mutated in the old (-> changed), the rest unchanged. The
    * oracle replays the same construction with a FULL OUTER join and
    * null-safe fingerprint equality.
    */
  private val qCorpusDiff: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" CHANGED")))
          .otherwise(col("text")))
    val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
    Dedup.corpusDiff(oldSnap, newSnap)
  }

  private val oCorpusDiff: String = {
    val normOf = (e: String) => s"lower(trim(regexp_replace($e, '[ \\t\\n\\f\\r]+', ' ', 'g')))"
    s"""WITH old0 AS (
       |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' CHANGED' ELSE text END AS text
       |  FROM documents WHERE doc_id % 11 <> 0),
       |o AS (SELECT doc_id AS id, min(md5(${normOf("text")})) AS old_fp
       |      FROM old0 WHERE doc_id IS NOT NULL GROUP BY 1),
       |n AS (SELECT doc_id AS id, min(md5(${normOf("text")})) AS new_fp
       |      FROM documents WHERE doc_id % 13 <> 0 AND doc_id IS NOT NULL GROUP BY 1)
       |SELECT coalesce(o.id, n.id) AS doc_id,
       |       CASE WHEN o.id IS NULL THEN 'added'
       |            WHEN n.id IS NULL THEN 'removed'
       |            WHEN o.old_fp IS NOT DISTINCT FROM n.new_fp THEN 'unchanged'
       |            ELSE 'changed' END AS status,
       |       o.old_fp, n.new_fp
       |FROM o FULL OUTER JOIN n ON o.id = n.id""".stripMargin
  }

  /** Per-dimension drift between two synthesized embedding snapshots: old
    * drops vec_id % 5 == 0 rows; new shifts component 0 by +0.25 (an
    * IEEE-exact double add replayed identically in SQL, planting a
    * strong dim-0 drift signal). Everything downstream of the decimal
    * moments is one IEEE expression over identical operands.
    */
  private val qFeatureDrift: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = table(s, dir, "embeddings")
    val oldSnap = emb.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("embedding"))
    val newSnap = emb.select(
      col("vec_id"),
      transform(toDoubleArray(col("embedding")),
        (x, i) => when(i === 0, x + lit(0.25)).otherwise(x)).as("embedding"))
    graft.ext.Features.featureDrift(oldSnap, newSnap)
  }

  private val oFeatureDrift: String = {
    def side(src: String, mutate: Boolean) = {
      val x =
        if (mutate)
          "CASE WHEN i = 0 THEN CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) + 0.25 " +
            "ELSE CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) END"
        else "CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)"
      s"""SELECT dim, count(*) AS n,
         |       CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS s1,
         |       CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS s2
         |FROM (SELECT CAST(i AS INT) AS dim, $x AS x
         |      FROM (SELECT embedding, unnest(range(len(embedding))) AS i FROM $src
         |            WHERE vec_id IS NOT NULL AND embedding IS NOT NULL))
         |WHERE x IS NOT NULL GROUP BY 1""".stripMargin
    }
    val stats = (pfx: String) =>
      s"""SELECT dim, n AS n_$pfx, s1 / n AS mean_$pfx,
         |       CASE WHEN n > 1 THEN
         |         CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
         |              THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END
         |       END AS std_$pfx""".stripMargin
    s"""WITH mo AS (${side("(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)", mutate = false)}),
       |mn AS (${side("embeddings", mutate = true)}),
       |so AS (${stats("old")} FROM mo),
       |sn AS (${stats("new")} FROM mn)
       |SELECT coalesce(so.dim, sn.dim) AS dim, n_old, n_new,
       |       mean_old, mean_new, std_old, std_new,
       |       mean_new - mean_old AS mean_shift,
       |       CASE WHEN std_old IS NOT NULL AND std_new IS NOT NULL
       |                 AND (std_old * std_old / n_old + std_new * std_new / n_new) > 0
       |            THEN (mean_new - mean_old) / sqrt(std_old * std_old / n_old + std_new * std_new / n_new)
       |       END AS shift_z
       |FROM so FULL OUTER JOIN sn ON so.dim = sn.dim""".stripMargin
  }

  /** Per-doc duplicate n-gram fraction (Gopher/RefinedWeb quality filter).
    * Spark counts distinct gram HASHES, the oracle distinct gram STRINGS —
    * identical up to xxhash64 collisions, the standard gram-hash gate. The
    * n = 3 gram construction is oNgramJaccard's; dup_fraction is one
    * exact-int IEEE division (NULL for gramless docs, pinned in both
    * engines).
    */
  private val qDupNgramFraction: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dupNgramFraction(table(s, dir, "documents"), n = 3)

  private val oDupNgramFraction: String =
    s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents WHERE doc_id IS NOT NULL),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS g
       |  FROM toks WHERE len(w) >= 3),
       |dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
       |  FROM grams JOIN dfreq USING (g) GROUP BY 1)
       |SELECT t.doc_id,
       |       coalesce(per.n_grams, 0) AS n_grams,
       |       coalesce(per.n_dup, 0) AS n_dup,
       |       CAST(per.n_dup AS DOUBLE) / per.n_grams AS dup_fraction
       |FROM toks t LEFT JOIN per USING (doc_id)""".stripMargin

  // ------------------------------------------------- time-series diagnostics

  /** Shared oracle prefix for the [[graft.ext.TimeSeries]] family: the
    * hourly cents-sum series per event type with its 1-based position,
    * plus the exact DECIMAL(38,0) full-series moments. Mirrors
    * TimeSeries.bucketSeries + the moment aggregate column for column.
    */
  private def oTsSeries: String =
    """WITH se AS (
      |  SELECT event_type AS series, epoch_ms(ts) // 3600000 AS bucket,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |st AS (SELECT series, bucket, x,
      |              row_number() OVER (PARTITION BY series ORDER BY bucket) AS t
      |       FROM se),
      |stats AS (SELECT series, count(*)::BIGINT AS n,
      |                 CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
      |                 CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
      |          FROM st GROUP BY 1)""".stripMargin

  /** Shared ACF oracle body (through the per-lag IEEE tree): one windowed
    * CTE computes all K lead columns (the same single per-series sort as
    * the Spark plan), DuckDB's zipped `unnest` unpivots them, and the
    * final expressions are character-identical to the Spark side's
    * `expr(...)` strings.
    */
  private def oAcfBody(maxLag: Int): String = {
    val leadCols = (1 to maxLag).map(k => s"lead(x, $k) OVER w AS l$k").mkString(", ")
    val lagList = (1 to maxLag).mkString("[", ", ", "]")
    val colList = (1 to maxLag).map(k => s"l$k").mkString("[", ", ", "]")
    s"""$oTsSeries,
       |ld AS (SELECT series, x, $leadCols FROM st
       |       WINDOW w AS (PARTITION BY series ORDER BY t)),
       |lagged AS (SELECT series, x, unnest($lagList) AS lag, unnest($colList) AS xk FROM ld),
       |pair AS (SELECT series, lag, count(*)::BIGINT AS n_pairs,
       |                CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sa,
       |                CAST(sum(CAST(xk AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb,
       |                CAST(sum(CAST(x * xk AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
       |         FROM lagged WHERE xk IS NOT NULL GROUP BY 1, 2),
       |acf AS (
       |  SELECT series, lag, n_pairs,
       |         CASE WHEN den > 0.0 THEN num / den END AS acf
       |  FROM (
       |    SELECT series, lag, n_pairs,
       |           (CAST(sxy AS DOUBLE) - (mu * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)))) + ((CAST(n_pairs AS DOUBLE) * mu) * mu) AS num,
       |           (CAST(s2 AS DOUBLE) - ((2.0 * mu) * CAST(s AS DOUBLE))) + ((CAST(n AS DOUBLE) * mu) * mu) AS den
       |    FROM (SELECT pair.*, stats.n, stats.s, stats.s2,
       |                 CAST(stats.s AS DOUBLE) / CAST(stats.n AS DOUBLE) AS mu
       |          FROM pair JOIN stats USING (series))))""".stripMargin
  }

  /** Per-series ACF at hourly lags 1..36 (TimeSeries.acf) — the seasonal-
    * period read-out the reference hard-codes away (`seasonal_order`
    * fixed at construction, flinkarima.py:154). All moments are exact
    * DECIMAL(38,0); the ACF itself is one fixed IEEE tree over them,
    * written character-identically here and in the Spark `expr`s, so the
    * doubles hash-match bitwise.
    */
  private val qAcfLags: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.acf(table(s, dir, "events"), maxLag = 36)

  private val oAcfLags: String =
    s"""${oAcfBody(36)}
       |SELECT series, lag, n_pairs, acf FROM acf""".stripMargin

  /** Detected seasonal period per series (TimeSeries.dominantPeriod):
    * argmax ACF over lags 2..36, smallest lag on exact float ties — a
    * deterministic total order both engines sort identically.
    */
  private val qDominantPeriod: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.dominantPeriod(table(s, dir, "events"), maxLag = 36, minLag = 2)

  private val oDominantPeriod: String =
    s"""${oAcfBody(36)}
       |SELECT series, lag AS period, acf FROM (
       |  SELECT series, lag, acf,
       |         row_number() OVER (PARTITION BY series ORDER BY acf DESC, lag ASC) AS rn
       |  FROM acf WHERE lag >= 2 AND acf IS NOT NULL)
       |WHERE rn = 1""".stripMargin

  /** Two-sided CUSUM scan (TimeSeries.cusum, k = 0.5σ, h = 4σ): the FULL
    * per-step trajectory — pre-reset s⁺/s⁻ and both alarm flags — replayed
    * by a recursive CTE stepping every series in lockstep. Each step is
    * the same three IEEE ops in the same series order as the Spark scan,
    * so the doubles match bitwise; μ/σ come from the shared exact moments
    * via the identical expression tree.
    */
  private val qCusumScan: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.cusum(table(s, dir, "events"), kSigma = 0.5, hSigma = 4.0)

  private val oCusumScan: String =
    s"""WITH RECURSIVE ${oTsSeries.stripPrefix("WITH ")},
       |m1 AS (SELECT series, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu, n, s, s2 FROM stats),
       |ms AS (SELECT series, mu,
       |              sqrt(greatest(0.0, (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - (mu * mu))) AS sigma
       |       FROM m1),
       |r AS (
       |  SELECT st.series, st.t, st.bucket, st.x,
       |         greatest(0.0, ((0.0 + (CAST(st.x AS DOUBLE) - ms.mu)) - (0.5 * ms.sigma))) AS s_pos,
       |         greatest(0.0, ((0.0 - (CAST(st.x AS DOUBLE) - ms.mu)) - (0.5 * ms.sigma))) AS s_neg,
       |         ms.mu, ms.sigma
       |  FROM st JOIN ms USING (series) WHERE st.t = 1
       |  UNION ALL
       |  SELECT st.series, st.t, st.bucket, st.x,
       |         greatest(0.0, (((CASE WHEN r.s_pos > (4.0 * r.sigma) THEN 0.0 ELSE r.s_pos END)
       |                         + (CAST(st.x AS DOUBLE) - r.mu)) - (0.5 * r.sigma))) AS s_pos,
       |         greatest(0.0, (((CASE WHEN r.s_neg > (4.0 * r.sigma) THEN 0.0 ELSE r.s_neg END)
       |                         - (CAST(st.x AS DOUBLE) - r.mu)) - (0.5 * r.sigma))) AS s_neg,
       |         r.mu, r.sigma
       |  FROM r JOIN st ON st.series = r.series AND st.t = r.t + 1)
       |SELECT series, t, bucket, x, s_pos, s_neg,
       |       s_pos > (4.0 * sigma) AS alarm_up,
       |       s_neg > (4.0 * sigma) AS alarm_dn
       |FROM r""".stripMargin

  /** EWMA smoother (TimeSeries.ewma, α = 0.2): sₜ = sₜ₋₁ + α·(xₜ − sₜ₋₁)
    * with the one-step-ahead residual, replayed by the same recursive-CTE
    * skeleton as the CUSUM oracle. resid is NULL at t = 1 (no forecast).
    */
  private val qEwmaSmooth: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.ewma(table(s, dir, "events"), alpha = 0.2)

  private val oEwmaSmooth: String =
    s"""WITH RECURSIVE ${oTsSeries.stripPrefix("WITH ")},
       |r AS (
       |  SELECT series, t, bucket, x,
       |         CAST(x AS DOUBLE) AS ewma, CAST(NULL AS DOUBLE) AS resid
       |  FROM st WHERE t = 1
       |  UNION ALL
       |  SELECT st.series, st.t, st.bucket, st.x,
       |         r.ewma + (0.2 * (CAST(st.x AS DOUBLE) - r.ewma)) AS ewma,
       |         CAST(st.x AS DOUBLE) - r.ewma AS resid
       |  FROM r JOIN st ON st.series = r.series AND st.t = r.t + 1)
       |SELECT series, t, bucket, x, ewma, resid FROM r""".stripMargin

  /** Holt linear-trend smoother (TimeSeries.holt, α = 0.2, β = 0.1) in
    * error-correction form: f = l + b, e = x − f, l' = f + α·e,
    * b' = b + (α·β)·e — replayed by the recursive-CTE skeleton shared
    * with the EWMA/CUSUM oracles. α·β is spelled as a DOUBLE·DOUBLE
    * product in the SQL (not a decimal-literal product, which DuckDB
    * would fold in DECIMAL to exactly 0.02 instead of the IEEE
    * 0.020000000000000004 the Scala scan multiplies by). resid NULL at
    * t = 1.
    */
  private val qHoltSmooth: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.holt(table(s, dir, "events"), alpha = 0.2, beta = 0.1)

  private val oHoltSmooth: String =
    s"""WITH RECURSIVE ${oTsSeries.stripPrefix("WITH ")},
       |r AS (
       |  SELECT series, t, bucket, x,
       |         CAST(x AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend,
       |         CAST(NULL AS DOUBLE) AS resid
       |  FROM st WHERE t = 1
       |  UNION ALL
       |  SELECT st.series, st.t, st.bucket, st.x,
       |         (r.level + r.trend)
       |           + (0.2 * (CAST(st.x AS DOUBLE) - (r.level + r.trend))) AS level,
       |         r.trend + ((CAST(0.2 AS DOUBLE) * CAST(0.1 AS DOUBLE))
       |           * (CAST(st.x AS DOUBLE) - (r.level + r.trend))) AS trend,
       |         CAST(st.x AS DOUBLE) - (r.level + r.trend) AS resid
       |  FROM r JOIN st ON st.series = r.series AND st.t = r.t + 1)
       |SELECT series, t, bucket, x, level, trend, resid FROM r""".stripMargin

  /** Viterbi HMM regime decode (TimeSeries.viterbi): 3 states, integer
    * band observations against per-series exact-third thresholds, fixed
    * centi-log-odds score tables, ties toward the smaller state. The
    * oracle replays the ENTIRE dynamic program: the forward recursion
    * carries all three dp scores plus a 2-bits-per-state packed
    * backpointer appended to a list each step, and a second recursion
    * walks the list backwards from the final argmax — so a drifted
    * score table, a transposed transition, a tie broken upward, or an
    * off-by-one in the backtrace fails the hash on every affected row.
    */
  private val qHmmStates: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.viterbi(table(s, dir, "events"))

  private val oHmmStates: String = {
    def e(s: String, b: String) =
      s"(CASE WHEN abs($s - $b) = 0 THEN 0 WHEN abs($s - $b) = 1 THEN -80 ELSE -400 END)"
    def tr(s: Int, sp: Int) =
      s"(CASE WHEN abs($s - $sp) = 0 THEN 0 WHEN abs($s - $sp) = 1 THEN -120 ELSE -240 END)"
    def cands(sp: Int) = (0 until 3).map(s => s"(r.dp$s + ${tr(s, sp)})")
    def stepdp(sp: Int) = {
      val c = cands(sp)
      s"(greatest(${c(0)}, ${c(1)}, ${c(2)}) + ${e(sp.toString, "sb.b")})"
    }
    def stepbp(sp: Int) = {
      val c = cands(sp)
      val m = s"greatest(${c(0)}, ${c(1)}, ${c(2)})"
      s"(CASE WHEN ${c(0)} = $m THEN 0 WHEN ${c(1)} = $m THEN 1 ELSE 2 END)"
    }
    s"""WITH RECURSIVE ${oTsSeries.stripPrefix("WITH ")},
       |th AS (SELECT series, min(x) + (max(x) - min(x)) // 3 AS t1,
       |              min(x) + (2 * (max(x) - min(x))) // 3 AS t2
       |       FROM st GROUP BY 1),
       |sb AS (SELECT st.series, st.t, st.bucket, st.x,
       |              CASE WHEN st.x < th.t1 THEN 0 WHEN st.x < th.t2 THEN 1 ELSE 2 END AS b
       |       FROM st JOIN th USING (series)),
       |r AS (
       |  SELECT series, t, dp0, dp1, dp2, [0::BIGINT] AS bps FROM (
       |    SELECT series, t, ${e("0", "b")}::BIGINT AS dp0, ${e("1", "b")}::BIGINT AS dp1,
       |           ${e("2", "b")}::BIGINT AS dp2 FROM sb WHERE t = 1)
       |  UNION ALL
       |  SELECT sb.series, sb.t,
       |         ${stepdp(0)}, ${stepdp(1)}, ${stepdp(2)},
       |         list_append(r.bps, (${stepbp(0)} + ${stepbp(1)} * 4 + ${stepbp(2)} * 16)::BIGINT)
       |  FROM r JOIN sb ON sb.series = r.series AND sb.t = r.t + 1),
       |fin AS (SELECT r.series, r.t AS n, r.dp0, r.dp1, r.dp2, r.bps
       |        FROM r JOIN (SELECT series, max(t) AS n FROM sb GROUP BY 1) mx
       |          ON mx.series = r.series AND mx.n = r.t),
       |bt AS (
       |  SELECT series, n, n AS t, bps,
       |         CASE WHEN dp0 >= dp1 AND dp0 >= dp2 THEN 0
       |              WHEN dp1 >= dp2 THEN 1 ELSE 2 END AS state
       |  FROM fin
       |  UNION ALL
       |  SELECT bt.series, bt.n, bt.t - 1, bt.bps,
       |         ((bt.bps[bt.t] >> (2 * bt.state)) & 3)::INTEGER
       |  FROM bt WHERE bt.t > 1)
       |SELECT sb.series, sb.t, sb.bucket, sb.x, sb.b::BIGINT AS band, bt.state::BIGINT AS state
       |FROM sb JOIN bt ON bt.series = sb.series AND bt.t = sb.t""".stripMargin
  }

  /** Regular-grid gap fill with linear interpolation (TimeSeries
    * .gapFill): one row per hourly slot in each series' observed span —
    * exact cents for present hours, the fixed interpolation tree
    * `pv + ((nv − pv)·(b − pb)) / (nb − pb)` for gaps. The oracle
    * replays the grid (unnested generate_series per span), the
    * prev/next-present window pair (IGNORE NULLS frames mirroring
    * Spark's last/first), and the identical IEEE expression — so an
    * off-by-one span, a frame that sees the current row, or a
    * re-associated interpolation fails the hash.
    */
  private val qTsGapfill: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.TimeSeries.gapFill(table(s, dir, "events"))

  private val oTsGapfill: String =
    s"""${oTsSeries.substring(0, oTsSeries.indexOf(",\nst AS"))},
       |sp AS (SELECT series, min(bucket) AS b0, max(bucket) AS b1 FROM se GROUP BY 1),
       |grid AS (SELECT series, unnest(generate_series(b0, b1)) AS bucket FROM sp),
       |j AS (SELECT g.series, g.bucket, se.x
       |      FROM grid g LEFT JOIN se ON se.series = g.series AND se.bucket = g.bucket),
       |w AS (SELECT series, bucket, x,
       |        last_value(CASE WHEN x IS NOT NULL THEN bucket END IGNORE NULLS)
       |          OVER (PARTITION BY series ORDER BY bucket
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb,
       |        last_value(x IGNORE NULLS)
       |          OVER (PARTITION BY series ORDER BY bucket
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
       |        first_value(CASE WHEN x IS NOT NULL THEN bucket END IGNORE NULLS)
       |          OVER (PARTITION BY series ORDER BY bucket
       |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb,
       |        first_value(x IGNORE NULLS)
       |          OVER (PARTITION BY series ORDER BY bucket
       |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
       |      FROM j)
       |SELECT series, bucket,
       |       CASE WHEN x IS NOT NULL THEN x::DOUBLE
       |            ELSE pv::DOUBLE + ((nv - pv)::DOUBLE * (bucket - pb)::DOUBLE)
       |                 / (nb - pb)::DOUBLE END AS value_cents,
       |       x IS NULL AS filled
       |FROM w""".stripMargin

  /** Deterministic negative sampling ([[graft.ext.Sampling
    * .negativeSamples]]): md5-selected 64-item pool, per-anchor top-5
    * cross-label negatives by pair-md5 rank, map-only on the Spark
    * side. The oracle recomputes the pool (ORDER BY md5 LIMIT), the
    * cross-label/self exclusions, and the per-anchor row_number rank —
    * so a biased pool, a same-label leak, or a rank ordered by the
    * wrong key fails the hash.
    */
  private val qNegativeSamples: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sampling.negativeSamples(table(s, dir, "embeddings"), k = 5, poolSize = 64)

  private val oNegativeSamples: String =
    """WITH c AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS lbl
      |           FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |pool AS MATERIALIZED (SELECT id, lbl FROM c
      |        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 64),
      |cand AS (SELECT a.id AS anchor_id, p.id AS cid,
      |           md5(CAST(a.id AS VARCHAR) || '_' || CAST(p.id AS VARCHAR)) AS m
      |         FROM c a JOIN pool p ON p.lbl <> a.lbl AND p.id <> a.id),
      |r AS (SELECT anchor_id, cid,
      |        row_number() OVER (PARTITION BY anchor_id ORDER BY m, cid) AS rnk
      |      FROM cand)
      |SELECT anchor_id, cid AS neg_id, rnk::BIGINT AS rnk FROM r WHERE rnk <= 5""".stripMargin

  /** Chi-square independence audit ([[graft.ext.DataQuality.chiSquare]])
    * between document language and source — one row per contingency
    * cell with observed/marginal/total counts and the exact-input IEEE
    * expected + contribution. The oracle replays cell counts, all three
    * window marginals (cast back from DuckDB's HUGEINT window sums),
    * and the identical expression trees — so a transposed marginal, an
    * n that excludes null-category rows differently, or a re-associated
    * contribution fails the hash. The statistic TOTAL is deliberately
    * unemitted (cross-cell double sums are order-dependent; SURVEY §8).
    */
  private val qLangSourceChi2: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.DataQuality.chiSquare(table(s, dir, "documents"), "lang", "source")

  private val oLangSourceChi2: String =
    """WITH c0 AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS cnt
      |           FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |           GROUP BY 1, 2),
      |c AS (SELECT ga.a, gb.b, coalesce(c0.cnt, 0)::BIGINT AS observed
      |      FROM (SELECT DISTINCT a FROM c0) ga
      |      CROSS JOIN (SELECT DISTINCT b FROM c0) gb
      |      LEFT JOIN c0 ON c0.a = ga.a AND c0.b = gb.b),
      |w AS (SELECT a, b, observed,
      |        sum(observed) OVER (PARTITION BY a) AS na,
      |        sum(observed) OVER (PARTITION BY b) AS nb,
      |        sum(observed) OVER () AS n
      |      FROM c),
      |e AS (SELECT a, b, observed, na::BIGINT AS na, nb::BIGINT AS nb, n::BIGINT AS n,
      |        (na::DOUBLE * nb::DOUBLE) / n::DOUBLE AS expected
      |      FROM w)
      |SELECT a AS lang, b AS source, observed, na, nb, n, expected,
      |       (observed::DOUBLE - expected) * (observed::DOUBLE - expected) / expected
      |         AS contribution
      |FROM e""".stripMargin

  /** Two-level Merkle manifest ([[graft.ext.DataQuality.manifest]]) over
    * the documents table: 64 id-bucket digests + the root, each a chained
    * `acc ← md5(acc ∥ leaf)` fold in pinned (id, then bucket) order. The
    * oracle replays every leaf hash, both fold orders, and the level
    * union — so a dropped doc, a reordered fold, a bucket boundary slip,
    * or a root built from unsorted bucket digests fails the hash.
    */
  private val qDatasetManifest: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.DataQuality.manifest(table(s, dir, "documents"), buckets = 64)

  private val oDatasetManifest: String =
    """WITH l AS (SELECT doc_id % 64 AS bucket, doc_id AS id, md5(text) AS h
      |           FROM documents
      |           WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
      |b AS (SELECT bucket, count(*)::BIGINT AS n_docs,
      |        list_reduce(list_prepend('', list(h ORDER BY id, h)),
      |          (a, x) -> md5(a || x)) AS digest
      |      FROM l GROUP BY 1),
      |r AS (SELECT (SELECT sum(n_docs) FROM b)::BIGINT AS n_docs,
      |        (SELECT list_reduce(list_prepend('', list(digest ORDER BY bucket)),
      |           (a, x) -> md5(a || x)) FROM b) AS digest)
      |SELECT 0::BIGINT AS level, bucket, n_docs, digest FROM b
      |UNION ALL
      |SELECT 1::BIGINT, -1::BIGINT, n_docs, digest FROM r""".stripMargin

  // ------------------------------------------------------ data-quality audit

  /** Expectation audit (DataQuality.audit) over a deterministically
    * corrupted orders snapshot (every 97th custkey nulled, every 101st
    * negated into an FK orphan, every 103rd orderkey collapsed onto 1 —
    * CASE order pinned identically in both engines) plus real-table
    * rules on documents/lineitem. Exact BIGINT counts throughout; the
    * oracle replays rule for rule.
    */
  private val qDqAudit: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.ext.DataQuality._
    val orders = table(s, dir, "orders")
    val dirty = orders.select(
      when(col("o_orderkey") % 103 === 0, lit(1L)).otherwise(col("o_orderkey")).as("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
        .when(col("o_orderkey") % 101 === 0, -col("o_custkey"))
        .otherwise(col("o_custkey")).as("o_custkey"),
      col("o_totalprice"))
    audit(
      Map(
        "orders_dirty" -> dirty,
        "orders" -> orders,
        "customer" -> table(s, dir, "customer"),
        "lineitem" -> table(s, dir, "lineitem"),
        "part" -> table(s, dir, "part"),
        "documents" -> table(s, dir, "documents")),
      Seq(
        NotNull("orders_dirty", "o_custkey"),
        Unique("orders_dirty", Seq("o_orderkey")),
        ForeignKey("orders_dirty", "o_custkey", "customer", "c_custkey"),
        Accepted("orders_dirty", "o_totalprice", "o_totalprice > 0.0", "positive"),
        NotNull("documents", "text"),
        Unique("documents", Seq("doc_id")),
        Accepted("lineitem", "l_quantity", "l_quantity >= 1 AND l_quantity <= 50", "qty_1_50"),
        Accepted("lineitem", "l_discount", "l_discount >= 0 AND l_discount <= 0.1", "disc_0_01"),
        ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ForeignKey("lineitem", "l_partkey", "part", "p_partkey")))
  }

  private val oDqAudit: String = {
    def notNull(rule: String, src: String, c: String) =
      s"""SELECT '$rule' AS rule,
         |       CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS violations,
         |       CAST(count(*) AS BIGINT) AS total FROM $src""".stripMargin
    def accepted(rule: String, src: String, c: String, pred: String) =
      s"""SELECT '$rule' AS rule,
         |       CAST(count(*) FILTER ($c IS NOT NULL AND NOT ($pred)) AS BIGINT) AS violations,
         |       CAST(count(*) FILTER ($c IS NOT NULL) AS BIGINT) AS total FROM $src""".stripMargin
    def unique(rule: String, src: String, c: String) =
      s"""SELECT '$rule' AS rule,
         |       CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT) AS violations,
         |       CAST(coalesce(sum(c), 0) AS BIGINT) AS total
         |FROM (SELECT count(*) AS c FROM $src WHERE $c IS NOT NULL GROUP BY $c)""".stripMargin
    def fk(rule: String, src: String, c: String, ref: String, refC: String) =
      s"""SELECT '$rule' AS rule,
         |       CAST(coalesce((SELECT sum(cnt) FROM (SELECT $c AS k, count(*) AS cnt FROM $src WHERE $c IS NOT NULL GROUP BY 1) kk
         |                      WHERE NOT EXISTS (SELECT 1 FROM $ref WHERE $refC = kk.k)), 0) AS BIGINT) AS violations,
         |       CAST(count(*) FILTER ($c IS NOT NULL) AS BIGINT) AS total FROM $src""".stripMargin
    val body = Seq(
      notNull("not_null:orders_dirty.o_custkey", "od", "o_custkey"),
      unique("unique:orders_dirty.o_orderkey", "od", "o_orderkey"),
      fk("fk:orders_dirty.o_custkey->customer.c_custkey", "od", "o_custkey", "customer", "c_custkey"),
      accepted("accepted:orders_dirty.o_totalprice:positive", "od", "o_totalprice", "o_totalprice > 0.0"),
      notNull("not_null:documents.text", "documents", "text"),
      unique("unique:documents.doc_id", "documents", "doc_id"),
      accepted("accepted:lineitem.l_quantity:qty_1_50", "lineitem", "l_quantity",
        "l_quantity >= 1 AND l_quantity <= 50"),
      accepted("accepted:lineitem.l_discount:disc_0_01", "lineitem", "l_discount",
        "l_discount >= 0 AND l_discount <= 0.1"),
      fk("fk:lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      fk("fk:lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"))
      .mkString("\nUNION ALL\n")
    s"""WITH od AS (
       |  SELECT CASE WHEN o_orderkey % 103 = 0 THEN 1 ELSE o_orderkey END AS o_orderkey,
       |         CASE WHEN o_orderkey % 97 = 0 THEN NULL
       |              WHEN o_orderkey % 101 = 0 THEN -o_custkey
       |              ELSE o_custkey END AS o_custkey,
       |         o_totalprice
       |  FROM orders)
       |SELECT rule, violations, total, violations = 0 AS pass FROM (
       |$body)""".stripMargin
  }

  /** Per-language OLS of doc length on whitespace token count
    * (Regression.groupedOls): the tokens-vs-chars calibration line a
    * curation pipeline fits per stratum. Exact DECIMAL(38,0) moments, one
    * IEEE tree for slope/intercept/R² — bitwise.
    */
  private val qOlsFit: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("lang").as("g"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("x"),
        col("n_chars").as("y"))
    graft.ext.Regression.groupedOls(docs)
  }

  private val oOlsFit: String =
    s"""WITH d AS (
       |  SELECT lang AS g, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS x, n_chars AS y
       |  FROM documents
       |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
       |m AS (
       |  SELECT g, count(*)::BIGINT AS n,
       |         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
       |         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
       |         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
       |         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
       |  FROM d GROUP BY 1),
       |e AS (
       |  SELECT g, n, CAST(n AS DOUBLE) AS nd,
       |         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS denx,
       |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS deny,
       |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
       |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
       |  FROM m),
       |f AS (SELECT e.*, CASE WHEN denx > 0.0 THEN num / denx END AS slope FROM e)
       |SELECT g, n, slope,
       |       CASE WHEN denx > 0.0 THEN (syd - (slope * sxd)) / nd END AS intercept,
       |       CASE WHEN denx > 0.0 AND deny > 0.0 THEN (num * num) / (denx * deny) END AS r2
       |FROM f""".stripMargin

  /** Pairwise source-overlap estimates via HLL set algebra
    * (Sketches.hllPairwise): union from cellwise-max registers,
    * intersection by inclusion-exclusion. The harmonic denominators are
    * EXACT integers (Σ 2^(55−r) — order-free), so even the float
    * estimates replay bitwise; accuracy itself is SketchesSpec's job.
    */
  private val qHllOverlap: (SparkSession, String) => DataFrame = (s, dir) =>
    Sketches.hllPairwise(table(s, dir, "documents"))

  private val oHllOverlap: String =
    s"""WITH t AS (SELECT source AS g, unnest(string_split($normSql, ' ')) AS token
       |           FROM documents WHERE source IS NOT NULL),
       |h AS (SELECT g, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM t WHERE token <> ''),
       |regs AS (SELECT g, h % 64 AS bucket, max(${Sketches.rankCaseSql("(h // 64)", 54)}) AS r
       |         FROM h GROUP BY 1, 2),
       |gs AS (SELECT DISTINCT g FROM regs),
       |f AS (SELECT gs.g, CAST(b.b AS BIGINT) AS bucket, coalesce(r.r, 0)::BIGINT AS r
       |      FROM gs CROSS JOIN generate_series(0, 63) b(b)
       |      LEFT JOIN regs r ON r.g = gs.g AND r.bucket = b.b),
       |s1 AS (SELECT g, CAST(sum((1::BIGINT) << CAST(55 - r AS INT)) AS BIGINT) AS s FROM f GROUP BY 1),
       |pu AS (SELECT a.g AS ga, b.g AS gb,
       |              CAST(sum((1::BIGINT) << CAST(55 - greatest(a.r, b.r) AS INT)) AS BIGINT) AS su
       |       FROM f a JOIN f b ON a.bucket = b.bucket AND a.g < b.g GROUP BY 1, 2),
       |e AS (SELECT ga AS source_a, gb AS source_b,
       |             ${Sketches.estSql("sa.s")} AS est_a,
       |             ${Sketches.estSql("sb.s")} AS est_b,
       |             ${Sketches.estSql("pu.su")} AS est_union
       |      FROM pu JOIN s1 sa ON sa.g = pu.ga JOIN s1 sb ON sb.g = pu.gb)
       |SELECT source_a, source_b, est_a, est_b, est_union,
       |       (est_a + est_b) - est_union AS est_intersect,
       |       ((est_a + est_b) - est_union) / est_union AS jaccard_est
       |FROM e""".stripMargin

  // --------------------------------------------------- perceptual image dedup

  /** Near-duplicate IMAGE pairs via dHash block LSH (Multimodal.dhashPpm +
    * dhashPairs) over the PPM corpus plus planted variants: every 20th
    * doc gets a copy (identical image → Hamming 0), every 40th a
    * one-pixel-perturbed copy (Hamming ≤ ~2). At maxHamming = 3 the
    * 4-block LSH is EXACT by pigeonhole, so the oracle replays the pair
    * set from an all-pairs scan over SQL-modeled dHashes — the whole
    * chain (encode → parse → 9×8 nearest-neighbor luma grid → comparison
    * bits → block join → bit_count verify) is integer arithmetic.
    */
  private val qImageDhashPairs: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = Multimodal.encodePpm(table(s, dir, "documents"))
    val variants = Multimodal.ppmVariant(
      base.filter(col("doc_id") % 20 === 0)
        .withColumn("flip", col("doc_id") % 40 === 0),
      idShift = 1000000L, flipCol = "flip")
    val all = base.select(col("doc_id"), col("payload")).unionByName(variants)
    Multimodal.dhashPairs(Multimodal.dhashPpm(all), maxHamming = 3)
  }

  private val oImageDhashPairs: String = {
    // flat plane position of resampled cell t (0..71, 9 wide x 8 tall),
    // channel c — the resizePlane floor indexing
    def pos(c: Int) = s"3 * (((t // 9) * h // 8) * w + (t % 9) * w // 9) + $c"
    // plane byte with the variant's one-complemented byte 0
    def px(p: String) =
      s"CASE WHEN flip AND ($p) = 0 THEN 255 - ${ppmByteSql("0")} ELSE ${ppmByteSql(p)} END"
    val luma =
      s"(299 * ${px(pos(0))} + 587 * ${px(pos(1))} + 114 * ${px(pos(2))}) // 1000"
    val rowByte =
      """list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), x ->
        |  CASE WHEN g[CAST(y * 9 + x AS INT) + 1] > g[CAST(y * 9 + x + 1 AS INT) + 1]
        |       THEN (1::BIGINT << CAST(x AS INT)) ELSE 0::BIGINT END)),
        |  (a, e) -> a + e)""".stripMargin
    val hashExpr =
      s"""list_reduce(list_prepend('', list_transform(range(0, 8), y ->
         |  printf('%02X', $rowByte))), (a, e) -> a || e)""".stripMargin
    def halfVal(side: String, lo: Int) = s"('0x' || substr($side.dhash, $lo, 8))::BIGINT"
    val ham = s"(bit_count(xor(${halfVal("a", 1)}, ${halfVal("b", 1)})) + " +
      s"bit_count(xor(${halfVal("a", 9)}, ${halfVal("b", 9)})))"
    s"""WITH b0 AS (SELECT doc_id, hex(CAST(COALESCE(text, '') AS BLOB)) AS hx,
       |                   octet_length(CAST(COALESCE(text, '') AS BLOB)) AS n,
       |                   8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
       |            FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |u AS (SELECT doc_id, hx, n, w, h, FALSE AS flip FROM b0
       |      UNION ALL
       |      SELECT doc_id + 1000000, hx, n, w, h, doc_id % 40 = 0 FROM b0 WHERE doc_id % 20 = 0),
       |lum AS (SELECT doc_id, list_transform(range(0, 72), t -> $luma) AS g FROM u),
       |dh AS (SELECT doc_id, $hashExpr AS dhash FROM lum)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($ham AS INT) AS hamming
       |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3""".stripMargin
  }

  /** Near-duplicate AUDIO pairs via the energy-profile fingerprint
    * (Multimodal.afpPcm16 + the shared block-LSH pair machinery): 65
    * proportional windows over the s16le sample range, exact integer
    * energies, adjacent-comparison bits. Planted variants as in
    * `image_dhash_pairs` (identical copy / one-byte-perturbed copy); at
    * maxHamming = 3 the banding is exact, so the oracle replays the pair
    * set from an all-pairs scan over SQL-modeled fingerprints.
    */
  private val qAudioFpPairs: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = table(s, dir, "documents").filter(col("doc_id") >= 0)
    val base = Multimodal.attachBinary(docs).select(col("doc_id"), col("payload"))
    val variants = Multimodal.binaryVariant(
      base.filter(col("doc_id") % 20 === 0)
        .withColumn("flip", col("doc_id") % 40 === 0),
      idShift = 1000000L, flipCol = "flip")
    val all = base.unionByName(variants)
    Multimodal.dhashPairs(Multimodal.afpPcm16(all), maxHamming = 3, hashCol = "afp")
  }

  private val oAudioFpPairs: String = {
    val lo = "CASE WHEN flip AND i = 0 THEN 255 - ('0x' || substr(hx, 1, 2))::INT " +
      "ELSE ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::INT END"
    val hi = "('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::INT"
    val energy =
      s"""list_reduce(list_prepend(0::BIGINT,
         |  list_transform(
         |    list_transform(
         |      list_transform(range(k * ns // 65, (k + 1) * ns // 65), i -> $hi * 256 + $lo),
         |      u -> CASE WHEN u > 32767 THEN u - 65536 ELSE u END),
         |    x -> x::BIGINT * x)),
         |  (a, y) -> a + y)""".stripMargin
    val fpByte =
      """list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
        |  CASE WHEN e[CAST(b * 8 + j AS INT) + 1] > e[CAST(b * 8 + j + 1 AS INT) + 1]
        |       THEN (1::BIGINT << CAST(j AS INT)) ELSE 0::BIGINT END)),
        |  (a, x) -> a + x)""".stripMargin
    val fpExpr =
      s"""list_reduce(list_prepend('', list_transform(range(0, 8), b ->
         |  printf('%02X', $fpByte))), (a, x) -> a || x)""".stripMargin
    def halfVal(side: String, pos: Int) = s"('0x' || substr($side.afp, $pos, 8))::BIGINT"
    val ham = s"(bit_count(xor(${halfVal("a", 1)}, ${halfVal("b", 1)})) + " +
      s"bit_count(xor(${halfVal("a", 9)}, ${halfVal("b", 9)})))"
    s"""WITH b0 AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
       |            FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0 AND text IS NOT NULL),
       |u AS (SELECT doc_id, hx, nb, FALSE AS flip FROM b0
       |      UNION ALL
       |      SELECT doc_id + 1000000, hx, nb, doc_id % 40 = 0 FROM b0 WHERE doc_id % 20 = 0),
       |s AS (SELECT doc_id, hx, nb // 2 AS ns, flip FROM u WHERE nb // 2 >= 65),
       |en AS (SELECT doc_id, list_transform(range(0, 65), k -> $energy) AS e FROM s),
       |fp AS (SELECT doc_id, $fpExpr AS afp FROM en)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($ham AS INT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3""".stripMargin
  }

  /** BitTorrent metainfo inventory under the gate ([[graft.ext.Torrent]]
    * — mirror manifests as they actually ship): per doc a complete
    * bencoded .torrent (announce, every-third-doc announce-list,
    * comment, created by, creation date, info) alternating single-file
    * and multi-file info dicts, with binary `pieces` (20 bytes/piece)
    * exercising raw byte strings. The reader enforces CANONICAL
    * bencode — strictly ascending raw-byte dict keys, no leading-zero
    * integers or string lengths, exact top-level consumption — and
    * records the raw byte span of the `info` value while parsing (the
    * BEP 3 infohash span). The oracle rebuilds the writer's framing as
    * a string (info_len graded against octet_length of the replayed
    * encoding) and the pieces checksum from the md5 stream, so a
    * mis-sliced span, a re-serialized info dict, or one wrong piece
    * byte fails the hash.
    */
  private val qTorrentMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Torrent.torrentMeta(graft.ext.Torrent.encodeTorrent(table(s, dir, "documents"))).toDF()

  private val oTorrentMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    // per-file closed forms (k = 0-based file index)
    val fl = s"1000 + doc_id * 7 + k * 31 + ${nib("CAST(6 + k AS INT)")}"
    val fn = s"${w("CAST(9 + k AS INT)")} || '_' || CAST(k AS VARCHAR) || '.bin'"
    s"""WITH d AS (SELECT doc_id, md5('torrent:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m,
       |        doc_id % 2 = 1 AS multi, doc_id % 3 = 0 AS alist,
       |        1 + ${nib("4")} % 3 AS np,
       |        16384 * (1 + ${nib("3")} % 4) AS pl,
       |        CASE WHEN doc_id % 2 = 1 THEN 1 + ${nib("5")} % 3 ELSE 1 END AS nf,
       |        ${w("1")} || '-set-' || CAST(doc_id AS VARCHAR) AS name,
       |        'Mirror of ' || ${w("2")} || ' corpus ' || CAST(doc_id AS VARCHAR) AS comment,
       |        'http://tracker' || CAST(${nib("12")} % 4 AS VARCHAR)
       |          || '.example.org/announce' AS announce
       |      FROM d, wt),
       |f AS (SELECT doc_id,
       |        list_reduce(list_prepend(0::BIGINT,
       |          list_transform(range(nf), k -> $fl)), (a, x) -> a + x) AS total_length,
       |        list_reduce(list_prepend('', list_transform(range(nf), k ->
       |          'd6:lengthi' || CAST($fl AS VARCHAR) || 'e4:pathl'
       |          || CASE WHEN k % 2 = 1 THEN '3:sub' ELSE '' END
       |          || CAST(octet_length(encode($fn)) AS VARCHAR) || ':' || $fn || 'ee')),
       |          (a, x) -> a || x) AS files_str
       |      FROM b, wt),
       |i AS (SELECT b.doc_id, b.m, b.multi, b.alist, b.np, b.pl, b.nf, b.name,
       |        b.comment, b.announce, f.total_length,
       |        CASE WHEN b.multi THEN 'd5:filesl' || f.files_str || 'e'
       |             ELSE 'd6:lengthi' || CAST(f.total_length AS VARCHAR) || 'e' END
       |          || '4:name' || CAST(octet_length(encode(b.name)) AS VARCHAR) || ':' || b.name
       |          || '12:piece lengthi' || CAST(b.pl AS VARCHAR) || 'e'
       |          || '6:pieces' || CAST(20 * b.np AS VARCHAR) || ':' AS info_prefix
       |      FROM b JOIN f ON b.doc_id = f.doc_id)
       |SELECT doc_id,
       |       (5 + CASE WHEN alist THEN 1 ELSE 0 END)::BIGINT AS n_keys,
       |       announce, alist AS has_announce_list, comment,
       |       'graft/1.0' AS created_by,
       |       (1700000000 + doc_id)::BIGINT AS creation_date,
       |       name, pl::BIGINT AS piece_length, np::BIGINT AS n_pieces,
       |       list_reduce(list_prepend(0::BIGINT, flatten(list_transform(range(np), p ->
       |         list_transform(range(20), j -> ('0x' || substr(
       |           md5('piece:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR))
       |             || substr(md5('piece:' || CAST(doc_id AS VARCHAR) || ':'
       |                           || CAST(p AS VARCHAR) || ':b'), 1, 8),
       |           CAST(2 * j + 1 AS INT), 2))::BIGINT)))),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS pieces_checksum,
       |       CASE WHEN multi THEN 'multi' ELSE 'single' END AS mode,
       |       nf::BIGINT AS n_files, total_length::BIGINT AS total_length,
       |       (octet_length(encode(info_prefix)) + 20 * np + 1)::BIGINT AS info_len
       |FROM i""".stripMargin
  }

  /** X.509 certificate inventory under the gate ([[graft.ext.X509]] —
    * PEM trust material as crawls actually carry it): per doc a PEM
    * file of complete, JDK-CertificateFactory-loadable v3 certificates
    * (every 4th doc a CA+leaf chain), DER written and read from
    * scratch per X.690/RFC 5280 — minimal definite lengths, strict
    * BOOLEANs, tbs/outer signature-algorithm equality, unique
    * extension OIDs, UTCTime validity, RSA-2048 SPKI, basicConstraints
    * / keyUsage / dNSName-SAN decode. `tbs_len` (the signed DER span)
    * is excluded from the oracled projection — binary DER framing is
    * pinned by X509Spec's `getTBSCertificate` differential instead,
    * the documented deflate-ratio policy — while every relational
    * field replays closed-form.
    */
  private val qX509Meta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.X509.x509Meta(graft.ext.X509.encodePem(table(s, dir, "documents")))
      .toDF().drop("tbs_len")

  private val oX509Meta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    val leafCn = s"'host' || CAST(doc_id AS VARCHAR) || '.example.org'"
    s"""WITH d AS (SELECT doc_id, md5('x509:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |c AS (SELECT doc_id, m, c, doc_id % 4 = 0 AND c = 0 AS is_ca
       |      FROM d, (SELECT unnest([0, 1]) AS c)
       |      WHERE c < CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END)
       |SELECT doc_id, c::BIGINT AS cert_idx, 2::BIGINT AS version,
       |       (100000 + doc_id * 7 + c)::BIGINT AS serial,
       |       '1.2.840.113549.1.1.11' AS sig_alg,
       |       'US' AS issuer_c,
       |       ${w("2")} || ' Trust' AS issuer_org,
       |       ${w("1")} || ' CA ' || CAST(doc_id AS VARCHAR) AS issuer_cn,
       |       'US' AS subject_c,
       |       CASE WHEN is_ca THEN ${w("2")} || ' Trust'
       |            ELSE ${w("3")} || ' Ops' END AS subject_org,
       |       CASE WHEN is_ca THEN ${w("1")} || ' CA ' || CAST(doc_id AS VARCHAR)
       |            ELSE $leafCn END AS subject_cn,
       |       strftime(DATE '2023-01-01' + CAST(doc_id % 365 AS INT), '%y%m%d')
       |         || '000000Z' AS not_before,
       |       strftime(DATE '2023-01-01' + CAST(doc_id % 365 + 365 AS INT), '%y%m%d')
       |         || '000000Z' AS not_after,
       |       is_ca,
       |       2048::BIGINT AS key_bits,
       |       (CASE WHEN is_ca THEN 2 ELSE 3 END)::BIGINT AS n_extensions,
       |       (CASE WHEN is_ca THEN 0 WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_san,
       |       CASE WHEN is_ca THEN ''
       |            WHEN doc_id % 2 = 0 THEN $leafCn || ',www.' || $leafCn
       |            ELSE $leafCn END AS san_dns
       |FROM c, wt""".stripMargin
  }

  /** Schema-less protobuf wire scan under the gate
    * ([[graft.ext.Protobuf]] — the pickle_scan discipline for the
    * serialization format ML lakes actually carry): per doc a
    * writeDelimitedTo-style stream of messages exercising every live
    * wire type (varint incl. multi-byte values, fixed64, fixed32 with
    * the high bit set, length-delimited), a NESTED message and a
    * PACKED varint field (both surfaced as opaque length+checksum —
    * string vs message is a schema-level fact the scan refuses to
    * guess), and a two-byte tag (field 16). The oracle rebuilds each
    * field row closed-form INCLUDING the nested message's four framing
    * bytes and the packed payload, so a tag mis-decode, a wrong
    * little-endian fold, or an off-by-one length all fail the hash.
    * Groups (wire 3/4), reserved types, field 0, straddling values,
    * and trailing garbage quarantine the stream.
    */
  private val qProtobufScan: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Protobuf.protobufScan(graft.ext.Protobuf.encodeProto(table(s, dir, "documents"))).toDF()

  private val oProtobufScan: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    def txtBytes(t: String) =
      s"list_transform(range(octet_length(encode($t))), i -> ('0x' || substr(hex(encode($t)), CAST(2 * i + 1 AS INT), 2))::BIGINT)"
    def fold(lst: String) =
      s"list_reduce(list_prepend(0::BIGINT, $lst), (a, x) -> (a * 31 + x) % 1000000007)"
    s"""WITH d AS (SELECT doc_id, md5('proto:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, mi, mi % 2 = 0 AS packed,
       |        'msg ' || CAST(mi AS VARCHAR) || ' of proto ' || CAST(doc_id AS VARCHAR)
       |          || ': ' || ${w("CAST(2 + mi AS INT)")} AS name,
       |        ${nib("CAST(5 + mi AS INT)")} AS k,
       |        'note-' || ${w("CAST(8 + mi AS INT)")} AS note,
       |        'wide-tag ' || ${w("CAST(11 + mi AS INT)")} AS wide
       |      FROM d, wt, (SELECT unnest([0, 1, 2]) AS mi)
       |      WHERE mi < 1 + ${nib("1")} % 3)
       |SELECT doc_id, mi::BIGINT AS msg_idx, 0::BIGINT AS elem_idx, 1::BIGINT AS field_no,
       |       0::BIGINT AS wire_type, (doc_id * 10 + mi)::BIGINT AS varint_val,
       |       0::BIGINT AS len, 0::BIGINT AS checksum
       |FROM b
       |UNION ALL
       |SELECT doc_id, mi, 1, 2, 2, 0, octet_length(encode(name)),
       |       ${fold(txtBytes("name"))}
       |FROM b
       |UNION ALL
       |SELECT doc_id, mi, 2, 3, 1, doc_id * 1000 + mi, 8, 0 FROM b
       |UNION ALL
       |SELECT doc_id, mi, 3, 4, 5, 3221225472 + ${nib("CAST(4 + mi AS INT)")}, 4, 0 FROM b
       |UNION ALL
       |SELECT doc_id, mi, 4, 5, 2, 0, 4 + octet_length(encode(note)),
       |       ${fold(s"list_concat([8::BIGINT, k, 18::BIGINT, octet_length(encode(note))::BIGINT], ${txtBytes("note")})")}
       |FROM b
       |UNION ALL
       |SELECT doc_id, mi, 5, 6, 0, (doc_id + mi) % 2, 0, 0 FROM b
       |UNION ALL
       |SELECT doc_id, mi, 6, 7, 2, 0, 3,
       |       ${fold("[CAST(mi + 1 AS BIGINT), CAST(mi + 2 AS BIGINT), CAST(mi + 3 AS BIGINT)]")}
       |FROM b WHERE packed
       |UNION ALL
       |SELECT doc_id, mi, CASE WHEN packed THEN 7 ELSE 6 END, 16, 2, 0,
       |       octet_length(encode(wide)), ${fold(txtBytes("wide"))}
       |FROM b""".stripMargin
  }

  /** CBOR ingestion under the gate ([[graft.ext.Cbor]] — RFC 8949 with
    * the §4.2 deterministic-encoding discipline ENFORCED): per doc a
    * canonical CBOR map exercising every argument width (multi-width
    * uints, a 1-byte-argument negint, float64, definite-length
    * strings/arrays/maps, a tag-1 epoch timestamp in a nested map, a
    * byte string surfaced as length+checksum, null and both booleans).
    * The reader quarantines indefinite lengths, non-minimal argument
    * widths, unsorted/duplicate map keys (encoded-bytes order), the
    * 1-byte simple-value form below 32, invalid UTF-8, unknown tags
    * and simples, and inexact consumption. The oracle replays every
    * field closed-form.
    */
  private val qCborItems: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Cbor.cborItems(graft.ext.Cbor.encodeCbor(table(s, dir, "documents"))).toDF()

  private val oCborItems: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('cbor:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, 1 + ${nib("8")} % 3 AS nt, 8 + ${nib("7")} AS bl FROM d)
       |SELECT doc_id, 9::BIGINT AS n_keys, (doc_id * 10)::BIGINT AS seq,
       |       'cbor doc ' || CAST(doc_id AS VARCHAR) || ': ' || ${w("1")} AS name,
       |       (-(25 + ${nib("5")}))::BIGINT AS neg,
       |       (${nib("6")} + 1) / 4.0 AS score,
       |       doc_id % 2 = 0 AS ok,
       |       TRUE AS has_nil,
       |       nt::BIGINT AS n_tags,
       |       ${w("9")} || CASE WHEN nt >= 2 THEN ',' || ${w("10")} ELSE '' END
       |         || CASE WHEN nt >= 3 THEN ',' || ${w("11")} ELSE '' END AS tags,
       |       (500 + ${nib("11")})::BIGINT AS meta_k,
       |       (1700000000 + doc_id)::BIGINT AS meta_ts,
       |       bl::BIGINT AS blob_len,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(bl), i ->
       |         ('0x' || substr(md5('blob:' || CAST(doc_id AS VARCHAR))
       |            || md5('blob:' || CAST(doc_id AS VARCHAR) || ':b'),
       |          CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS blob_checksum
       |FROM b, wt""".stripMargin
  }

  /** SSTable ingestion under the gate ([[graft.ext.Sst]] — the
    * embedded-KV on-disk unit, per LevelDB's published
    * table_format.md): per doc a complete block-based table — footer
    * magic + BlockHandles, per-block MASKED crc32c VERIFIED over
    * data+type, blocks alternating raw/snappy (the in-house coder),
    * prefix-compressed entries under a validated restart array,
    * INTERNAL keys ((seq << 8) | type) with tombstones surfaced as
    * first-class rows, strict user-key ascent across blocks, index
    * handles in file order. The oracle replays every row closed-form
    * including the per-block compression flag, so a wrong crc mask, a
    * mis-shared prefix byte, or a dropped tombstone fails the hash.
    */
  private val qSstEntries: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Sst.sstEntries(graft.ext.Sst.encodeSst(table(s, dir, "documents"))).toDF()

  private val oSstEntries: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('sst:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws)
       |SELECT doc_id, (k // 3)::BIGINT AS block_idx, (k % 3)::BIGINT AS entry_idx,
       |       'key:' || CAST(doc_id AS VARCHAR) || ':' || lpad(CAST(k AS VARCHAR), 3, '0') AS user_key,
       |       (1000 + doc_id * 50 + k)::BIGINT AS seq,
       |       CASE WHEN k % 5 = 0 THEN 'del' ELSE 'put' END AS kind,
       |       (doc_id + k // 3) % 2 = 1 AS compressed,
       |       CASE WHEN k % 5 = 0 THEN ''
       |            ELSE 'val ' || ${w("CAST(2 + k % 12 AS INT)")} || ' ' || CAST(k AS VARCHAR)
       |       END AS value
       |FROM d, wt, (SELECT unnest(range(12)) AS k)
       |WHERE k < 6 + ${nib("1")} % 6""".stripMargin
  }

  /** MessagePack ingestion under the gate ([[graft.ext.Msgpack]] —
    * the Redis/Fluentd wire format, CBOR's sibling on the
    * serialization shelf): per doc a msgpack map exercising the int
    * families across widths (minimal-width REQUIRED per lane — the
    * spec's SHOULD promoted to the module's rule), fixstr/str8,
    * bin8 (length+checksum), fixarray, nested fixmap, float64, nil,
    * both booleans, and the TIMESTAMP extension in its two common
    * shapes (fixext4 seconds-only and fixext8 nanos<<34|sec, minimal
    * shape enforced, nanos bounded). 0xc1, float32, non-timestamp
    * exts, duplicate map keys, non-minimal widths, invalid UTF-8 and
    * inexact consumption all quarantine. The oracle replays every
    * field closed-form.
    */
  private val qMsgpackItems: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Msgpack.msgpackItems(graft.ext.Msgpack.encodeMsgpack(table(s, dir, "documents"))).toDF()

  private val oMsgpackItems: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    s"""WITH d AS (SELECT doc_id, md5('msgpack:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, 1 + ${nib("8")} % 3 AS nt, 5 + ${nib("7")} AS bl FROM d)
       |SELECT doc_id, 9::BIGINT AS n_keys, (doc_id * 100)::BIGINT AS seq,
       |       'msgpack doc ' || CAST(doc_id AS VARCHAR) || ': ' || ${w("1")} AS name,
       |       (-(40 + ${nib("5")}))::BIGINT AS neg,
       |       (${nib("6")} + 3) / 8.0 AS score,
       |       doc_id % 2 = 1 AS ok,
       |       TRUE AS has_nil,
       |       nt::BIGINT AS n_tags,
       |       ${w("9")} || CASE WHEN nt >= 2 THEN ',' || ${w("10")} ELSE '' END
       |         || CASE WHEN nt >= 3 THEN ',' || ${w("11")} ELSE '' END AS tags,
       |       (700 + ${nib("11")})::BIGINT AS meta_k,
       |       (1700000000 + doc_id)::BIGINT AS ts_sec,
       |       (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 500000 + ${nib("12")} END)::BIGINT AS ts_nanos,
       |       bl::BIGINT AS blob_len,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(bl), i ->
       |         ('0x' || substr(md5('mblob:' || CAST(doc_id AS VARCHAR))
       |            || md5('mblob:' || CAST(doc_id AS VARCHAR) || ':b'),
       |          CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS blob_checksum
       |FROM b, wt""".stripMargin
  }

  /** DICOM Part 10 ingestion under the gate ([[graft.ext.Dicom]] —
    * the medical-imaging shelf): per doc a complete Explicit-VR-LE
    * object — zero preamble + DICM, the (0002,0000) meta GroupLength
    * verified to cover group 0002 exactly, TransferSyntaxUID pinned to
    * Explicit VR LE (implicit/big-endian quarantine rather than
    * misparse), short- and long-form VR headers, the PS3.5 even-length
    * rule with NUL/space padding stripped, strict (group,element)
    * ascent, a defined-length SQ with (FFFE,E000) items walked
    * recursively, and PixelData cross-checked against Rows x Columns
    * x 2. The oracle replays every surfaced field closed-form
    * including the pixel checksum.
    */
  private val qDicomMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Dicom.dicomMeta(graft.ext.Dicom.encodeDicom(table(s, dir, "documents"))).toDF()

  private val oDicomMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('dicom:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |b AS (SELECT doc_id, m, 2 + ${nib("3")} % 3 AS ncols FROM d)
       |SELECT doc_id, 6::BIGINT AS n_meta, 10::BIGINT AS n_elements,
       |       '1.2.840.10008.1.2.1' AS transfer_syntax,
       |       '1.2.840.10008.5.1.4.1.1.2' AS sop_class,
       |       '1.2.840.99999.' || CAST(doc_id AS VARCHAR) AS sop_instance,
       |       strftime(DATE '2023-01-01' + CAST(doc_id % 365 AS INT), '%Y%m%d') AS study_date,
       |       list_extract(['CT','MR','US','XA'], 1 + CAST(${nib("1")} % 4 AS INT)) AS modality,
       |       'Subject^S' || CAST(doc_id AS VARCHAR) AS patient_name,
       |       'P' || CAST(doc_id AS VARCHAR) AS patient_id,
       |       (1 + ${nib("2")} % 9)::BIGINT AS series_number,
       |       2::BIGINT AS n_rows, ncols::BIGINT AS n_cols,
       |       '0.5\\' || list_extract(['0.5','0.75','1.0','1.25'],
       |         1 + CAST(${nib("4")} % 4 AS INT)) AS pixel_spacing,
       |       (1 + doc_id % 2)::BIGINT AS n_seq_items,
       |       '1.2.840.99999.' || CAST(doc_id AS VARCHAR) || '.1'
       |         || CASE WHEN doc_id % 2 = 1
       |                 THEN ',1.2.840.99999.' || CAST(doc_id AS VARCHAR) || '.2'
       |                 ELSE '' END AS seq_refs,
       |       (4 * ncols)::BIGINT AS pixel_len,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(4 * ncols), i ->
       |         ('0x' || substr(md5('px:' || CAST(doc_id AS VARCHAR)),
       |          CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS pixel_checksum
       |FROM b""".stripMargin
  }

  /** Shapefile ingestion under the gate ([[graft.ext.Shapefile]] — the
    * geospatial shelf, per the published ESRI white paper): per doc a
    * complete .shp cycling the three record shapes by doc_id — Point
    * files, PolyLine files (multi-part, plus a planted Null record),
    * and closed Polygon rings — under the format's signature MIXED
    * endianness (BE framing, LE geometry). The reader verifies the
    * declared file length, sequential record numbers, per-record
    * content lengths, the homogeneity rule, part-index discipline,
    * ring closure, and CROSS-CHECKS both the per-record and header
    * bounding boxes against the walked coordinates. All coordinates
    * are exact dyadic closed forms, so the oracle replays min/max/sum
    * per record bitwise.
    */
  private val qShapefileRecords: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Shapefile.shapefileRecords(graft.ext.Shapefile.encodeShp(table(s, dir, "documents"))).toDF()

  private val oShapefileRecords: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('shp:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0)
       |SELECT doc_id, (k + 1)::BIGINT AS record_no, 1::BIGINT AS shape_type,
       |       0::BIGINT AS n_parts, 1::BIGINT AS n_points,
       |       doc_id + 0.25 * k AS min_x, 2.0 * doc_id - 0.5 * k AS min_y,
       |       doc_id + 0.25 * k AS max_x, 2.0 * doc_id - 0.5 * k AS max_y,
       |       doc_id + 0.25 * k AS sum_x, 2.0 * doc_id - 0.5 * k AS sum_y
       |FROM d, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
       |WHERE doc_id % 3 = 0 AND k < 2 + ${nib("1")} % 3
       |UNION ALL
       |SELECT doc_id, (r + 1)::BIGINT, 3::BIGINT,
       |       np // 2, np,
       |       doc_id + 2.0 * r, doc_id - r - 0.125 * (np - 1),
       |       doc_id + 2.0 * r + 0.25 * (np - 1), CAST(doc_id - r AS DOUBLE),
       |       np * (doc_id + 2.0 * r) + 0.25 * (np * (np - 1) // 2),
       |       np * (doc_id - CAST(r AS DOUBLE)) - 0.125 * (np * (np - 1) // 2)
       |FROM (SELECT doc_id, r, 2 * (1 + (r + doc_id) % 2) AS np
       |      FROM d, (SELECT unnest([0, 1]) AS r)
       |      WHERE doc_id % 3 = 1 AND r < 1 + doc_id % 2)
       |UNION ALL
       |SELECT doc_id, (1 + doc_id % 2 + 1)::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
       |       0.0, 0.0, 0.0, 0.0, 0.0, 0.0
       |FROM d WHERE doc_id % 3 = 1
       |UNION ALL
       |SELECT doc_id, 1::BIGINT, 5::BIGINT, 1::BIGINT, 5::BIGINT,
       |       CAST(doc_id AS DOUBLE), CAST(doc_id AS DOUBLE),
       |       CAST(doc_id + 1 AS DOUBLE), CAST(doc_id + 1 AS DOUBLE),
       |       CAST(5 * doc_id + 2 AS DOUBLE), CAST(5 * doc_id + 2 AS DOUBLE)
       |FROM d WHERE doc_id % 3 = 2""".stripMargin
  }

  /** pcap ingestion under the gate ([[graft.ext.Pcap]] — the
    * network-telemetry shelf): per doc a classic libpcap capture
    * alternating BOTH byte orders (magic-detected) and both timestamp
    * units (micro/nano magics), linktype Ethernet, with every packet
    * decoded three layers deep — Ethernet ethertype, IPv4 header with
    * the RFC 1071 ones'-complement HEADER CHECKSUM VERIFIED and total
    * length cross-checked against the captured bytes, UDP ports with
    * the UDP length cross-checked — and the payload surfaced as
    * length+checksum. Out-of-scope packets in a MIXED capture (ARP,
    * IPv6, TCP, IPv4 options, snaplen truncation) SKIP per-packet while
    * keeping their capture ordinal; STRUCTURAL damage — foreign link
    * types, fractional-second overflow, straddling records, trailing
    * bytes, or corruption inside an in-scope packet (bad IPv4 header
    * checksum, contradicted UDP length) — quarantines the capture.
    * The oracle replays every field closed-form.
    */
  private val qPcapPackets: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Pcap.pcapPackets(graft.ext.Pcap.encodePcap(table(s, dir, "documents"))).toDF()

  private val oPcapPackets: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('pcap:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |b AS (SELECT doc_id, m, k, doc_id % 3 = 0 AS nanos,
       |        4 + ${nib("CAST(9 + k % 6 AS INT)")} AS plen
       |      FROM d, (SELECT unnest(range(6)) AS k)
       |      WHERE k < 2 + ${nib("1")} % 4)
       |SELECT doc_id, k::BIGINT AS pkt_idx,
       |       (1700000000 + doc_id * 10 + k)::BIGINT AS ts_sec,
       |       (CASE WHEN nanos THEN 1000 * (1000 * k + ${nib("2")}) + ${nib("3")}
       |             ELSE 1000 * k + ${nib("2")} END)::BIGINT AS ts_frac,
       |       nanos,
       |       (42 + plen)::BIGINT AS incl_len, (42 + plen)::BIGINT AS orig_len,
       |       '10.' || CAST(${nib("4")} AS VARCHAR) || '.' || CAST(${nib("5")} AS VARCHAR)
       |         || '.' || CAST(1 + k AS VARCHAR) AS src_ip,
       |       '10.' || CAST(${nib("6")} AS VARCHAR) || '.' || CAST(${nib("7")} AS VARCHAR)
       |         || '.' || CAST(200 + k AS VARCHAR) AS dst_ip,
       |       17::BIGINT AS protocol,
       |       (30000 + ${nib("8")} * 100 + k)::BIGINT AS sport,
       |       (CASE WHEN k % 2 = 0 THEN 53 ELSE 443 END)::BIGINT AS dport,
       |       plen::BIGINT AS payload_len,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(range(plen), i ->
       |         ('0x' || substr(md5('pkt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR))
       |            || md5('pkt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':b'),
       |          CAST(2 * i + 1 AS INT), 2))::BIGINT)),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS payload_checksum
       |FROM b""".stripMargin
  }

  /** LevelDB/RocksDB write-ahead-log ingestion under the gate
    * ([[graft.ext.LeveldbLog]] — the `.log`/`.wal` sibling of
    * `sst_entries`, per the published log_format.md): 32 KiB blocks,
    * per-fragment MASKED crc32c verified (type byte + payload, the
    * log_writer.cc order), the FULL/FIRST/MIDDLE/LAST state machine
    * enforced, zero-only block trailers, no fragment crossing a block
    * seam, no unterminated record at EOF. Every fixture's first record
    * EXCEEDS one block so the reassembly path runs everywhere; the
    * oracle rebuilds each record's payload with `repeat(unhex(md5))`
    * and grades the reassembled md5, so a byte lost at a block seam or
    * a mis-ordered fragment fails the hash.
    */
  private val qWalRecords: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.LeveldbLog.walRecords(graft.ext.LeveldbLog.encodeLog(table(s, dir, "documents"))).toDF()

  private val oWalRecords: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('wal:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |b AS (SELECT doc_id, m, r,
       |        CASE WHEN r = 0 THEN 32768 + 1024 + ${nib("2")} * 32
       |             ELSE 96 + ${nib("CAST(3 + r AS INT)")} * 32 END AS len
       |      FROM d, (SELECT unnest([0, 1, 2, 3]) AS r)
       |      WHERE r < 2 + ${nib("1")} % 3)
       |SELECT doc_id, r::BIGINT AS rec_idx,
       |       (CASE WHEN r = 0 THEN 2 ELSE 1 END)::BIGINT AS n_fragments,
       |       len::BIGINT AS rec_len,
       |       md5(repeat(md5('walrec:' || CAST(doc_id AS VARCHAR)
       |         || ':' || CAST(r AS VARCHAR)), CAST(len // 32 AS INT))) AS rec_md5
       |FROM b""".stripMargin
  }

  /** Standard MIDI File ingestion under the gate ([[graft.ext.Midi]] —
    * the music-corpus shelf): per doc a format-1 SMF whose note track
    * runs on RUNNING STATUS after one explicit status byte (the
    * format's classic reader-breaking hazard) with multi-byte VLQ
    * delta times, vel-0 note-ons as note-offs plus one explicit 0x8n,
    * a tempo meta pinned to length 3, a track name, and end-of-track
    * required as each track's final event. Declared track counts and
    * chunk lengths are cross-checked; non-minimal VLQs, data bytes
    * with no prior status, out-of-scope statuses and SMPTE division
    * quarantine. The oracle replays counts, tick totals, and a fold
    * over every (delta, key, velocity) triple closed-form.
    */
  private val qMidiMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Midi.midiMeta(graft.ext.Midi.encodeMidi(table(s, dir, "documents"))).toDF()

  private val oMidiMeta: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    def w(i: String) = s"list_extract(ws, 1 + CAST(${nib(i)} % 8 AS INT))"
    val delta = s"CASE WHEN n = 0 THEN 0 ELSE 120 + ${nib("CAST(6 + n % 8 AS INT)")} * 16 END"
    val key = "48 + (doc_id + 5 * n) % 24"
    val vel = s"64 + ${nib("CAST(5 + n % 8 AS INT)")} % 32"
    s"""WITH d AS (SELECT doc_id, md5('midi:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |wt AS (SELECT ['anchor','bloom','cedar','dune','ember','flint','grove','harbor'] AS ws),
       |b AS (SELECT doc_id, m, 3 + ${nib("4")} % 5 AS nn FROM d)
       |SELECT doc_id, 1::BIGINT AS format, 2::BIGINT AS n_tracks,
       |       (96 * (1 + ${nib("1")} % 4))::BIGINT AS division,
       |       (400000 + ${nib("2")} * 10000)::BIGINT AS tempo_us,
       |       ${w("3")} || ' take ' || CAST(doc_id AS VARCHAR) AS track_name,
       |       nn::BIGINT AS n_note_on, nn::BIGINT AS n_note_off,
       |       (list_reduce(list_prepend(0::BIGINT, list_transform(range(nn), n -> $delta)),
       |          (a, x) -> a + x) + 60 * nn)::BIGINT AS total_ticks,
       |       list_reduce(list_prepend(0::BIGINT, flatten(list_transform(range(nn), n ->
       |         [$delta, $key, $vel, 60::BIGINT, $key,
       |          CASE WHEN n = nn - 1 THEN 64 ELSE 0 END]))),
       |         (a, x) -> (a * 31 + x) % 1000000007)::BIGINT AS notes_checksum
       |FROM b, wt""".stripMargin
  }

  /** SQLite WAL ingestion under the gate ([[graft.ext.SqliteWal]] —
    * the `-wal` sibling of `sqlite_rows`; live captures carry their
    * newest writes ONLY here): per doc a complete write-ahead log in
    * BOTH checksum word orders (the magic's low bit), the header's own
    * cumulative checksum verified, per-frame salt echo + cumulative
    * checksum chain verified, and the PUBLISHED RECOVERY RULE applied
    * — the first salt- or checksum-invalid frame ends the log and the
    * tail is ignored, NOT damage (every third doc plants a stale
    * pre-checkpoint frame the rule must drop). Commit frames carry the
    * database size; pages are repeated-md5 ASCII so the oracle
    * rebuilds each frame's page md5 with repeat().
    */
  private val qSqliteWalFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.SqliteWal.sqliteWalFrames(graft.ext.SqliteWal.encodeWal(table(s, dir, "documents"))).toDF()

  private val oSqliteWalFrames: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    s"""WITH d AS (SELECT doc_id, md5('swal:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |b AS (SELECT doc_id, m, t, f, 1 + (doc_id + t) % 2 AS nf
       |      FROM d, (SELECT unnest([0, 1, 2]) AS t), (SELECT unnest([0, 1]) AS f)
       |      WHERE t < 1 + ${nib("1")} % 3 AND f < 1 + (doc_id + t) % 2)
       |SELECT doc_id,
       |       (t + f + list_reduce(list_prepend(0::BIGINT,
       |          list_transform(range(t), u -> (doc_id + u) % 2)),
       |          (a, x) -> a + x))::BIGINT AS frame_idx,
       |       (1 + (t + f + doc_id) % 4)::BIGINT AS page_no,
       |       (CASE WHEN f = nf - 1 THEN 4 + t ELSE 0 END)::BIGINT AS db_size,
       |       f = nf - 1 AS is_commit,
       |       doc_id % 2 = 0 AS big_endian,
       |       ${nib("2")}::BIGINT AS ckpt_seq,
       |       md5(repeat(md5('walpg:' || CAST(doc_id AS VARCHAR) || ':'
       |         || CAST(t AS VARCHAR) || ':' || CAST(f AS VARCHAR)), 16)) AS page_md5
       |FROM b""".stripMargin
  }

  /** Git pack-index ingestion under the gate ([[graft.ext.Packidx]] —
    * the random-access side of the `git_objects` packfiles): per doc a
    * complete .idx v2 — magic+version, the 256-entry fanout verified
    * monotone AND consistent with every id's first byte, strictly
    * ascending object ids, the crc table, 4-byte offsets whose MSB-set
    * entries index the 8-byte LARGE-OFFSET table (planted on every 4th
    * doc — the >2 GiB pack trap), and the trailer's SHA-1 of the whole
    * file VERIFIED, so one flipped byte anywhere quarantines. The
    * oracle replays ids/crcs/offsets closed-form with the sort rank
    * recomputed relationally.
    */
  private val qPackIndex: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.ext.Packidx.packIndex(graft.ext.Packidx.encodeIdx(table(s, dir, "documents"))).toDF()

  private val oPackIndex: String = {
    def nib(i: String) = s"('0x' || substr(m, $i, 1))::BIGINT"
    val oid = "md5('oid:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)) || " +
      "substr(md5('oid:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':b'), 1, 8)"
    s"""WITH d AS (SELECT doc_id, md5('pidx:' || CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |b AS (SELECT doc_id, m, k, 3 + ${nib("1")} % 5 AS n, $oid AS oid
       |      FROM d, (SELECT unnest(range(8)) AS k)
       |      WHERE k < 3 + ${nib("1")} % 5)
       |SELECT doc_id,
       |       (row_number() OVER (PARTITION BY doc_id ORDER BY oid) - 1)::BIGINT AS obj_idx,
       |       oid,
       |       ('0x' || substr(md5('crc:' || CAST(doc_id AS VARCHAR) || ':'
       |         || CAST(k AS VARCHAR)), 1, 8))::BIGINT AS crc32,
       |       (CASE WHEN doc_id % 4 = 0 AND k = 0
       |             THEN 4294967296 + doc_id * 64 + ${nib("2")}
       |             ELSE 12 + 50 * k END)::BIGINT AS offset,
       |       n::BIGINT AS n_objects,
       |       md5('packid:' || CAST(doc_id AS VARCHAR))
       |         || substr(md5('packid:' || CAST(doc_id AS VARCHAR) || ':b'), 1, 8) AS pack_id
       |FROM b""".stripMargin
  }

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "metric_parse" -> qMetricParse,
    "window_agg_5min" -> qWindowAgg,
    "event_stats_hourly" -> qEventStats,
    "value_quantiles" -> qQuantiles,
    "sliding_window_agg" -> qSlidingWindow,
    "session_window_agg" -> qSessionWindow,
    "alert_math" -> qAlertMath,
    "daily_trend" -> qDailyTrend,
    "baseline_stats_replay" -> qBaselineStats,
    "pipeline_replay" -> qPipelineReplay,
    "props_extract_agg" -> qPropsExtract,
    "datagen_batch" -> qDatagen,
    "datagen_batch_md5" -> qDatagenMd5,
    "dedup_exact" -> qDedupExact,
    "text_quality" -> qTextQuality,
    "lang_id" -> qLangId,
    "token_counts" -> qTokenCounts,
    "fingerprints" -> qFingerprints,
    "winnow_fingerprints" -> qWinnowFingerprints,
    "containment_pairs" -> qContainmentPairs,
    "dup_spans" -> qDupSpans,
    "dup_spans_remove" -> qDupSpansRemove,
    "edit_distance_pairs" -> qEditDistancePairs,
    "edit_distance_pairs_mp" -> qEditDistancePairsMp,
    "edit_distance_pairs_3p" -> qEditDistancePairs3p,
    "er_match_scores" -> qErMatchScores,
    "wordpiece_tokens" -> qWordpieceTokens,
    "dremel_shred" -> qDremelShred,
    "vopt_histogram" -> qVoptHistogram,
    "skyline_parts" -> qSkylineParts,
    "ivm_agg" -> qIvmAgg,
    "event_pattern_match" -> qPatternMatch,
    "grid_dbscan" -> qGridDbscan,
    "rendezvous_shards" -> qRendezvousShards,
    "coverage_select" -> qCoverageSelect,
    "join_order_dp" -> qJoinOrderDp,
    "selectivity_estimate" -> qSelectivityEst,
    "inverted_postings" -> qInvertedPostings,
    "boolean_retrieval" -> qBooleanRetrieval,
    "url_normalize" -> qUrlNormalize,
    "robots_decisions" -> qRobotsDecisions,
    "robots_txt_decisions" -> qRobotsTxtDecisions,
    "crawl_schedule" -> qCrawlSchedule,
    "sitemap_extract" -> qSitemapExtract,
    "feed_extract" -> qFeedExtract,
    "discovery_frontier" -> qDiscoveryFrontier,
    "idna_host_decode" -> qIdnaHostDecode,
    "unicode_nfc" -> qUnicodeNfc,
    "unicode_nfkc" -> qUnicodeNfkc,
    "cjk_tokens" -> qCjkTokens,
    "cdc_chunks" -> qCdcChunks,
    "cdc_dedup" -> qCdcDedup,
    "ranked_retrieval" -> qRankedRetrieval,
    "rrf_fusion" -> qRrfFusion,
    "pmi_collocations" -> qPmiCollocations,
    "phrase_retrieval" -> qPhraseRetrieval,
    "crawl_pipeline" -> qCrawlPipeline,
    "bitpack_blocks" -> qBitpackBlocks,
    "gorilla_ts" -> qGorillaTs,
    "rle_runs" -> qRleRuns,
    "skew_profile" -> qSkewProfile,
    "trending_terms" -> qTrendingTerms,
    "event_transitions" -> qEventTransitions,
    "quality_logit" -> qQualityLogit,
    "group_auc" -> qGroupAuc,
    "calibration_bins" -> qCalibrationBins,
    "ngram_jaccard" -> qNgramJaccard,
    "minhash_lsh_verified" -> qMinhashVerified,
    "simhash_pairs" -> qSimhashPairs,
    "simhash_md5_pairs" -> qSimhashMd5Pairs,
    "multimodal_decode" -> qMultimodal,
    "curation_pipeline" -> qCuration,
    "curation_clustered" -> qCurationClustered,
    "embedding_norms" -> qEmbeddingNorms,
    "random_project" -> qRandomProject,
    "feature_stats" -> qFeatureStats,
    "feature_drift" -> qFeatureDrift,
    "pca_project" -> qPcaProject,
    "zorder_stats" -> qZorderStats,
    "incremental_dedup" -> qIncrementalDedup,
    "decontaminate" -> qDecontaminate,
    "cosine_pairs_exact" -> qCosinePairs,
    "cosine_topk" -> qCosineTopK,
    "hard_negatives" -> qHardNegatives,
    "knn_label_vote" -> qKnnLabelVote,
    "ivf_topk" -> qIvfTopK,
    "ivf_topk_full" -> qIvfTopKFull,
    "srp_cosine_pairs" -> qSrpCosinePairs,
    "ivf_cosine_pairs" -> qIvfCosinePairs,
    "semantic_dedup" -> qSemanticDedup,
    "q1_lineitem" -> qQ1,
    "q3_top10" -> qQ3,
    "q5_region_revenue" -> qQ5,
    "q6_sql_revenue" -> qQ6Sql,
    "q13_custdist" -> qQ13Custdist,
    "q4_priority_semi" -> qQ4PrioritySemi,
    "top_orders_per_cust" -> qTopOrders,
    "grouped_topk_agg" -> qGroupedTopK,
    "parts_unsold_month" -> qPartsUnsold,
    "rollup_qty" -> qRollup,
    "cube_qty" -> qCube,
    "pivot_monthly" -> qPivotMonthly,
    "fuzzy_part_match" -> qFuzzyPartMatch,
    "asof_enrich" -> qAsofEnrich,
    "range_join_shipments" -> qRangeJoin,
    "interval_join_attrib" -> qIntervalJoin,
    "scd_lookup" -> qScdLookup,
    "split_assign" -> qSplitAssign,
    "tfidf_top_terms" -> qTfidfTopTerms,
    "bm25_scores" -> qBm25Scores,
    "repetition_ratio" -> qRepetitionRatio,
    "pii_scrub" -> qPiiScrub,
    "stratified_sample" -> qStratifiedSample,
    "weighted_sample" -> qWeightedSample,
    "chunk_docs" -> qChunkDocs,
    "user_sessions" -> qUserSessions,
    "cust_order_fullouter" -> qCustOrderFullOuter,
    "token_packing" -> qTokenPacking,
    "dedup_clusters" -> qDedupClusters,
    "funnel_conversion" -> qFunnel,
    "cohort_retention" -> qCohortRetention,
    "distinct_users" -> qDistinctUsers,
    "vocabulary_top100" -> qVocabulary,
    "label_centroids" -> qLabelCentroids,
    "salted_join_agg" -> qSaltedJoin,
    "multimodal_bmp_decode" -> qMultimodalBmp,
    "multimodal_tiff_decode" -> qMultimodalTiff,
    "multimodal_webp_decode" -> qMultimodalWebp,
    "multimodal_png_decode" -> qMultimodalPng,
    "multimodal_gif_decode" -> qMultimodalGif,
    "multimodal_jpeg_decode" -> qMultimodalJpeg,
    "exif_meta" -> qExifMeta,
    "exif_strip" -> qExifStrip,
    "ipynb_cells" -> qIpynbCells,
    "git_objects" -> qGitObjects,
    "doc_extract" -> qDocExtract,
    "xls_cells" -> qXlsCells,
    "msg_extract" -> qMsgExtract,
    "ics_events" -> qIcsEvents,
    "vcard_contacts" -> qVcardContacts,
    "toml_entries" -> qTomlEntries,
    "yaml_entries" -> qYamlEntries,
    "java_properties" -> qJavaProperties,
    "svg_text" -> qSvgText,
    "svg_meta" -> qSvgMeta,
    "gpx_points" -> qGpxPoints,
    "multimodal_sniff_decode" -> qMultimodalSniff,
    "multimodal_resize" -> qMultimodalResize,
    "multimodal_frames" -> qMultimodalFrames,
    "multimodal_thumbnail" -> qMultimodalThumbnail,
    "video_frame_stats" -> qVideoFrameStats,
    "mp4_frames" -> qMp4Frames,
    "mp3_frames" -> qMp3Frames,
    "ogg_pages" -> qOggPages,
    "ogg_streams" -> qOggStreams,
    "mbox_extract" -> qMboxExtract,
    "eml_extract" -> qEmlExtract,
    "sentence_split" -> qSentenceSplit,
    "sentence_dedup" -> qSentenceDedup,
    "tfrecord_extract" -> qTfrecordExtract,
    "tfexample_extract" -> qTfExampleExtract,
    "avro_extract" -> qAvroExtract,
    "avro_generic" -> qAvroGeneric,
    "subtitle_cues" -> qSubtitleCues,
    "pdf_extract" -> qPdfExtract,
    "epub_extract" -> qEpubExtract,
    "docx_extract" -> qDocxExtract,
    "odt_extract" -> qOdtExtract,
    "pptx_extract" -> qPptxExtract,
    "ppt_extract" -> qPptExtract,
    "sqlite_rows" -> qSqliteRows,
    "parquet_meta" -> qParquetMeta,
    "parquet_stats" -> qParquetStats,
    "parquet_nested" -> qParquetNested,
    "parquet_bloom" -> qParquetBloom,
    "parquet_page_index" -> qParquetPageIndex,
    "orc_meta" -> qOrcMeta,
    "arrow_batches" -> qArrowBatches,
    "arrow_stream" -> qArrowStream,
    "delta_state" -> qDeltaState,
    "delta_checkpoint_state" -> qDeltaCheckpoint,
    "iceberg_state" -> qIcebergState,
    "iceberg_v2_state" -> qIcebergV2State,
    "iceberg_eq_state" -> qIcebergEqState,
    "deb_extract" -> qDebExtract,
    "cpio_entries" -> qCpioEntries,
    "ttf_meta" -> qTtfMeta,
    "rpm_meta" -> qRpmMeta,
    "class_meta" -> qClassMeta,
    "elf_meta" -> qElfMeta,
    "safetensors_meta" -> qSafetensorsMeta,
    "npy_meta" -> qNpyMeta,
    "pickle_scan" -> qPickleScan,
    "gguf_meta" -> qGgufMeta,
    "wasm_meta" -> qWasmMeta,
    "pe_meta" -> qPeMeta,
    "bson_docs" -> qBsonDocs,
    "macho_meta" -> qMachoMeta,
    "dex_classes" -> qDexClasses,
    "rtf_extract" -> qRtfExtract,
    "xlsx_extract" -> qXlsxExtract,
    "latex_extract" -> qLatexExtract,
    "markdown_extract" -> qMarkdownExtract,
    "sevenz_extract" -> qSevenZExtract,
    "caption_align" -> qCaptionAlign,
    "audio_frame_stats" -> qAudioFrames,
    "audio_wav_frame_stats" -> qWavFrames,
    "audio_flac_frame_stats" -> qFlacFrames,
    "audio_ulaw_frame_stats" -> qUlawFrames,
    "audio_resample" -> qAudioResample,
    "audio_resample_filtered" -> qAudioResampleFiltered,
    "text_gunzip" -> qGunzipStats,
    "warc_extract" -> qWarcExtract,
    "wet_convert" -> qWetConvert,
    "wat_convert" -> qWatConvert,
    "cdx_records" -> qCdxRecords,
    "cdx_seek" -> qCdxSeek,
    "warc_http_extract" -> qWarcHttpExtract,
    "warc_http_enc_extract" -> qWarcHttpEncExtract,
    "zip_extract" -> qZipExtract,
    "tar_extract" -> qTarExtract,
    "tgz_extract" -> qTgzExtract,
    "txz_extract" -> qTxzExtract,
    "taz_extract" -> qTazExtract,
    "z_roundtrip" -> qZRoundtrip,
    "html_extract" -> qHtmlExtract,
    "content_extract" -> qContentExtract,
    "link_extract" -> qLinkExtract,
    "host_link_edges" -> qHostLinkEdges,
    "deflate_roundtrip" -> qDeflateRoundtrip,
    "utf8_stats" -> qUtf8Stats,
    "charset_decode" -> qCharsetDecode,
    "crawl_charset_pipeline" -> qCrawlCharsetPipeline,
    "host_pagerank" -> qHostPagerank,
    "hll_registers" -> qHllRegisters,
    "blocklist_match" -> qBlocklistMatch,
    "cms_counts" -> qCmsCounts,
    "cms_join_size" -> qCmsJoinSize,
    "bitmap_index" -> qBitmapIndex,
    "soundex_keys" -> qSoundexKeys,
    "wavelet_synopsis" -> qWaveletSynopsis,
    "bitmap_and_query" -> qBitmapAndQuery,
    "bitmap_compress" -> qBitmapCompress,
    "bitmap_and_compressed" -> qBitmapAndCompressed,
    "pack_sequences" -> qPackSequences,
    "pack_stats" -> qPackStats,
    "csv_extract" -> qCsvExtract,
    "host_hits" -> qHostHits,
    "host_triangles" -> qHostTriangles,
    "host_bfs" -> qHostBfs,
    "host_kcore" -> qHostKcore,
    "host_communities" -> qHostCommunities,
    "crawl_priority" -> qCrawlPriority,
    "snappy_roundtrip" -> qSnappyRoundtrip,
    "lz4_roundtrip" -> qLz4Roundtrip,
    "rans_roundtrip" -> qRansRoundtrip,
    "zstd_roundtrip" -> qZstdRoundtrip,
    "brotli_roundtrip" -> qBrotliRoundtrip,
    "brotli_q1_roundtrip" -> qBrotliQ1Roundtrip,
    "zstd_dict_train" -> qZstdDictTrain,
    "zstd_dict_roundtrip" -> qZstdDictRoundtrip,
    "zst_extract" -> qZstExtract,
    "bz2_extract" -> qBz2Extract,
    "xz_extract" -> qXzExtract,
    "xz_lzma_roundtrip" -> qXzLzmaRoundtrip,
    "bpe_tokens" -> qBpeTokens,
    "bpe_train" -> qBpeTrain,
    "unigram_train" -> qUnigramTrain,
    "unigram_tokens" -> qUnigramTokens,
    "suffix_array" -> qSuffixArray,
    "quantize_stats" -> qQuantize,
    "pq_codes" -> qPqCodes,
    "pq_topk" -> qPqTopK,
    "pq_topk_full" -> qPqTopKFull,
    "ivfpq_topk" -> qIvfPqTopK,
    "ivfpq_topk_full" -> qIvfPqTopKFull,
    "line_dedup" -> qLineDedup,
    "mixture_sample" -> qMixtureSample,
    "stratum_cap" -> qStratumCap,
    "curriculum_buckets" -> qCurriculumBuckets,
    "rolling_stats" -> qRollingStats,
    "mad_outliers" -> qMadOutliers,
    "log_histogram" -> qLogHistogram,
    "log_histogram_quantiles" -> qLogHistogramQuantiles,
    "upsert_apply" -> qUpsertApply,
    "lm_fluency" -> qLmScore,
    "vocab_heavy_hitters" -> qVocabHeavyHitters,
    "source_overlap" -> qSourceOverlap,
    "dup_ngram_fraction" -> qDupNgramFraction,
    "corpus_diff" -> qCorpusDiff,
    "acf_lags" -> qAcfLags,
    "dominant_period" -> qDominantPeriod,
    "cusum_scan" -> qCusumScan,
    "ewma_smooth" -> qEwmaSmooth,
    "holt_smooth" -> qHoltSmooth,
    "hmm_states" -> qHmmStates,
    "ts_gapfill" -> qTsGapfill,
    "negative_samples" -> qNegativeSamples,
    "lang_source_chi2" -> qLangSourceChi2,
    "dataset_manifest" -> qDatasetManifest,
    "dq_audit" -> qDqAudit,
    "ols_fit" -> qOlsFit,
    "hll_overlap" -> qHllOverlap,
    "image_dhash_pairs" -> qImageDhashPairs,
    "audio_fp_pairs" -> qAudioFpPairs,
    "torrent_meta" -> qTorrentMeta,
    "x509_meta" -> qX509Meta,
    "protobuf_scan" -> qProtobufScan,
    "cbor_items" -> qCborItems,
    "sst_entries" -> qSstEntries,
    "msgpack_items" -> qMsgpackItems,
    "dicom_meta" -> qDicomMeta,
    "shapefile_records" -> qShapefileRecords,
    "pcap_packets" -> qPcapPackets,
    "wal_records" -> qWalRecords,
    "midi_meta" -> qMidiMeta,
    "sqlite_wal_frames" -> qSqliteWalFrames,
    "pack_index" -> qPackIndex)

  val oracleSql: Map[String, String] = Map(
    "metric_parse" -> oMetricParse,
    "window_agg_5min" -> oWindowAgg,
    "event_stats_hourly" -> oEventStats,
    "value_quantiles" -> oQuantiles,
    "sliding_window_agg" -> oSlidingWindow,
    "session_window_agg" -> oSessionWindow,
    "alert_math" -> oAlertMath,
    "daily_trend" -> oDailyTrend,
    "baseline_stats_replay" -> oBaselineStats,
    "props_extract_agg" -> oPropsExtract,
    "datagen_batch_md5" -> oDatagenMd5,
    "dedup_exact" -> oDedupExact,
    "text_quality" -> oTextQuality,
    "lang_id" -> oLangId,
    "token_counts" -> oTokenCounts,
    "fingerprints" -> oFingerprints,
    "winnow_fingerprints" -> oWinnowFingerprints,
    "containment_pairs" -> oContainmentPairs,
    "dup_spans" -> oDupSpans,
    "dup_spans_remove" -> oDupSpansRemove,
    "edit_distance_pairs" -> oEditDistancePairs,
    "edit_distance_pairs_mp" -> oEditDistancePairsMp,
    "edit_distance_pairs_3p" -> oEditDistancePairs3p,
    "er_match_scores" -> oErMatchScores,
    "wordpiece_tokens" -> oWordpieceTokens,
    "dremel_shred" -> oDremelShred,
    "vopt_histogram" -> oVoptHistogram,
    "skyline_parts" -> oSkylineParts,
    "ivm_agg" -> oIvmAgg,
    "event_pattern_match" -> oPatternMatch,
    "grid_dbscan" -> oGridDbscan,
    "rendezvous_shards" -> oRendezvousShards,
    "coverage_select" -> oCoverageSelect,
    "join_order_dp" -> oJoinOrderDp,
    "selectivity_estimate" -> oSelectivityEst,
    "inverted_postings" -> oInvertedPostings,
    "boolean_retrieval" -> oBooleanRetrieval,
    "url_normalize" -> oUrlNormalize,
    "robots_decisions" -> oRobotsDecisions,
    "robots_txt_decisions" -> oRobotsTxtDecisions,
    "crawl_schedule" -> oCrawlSchedule,
    "sitemap_extract" -> oSitemapExtract,
    "feed_extract" -> oFeedExtract,
    "discovery_frontier" -> oDiscoveryFrontier,
    "idna_host_decode" -> oIdnaHostDecode,
    "unicode_nfc" -> oUnicodeNfc,
    "unicode_nfkc" -> oUnicodeNfkc,
    "cjk_tokens" -> oCjkTokens,
    "cdc_chunks" -> oCdcChunks,
    "cdc_dedup" -> oCdcDedup,
    "ranked_retrieval" -> oRankedRetrieval,
    "rrf_fusion" -> oRrfFusion,
    "pmi_collocations" -> oPmiCollocations,
    "phrase_retrieval" -> oPhraseRetrieval,
    "crawl_pipeline" -> oCrawlPipeline,
    "bitpack_blocks" -> oBitpackBlocks,
    "gorilla_ts" -> oGorillaTs,
    "rle_runs" -> oRleRuns,
    "skew_profile" -> oSkewProfile,
    "trending_terms" -> oTrendingTerms,
    "event_transitions" -> oEventTransitions,
    "quality_logit" -> oQualityLogit,
    "group_auc" -> oGroupAuc,
    "calibration_bins" -> oCalibrationBins,
    "ngram_jaccard" -> oNgramJaccard,
    "minhash_lsh_verified" -> oNgramJaccard,
    "simhash_md5_pairs" -> oSimhashMd5Pairs,
    "multimodal_decode" -> oMultimodal,
    "curation_pipeline" -> oCuration,
    "curation_clustered" -> oCurationClustered,
    "embedding_norms" -> oEmbeddingNorms,
    "random_project" -> oRandomProject,
    "feature_stats" -> oFeatureStats,
    "feature_drift" -> oFeatureDrift,
    "zorder_stats" -> oZorderStats,
    "incremental_dedup" -> oIncrementalDedup,
    "decontaminate" -> oDecontaminate,
    "cosine_pairs_exact" -> oCosinePairs,
    "cosine_topk" -> oCosineTopK,
    "hard_negatives" -> oHardNegatives,
    "knn_label_vote" -> oKnnLabelVote,
    "ivf_topk_full" -> oCosineTopK,
    "pq_topk_full" -> oPqTopKFull,
    "ivfpq_topk_full" -> oPqTopKFull,
    "srp_cosine_pairs" -> oSrpCosinePairs,
    "ivf_cosine_pairs" -> oSrpCosinePairs,
    "semantic_dedup" -> oSemanticDedup,
    "q1_lineitem" -> oQ1,
    "q3_top10" -> oQ3,
    "q5_region_revenue" -> oQ5,
    "q6_sql_revenue" -> oQ6Sql,
    "q13_custdist" -> oQ13Custdist,
    "q4_priority_semi" -> oQ4PrioritySemi,
    "top_orders_per_cust" -> oTopOrders,
    "grouped_topk_agg" -> oGroupedTopK,
    "parts_unsold_month" -> oPartsUnsold,
    "rollup_qty" -> oRollup,
    "cube_qty" -> oCube,
    "pivot_monthly" -> oPivotMonthly,
    "fuzzy_part_match" -> oFuzzyPartMatch,
    "asof_enrich" -> oAsofEnrich,
    "range_join_shipments" -> oRangeJoin,
    "interval_join_attrib" -> oIntervalJoin,
    "scd_lookup" -> oScdLookup,
    "split_assign" -> oSplitAssign,
    "tfidf_top_terms" -> oTfidfTopTerms,
    "bm25_scores" -> oBm25Scores,
    "repetition_ratio" -> oRepetitionRatio,
    "pii_scrub" -> oPiiScrub,
    "stratified_sample" -> oStratifiedSample,
    "weighted_sample" -> oWeightedSample,
    "chunk_docs" -> oChunkDocs,
    "user_sessions" -> oUserSessions,
    "cust_order_fullouter" -> oCustOrderFullOuter,
    "token_packing" -> oTokenPacking,
    "dedup_clusters" -> oDedupClusters,
    "funnel_conversion" -> oFunnel,
    "cohort_retention" -> oCohortRetention,
    "distinct_users" -> oDistinctUsers,
    "vocabulary_top100" -> oVocabulary,
    "label_centroids" -> oLabelCentroids,
    "salted_join_agg" -> oSaltedJoin,
    "multimodal_bmp_decode" -> oMultimodalBmp,
    "multimodal_tiff_decode" -> oMultimodalTiff,
    "multimodal_webp_decode" -> oMultimodalWebp,
    "multimodal_png_decode" -> oMultimodalPng,
    "multimodal_gif_decode" -> oMultimodalGif,
    "multimodal_jpeg_decode" -> oMultimodalJpeg,
    "exif_meta" -> oExifMeta,
    "exif_strip" -> oExifStrip,
    "ipynb_cells" -> oIpynbCells,
    "git_objects" -> oGitObjects,
    "doc_extract" -> oDocExtract,
    "xls_cells" -> oXlsCells,
    "msg_extract" -> oMsgExtract,
    "ics_events" -> oIcsEvents,
    "vcard_contacts" -> oVcardContacts,
    "toml_entries" -> oTomlEntries,
    "yaml_entries" -> oYamlEntries,
    "java_properties" -> oJavaProperties,
    "svg_text" -> oSvgText,
    "svg_meta" -> oSvgMeta,
    "gpx_points" -> oGpxPoints,
    "multimodal_sniff_decode" -> oMultimodalSniff,
    "multimodal_resize" -> oMultimodalResize,
    "multimodal_frames" -> oMultimodalFrames,
    "audio_frame_stats" -> oAudioFrames,
    "audio_wav_frame_stats" -> oWavFrames,
    "audio_flac_frame_stats" -> oWavFrames, // shared sample plane: same table

    "audio_ulaw_frame_stats" -> oUlawFrames,
    "audio_resample" -> oAudioResample,
    "audio_resample_filtered" -> oAudioResampleFiltered,
    "text_gunzip" -> oGunzipStats,
    "warc_extract" -> oWarcExtract,
    "wet_convert" -> oWarcExtract,
    "wat_convert" -> oWatConvert,
    "cdx_records" -> oCdxRecords,
    "cdx_seek" -> oWarcExtract,
    "warc_http_extract" -> oWarcHttpExtract,
    "warc_http_enc_extract" -> oWarcHttpEncExtract,
    "zip_extract" -> oZipExtract,
    "tar_extract" -> oTarExtract,
    "tgz_extract" -> oTarExtract,
    "txz_extract" -> oTarExtract,
    "taz_extract" -> oTarExtract,
    "z_roundtrip" -> oDeflateRoundtrip,
    "html_extract" -> oHtmlExtract,
    "content_extract" -> oContentExtract,
    "link_extract" -> oLinkExtract,
    "host_link_edges" -> oHostLinkEdges,
    "deflate_roundtrip" -> oDeflateRoundtrip,
    "utf8_stats" -> oUtf8Stats,
    "charset_decode" -> oCharsetDecode,
    "crawl_charset_pipeline" -> oCrawlCharsetPipeline,
    "host_pagerank" -> oHostPagerank,
    "hll_registers" -> oHllRegisters,
    "blocklist_match" -> oBlocklistMatch,
    "cms_counts" -> oCmsCounts,
    "cms_join_size" -> oCmsJoinSize,
    "bitmap_index" -> oBitmapIndex,
    "soundex_keys" -> oSoundexKeys,
    "wavelet_synopsis" -> oWaveletSynopsis,
    "bitmap_and_query" -> oBitmapAndQuery,
    "bitmap_compress" -> oBitmapCompress,
    "bitmap_and_compressed" -> oBitmapAndCompressed,
    "pack_sequences" -> oPackSequences,
    "pack_stats" -> oPackStats,
    "csv_extract" -> oCsvExtract,
    "host_hits" -> oHostHits,
    "host_triangles" -> oHostTriangles,
    "host_bfs" -> oHostBfs,
    "host_kcore" -> oHostKcore,
    "host_communities" -> oHostCommunities,
    "crawl_priority" -> oCrawlPriority,
    "snappy_roundtrip" -> oSnappyRoundtrip,
    "lz4_roundtrip" -> oLz4Roundtrip,
    "rans_roundtrip" -> oRansRoundtrip,
    "zstd_roundtrip" -> oZstdRoundtrip,
    "brotli_roundtrip" -> oBrotliRoundtrip,
    "brotli_q1_roundtrip" -> oBrotliQ1Roundtrip,
    "zstd_dict_train" -> oZstdDictTrain,
    "zstd_dict_roundtrip" -> oZstdDictRoundtrip,
    "zst_extract" -> oZstExtract,
    "bz2_extract" -> oBz2Extract,
    "xz_extract" -> oXzExtract,
    "xz_lzma_roundtrip" -> oXzLzmaRoundtrip,
    "bpe_tokens" -> oBpeTokens,
    "bpe_train" -> oBpeTrain,
    "unigram_train" -> oUnigramTrain,
    "unigram_tokens" -> oUnigramTokens,
    "suffix_array" -> oSuffixArray,
    "multimodal_thumbnail" -> oMultimodalThumbnail,
    "video_frame_stats" -> oVideoFrameStats,
    "mp4_frames" -> oMp4Frames,
    "mp3_frames" -> oMp3Frames,
    "ogg_pages" -> oOggPages,
    "ogg_streams" -> oOggStreams,
    "mbox_extract" -> oMboxExtract,
    "eml_extract" -> oEmlExtract,
    "sentence_split" -> oSentenceSplit,
    "sentence_dedup" -> oSentenceDedup,
    "tfrecord_extract" -> oZstExtract,
    "tfexample_extract" -> oTfExampleExtract,
    "avro_extract" -> oAvroExtract,
    "avro_generic" -> oAvroGeneric,
    "subtitle_cues" -> oSubtitleCues,
    "pdf_extract" -> oPdfExtract,
    "epub_extract" -> oEpubExtract,
    "docx_extract" -> oDocxExtract,
    "odt_extract" -> oOdtExtract,
    "pptx_extract" -> oPptxExtract,
    "ppt_extract" -> oPptExtract,
    "sqlite_rows" -> oSqliteRows,
    "parquet_meta" -> oParquetMeta,
    "parquet_stats" -> oParquetStats,
    "parquet_nested" -> oParquetNested,
    "parquet_bloom" -> oParquetBloom,
    "parquet_page_index" -> oParquetPageIndex,
    "orc_meta" -> oOrcMeta,
    "arrow_batches" -> oArrowBatches,
    "arrow_stream" -> oArrowBatches,
    "delta_state" -> oDeltaState,
    "delta_checkpoint_state" -> oDeltaCheckpoint,
    "iceberg_state" -> oIcebergState,
    "iceberg_v2_state" -> oIcebergV2State,
    "iceberg_eq_state" -> oIcebergEqState,
    "deb_extract" -> oDebExtract,
    "cpio_entries" -> oCpioEntries,
    "ttf_meta" -> oTtfMeta,
    "rpm_meta" -> oRpmMeta,
    "class_meta" -> oClassMeta,
    "elf_meta" -> oElfMeta,
    "safetensors_meta" -> oSafetensorsMeta,
    "npy_meta" -> oNpyMeta,
    "pickle_scan" -> oPickleScan,
    "gguf_meta" -> oGgufMeta,
    "wasm_meta" -> oWasmMeta,
    "pe_meta" -> oPeMeta,
    "bson_docs" -> oBsonDocs,
    "macho_meta" -> oMachoMeta,
    "dex_classes" -> oDexClasses,
    "rtf_extract" -> oRtfExtract,
    "xlsx_extract" -> oXlsxExtract,
    "latex_extract" -> oLatexExtract,
    "markdown_extract" -> oMarkdownExtract,
    "sevenz_extract" -> oZstExtract,
    "caption_align" -> oCaptionAlign,
    "quantize_stats" -> oQuantize,
    "line_dedup" -> oLineDedup,
    "mixture_sample" -> oMixtureSample,
    "stratum_cap" -> oStratumCap,
    "curriculum_buckets" -> oCurriculumBuckets,
    "rolling_stats" -> oRollingStats,
    "mad_outliers" -> oMadOutliers,
    "log_histogram" -> oLogHistogram,
    "log_histogram_quantiles" -> oLogHistogramQuantiles,
    "upsert_apply" -> oUpsertApply,
    "lm_fluency" -> oLmScore,
    "vocab_heavy_hitters" -> oVocabulary,
    "source_overlap" -> oSourceOverlap,
    "dup_ngram_fraction" -> oDupNgramFraction,
    "corpus_diff" -> oCorpusDiff,
    "acf_lags" -> oAcfLags,
    "dominant_period" -> oDominantPeriod,
    "cusum_scan" -> oCusumScan,
    "ewma_smooth" -> oEwmaSmooth,
    "holt_smooth" -> oHoltSmooth,
    "hmm_states" -> oHmmStates,
    "ts_gapfill" -> oTsGapfill,
    "negative_samples" -> oNegativeSamples,
    "lang_source_chi2" -> oLangSourceChi2,
    "dataset_manifest" -> oDatasetManifest,
    "dq_audit" -> oDqAudit,
    "ols_fit" -> oOlsFit,
    "hll_overlap" -> oHllOverlap,
    "image_dhash_pairs" -> oImageDhashPairs,
    "audio_fp_pairs" -> oAudioFpPairs,
    "torrent_meta" -> oTorrentMeta,
    "x509_meta" -> oX509Meta,
    "protobuf_scan" -> oProtobufScan,
    "cbor_items" -> oCborItems,
    "sst_entries" -> oSstEntries,
    "msgpack_items" -> oMsgpackItems,
    "dicom_meta" -> oDicomMeta,
    "shapefile_records" -> oShapefileRecords,
    "pcap_packets" -> oPcapPackets,
    "wal_records" -> oWalRecords,
    "midi_meta" -> oMidiMeta,
    "sqlite_wal_frames" -> oSqliteWalFrames,
    "pack_index" -> oPackIndex)
}
