package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{HarnessDefaults, SparkEntry}

/** `catalog`: registered batch queries (`SparkEntry.queries`) over the fixed
  * tables in `data/`, each built and run into a `noop` sink in sequence.
  * Per-key time here is mostly per-query fixed cost (DataFrame build,
  * Catalyst, scheduling, task deserialization), the layers the streaming
  * workloads hardly touch.
  *
  * The keys are every [[Stride]]-th key of the sorted catalog, fixed in
  * `expected/catalog.json` with each key's row count and content hash; keys
  * without an oracle query are checked by row count only. An untimed set-up
  * pass into `noop` warms the JIT and codegen, the timed passes follow, and
  * the checks run after them, outside the timers.
  */
object Catalog extends Workload {
  val Stride = 32
  /** Timed passes: a fixed count, because per-key times still fall from pass
    * to pass (JIT) and a time box would compare different passes.
    */
  val TimedPasses = 5
  /** Untimed set-up passes into `noop`. */
  val WarmupPasses = 1
  val DataDir = "data/sf0.01"
  val DigestFile = "catalog.json"

  /** (rows, sum of row hashes mod 2^31-1, xor of row hashes) */
  type Digest = (Long, Long, Long)

  /** Order-independent digest of a result: its row count and two folds of a
    * 64-bit hash of each row's columns in name order.
    */
  def digest(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.sorted.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    val row = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), if (row.isNullAt(2)) 0L else row.getLong(2))
  }

  def run(r: Run): Unit = {
    val spark = r.startSession(HarnessDefaults.builder(r.cpus.toString))
    val dir = new File(r.benchDir, DataDir).getPath
    val queries = SparkEntry.queries
    val exact = SparkEntry.oracleSql.keySet
    if (r.record) return record(r, spark, dir)

    val expected = Main.json.readTree(r.expectedFile(DigestFile)).get("keys").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ((v.get("rows").asLong(), v.get("hash_sum").asLong(), v.get("hash_xor").asLong()))
    }.toMap
    val keys = expected.keys.toSeq.sorted
    r.params ++= Seq("data" -> DataDir, "keys" -> keys.size, "stride" -> Stride,
      "warmup_passes" -> WarmupPasses, "timed_passes" -> TimedPasses,
      "sink" -> "noop")

    for (pass <- 0 until WarmupPasses; key <- keys)
      r.ledger.attempt(s"$key/warmup")(runKey(r, spark, queries(key), dir, s"$key#warmup$pass"))

    val keyMs = ArrayBuffer.empty[Double]
    val passS = ArrayBuffer.empty[Double]
    val buildMs = ArrayBuffer.empty[Double]
    val actionMs = ArrayBuffer.empty[Double]
    val builds = ArrayBuffer.empty[(Double, Double)]
    val (compiles0, compileMs0) = SparkProbe.codegen()
    val start = r.nowMs
    r.setupEnds(start)
    for (pass <- 0 until TimedPasses) {
      System.gc() // the previous pass's garbage is collected outside the pass timer
      val p0 = r.nowMs
      val ran = keys.map { key =>
        r.ledger.attempt(key)(runKey(r, spark, queries(key), dir, s"$key#$pass")).map { case (b0, b1, b2) =>
          buildMs += b1 - b0
          actionMs += b2 - b1
          keyMs += b2 - b0
          builds += b0 -> b1
        }
      }
      // a pass with a failed key is not a complete result, so it is not timed
      if (ran.forall(_.isDefined)) passS += (r.nowMs - p0) / 1000.0
    }
    val end = r.nowMs

    // output checks: a key that fails its check leaves the run without
    // timings, since no timed pass gave a complete, correct result
    val checked = keys.map { key =>
      spark.catalog.clearCache()
      val (rows, sumH, xorH) = expected(key)
      r.ledger.attempt(s"$key/check")(digest(queries(key)(spark, dir))) match {
        case Some(got) =>
          r.ledger.check(s"$key/output")(if (exact(key)) got == ((rows, sumH, xorH)) else got._1 == rows)
        case None => false
      }
    }
    if (checked.forall(identity) && passS.nonEmpty) {
      val runS = Stats.median(passS.toSeq)
      r.e2e("run_s") = runS
      r.e2e("rows_per_s") = keys.map(k => expected(k)._1).sum / runS
      r.e2e("latency_p50_ms") = Stats.median(keyMs.toSeq)
      r.e2e("latency_p75_ms") = Stats.quantile(keyMs.toSeq, 0.75)
      r.samples = keyMs.toSeq
      r.layers("catalog.build_ms") = Stats.mean(buildMs.toSeq)
      r.layers("catalog.action_ms") = Stats.mean(actionMs.toSeq)
    }
    r.sparkLayers(spark, start, end, keyMs.size)
    if (r.traced) {
      val (compiles1, compileMs1) = SparkProbe.codegen()
      r.layers("codegen.compile_ms") = (compileMs1 - compileMs0) / math.max(1, keyMs.size)
      r.params("codegen_compiles") = compiles1 - compiles0
      r.probe.foreach { p =>
        // jobs that ran while a key's DataFrame was being built: eager work
        val eager = builds.map { case (b0, b1) => p.jobs(b0, b1).size }
        r.layers("catalog.eager_jobs") = Stats.mean(eager.map(_.toDouble).toSeq)
        r.tracer.spans.filter(s => s.name == "catalog.build" || s.name == "catalog.action").foreach { s =>
          p.jobs(s.startMs, s.endMs).foreach(j => r.tracer.record(s.trace, "spark.job", s.id, j.startMs, j.endMs))
        }
      }
    }
  }

  /** Builds the key's DataFrame and runs it into `noop` after clearing cached
    * relations; gives (start, built, done) in epoch ms.
    */
  private def runKey(r: Run, spark: SparkSession, query: (SparkSession, String) => DataFrame, dir: String,
      trace: String): (Double, Double, Double) = {
    spark.catalog.clearCache()
    r.tracer.span(trace, "catalog.key") {
      val b0 = r.nowMs
      val df = r.tracer.span(trace, "catalog.build")(query(spark, dir))
      val b1 = r.nowMs
      r.tracer.span(trace, "catalog.action")(df.write.format("noop").mode("overwrite").save())
      (b0, b1, r.nowMs)
    }
  }

  /** Writes every [[Stride]]-th key's digest to expected/catalog.json. */
  private def record(r: Run, spark: SparkSession, dir: String): Unit = {
    val keys = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (k, i) if i % Stride == 0 => k }
    val digests = keys.map { key =>
      spark.catalog.clearCache()
      val t = System.nanoTime()
      val (rows, sumH, xorH) = digest(SparkEntry.queries(key)(spark, dir))
      key -> Map("rows" -> rows, "hash_sum" -> sumH, "hash_xor" -> xorH,
        "exact" -> SparkEntry.oracleSql.contains(key), "record_ms" -> (System.nanoTime() - t) / 1e6)
    }.toMap
    r.writeJson(r.expectedFile(DigestFile), Map("data" -> DataDir, "stride" -> Stride, "keys" -> digests))
  }
}
