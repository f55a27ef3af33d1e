package graft
import org.apache.spark.sql.SparkSession

import graft.core.ForkFreeLocalFs

/** ONE definition of the harness mains' session configuration (Bench,
  * TimeOne, Verify, Explain) so the measured configuration cannot drift
  * between the bench and its companion tools — the r17 drift (TimeOne
  * missing the codegen-cache sizing Bench had) made single-key timings
  * subtly non-reproducing. Product jobs build their sessions through
  * [[graft.core.GraftSession]]; the two deliberately differ (see the
  * scale notes below) because this configuration measures a 300+-query
  * local suite while GraftSession configures one production job.
  *
  * Scale-posture notes, in one place:
  *
  *  - `spark.sql.codegen.cache.maxEntries = 10000`: the generated-class
  *    cache defaults to 100 entries; a 300+-query suite compiles ~1500
  *    distinct codegen stages, so every rep of every query re-ran Janino
  *    on an evicted class (measured: the same keys run 3-10x slower in
  *    the full suite than in a 40-key suite — ivf_topk_full 11.6s vs
  *    1.1s — and a plain isolated run matches the 40-key number). Sized
  *    to hold the whole suite's stages at once. A production session
  *    running ONE job has no such churn and keeps the default.
  *  - AQE coalescing floor (`coalescePartitions.minPartitionSize = 64k`,
  *    env-overridable via SPARK_GRAFT_AQE_MIN_PARTITION — set "1m" for
  *    Spark's default): AQE partition coalescing targets BYTES
  *    (parallelismFirst floors a partition at minPartitionSize, default
  *    1m), which serializes CPU-DENSE stages whose whole shuffle is
  *    under a megabyte — measured here, the 16-archive decode stages
  *    coalesced to one task (wat_convert 1.77s -> 0.65s once coalescing
  *    stopped folding them). A 64k floor keeps those kernels wide while
  *    still merging genuinely empty slivers. This floor only matters
  *    when a stage's TOTAL shuffle is ~MBs; at production volumes every
  *    partition clears any floor and the advisory size governs — which
  *    is why GraftSession does not set it.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: some data generations
  *    write events.parquet with TIMESTAMP(NANOS), unreadable by Spark
  *    without this flag (ts arrives as int64 nanoseconds);
  *    TIMESTAMP(MICROS) generations are normalized to the same
  *    representation in QueryCatalog.table. `table` also sets the flag on
  *    every call, because GraftSession sessions do not, and its memo of
  *    inferred schemas is keyed by the flag's value among others.
  *  - shuffle partitions = the session's core count (not the 200
  *    default), UTC session time, UI off: the bench contract's
  *    local-mode posture, shared verbatim by every tool so a plan dumped
  *    by Explain is the plan Bench times and Verify dumps.
  *  - [[graft.core.ForkFreeLocalFs.settings]] (`spark.hadoop.fs.file.impl`,
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`): the same fork-free
  *    local filesystem GraftSession installs, so local file writes here
  *    run Hadoop's `chmod`/`readlink` in-process too.
  */
object HarnessDefaults {
  def builder(cpus: String, shufflePartitions: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config(ForkFreeLocalFs.settings)
}
