package graft.ext

import org.apache.spark.sql.DataFrame

/** The staging exchange (optimization guide §2.5) as a shared, GUARDED
  * helper: spread a narrow pre-kernel relation across the session's cores
  * when — and only when — its current partitioning is below them.
  *
  * Why it exists: the bench corpus parquets are ONE file with ONE row
  * group, so every scan is a single task, and any per-doc/per-token work
  * with no earlier exchange (tokenize → explode → partial aggregate,
  * per-doc kernels) runs on one of the session's cores — the guide's
  * "one huge unsplittable file" input-skew shape at the small end. One
  * round-robin repartition of the (id, text)-width rows costs ~the input
  * bytes once and frees every downstream operator.
  *
  * Why it is guarded (unlike the fixture-render sites, which repartition
  * unconditionally): these call sites are SCALE-REAL operators. At
  * cluster volumes the scan has far more splits than cores and an
  * unconditional `repartition(defaultParallelism)` would COALESCE the
  * relation down to the core count — each partition a corpus-sized
  * slice. The guard makes the exchange fire exactly when the input is
  * narrower than the session's cores (the [[CurationPipeline]]
  * exactStage convention).
  *
  * Why the guard is memoized: `df.rdd.getNumPartitions` runs physical
  * planning of the subtree — measured ~0.25s per query BUILD on the
  * bench session (AQE prep + scan partition planning), paid inside the
  * timed region on every rep. The partition count of a given logical
  * plan under a given session does not change between reps, so the
  * decision is cached by (session, canonicalized-plan hash). This caches
  * a PLAN PROPERTY only — never data or results; a wrong entry after a
  * hash collision could only toggle the exchange, never correctness.
  */
private[graft] object Stage {

  // one memo per session behind weak keys: a stopped session's entry
  // becomes collectable instead of being pinned until a global clear
  // (the values hold no reference back to the session). The int
  // semanticHash key is kept deliberately — a collision can only toggle
  // the exchange decision, never correctness.
  private val decisions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]]()

  /** `df` round-robin-spread to `defaultParallelism` partitions iff it
    * currently has fewer; `df` itself otherwise. Streaming frames pass
    * through untouched: they have no RDD to probe (df.rdd throws at
    * plan-construction time), and the exchange targets the batch
    * one-file-one-split shape that streaming sources don't have.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val perSession = decisions.synchronized {
      var m = decisions.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
        decisions.put(spark, m)
      }
      m
    }
    if (perSession.size() > 4096) perSession.clear() // bound the memo
    val key = df.queryExecution.logical.canonicalized.semanticHash()
    val need = perSession.computeIfAbsent(key, _ => df.rdd.getNumPartitions < target)
    if (need) df.repartition(target) else df
  }

  /** Fail fast when a compiled per-doc kernel is about to cast a
    * non-integral id to long (r17 advice): non-numeric ids (e.g. string
    * doc ids, which the expression-based forms supported) cast to null
    * and are silently filtered by downstream isNotNull guards — every
    * document would drop out and the operator would return an
    * empty/zeroed result with no error.
    */
  def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"$op requires an integral '$idCol' column (got $dt): its compiled per-doc kernel " +
        "casts ids to long, and non-integral ids would cast to null and be silently " +
        "dropped; re-key upstream (Dedup.exact is the tool) before calling it")
  }
}
