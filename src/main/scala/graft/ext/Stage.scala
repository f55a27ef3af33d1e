package graft.ext

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** The staging exchange (optimization guide §2.5): the one place that
  * decides how a relation is spread across the session's cores before
  * per-row work. There are two rules, and each caller follows exactly one.
  *
  * Why an exchange at all: the bench corpus parquets are ONE file with ONE
  * row group, so every scan is a single task, and any per-doc/per-token
  * work with no earlier exchange (tokenize → explode → partial aggregate,
  * per-doc kernels) runs on one of the session's cores — the guide's "one
  * huge unsplittable file" input-skew shape at the small end. One
  * round-robin repartition of the narrow pre-kernel rows costs ~the input
  * bytes once and frees every downstream operator.
  *
  * Rule 1, GUARDED ([[spread]]), for SCALE-REAL operators. At cluster
  * volumes the scan has far more splits than cores and an unconditional
  * `repartition(defaultParallelism)` would COALESCE the relation down to
  * the core count — each partition a corpus-sized slice. The guard makes
  * the exchange fire exactly when the input is narrower than the session's
  * cores (the [[CurationPipeline]] exactStage convention).
  *
  * Rule 2, UNCONDITIONAL ([[docIds]], [[docTexts]], [[render]]), for
  * per-document work over the documents table itself: the fixture writers
  * that synthesize one file per document row, and the per-document
  * kernels that take the table's (id, text) rows as they are
  * (`Unigram.tokenStats`, `Archives.compressionSignal`, the Brotli, Xz,
  * Zstd and UnixCompress signals). Fixture SYNTHESIS is expensive (a
  * PDF's zlib plus its R6 handler's Algorithm 2.B is ~100 ms/doc; a PEM
  * is ~32 md5 blocks plus DER and base64), and so is a per-document
  * compressor; on the one-row-group documents scan either would serialize
  * onto one thread. A real corpus arrives as many files — many scan
  * partitions — so the exchange of bare ids (or (id, text) rows) models
  * the production layout rather than distorting it; the input is a
  * document table, never a corpus-scale relation, so no guard is needed
  * and none is probed. The extractors that read the fixtures stay
  * map-only. The row rule is fixed too: ids that are null or negative
  * drop out (id 0 stays) and the rest are cast to long. A site that keeps
  * negative ids or stages a derived column (normalized text, token lists,
  * a group key) is outside this rule and writes its own exchange.
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

  /** The fixture writers' staged ids (rule 2 above): `idCol`'s non-null
    * values >= 0, cast to long, round-robin exchanged to
    * `defaultParallelism` partitions whatever the input's width. The
    * documents table's `doc_id` is int64, so the filter compares the
    * column as it is.
    */
  def docIds(docs: DataFrame, idCol: String): Dataset[Long] =
    staged(docs, idCol).as(Encoders.scalaLong)

  /** [[docIds]] with `textCol` carried beside each id as it is, null
    * included. A writer that drops null text filters the result on
    * `textCol`: the optimizer pushes that filter below the exchange into
    * the scan's filter, after the id predicates.
    */
  def docTexts(docs: DataFrame, idCol: String, textCol: String): Dataset[(Long, String)] =
    staged(docs, idCol, col(textCol)).as(Encoders.product[(Long, String)])

  /** One rendered `outCol` per staged id: the frame `(doc_id, outCol)`,
    * `outCol` binary for `Array[Byte]` and string for `String`.
    */
  def render[T: TypeTag](docs: DataFrame, idCol: String, outCol: String)(f: Long => T): DataFrame =
    docIds(docs, idCol)
      .map(id => (id, f(id)))(Encoders.product[(Long, T)])
      .toDF("doc_id", outCol)

  private def staged(docs: DataFrame, idCol: String, carried: Column*): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0)
      .select(col(idCol).cast("long") +: carried: _*)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)

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
