package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair/edge relation — the step that turns
  * near-duplicate PAIRS (from [[Dedup.minhashLshVerifiedPairs]] /
  * [[Dedup.ngramJaccardPairs]]) into duplicate CLUSTERS, so a curation job
  * can keep exactly one representative per transitive group instead of
  * greedily dropping the larger id of each pair (which over-deletes when
  * A~B, B~C but A!~C).
  *
  * Algorithm: iterative min-label propagation — every node repeatedly takes
  * the minimum component label among itself and its neighbors, converging in
  * O(graph diameter) rounds of ONE shuffle each. Near-dup graphs are
  * overwhelmingly small dense clusters (diameter 1-2), so 3-4 rounds settle
  * real corpora; `maxIter` caps the worst case (a path graph). Each round's
  * labels are persisted (MEMORY_AND_DISK) and the previous round explicitly
  * unpersisted, so lineage never re-executes earlier rounds; convergence is
  * detected by comparing the global label sum across rounds (labels only
  * decrease under min-propagation, so an unchanged sum IS the fixpoint —
  * one aggregate on the cached relation, no per-round join).
  *
  * At 1000-executor scale the same shape holds: the per-round shuffle
  * carries one (id, label) pair per node plus one message per directed edge,
  * both hash-partitioned on id. For graphs with long chains, the
  * large-star/small-star variant (Kiveris et al., "Connected Components in
  * MapReduce and Beyond") halves the rounds; near-dup clustering does not
  * need it.
  */
object Clusters {

  /** (id, component) for every node incident to at least one edge; the
    * component label is the minimum node id reachable from the node. The
    * call leaves no CacheManager entry: the returned plan owns what it reads.
    *
    * `driverEdgeThreshold`: LSH near-dup pair relations are orders of
    * magnitude smaller than the corpus that produced them — frequently
    * small enough that iterative label propagation spends its whole budget
    * on per-round scheduling. When the symmetrized edge count (already
    * materialized for the iteration) is at or below the threshold, the
    * edges are collected and clustered with a driver-side union-find
    * (min-label per component — the IDENTICAL result, including UTF-8-byte
    * string ordering), skipping the rounds entirely; larger graphs — and
    * graphs with null endpoints — take the distributed path. Same
    * capped-collect pattern as IVF centroid training. Size the threshold
    * for edge WIDTH too (200k edges of 200-byte ids is ~80 MB on the
    * driver before boxing); set it to 0 to force distribution.
    */
  /** `failOnNonConvergence`: component labels from an exhausted iteration
    * budget are WRONG (a long chain keeps >1 label per true component), and
    * a caller consuming them silently — e.g. curation keeping several
    * "representatives" of one near-dup group — has no signal anything
    * failed. Throwing is therefore the default; pass `false` only when
    * partial labels are genuinely acceptable (e.g. bounding work on a
    * graph known to be chain-shaped) and handle the cap yourself.
    *
    * Budget `maxIter` at rounds-to-fixpoint + 1: the convergence probe is
    * change-based (label-sum / changed-row delta against the PREVIOUS
    * round), so it can only prove the fixpoint one round AFTER the labels
    * stop moving — a graph that converges in exactly `maxIter` rounds
    * still throws, because convergence was never observed. For the same
    * reason `maxIter == 1` can never prove anything, so it is rejected
    * under `failOnNonConvergence`.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 20,
      driverEdgeThreshold: Long = 200000L,
      failOnNonConvergence: Boolean = true): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    require(!failOnNonConvergence || maxIter >= 2,
      "the change-based probe proves convergence one round after the fixpoint, so " +
        "maxIter == 1 always throws under failOnNonConvergence; use maxIter >= 2 " +
        "(budget rounds-to-fixpoint + 1) or pass failOnNonConvergence = false")
    val spark = edges.sparkSession
    // the labels relation appears TWICE in every round's plan (message join
    // + union), so the raw logical plan would DOUBLE per round — 2^20 tree
    // nodes by iteration 20, OOMing the planner long before any data moves.
    // Re-wrapping each round's persisted result as an RDD scan keeps the
    // per-round plan constant-size; the underlying RDD DAG stays linear and
    // remains recomputable from the source on cache loss.
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    // undirected: one directed message edge per direction. Explode-of-two
    // (not a self-union) so the edge relation — often an expensive pair
    // join like ngramJaccardPairs — is evaluated ONCE, not once per side.
    val sym = edges
      .select(explode(array(
        struct(col(srcCol).as("id"), col(dstCol).as("nb")),
        struct(col(dstCol).as("id"), col(srcCol).as("nb")))).as("e"))
      .select(col("e.id").as("id"), col("e.nb").as("nb"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one count over the relation the iteration needs materialized anyway.
    // Null endpoints take the distributed path (the union-find's min-label
    // compare has no null ordering); so do graphs above the threshold.
    if (driverEdgeThreshold > 0 && sym.count() <= driverEdgeThreshold) {
      val collected = sym.collect().map(r => (r.get(0), r.get(1)))
      if (!collected.exists(e => e._1 == null || e._2 == null)) {
        val labeled = driverUnionFind(collected)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          sym.schema("id").copy(name = "id"),
          sym.schema("id").copy(name = "comp")))
        val rows = labeled.map { case (id, comp) => org.apache.spark.sql.Row(id, comp) }
        val out = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, math.max(1, spark.sparkContext.defaultParallelism / 4)),
          schema)
        sym.unpersist()
        return out
      }
    }
    var persisted = sym.select(col("id")).distinct()
      .withColumn("comp", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = cutLineage(persisted)
    // sum probe only for INTEGRAL ids: a decimal(38,0) cast of fractional
    // ids (double/float/scaled decimal) rounds, and two different label
    // sets can round to the same sum — halting before the fixpoint
    val numericIds = persisted.schema("comp").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    var converged = false
    var prevSum: Option[java.math.BigDecimal] = None
    var iter = 0
    while (iter < maxIter && !converged) {
      // neighbor labels delivered along each directed edge
      val msgs = sym
        .join(labels.select(col("id").as("nb"), col("comp")), "nb")
        .select(col("id"), col("comp"))
      val next = labels.select(col("id"), col("comp"))
        .union(msgs)
        .groupBy("id")
        .agg(min(col("comp")).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // convergence probe. Integral ids: labels only ever DECREASE under
      // min-propagation, so the global label sum is strictly decreasing
      // until the fixpoint — one aggregate over the cached relation, no
      // join. decimal(38) so billions of nodes x wide id ranges cannot wrap
      // int64 (wraparound would break the strict-decrease argument). A cast
      // of a NON-numeric id type would throw under ANSI (or null out
      // silently without it), and fractional types round — so both fall
      // back to the exact changed-row join probe. Either probe's action is
      // also what materializes `next` into the cache.
      if (numericIds) {
        val sumNow = next.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
        // a null sum means an empty node relation — nothing to propagate
        converged = sumNow == null || prevSum.exists(_.compareTo(sumNow) == 0)
        prevSum = Option(sumNow)
      } else {
        val changed = next
          .join(labels.select(col("id"), col("comp").as("prev")), "id")
          .filter(col("comp") =!= col("prev"))
          .limit(1)
          .count()
        converged = changed == 0L
      }
      persisted.unpersist()
      persisted = next
      labels = cutLineage(next)
      iter += 1
    }
    sym.unpersist()
    if (!converged && failOnNonConvergence) {
      persisted.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not provably converge within maxIter=$maxIter rounds " +
          "(graph diameter likely exceeds the budget; labels would be wrong). " +
          "Raise maxIter, or pass failOnNonConvergence=false to accept partial labels.")
    }
    // the returned labels leave CacheManager: a local checkpoint the
    // caller's plan owns (Graph scaladoc: lifetime and fault posture)
    val out = persisted.localCheckpoint()
    persisted.unpersist()
    out
  }

  /** Union-find with path compression over collected edges; labels every
    * node with the MINIMUM id of its component (boxed ids compare via
    * `Comparable`, matching Spark's `min()` ordering for the numeric and
    * string types near-dup ids actually use).
    */
  private def driverUnionFind(edges: Array[(Any, Any)]): Array[(Any, Any)] = {
    // strings compare as UTF8String (UTF-8 byte order) to match the
    // distributed path's min() exactly — Java String.compareTo orders by
    // UTF-16 code unit, which DIFFERS beyond the BMP (emoji < U+FFFD in
    // UTF-16 but > in UTF-8), and the two paths must pick the same
    // representative
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idOf(x: Any): Int = index.getOrElseUpdate(x, { nodes += x; nodes.length - 1 })
    val pairs = edges.map { case (a, b) => (idOf(a), idOf(b)) }
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Int, Any]
    nodes.indices.foreach { i =>
      val r = find(i)
      val v = nodes(i)
      minOf.get(r) match {
        case Some(m) if cmp(m, v) <= 0 => ()
        case _ => minOf(r) = v
      }
    }
    nodes.indices.map(i => (nodes(i), minOf(find(i)))).toArray
  }
}
