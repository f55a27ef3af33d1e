package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** ======== Link-graph analytics: fixed-point PageRank ========
  *
  * Crawl pipelines rank hosts by link authority (PageRank over the host
  * graph) and use the score as a document-quality prior. This module
  * implements power-iteration PageRank in EXACT fixed-point integer
  * arithmetic — scores are scaled BIGINTs, every per-edge contribution
  * is a floor division `pr(src) DIV outdeg(src)`, and per-node sums are
  * integer additions, which are order-independent — so the result is
  * bit-identical on any engine, any partitioning, any reduce order, and
  * the DuckDB oracle replays all iterations exactly. (Float PageRank
  * cannot be oracled bitwise: cross-partition double sums reorder. The
  * deliberate fixed-point divergence from textbook PageRank: each floor
  * division sheds < 1 scale unit — at SCALE = 10^12 the relative error
  * is ~1e-10 per term — and dangling-node mass is dropped rather than
  * redistributed, both documented invariants.)
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * graph path; north-star LLM-pipeline scope.
  *
  * 100 TB shape: the textbook distributed formulation — one shuffle per
  * iteration (contributions grouped by destination) plus one broadcast-
  * size join with the out-degree relation; per-round results are
  * persisted and lineage-cut (the [[Clusters]] pattern — the plan stays
  * constant-size per round instead of doubling), previous rounds
  * unpersisted. Edges partition by src once and are reused every
  * iteration.
  *
  * Lifetimes are plan-owned: what every round reads and the final round
  * behind the result are eager `localCheckpoint()`s — RDD scans no other
  * plan can canonically match, never registered in CacheManager, freed by
  * ContextCleaner at the first driver GC after the returned plan becomes
  * unreachable. Fault-tolerance posture: those blocks are executor-local,
  * so a lost executor fails the query instead of recomputing it (why
  * [[CurationPipeline]] stages to parquet whenever a shared directory
  * exists).
  */
object Graph {

  /** Deterministic host-graph FIXTURE over a document corpus: each doc
    * contributes one link `doc_id mod nHosts -> md5(doc_id) mod nHosts`
    * (the md5 makes the destination both well-mixed and SQL-replayable),
    * self-loops dropped, multi-edges aggregated into weights.
    */
  def hostEdges(docs: DataFrame, nHosts: Int = 64, idCol: String = "doc_id"): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0)
      .select(
        (col(idCol) % nHosts).cast("long").as("src"),
        (expr(s"conv(substring(md5(cast($idCol AS STRING)), 1, 6), 16, 10)").cast("long") % nHosts)
          .as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))

  /** Fixed-point power iteration over a weighted edge list (`src`, `dst`,
    * `weight`). All nodes appearing on either side form the universe;
    * every node holds `SCALE / n` initially and each round becomes
    *
    *   pr'(v) = (15 * SCALE) DIV (100 * n)
    *          + (85 * sum over in-edges(w * (pr(src) DIV outdeg(src)))) DIV 100
    *
    * with `outdeg` the weighted out-degree — integer arithmetic
    * throughout, see the object scaladoc for the exactness argument.
    */
  /** Fixed-point HITS (hubs & authorities) over the same weighted edge
    * list — the mutual-reinforcement companion to [[pagerank]]: each
    * round `auth'(v) = Σ_in w·hub(src)` then `hub'(v) = Σ_out w·auth'(dst)`,
    * each rescaled to `Σ = scale` with one integer floor division per
    * node (`x · scale DIV Σx` — the normalization every HITS needs,
    * made order-free by integer arithmetic so the oracle replays it).
    * The per-round Σ is a single bounded driver scalar (the [[Clusters]]
    * convergence-check pattern). Keep `scale` modest (default 10^6):
    * pre-normalization values reach `Σw · scale` and the rescale
    * multiplies by `scale` again — 10^6 keeps the worst case far inside
    * a BIGINT for any graph this side of 10^6-weighted-degree.
    */
  def hits(edges: DataFrame, iterations: Int = 8, scale: Long = 1000000L,
      driverEdgeThreshold: Int = 200000): DataFrame = {
    val spark = edges.sparkSession
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    // every round reads e and nodes: local checkpoints (object scaladoc)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("long"))
      .localCheckpoint()
    // small-graph fast path (the [[Clusters]] threshold pattern): an
    // 8-round × 2-phase distributed iteration is ~40 scheduled jobs — for
    // a graph that fits on the driver, the SAME integer recurrence runs
    // in microseconds. Exactness is not at stake (integer arithmetic is
    // order-free); GraphSpec pins both paths equal on the same graph.
    if (driverEdgeThreshold > 0 && e.count() <= driverEdgeThreshold) {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val bySrc = es.groupBy(_._1)
      val byDst = es.groupBy(_._2)
      def rescale(m: Map[Long, Long]): Map[Long, Long] = {
        val s = m.values.sum
        if (s == 0) m else m.map { case (k, v) => k -> (v * scale) / s }
      }
      var hub = nodes.map(_ -> scale).toMap
      var auth = nodes.map(_ -> 0L).toMap
      var it = 0
      while (it < iterations) {
        auth = rescale(nodes.map { h =>
          h -> byDst.getOrElse(h, Array.empty[(Long, Long, Long)])
            .map { case (s, _, w) => w * hub(s) }.sum
        }.toMap)
        hub = rescale(nodes.map { h =>
          h -> bySrc.getOrElse(h, Array.empty[(Long, Long, Long)])
            .map { case (_, d, w) => w * auth(d) }.sum
        }.toMap)
        it += 1
      }
      import spark.implicits._
      return nodes.map(h => (h, hub(h), auth(h))).toSeq.toDF("h", "hub", "auth")
    }
    val nodes = e.select(col("src").as("h")).union(e.select(col("dst").as("h"))).distinct()
      .localCheckpoint()
    def rescale(scores: DataFrame, colName: String): DataFrame = {
      val total = scores.agg(sum(colName)).head.getLong(0)
      if (total == 0L) scores // edgeless corner: nothing to normalize
      else scores.select(col("h"), expr(s"($colName * ${scale}L) DIV ${total}L").as(colName))
    }
    var hub = cutLineage(nodes.select(col("h"), lit(scale).as("hub")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var auth: DataFrame = cutLineage(nodes.select(col("h"), lit(0L).as("auth")))
    var it = 0
    while (it < iterations) {
      val authRaw = nodes.join(
        e.join(hub.withColumnRenamed("h", "src"), "src")
          .groupBy(col("dst").as("h")).agg(sum(col("weight") * col("hub")).as("auth")),
        Seq("h"), "left").select(col("h"), coalesce(col("auth"), lit(0L)).as("auth"))
      val prevAuth = auth
      auth = cutLineage(rescale(authRaw, "auth")).persist(StorageLevel.MEMORY_AND_DISK)
      auth.count()
      if (it > 0) prevAuth.unpersist() // round 0's auth was never persisted
      val hubRaw = nodes.join(
        e.join(auth.withColumnRenamed("h", "dst"), "dst")
          .groupBy(col("src").as("h")).agg(sum(col("weight") * col("auth")).as("hub")),
        Seq("h"), "left").select(col("h"), coalesce(col("hub"), lit(0L)).as("hub"))
      val nextHub = cutLineage(rescale(hubRaw, "hub")).persist(StorageLevel.MEMORY_AND_DISK)
      nextHub.count()
      hub.unpersist()
      hub = nextHub
      it += 1
    }
    // the returned rounds leave CacheManager (object scaladoc)
    val out = hub.join(auth, "h").select(col("h"), col("hub"), col("auth")).localCheckpoint()
    hub.unpersist()
    auth.unpersist()
    out
  }

  def pagerank(edges: DataFrame, iterations: Int = 10, scale: Long = 1000000000000L,
      driverEdgeThreshold: Int = 200000): DataFrame = {
    val spark = edges.sparkSession
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    // every round reads e, outd and nodes: local checkpoints (object scaladoc)
    val e = edges
      .select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("long"))
      .repartition(col("src"))
      .localCheckpoint()
    // small-graph fast path — same recurrence on the driver (see [[hits]])
    if (driverEdgeThreshold > 0 && e.count() <= driverEdgeThreshold) {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val n = nodes.length.toLong
      val outd = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      val byDst = es.groupBy(_._2)
      val base = (15L * scale) / (100L * n)
      var pr = nodes.map(_ -> scale / n).toMap
      var it = 0
      while (it < iterations) {
        pr = nodes.map { h =>
          h -> (base + (85L * byDst.getOrElse(h, Array.empty[(Long, Long, Long)])
            .map { case (s, _, w) => w * (pr(s) / outd(s)) }.sum) / 100L)
        }.toMap
        it += 1
      }
      import spark.implicits._
      return nodes.map(h => (h, pr(h))).toSeq.toDF("h", "pr")
    }
    val outd = e.groupBy("src").agg(sum("weight").as("od")).localCheckpoint()
    val nodes = e.select(col("src").as("h")).union(e.select(col("dst").as("h"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    val base = (15L * scale) / (100L * n)
    var pr = cutLineage(nodes.select(col("h"), lit(scale / n).as("pr")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    while (it < iterations) {
      val inc = e
        .join(pr.withColumnRenamed("h", "src"), "src")
        .join(outd, "src")
        .select(col("dst").as("h"), (col("weight") * expr("pr DIV od")).as("c"))
        .groupBy("h").agg(sum("c").as("inc"))
      val next = cutLineage(
        nodes
          .join(inc, Seq("h"), "left")
          .select(col("h"),
            (lit(base) + expr(s"(85 * coalesce(inc, 0L)) DIV 100")).as("pr")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before unpersisting the round it reads
      pr.unpersist()
      pr = next
      it += 1
    }
    // the returned round leaves CacheManager (object scaladoc)
    val out = pr.localCheckpoint()
    pr.unpersist()
    out
  }

  /** Crawl-frontier prioritization — the scheduling read-out the three
    * graph signals exist FOR: authority ([[pagerank]]) discounted by
    * seed distance ([[bfs]]), with core membership ([[kcore]]) carried
    * as the robustness feature, cut to the top-`topK` batch the crawler
    * fetches next. The score is all-integer —
    *
    *   score = pr DIV (1 + depth),   0 for unreached hosts
    *
    * — so the composition inherits the components' bitwise portability,
    * and the batch cut is `orderBy(score DESC, host).limit(topK)`
    * (TakeOrderedAndProject: per-partition heap + driver merge, never a
    * global sort — the scale-correct frontier pop at web host counts).
    */
  def crawlPriority(edges: DataFrame, seeds: DataFrame, topK: Int = 32,
      k: Int = 10, rounds: Int = 8): DataFrame = {
    val pr = pagerank(edges).select(col("h").as("host"), col("pr"))
    val depth = bfs(edges, seeds, rounds)
    val core = kcore(edges, k, rounds)
    pr.join(depth, Seq("host"))
      .join(core, Seq("host"), "left")
      .select(col("host"), col("pr"), col("depth"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"),
        when(col("depth").isNull, lit(0L))
          .otherwise(expr("pr DIV (1 + depth)")).as("score"))
      .orderBy(col("score").desc, col("host"))
      .limit(topK)
  }

  /** Exact per-node triangle counts + local clustering coefficient over
    * an undirected view of the edge list — the third classic web-graph
    * signal next to [[pagerank]] and [[hits]] (a host whose neighbors
    * interlink is a community hub; one whose neighbors never meet is a
    * link farm).
    *
    * Algorithm: DEGREE-ORDERED ORIENTATION (the node-iterator++ /
    * Schank–Wagner formulation). Undirected-ify to canonical `u < v`
    * pairs, then orient every edge from the endpoint that is SMALLER
    * under the total order `(degree, node)`. Every triangle then has
    * exactly one vertex with two out-edges under this orientation, so
    * enumerating wedges `a→b, a→c` (with `b` before `c` in the same
    * order) and probing the closing oriented edge `b→c` counts each
    * triangle exactly once — and the oriented out-degree is bounded by
    * O(√m), which bounds the wedge relation by Σ d⁺(v)² — the term that
    * makes naive wedge enumeration explode on power-law graphs (a
    * 10⁶-degree hub contributes 10¹² unordered wedges but only O(m)
    * oriented ones). 100 TB shape: three shuffles (distinct, degree,
    * wedge join), no iteration, no driver state.
    *
    * `lcc = 2·tri / (deg·(deg−1))` is the one IEEE division in the
    * output, applied to exact integers — bitwise portable, 0.0 for
    * degree < 2. No reference citation — the reference has no graph
    * path; north-star scope.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // und and deg each feed two branches: local checkpoints (object scaladoc)
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("h")).unionAll(und.select(col("v").as("h")))
      .groupBy("h").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // orient from lower (deg, h) to higher; carry the head's order key for the wedge sort
    val ann = und
      .join(deg.select(col("h").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("h").as("v"), col("deg").as("dv")), "v")
    val uFirst = (col("du") < col("dv")) || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = ann.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b"),
      when(uFirst, col("dv")).otherwise(col("du")).as("db"))
    val x = oriented.as("x")
    val y = oriented.as("y")
    val wedges = x.join(y,
      col("x.a") === col("y.a") &&
        (col("x.db") < col("y.db") || (col("x.db") === col("y.db") && col("x.b") < col("y.b"))))
      .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
    // the wedge's (tb, tc) ordering matches the orientation, so the closing
    // edge — if the triangle exists — is stored exactly as tb→tc
    val tris = wedges.join(
      oriented.select(col("a").as("tb"), col("b").as("tc")), Seq("tb", "tc"))
    val triCnt = tris
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("tri"))
    val out = deg.join(triCnt, Seq("h"), "left")
      .select(
        col("h").as("host"),
        col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("tri"), lit(0L)) / (col("deg") * (col("deg") - 1)))
          .as("lcc"))
    out
  }

  /** Unreached sentinel for [[bfs]]: larger than any depth a bounded
    * iteration can produce, small enough that `UNREACHED + 1` (the worst
    * candidate arithmetic) stays far inside a BIGINT.
    */
  val Unreached: Long = 1L << 30

  /** Multi-source BFS depths over the directed edge list, `rounds` fixed
    * synchronous frontier expansions — the crawl-distance signal (how many
    * link hops from the seed whitelist is this host?) that rank-style
    * scores ([[pagerank]], [[hits]]) can't express. All arithmetic is
    * BIGINT min/plus — order-free, so the result is bit-identical on any
    * engine and the oracle unrolls the rounds as chained CTEs.
    *
    * Depths are monotone under the recurrence
    *
    *   d₀(v)   = 0 if v ∈ seeds else UNREACHED
    *   dₖ(v)   = min(dₖ₋₁(v), min over in-edges (u,v) of dₖ₋₁(u) + 1)
    *
    * so a fixed `rounds = R` computes exact distances for every node
    * within R hops of a seed (documented contract — the same
    * bounded-iteration semantics as [[pagerank]]'s 10 rounds). Nodes
    * still at UNREACHED after R rounds are emitted with `depth` NULL
    * (isolated components / beyond the horizon).
    *
    * 100 TB shape: one shuffle per round (candidate min grouped by dst)
    * plus the nodes left-join; per-round results persist + lineage-cut
    * (the [[Clusters]] pattern), previous rounds unpersisted; edges
    * partition once by src and are reused every round. The small-graph
    * driver fast path runs the SAME integer recurrence (exactness is not
    * at stake — GraphSpec pins both paths equal).
    *
    * No reference citation — `/root/reference/src/flinkarima.py` has no
    * graph path; north-star crawl-pipeline scope.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, rounds: Int = 8,
      driverEdgeThreshold: Int = 200000): DataFrame = {
    val spark = edges.sparkSession
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    // every round reads e and nodes: local checkpoints (object scaladoc)
    val e = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src"))
      .localCheckpoint()
    val seed = seeds.select(col("h").cast("long")).distinct()
    if (driverEdgeThreshold > 0 && e.count() <= driverEdgeThreshold) {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val sd = seed.collect().map(_.getLong(0)).toSet
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val byDst = es.groupBy(_._2)
      var dep = nodes.map(h => h -> (if (sd(h)) 0L else Unreached)).toMap
      var it = 0
      while (it < rounds) {
        dep = nodes.map { h =>
          val cand = byDst.getOrElse(h, Array.empty[(Long, Long)])
            .foldLeft(Unreached) { case (m, (u, _)) => math.min(m, dep(u) + 1) }
          h -> math.min(dep(h), cand)
        }.toMap
        it += 1
      }
      import spark.implicits._
      return nodes.map(h => (h, if (dep(h) >= Unreached) None else Some(dep(h))))
        .toSeq.toDF("host", "depth")
    }
    val nodes = e.select(col("src").as("h")).union(e.select(col("dst").as("h"))).distinct()
      .localCheckpoint()
    var dep = cutLineage(
      nodes.join(seed.withColumn("__s", lit(0L)), Seq("h"), "left")
        .select(col("h"), coalesce(col("__s"), lit(Unreached)).as("d")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    while (it < rounds) {
      val cand = e.join(dep.withColumnRenamed("h", "src"), "src")
        .groupBy(col("dst").as("h")).agg((min(col("d")) + 1L).as("c"))
      val next = cutLineage(
        dep.join(cand, Seq("h"), "left")
          .select(col("h"), least(col("d"), coalesce(col("c"), lit(Unreached))).as("d")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      dep.unpersist()
      dep = next
      it += 1
    }
    // the returned round leaves CacheManager (object scaladoc)
    val fin = dep.localCheckpoint()
    dep.unpersist()
    fin.select(col("h").as("host"),
      when(col("d") >= Unreached, lit(null).cast("long")).otherwise(col("d")).as("depth"))
  }

  /** Synchronous label-propagation community detection (Raghavan 2007)
    * over the undirected distinct view of the edge list — the cheap
    * community assignment that [[triangles]]/[[kcore]] robustness
    * signals feed into: `rounds` fixed synchronous passes where every
    * node adopts the label most frequent among its NEIGHBORS (never
    * itself), ties broken toward the SMALLEST label; labels start as the
    * node ids. Distinct from [[Clusters]] connected components: CC
    * merges everything reachable; LPA keeps densely-linked groups apart
    * even inside one component.
    *
    * Determinism: the update is a pure (count DESC, label ASC) integer
    * argmax over the previous round's labels — synchronous, so no
    * visit-order dependence (the classic async-LPA nondeterminism is
    * engineered out), and the bounded round count makes the output
    * well-defined even on structures where synchronous LPA oscillates
    * (two-coloring flip-flop on bipartite subgraphs — the documented
    * reason `rounds` is part of the contract, same convention as
    * [[pagerank]]'s 10 rounds).
    *
    * 100 TB shape: per round, one (h, lbl) count aggregate (map-side
    * combinable — the shuffle carries one row per distinct neighbor
    * label per node, bounded by degree) and one max(struct) argmax per
    * node; rounds persist + lineage-cut, previous rounds unpersisted;
    * the neighbor relation partitions once and is reused every round.
    * Driver fast path below the edge threshold runs the SAME recurrence
    * (GraphSpec pins both paths equal). No reference citation —
    * `/root/reference/src/flinkarima.py` has no graph path; north-star
    * crawl-pipeline scope.
    */
  def lpa(edges: DataFrame, rounds: Int = 8,
      driverEdgeThreshold: Int = 200000): DataFrame = {
    val spark = edges.sparkSession
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .distinct()
    // every round reads nb: a local checkpoint (object scaladoc)
    val nb = und.select(col("u").as("h"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("h"), col("u").as("nbr")))
      .repartition(col("h"))
      .localCheckpoint()
    if (driverEdgeThreshold > 0 && nb.count() <= 2L * driverEdgeThreshold) {
      val es = nb.collect().map(r => (r.getLong(0), r.getLong(1)))
      val byH = es.groupBy(_._1)
      val nodes = byH.keySet.toSeq.sorted
      var lbl = nodes.map(h => h -> h).toMap
      var it = 0
      while (it < rounds) {
        lbl = nodes.map { h =>
          val counts = byH(h).map(e => lbl(e._2)).groupBy(identity)
            .map { case (l, g) => (l, g.length) }
          h -> counts.minBy { case (l, c) => (-c, l) }._1
        }.toMap
        it += 1
      }
      import spark.implicits._
      return nodes.map(h => (h, lbl(h))).toDF("host", "community")
    }
    var lab = cutLineage(nb.select(col("h")).distinct().select(col("h"), col("h").as("lbl")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    while (it < rounds) {
      val counts = nb.join(lab.withColumnRenamed("h", "nbr"), "nbr")
        .groupBy(col("h"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val next = cutLineage(
        counts.groupBy("h")
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("h"), (-col("m.nl")).as("lbl")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      lab.unpersist()
      lab = next
      it += 1
    }
    // the returned round leaves CacheManager (object scaladoc)
    val fin = lab.localCheckpoint()
    lab.unpersist()
    fin.select(col("h").as("host"), col("lbl").as("community"))
  }

  /** Bounded k-core peeling over the undirected distinct view of the edge
    * list: `rounds` synchronous passes of "drop every node whose degree
    * within the surviving subgraph is < k", emitting the survivors with
    * their final within-core degree — the link-farm/community robustness
    * signal ([[triangles]]' scaladoc): a node's PageRank can be inflated
    * by a star of throwaway pages, but its k-core number cannot.
    *
    * Fixed `rounds = R` is the documented contract (the [[pagerank]]
    * convention): the peel is monotone (survivor sets only shrink), so R
    * rounds compute the exact k-core whenever the cascade settles within
    * R passes — GraphSpec asserts the fixture reaches its fixed point
    * (round R == round R−1) so the bounded result IS the k-core there.
    *
    * All-integer (degree counts, set membership) — order-free, bitwise
    * on any engine; the oracle unrolls the peel as chained CTEs. 100 TB
    * shape: one degree aggregate + one semi-join per round over a
    * monotonically shrinking edge set; rounds persist + lineage-cut,
    * previous rounds unpersisted. No reference citation — north-star
    * crawl-pipeline scope.
    */
  def kcore(edges: DataFrame, k: Int = 14, rounds: Int = 8,
      driverEdgeThreshold: Int = 200000): DataFrame = {
    val spark = edges.sparkSession
    def cutLineage(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (driverEdgeThreshold > 0 && und.count() <= driverEdgeThreshold) {
      var es = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      var it = 0
      var deg = Map.empty[Long, Int]
      while (it < rounds) {
        deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity).map { case (h, g) => h -> g.length }
        val alive = deg.filter(_._2 >= k).keySet
        es = es.filter { case (u, v) => alive(u) && alive(v) }
        it += 1
      }
      // survivors of the final pass, with degrees measured on the final edge set
      val finalDeg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (h, g) => h -> g.length.toLong }
      und.unpersist()
      import spark.implicits._
      return finalDeg.toSeq.filter(_._2 >= k).sortBy(_._1)
        .toDF("host", "core_deg")
    }
    var cur = und
    var it = 0
    while (it < rounds) {
      val deg = cur.select(col("u").as("h")).unionAll(cur.select(col("v").as("h")))
        .groupBy("h").agg(count(lit(1)).as("dg"))
      val alive = deg.filter(col("dg") >= k).select(col("h"))
      val next = cutLineage(
        cur.join(alive.withColumnRenamed("h", "u"), "u")
          .join(alive.withColumnRenamed("h", "v"), "v")
          .select(col("u"), col("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      cur.unpersist() // at it = 0 this IS `und`, done once `next` materializes
      cur = next
      it += 1
    }
    // the returned round leaves CacheManager (object scaladoc)
    val fin = cur.localCheckpoint()
    cur.unpersist()
    val out = fin.select(col("u").as("h")).unionAll(fin.select(col("v").as("h")))
      .groupBy("h").agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
      .select(col("h").as("host"), col("core_deg"))
    out
  }
}
