package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ======== Grid-based density clustering (DBSCAN on cells) ========
  *
  * Density-based clustering in the GriDBSCAN family (Ester et al.'s
  * DBSCAN, KDD 1996, with the grid quantization every distributed
  * implementation uses): quantize points to integer grid cells, call a
  * cell DENSE when it holds >= minPts points, and let clusters be the
  * 8-connected components of the dense-cell graph — ε-neighborhoods
  * approximated by cell adjacency, the standard trade that makes
  * density clustering shuffle-bounded (the exact-ε refinement joins
  * each border cell's points; out of scope here, documented). Points in
  * sparse cells are NOISE (cluster NULL) — the property that separates
  * DBSCAN from k-means/IVF: clusters of arbitrary shape, outliers
  * labeled as outliers instead of dragged into a centroid.
  *
  * Everything is integer: cell coordinates, counts, the packed cell id,
  * and min-cell-id component labels — bitwise on any engine; the
  * oracle replays the grid, the density cut, the 8-adjacency edges,
  * and a recursive-CTE reachability closure.
  *
  * 100 TB shape: ONE hash aggregate quantizes the corpus to cells (the
  * shuffle carries one row per non-empty cell); everything after —
  * density cut, neighbor-key explode (8 bounded keys per dense cell),
  * the equi-join on neighbor keys (never a theta join), and the
  * component labels — runs on CELL cardinality, which is bounded by
  * the grid resolution, not the data. Label propagation reuses
  * [[Clusters.connectedComponents]] (driver union-find under the edge
  * threshold, distributed min-label above).
  */
object Density {

  private val YOffset = 1000000L
  private val Pack = 4000000L

  /** Cluster the (xExpr, yExpr) integer grid of `rel`.
    * Output: (cx, cy, n_points, cluster) — cluster NULL for sparse
    * cells, else the min packed cell id of the component.
    */
  def gridDbscan(
      rel: DataFrame,
      xExpr: String,
      yExpr: String,
      minPts: Long = 8L): DataFrame = {
    val cells = rel
      .withColumn("cx", expr(xExpr).cast("long"))
      .withColumn("cy", expr(yExpr).cast("long"))
      .filter(col("cx").isNotNull && col("cy").isNotNull &&
        abs(col("cy")) < YOffset && col("cx") >= 0)
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_points"))
      .withColumn("cell", col("cx") * Pack + (col("cy") + YOffset))
    // three branches read dense: a local checkpoint (Graph scaladoc: lifetime)
    val dense = cells.filter(col("n_points") >= minPts)
      .select("cell", "cx", "cy")
      .localCheckpoint()
    // 8-adjacency as an EQUI-join: each dense cell emits its 8 neighbor
    // keys; an edge exists where a neighbor key hits another dense cell.
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0) yield (dx, dy)
    val nbrKeys = dense.select(col("cell").as("src"),
      explode(array(offsets.map { case (dx, dy) =>
        (col("cx") + dx) * Pack + (col("cy") + dy + YOffset)
      }: _*)).as("dst"))
    val edges = nbrKeys
      .join(dense.select(col("cell").as("dst")), "dst")
      .filter(col("src") < col("dst")) // one direction; CC symmetrizes
    val comp = Clusters.connectedComponents(edges, "src", "dst")
      .toDF("cell", "cluster")
    cells
      .join(dense.select(col("cell"), lit(1).as("__dense")), Seq("cell"), "left")
      .join(comp, Seq("cell"), "left")
      .select(col("cx"), col("cy"), col("n_points"),
        when(col("__dense").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("cluster"), col("cell"))).as("cluster"))
  }
}
