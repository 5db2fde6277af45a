package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CLUSTERING QUALITY — the simplified (centroid-based) SILHOUETTE:
  * for each point, a = distance to its own centroid, b = distance to
  * the nearest OTHER centroid,
  *
  *   s = (b − a) / max(a, b)   ∈ [−1, 1]
  *
  * (Rousseeuw 1987's silhouette with centroid distances standing in
  * for mean pairwise distances — the form every large-scale library
  * ships, because the classic definition is O(n²) while this is one
  * scan). s ≈ 1: well inside its cluster; s ≈ 0: on a boundary;
  * s < 0: assigned to the wrong side. The per-cluster means are the
  * k-quality readout that picks k, flags degenerate clusters, and
  * gates whether [[graft.dedup.SemDedup]]'s cluster blocking can be
  * trusted on a corpus.
  *
  * Scale shape: ONE corpus scan — the two nearest centroids come from
  * the native [[graft.expressions.CentroidTopK]] expression (k·dim
  * driver-state broadcast into codegen, the [[KMeansLloyd]] path), a
  * and b are two sqrt's, and the summary is a k-row hash aggregate.
  * No joins, no windows, nothing pairwise.
  *
  * Determinism: distances are CentroidTopK's fixed-order folds over
  * the 1e-6 integer grid, ties break on centroid id; the means are
  * exact sums of 6-dp-floored per-point silhouettes (order-free
  * BIGINT micro-sums), one division at the end. Rows+spec like the
  * rest of the k-means family (the fit isn't one SQL query). */
object ClusterQuality {

  /** Per-cluster silhouette summary under a fitted model: `(cluster,
    * n, mean_silhouette, min_silhouette (6 dp))` plus an `__all__`
    * row with the global mean. Requires ≥ 2 centroids. */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 model: KMeansLloyd.Model): DataFrame = {
    require(model.centroids.length >= 2,
      "silhouette needs at least 2 clusters")
    val t2 = graft.expressions.CentroidTopK.column(
      KMeansLloyd.quantize(col(vecCol)), model.centroids, 2)
    val a = sqrt(element_at(t2, 1).getField("d"))
    val b = sqrt(element_at(t2, 2).getField("d"))
    val s = when(greatest(a, b) === 0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    val perPoint = df.select(
      element_at(t2, 1).getField("i").as("cluster"),
      floor(s * lit(1e6) + lit(0.5)).cast("bigint").as("__sm"))
    val byCluster = perPoint.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("__sm")).as("__t"),
        min(col("__sm")).as("__mn"))
    val overall = perPoint
      .agg(count(lit(1)).as("n"), sum(col("__sm")).as("__t"),
        min(col("__sm")).as("__mn"))
      .select(lit(-1L).as("cluster"), col("n"), col("__t"), col("__mn"))
    byCluster.select(col("cluster"), col("n"), col("__t"), col("__mn"))
      .union(overall)
      .select(col("cluster"), col("n"),
        round(col("__t").cast("double") / lit(1e6) /
          col("n").cast("double"), 6).as("mean_silhouette"),
        (col("__mn").cast("double") / lit(1e6)).as("min_silhouette"))
  }
}
