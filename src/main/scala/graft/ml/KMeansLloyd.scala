package graft.ml

import graft.expressions.CentroidTopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DETERMINISTIC DISTRIBUTED K-MEANS (Lloyd's algorithm) — corpus
  * clustering as a product operator: topic-bucketing embeddings for
  * mixture balancing, cluster-aware dedup sharding, per-cluster
  * quality audits. Complements the IVF coarse quantizer in
  * graft.similarity.Cosine (sampled, driver-fit, stochastic seed): this
  * one assigns and updates over the FULL corpus distributedly, and its
  * every step is bit-deterministic — same assignments for any
  * partitioning, any executor count, any run. Two design choices buy
  * that:
  *
  *  1. Vectors are quantized ONCE to an integer micro-unit grid
  *     (round(x·10⁶), BIGINT). Centroid updates are then EXACT integer
  *     sums (order-insensitive, partial-aggregatable) followed by one
  *     double division per dimension — no float-accumulation
  *     nondeterminism anywhere in the update.
  *  2. Initial centroids are the k lowest-id vectors (no RNG), and the
  *     per-row argmin orders by (distance, cluster id) — a total,
  *     portable tie-break.
  *
  * Scale shape: per iteration, assignment is a narrow projection
  * (centroids live in the plan; k·dim doubles), and the update is one
  * hash aggregate on (cluster, dim) — k·dim result rows to the driver,
  * kilobytes. The corpus shuffles ZERO times; only the tiny stats frame
  * moves. The quantized frame is cached across iterations
  * (localCheckpoint) so parquet is read once. iters is fixed and small
  * (Lloyd converges fast; downstream wants stable buckets, not a
  * converged optimum — same posture as FAISS quantizer training).
  */
object KMeansLloyd {

  /** Integer micro-unit grid (6 dp): exact in BIGINT and in IEEE double
    * (values ≪ 2⁵³), and DuckDB reproduces it bit-for-bit — the
    * assignment step can therefore sit under a SQL oracle. */
  def quantize(vec: Column): Column =
    // fully qualified: this object's own `transform` (model apply)
    // shadows the higher-order array function
    org.apache.spark.sql.functions.transform(vec.cast("array<double>"),
      x => round(x * lit(1000000.0)).cast("long"))

  /** Squared L2 distance on the integer grid, all-BIGINT arithmetic. */
  private def d2Long(q: Column, c: Array[Long]): Column = {
    val cl = array(c.toIndexedSeq.map(lit): _*)
    aggregate(zip_with(q, cl, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
  }

  /** (cluster, d2) argmin struct over all centroids; ties → lower id. */
  private def nearest(q: Column, centroids: Array[Array[Double]]): Column = {
    val s = element_at(CentroidTopK.column(q, centroids, 1), 1)
    struct(s.getField("d").as("d"), s.getField("i").as("i"))
  }

  /** The k lowest-id vectors, quantized — the deterministic seeding. */
  def initialCentroids(df: DataFrame, idCol: String, vecCol: String,
                       k: Int): Array[Array[Long]] =
    df.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .orderBy(col("__id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)

  /** ONE exact assignment pass against integer centroids — the
    * oracle-able core: output `(id, cluster, d2)` all-BIGINT. */
  def assignExact(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Long]]): DataFrame = {
    val q = quantize(col(vecCol))
    val best = array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(d2Long(q, c).as("d"), lit(i.toLong).as("i"))
    }.toIndexedSeq: _*))
    df.select(col(idCol), best.getField("i").as("cluster"),
      best.getField("d").as("d2"))
  }

  /** Fitted state: final real-valued centroids (micro-unit scale) and
    * the per-iteration inertia trace (sum of squared distances).
    * Centroids and assignments are the bit-deterministic surface; the
    * inertia trace is a diagnostic double sum (order-dependent in its
    * last bits), so specs compare it with tolerance, not bits. */
  final case class Model(centroids: Array[Array[Double]],
                         inertia: Seq[Double])

  /** Full Lloyd fit. Returns the model; get assignments for any frame
    * with [[transform]]. */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int = 5): Model = {
    require(k > 0 && iters > 0)
    val q = df.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
      .localCheckpoint()
    // q is already on the grid — take the first-k rows directly (going
    // through initialCentroids would quantize a second time)
    var centroids: Array[Array[Double]] = q.orderBy(col("__id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray.map(_.toDouble))
    val inertia = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val best = nearest(col("__q"), centroids)
      val assigned = q.select(col("__q"),
        best.getField("i").as("__c"), best.getField("d").as("__d2"))
      // exact integer per-(cluster, dim) sums + counts; k·dim rows back
      val stats = assigned
        .select(col("__c"), col("__d2"), posexplode(col("__q")).as(Seq("__dim", "__x")))
        .groupBy(col("__c"), col("__dim"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"),
          // d2 repeats per dim; divide by dim count at the end instead
          sum(col("__d2")).as("__sd2"))
        .collect()
      val dim = centroids.head.length
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        val c = r.getLong(0).toInt; val d = r.getInt(1)
        next(c)(d) = r.getLong(2).toDouble / r.getLong(3).toDouble
      }
      inertia += stats.map(r => r.getDouble(4)).sum / dim
      centroids = next // empty clusters keep their previous centroid
    }
    Model(centroids, inertia.result())
  }

  /** Assignments under a fitted model: `(id, cluster, d2)`; d2 is on
    * the squared micro-unit scale (divide by 10¹² for raw units). */
  def transform(df: DataFrame, idCol: String, vecCol: String,
                model: Model): DataFrame = {
    val best = nearest(quantize(col(vecCol)), model.centroids)
    df.select(col(idCol), best.getField("i").as("cluster"),
      best.getField("d").as("d2"))
  }

  /** The `nProbe` nearest cells of a vector under a fitted model — the
    * multi-probe side of IVF-style candidate generation (a row is
    * INDEXED in exactly its nearest cell; a QUERY probes several, which
    * is where IVF recall comes from). Deterministic: per-cell d² is the
    * same fixed-order double fold as [[transform]], and the probe order
    * ties break on cell id via the (d, i) struct sort. Returns an
    * `array<bigint>` of cell ids, nearest first. */
  def probeCells(vec: Column, model: Model, nProbe: Int): Column =
    org.apache.spark.sql.functions.transform(
      CentroidTopK.column(quantize(vec), model.centroids, nProbe), s => s.getField("i"))

  /** Nearest cell id only — the assignment-side special case of
    * [[probeCells]]. */
  def nearestCell(vec: Column, model: Model): Column =
    element_at(CentroidTopK.column(quantize(vec), model.centroids, 1), 1).getField("i")
}
