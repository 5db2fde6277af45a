package graft.similarity

import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted IVF index — the 100 TB SERVING shape. [[Cosine.ivfTopK]]
  * re-fits the k-means quantizer and re-assigns cells on every call:
  * right for a one-shot analytical query, wrong for an index that is
  * built once and queried forever. This splits the two phases:
  *
  *  - [[write]]: fit the quantizer (bounded sample — identical
  *    parameters to ivfTopK's fit, via the shared
  *    [[Cosine.fitQuantizer]]), assign every vector to its single
  *    nearest cell, and persist
  *      `path/centroids`   — nlist rows (i, c), kilobytes; and
  *      a BUCKETED catalog table of (__cell, __id, __v unit vector)
  *    via [[TableSink.writeBucketed]], bucketed + sorted on `__cell`.
  *  - [[topK]]: load the centroids (driver-side, tiny), compute probes
  *    for the QUERY batch only, and join the exploded probes against
  *    the bucketed table on `__cell`. The bucketed side's layout IS
  *    the join partitioning, so the index — the 100 TB side — is read
  *    in place with NO Exchange (asserted in IvfIndexSpec); only the
  *    query batch (small by definition in a serving path) shuffles to
  *    meet it. No k-means fit, no corpus re-assignment, no full-corpus
  *    probe computation.
  *
  * Served results are IDENTICAL to a fresh `ivfTopK` run with the same
  * parameters (same centers → same probes → same per-cell joins →
  * same rounded scores; IvfIndexSpec asserts row equality).
  */
object IvfIndex {

  /** Build and persist the index. `table` is the catalog name for the
    * bucketed vector table (bucketing metadata must live in a catalog —
    * path-addressed parquet cannot carry bucket specs); `path` is the
    * storage location (vectors under `path/vectors`, centroids under
    * `path/centroids`). `numBuckets` should put bucket × file around
    * 128–512 MB at the target scale. */
  def write(df: DataFrame, idCol: String, vecCol: String,
            table: String, path: String, numCentroids: Int = 0,
            seed: Long = 42L, fitSample: Int = 100000,
            numBuckets: Int = 32,
            maxPlanCentroidDoubles: Int = 32768): Unit = {
    val centers = Cosine.fitQuantizer(df, vecCol, numCentroids, seed, fitSample)
    writeCentroids(df.sparkSession, centers, path)
    // nProbe = 1 ⇒ __probes(1) is exactly the nearest cell — the same
    // assignment arithmetic (and adaptive literal/broadcast gate) as
    // the one-shot path's index side
    val assigned = Cosine.ivfProbes(df, idCol, vecCol, centers,
        nProbe = 1, maxPlanCentroidDoubles)
      .select(element_at(col("__probes"), 1).as("__cell"),
        col("__id"), col("__v"))
    TableSink.writeBucketed(assigned, table, s"$path/vectors",
      Seq("__cell"), numBuckets)
  }

  /** Schema of the `centroids` side table as [[write]] leaves it. */
  val CentroidsSchema: StructType = StructType(Seq(
    StructField("i", IntegerType),
    StructField("c", ArrayType(DoubleType))))

  /** Persist a centroid matrix as the `centroids` side table, one row
    * `(i, c)` per cell — the format [[readCentroids]] loads. */
  private[graft] def writeCentroids(spark: SparkSession,
      centers: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("i", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load the persisted centroid matrix (nlist × dim — kilobytes): one
    * scan job under the known schema, ordered on the driver. */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.schema(CentroidsSchema).parquet(s"$path/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** INCREMENTALLY add vectors to a persisted index under its FROZEN
    * geometry: new vectors are assigned to their nearest EXISTING
    * centroid (the same arithmetic [[write]] uses) and appended as one
    * batch-sized bucketed file set — existing files untouched, the
    * serve path's zero-Exchange join preserved. The merged table is
    * BIT-IDENTICAL to what [[write]] would have produced for the union
    * corpus GIVEN the same centroids (IvfIndexSpec pins it), so
    * [[topK]] immediately sees the new vectors.
    *
    * RE-FIT POLICY (the honest cost of frozen geometry): centroids
    * were fit on the build-time sample, so cell sizes skew as the
    * corpus drifts — recall at fixed nProbe degrades gracefully, not
    * abruptly (FAISS operates the same add-under-frozen-quantizer
    * model). Re-[[write]] when merged-in vectors exceed ~30% of the
    * indexed total or a recall probe (tools/AnnRecallCurve) drops
    * below target; until then per-batch cost scales with the batch,
    * never the index. New-doc ids are the caller's contract (same as
    * LexicalIndex.merge — re-adding an id duplicates it). */
  def merge(spark: SparkSession, table: String, path: String,
            newVectors: DataFrame, idCol: String, vecCol: String,
            numBuckets: Int = 32,
            maxPlanCentroidDoubles: Int = 32768): Unit = {
    if (newVectors.isEmpty) return
    val centers = readCentroids(spark, path)
    val assigned = Cosine.ivfProbes(newVectors, idCol, vecCol, centers,
        nProbe = 1, maxPlanCentroidDoubles)
      .select(element_at(col("__probes"), 1).as("__cell"),
        col("__id"), col("__v"))
    TableSink.appendBucketed(assigned, table, Seq("__cell"), numBuckets)
    spark.catalog.refreshTable(table)
  }

  /** Approximate top-k neighbors for `queries` against the PERSISTED
    * index — no quantizer fit, no corpus re-assignment. Queries probe
    * their `nProbe` nearest cells and join the bucketed vector table
    * in place (zero Exchange on the index side). */
  def topK(spark: SparkSession, table: String, path: String,
           queries: DataFrame, idCol: String, vecCol: String, k: Int,
           nProbe: Int = 2,
           maxPlanCentroidDoubles: Int = 32768): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centers = readCentroids(spark, path)
    val querySide = Cosine.ivfProbes(queries, idCol, vecCol, centers,
        nProbe, maxPlanCentroidDoubles)
      .select(col("__id").as("a"), col("__v").as("__va"),
        explode(col("__probes")).as("__qcell"))
    val indexSide = spark.table(table)
      .select(col("__cell"), col("__id").as("b"), col("__v").as("__vb"))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    querySide.join(indexSide,
        col("__qcell") === col("__cell") && col("a") =!= col("b"))
      .withColumn("score", round(Cosine.dot(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }
}
