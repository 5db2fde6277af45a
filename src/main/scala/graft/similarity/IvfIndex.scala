package graft.similarity

import graft.sources.{SideTable, TableSink}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
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
  *  - [[topK]]: load the centroids (on the driver, no job), compute
  *    probes for the QUERY batch only, and plan that batch (small by
  *    contract) on the driver: its probed cells enter the plan as a
  *    `cell → (id, unit vector)` map literal and as a `__cell IN (...)`
  *    filter, so the vector scan opens only the probed cells' buckets
  *    and is read in place — no join and NO Exchange on the index side
  *    (asserted in IvfIndexSpec); the only shuffle is the per-query
  *    rank window over the scored candidates. No k-means fit, no
  *    corpus re-assignment, no full-corpus probe computation.
  *
  * Served results are IDENTICAL to a fresh `ivfTopK` run with the same
  * parameters (same centers → same probes → same per-cell candidates →
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
            numBuckets: Int = 32): Unit = {
    val centers = Cosine.fitQuantizer(df, vecCol, numCentroids, seed, fitSample)
    writeCentroids(df.sparkSession, centers, path)
    TableSink.writeBucketed(assign(df, idCol, vecCol, centers), table,
      s"$path/vectors", Seq("__cell"), numBuckets)
  }

  /** `(__cell, __id, __v unit vector)`: every row in its nearest cell,
    * as [[write]], [[merge]] and [[IvfPq.write]] store it. nProbe = 1 ⇒
    * `__probes(1)` is exactly the nearest cell — the same assignment
    * arithmetic as the one-shot path's index side. A row whose
    * embedding is null, holds a null or has the wrong dimension has no
    * cell, and no read would ever serve it: it fails the build with
    * `raise_error`, naming its `__id`, inside the same projection. */
  private[similarity] def assign(df: DataFrame, idCol: String, vecCol: String,
                                 centers: Array[Array[Double]]): DataFrame =
    Cosine.ivfProbes(df, idCol, vecCol, centers, nProbe = 1)
      .select(coalesce(element_at(col("__probes"), 1),
          raise_error(concat(lit("IVF index: the embedding of __id "),
            col("__id").cast("string"),
            lit(" is null, holds a null or has the wrong dimension")))).as("__cell"),
        col("__id"), col("__v"))

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

  /** Load the persisted centroid matrix (nlist × dim — kilobytes) on
    * the driver, with no Spark job, ordered by cell. */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    SideTable.read(spark, s"$path/centroids", CentroidsSchema)
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** INCREMENTALLY add vectors to a persisted index under its FROZEN
    * geometry: new vectors are assigned to their nearest EXISTING
    * centroid (the same arithmetic [[write]] uses) and appended as one
    * batch-sized bucketed file set — existing files untouched, the
    * serve path's zero-Exchange scan preserved. The merged table is
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
            numBuckets: Int = 32): Unit = {
    if (newVectors.isEmpty) return
    TableSink.appendBucketed(assign(newVectors, idCol, vecCol,
      readCentroids(spark, path)), table, Seq("__cell"), numBuckets)
    spark.catalog.refreshTable(table)
  }

  /** Approximate top-k neighbors for `queries` against the PERSISTED
    * index — no quantizer fit, no corpus re-assignment. Queries probe
    * their `nProbe` nearest cells; the scan reads only the probed
    * cells' buckets, in place (zero Exchange on the index side). */
  def topK(spark: SparkSession, table: String, path: String,
           queries: DataFrame, idCol: String, vecCol: String, k: Int,
           nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centers = readCentroids(spark, path)
    // the query side, planned on the driver: every query under each
    // cell it probes (a local frame collects with no job); a query
    // with null probes (null or malformed vector) probes nothing
    val probes = Cosine.ivfProbes(queries, idCol, vecCol, centers, nProbe)
    val query = StructType(Seq(probes.schema("__id").copy(name = "a"),
      probes.schema("__v").copy(name = "__va")))
    val byCell = probes.collect().toSeq.flatMap { r =>
      Option(r.getSeq[Int](2)).toSeq.flatten.map(_ -> Row(r.get(0), r.get(1)))
    }.groupMap(_._1)(_._2)
    val queriesOf = GraftColumnBridge.column(Literal.create(byCell,
      MapType(IntegerType, ArrayType(query, containsNull = false))))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    spark.table(table)
      .filter(col("__cell").isin(byCell.keys.toSeq: _*))
      .select(explode(element_at(queriesOf, col("__cell"))).as("__q"),
        col("__id").as("b"), col("__v").as("__vb"))
      .select(col("__q.a").as("a"), col("b"), col("__q.__va").as("__va"),
        col("__vb"))
      .filter(col("a") =!= col("b"))
      .withColumn("score", round(Cosine.dot(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }
}
