package graft.similarity

import graft.operators.TopPerGroup
import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ — the composed 100 TB vector-serving layout (FAISS
  * `IVFx,PQy`): [[IvfIndex]] gives cell-bucketed locality so a query
  * touches `nProbe` cells instead of the corpus; [[ProductQuantize]]
  * gives m-byte codes so scoring candidates reads ~32× fewer bytes
  * than the raw vectors. Composed here:
  *
  *  - [[write]]: fit the coarse quantizer (shared
  *    [[Cosine.fitQuantizer]]) and the PQ codebooks (shared
  *    [[ProductQuantize.fit]], trained on the UNIT vectors so PQ-L2 is
  *    monotone with cosine), then persist ONE bucketed table of
  *    `(__cell, __id, __codes, __v)` — codes for scoring, raw unit
  *    vector for the re-rank — plus centroids and codebooks sidecars.
  *  - [[topK]]: queries probe their `nProbe` cells; candidates in
  *    probed cells score by BIGINT ADC over `__codes` ONLY (the scan
  *    for the scoring subtree prunes `__v` away — an m-byte-per-row
  *    read where IvfIndex reads the full vector; IvfPqSpec asserts the
  *    pruned ReadSchema); the ADC shortlist re-ranks by exact cosine
  *    against `__v` fetched for shortlist rows alone. Output matches
  *    [[IvfIndex.topK]]: `(a, b, score, rank)`, score = rounded cosine.
  *
  * At 10⁹ vectors the difference is decisive: scoring IO per probe is
  * `cell_size × (8 + m)` bytes instead of `cell_size × 8 × dim` — the
  * codes of a whole cell sit in page cache where raw vectors thrash.
  */
object IvfPq {

  /** Build and persist: bucketed codes+vector table under `table` /
    * `path/vectors`, centroids under `path/centroids`, PQ codebooks
    * under `path/codebooks`. */
  def write(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            table: String, path: String, numCentroids: Int = 0,
            m: Int = 8, ksub: Int = 16, pqIters: Int = 2,
            seed: Long = 42L, fitSample: Int = 100000,
            numBuckets: Int = 32,
            maxPlanCentroidDoubles: Int = 32768): ProductQuantize.Codebooks = {
    val spark = df.sparkSession
    import spark.implicits._
    val centers = Cosine.fitQuantizer(df, vecCol, numCentroids, seed, fitSample)
    IvfIndex.writeCentroids(spark, centers, path)
    // cell + unit vector (nProbe=1 ⇒ exactly the nearest cell, the
    // IvfIndex assignment); PQ codebooks fit on the same unit vectors
    val assigned = Cosine.ivfProbes(df, idCol, vecCol, centers,
        nProbe = 1, maxPlanCentroidDoubles)
      .select(element_at(col("__probes"), 1).as("__cell"),
        col("__id"), col("__v"))
      .localCheckpoint()
    val cb = ProductQuantize.fit(assigned, "__id", "__v", dim,
      m, ksub, pqIters, fitSample)
    cb.centroids.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
    }.toSeq.toDF("j", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // codes materialize before the join+write (ProductQuantize.adcTopK
    // precedent): inlining the m × ksub argmin into the write plan
    // next to the probe expressions pushes generated code past the
    // 64 KB method limit — interpreted fallback on the whole corpus
    val codes = ProductQuantize.encode(assigned, "__id", "__v", cb)
      .localCheckpoint()
    TableSink.writeBucketed(
      assigned.join(codes, "__id")
        .select(col("__cell"), col("__id"), col("__codes"), col("__v")),
      table, s"$path/vectors", Seq("__cell"), numBuckets)
    cb
  }

  /** Schema of the `codebooks` side table as [[write]] leaves it. */
  val CodebooksSchema: StructType = StructType(Seq(
    StructField("j", IntegerType), StructField("c", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))

  /** Load the persisted PQ codebooks (m × ksub × sub — kilobytes). Rows
    * are placed by `(j, c)`, so they need no ordering. */
  def readCodebooks(spark: SparkSession, path: String,
                    dim: Int): ProductQuantize.Codebooks = {
    val rows = spark.read.schema(CodebooksSchema)
      .parquet(s"$path/codebooks").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    ProductQuantize.Codebooks(dim, m, ksub, books)
  }

  /** Approximate top-k against the persisted IVF-PQ index: probe →
    * ADC over codes only → exact-cosine re-rank of the shortlist. */
  def topK(spark: SparkSession, table: String, path: String,
           queries: DataFrame, idCol: String, vecCol: String, dim: Int,
           k: Int, nProbe: Int = 2, shortlist: Int = 0,
           maxPlanCentroidDoubles: Int = 32768): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(k >= 1)
    // same measured-knee default as ProductQuantize.adcTopK: the
    // shortlist re-rank is probe-cell-sized, so 16k costs ~nothing
    val short = if (shortlist > 0) shortlist else 16 * k
    require(short >= k, s"shortlist $short < k $k")
    val centers = IvfIndex.readCentroids(spark, path)
    val cb = readCodebooks(spark, path, dim)
    // query side: probes + grid unit vector, collected (small batch by
    // serving contract) to build probe filters and BIGINT ADC tables
    // no checkpoint: the query batch is small by contract and the
    // probe projection is cheap — re-deriving it for the three
    // consumers costs less than a materialization job
    val qSide = Cosine.ivfProbes(queries, idCol, vecCol, centers,
        nProbe, maxPlanCentroidDoubles)
      .select(col("__id").as("a"), col("__v").as("__va"), col("__probes"))
    val qGrid = qSide
      .select(col("a"), graft.ml.KMeansLloyd.quantize(col("__va")).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val lut = qGrid.flatMap { case (qid, qv) =>
      (0 until cb.m).flatMap { j =>
        val qs = qv.slice(j * cb.sub, (j + 1) * cb.sub)
        cb.gridCentroids(j).zipWithIndex.map { case (c, ci) =>
          var d = 0L
          var t = 0
          while (t < cb.sub) { val e = qs(t) - c(t); d += e * e; t += 1 }
          (qid, j, ci.toLong, d)
        }
      }
    }.toIndexedSeq.toDF("a", "j", "code", "pd2")
    // candidate generation: probed cells only, CODES ONLY — the __v
    // column must not be read here (IvfPqSpec asserts the ReadSchema)
    val probes = qSide.select(col("a").as("__qa"),
      explode(col("__probes")).as("__qcell"))
    val scored = spark.table(table)
      .select(col("__cell"), col("__id"),
        posexplode(col("__codes")).as(Seq("__j", "__code")))
      .join(broadcast(probes), col("__qcell") === col("__cell"))
      .join(broadcast(lut),
        col("a") === col("__qa") && col("j") === col("__j") &&
          col("code") === col("__code"))
      .filter(col("a") =!= col("__id"))
      .groupBy(col("a"), col("__id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    val top = TopPerGroup.topN(
        scored.withColumn("__neg", -col("adc_d2")),
        "a", "__neg", "__id", short)
      .select(col("a"), col("__id"))
    // exact cosine re-rank of the shortlist against the stored __v
    val iv = spark.table(table).select(col("__id"), col("__v").as("__vb"))
    val qv = qSide.select(col("a"), col("__va"))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("__id").asc)
    top.join(iv, "__id").join(broadcast(qv), "a")
      .withColumn("score", round(Cosine.dot(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("a"), col("__id").as("b"), col("score"), col("rank"))
  }
}
