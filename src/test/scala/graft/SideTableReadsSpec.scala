package graft

import graft.impute.KnnImpute
import graft.similarity.{IvfIndex, IvfPq}
import graft.sources.SideTable
import graft.text.LexicalIndex
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The serving indexes read their small parquet side tables (stats,
  * centroids, codebooks) on the driver through [[SideTable]], under
  * KNOWN schemas — a Spark read of one is a job. This pins that each
  * known schema is exactly what `write`/`merge` leave on disk, that
  * the driver read returns what a Spark read returns, bit for bit, and
  * the job counts a single-query read costs. */
class SideTableReadsSpec extends SparkSpec {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("side_tables").toString
  private lazy val docs = Tables.documents(spark, sf0001).localCheckpoint()
  private lazy val embs = Tables.embeddings(spark, sf0001).localCheckpoint()

  private lazy val lexical: String = {
    LexicalIndex.write(docs.filter(col("doc_id") % 4 =!= 0), "doc_id",
      "text", table = "side_lex_postings", path = s"$tmp/lex", numBuckets = 4)
    s"$tmp/lex"
  }
  private lazy val ivf: String = {
    IvfIndex.write(embs, "vec_id", "embedding", table = "side_ivf_vectors",
      path = s"$tmp/ivf", numCentroids = 8, numBuckets = 4)
    s"$tmp/ivf"
  }

  /** The schema a reader infers for a side table. */
  private def inferred(path: String) = spark.read.parquet(path).schema

  /** Row values with every double as its bit pattern, so -0.0 and NaN
    * payloads compare exactly. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  /** Spark jobs started while `body` runs on this thread. */
  private def jobsOf(body: => Any): Int =
    Ledger.measure(spark, "side-table read")(body)._2.jobs.size

  test("known side-table schemas equal what write and merge leave on disk") {
    assert(inferred(s"$lexical/stats") === LexicalIndex.StatsSchema)
    // df is counted from the postings at read time: no terms table
    assert(!new java.io.File(s"$lexical/terms").exists)
    assert(inferred(s"$ivf/centroids") === IvfIndex.CentroidsSchema)
    // merge rewrites stats and terms from a different plan
    LexicalIndex.write(docs.filter(col("doc_id") % 4 =!= 0), "doc_id",
      "text", table = "side_lex_merged", path = s"$tmp/lex_merged",
      numBuckets = 4)
    LexicalIndex.merge(spark, "side_lex_merged", s"$tmp/lex_merged",
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", numBuckets = 4)
    assert(inferred(s"$tmp/lex_merged/stats") === LexicalIndex.StatsSchema)
    assert(!new java.io.File(s"$tmp/lex_merged/terms").exists)
    IvfPq.write(embs, "vec_id", "embedding", dim = 64,
      table = "side_pq_vectors", path = s"$tmp/pq", numCentroids = 8,
      numBuckets = 4)
    assert(inferred(s"$tmp/pq/centroids") === IvfIndex.CentroidsSchema)
    assert(inferred(s"$tmp/pq/codebooks") === IvfPq.CodebooksSchema)
    import spark.implicits._
    val donors = (0 until 10).map(i => (i.toLong, 100.0 + i, i * 10.0, -i.toDouble))
      .toDF("id", "v", "x", "y")
    KnnImpute.writeDonorIndex(donors, "id", "v", Seq("x", "y"),
      table = "side_knn_donors", path = s"$tmp/knn", numCells = 3)
    assert(inferred(s"$tmp/knn/stats") ===
      KnnImpute.statsSchema(Seq("x", "y")))
    assert(inferred(s"$tmp/knn/centroids") === IvfIndex.CentroidsSchema)
  }

  test("readCentroids runs no job and returns the centroids in cell order") {
    val path = ivf // builds the index outside the counted block
    var centers: Array[Array[Double]] = null
    assert(jobsOf { centers = IvfIndex.readCentroids(spark, path) } === 0)
    val expected = spark.read.parquet(s"$path/centroids").orderBy("i")
      .collect().map(_.getSeq[Double](1))
    assert(centers.map(_.toSeq).toSeq === expected.toSeq)
  }

  test("the driver-side read returns a Spark read's values, bit for bit") {
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("n", LongType), StructField("x", DoubleType),
      StructField("v", ArrayType(DoubleType)),
      StructField("w", ArrayType(DoubleType, containsNull = false))))
    val rows = Seq(
      Row(0, 1L, -0.0, Seq(0.1, -0.0, Double.NaN), Seq(1.0)),
      Row(1, Long.MinValue, Double.NaN, Seq.empty[Double], Seq.empty[Double]),
      Row(2, null, java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
        Seq(1e-320, null), null),
      Row(3, 7L, Double.MinPositiveValue, null, Seq(-2.5, 3.0)),
      Row(4, 8L, null, Seq(Double.MaxValue), Seq(Double.MinValue)))
    // several files, one of them empty; Spark's standard list layout
    // and, under writeLegacyFormat, the legacy ones (a 2-level list
    // for the non-null elements of `w`)
    for (legacy <- Seq("false", "true")) {
      val dir = s"$tmp/mixed_legacy_$legacy"
      spark.conf.set("spark.sql.parquet.writeLegacyFormat", legacy)
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(6, col("i")).write.mode("overwrite").parquet(dir)
      finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
      val viaSpark = spark.read.schema(schema).parquet(dir).collect()
      var viaDriver: Array[Row] = null
      assert(jobsOf { viaDriver = SideTable.read(spark, dir, schema) } === 0)
      assert(viaDriver.map(bits).sortBy(_.toString).toSeq ===
        viaSpark.map(bits).sortBy(_.toString).toSeq)
      assert(viaDriver.forall(_.schema == schema))
    }
    // every side table the serving reads load
    def same(dir: String, known: StructType): Unit =
      assert(SideTable.read(spark, dir, known).map(bits).toSeq ===
        spark.read.schema(known).parquet(dir).collect().map(bits).toSeq, dir)
    same(s"$lexical/stats", LexicalIndex.StatsSchema)
    same(s"$ivf/centroids", IvfIndex.CentroidsSchema)
  }

  test("a side table whose schema differs fails, naming the file") {
    spark.range(3).select(col("id").cast("int").as("n_docs"),
        col("id").as("total_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/bad_stats")
    val e = intercept[IllegalArgumentException](
      SideTable.read(spark, s"$tmp/bad_stats", LexicalIndex.StatsSchema))
    assert(e.getMessage.contains(s"$tmp/bad_stats/part-"), e.getMessage)
    assert(e.getMessage.contains("n_docs:int"), e.getMessage)
  }

  test("single-query serving reads stay within their job budgets") {
    // a local query frame, as a serving client holds its request
    val lexQuery = local(docs.filter(col("doc_id") === 4))
    val vecQuery = local(embs.filter(col("vec_id") === 4))
    // warm both paths once so the counts exclude one-off work
    LexicalIndex.topK(spark, "side_lex_postings", lexical, lexQuery,
      "doc_id", "text", k = 5).collect()
    IvfIndex.topK(spark, "side_ivf_vectors", ivf, vecQuery, "vec_id",
      "embedding", k = 5).collect()
    val lexJobs = jobsOf {
      LexicalIndex.topK(spark, "side_lex_postings", lexical, lexQuery,
        "doc_id", "text", k = 5).collect()
    }
    val ivfJobs = jobsOf {
      IvfIndex.topK(spark, "side_ivf_vectors", ivf, vecQuery, "vec_id",
        "embedding", k = 5).collect()
    }
    assert(lexJobs <= 3, s"LexicalIndex.topK ran $lexJobs jobs")
    assert(ivfJobs <= 2, s"IvfIndex.topK ran $ivfJobs jobs")
  }
}
