package graft

import graft.impute.KnnImpute
import graft.similarity.{IvfIndex, IvfPq}
import graft.text.LexicalIndex
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The serving indexes read their small parquet side tables (stats,
  * terms, centroids, codebooks) under KNOWN schemas instead of
  * inferring one per call — an inference is a Spark job. This pins
  * that each known schema is exactly what `write`/`merge` leave on
  * disk, and the job counts a single-query read costs. */
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

  /** Spark jobs started while `body` runs on this thread. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"side-table-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      body
      TestListenerBus.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("known side-table schemas equal what write and merge leave on disk") {
    assert(inferred(s"$lexical/stats") === LexicalIndex.StatsSchema)
    assert(inferred(s"$lexical/terms") === LexicalIndex.TermsSchema)
    assert(inferred(s"$ivf/centroids") === IvfIndex.CentroidsSchema)
    // merge rewrites stats and terms from a different plan
    LexicalIndex.write(docs.filter(col("doc_id") % 4 =!= 0), "doc_id",
      "text", table = "side_lex_merged", path = s"$tmp/lex_merged",
      numBuckets = 4)
    LexicalIndex.merge(spark, "side_lex_merged", s"$tmp/lex_merged",
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", numBuckets = 4)
    assert(inferred(s"$tmp/lex_merged/stats") === LexicalIndex.StatsSchema)
    assert(inferred(s"$tmp/lex_merged/terms") === LexicalIndex.TermsSchema)
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

  test("readCentroids is one job and returns the centroids in cell order") {
    val path = ivf // builds the index outside the counted block
    var centers: Array[Array[Double]] = null
    assert(jobsOf { centers = IvfIndex.readCentroids(spark, path) } === 1)
    val expected = spark.read.parquet(s"$path/centroids").orderBy("i")
      .collect().map(_.getSeq[Double](1))
    assert(centers.map(_.toSeq).toSeq === expected.toSeq)
  }

  test("single-query serving reads stay within their job budgets") {
    val lexQuery = docs.filter(col("doc_id") === 4)
    val vecQuery = embs.filter(col("vec_id") === 4)
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
    assert(lexJobs <= 8, s"LexicalIndex.topK ran $lexJobs jobs")
    assert(ivfJobs <= 4, s"IvfIndex.topK ran $ivfJobs jobs")
  }
}
