package graft.similarity

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted-index contract: serving from the index returns
  * EXACTLY what a fresh ivfTopK recompute returns (same quantizer fit
  * parameters ⇒ same centers ⇒ same probes ⇒ same scores), and the
  * index side of the serving read is read in place — a bucketed scan
  * pruned to the probed cells, no Exchange. */
class IvfIndexSpec extends SparkSpec {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("ivf_index").toString

  /** The read as a join of the exploded query probes against the
    * bucketed table on the cell — what [[IvfIndex.topK]] computes
    * without the join. */
  private def probeJoin(table: String, path: String, queries: DataFrame,
                        k: Int, nProbe: Int): DataFrame = {
    val centers = IvfIndex.readCentroids(spark, path)
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    Cosine.ivfProbes(queries, "vec_id", "embedding", centers, nProbe)
      .select(col("__id").as("a"), col("__v").as("__va"),
        explode(col("__probes")).as("__qcell"))
      .join(spark.table(table).select(col("__cell"), col("__id").as("b"),
          col("__v").as("__vb")),
        col("__qcell") === col("__cell") && col("a") =!= col("b"))
      .withColumn("score", round(Cosine.dot(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }

  test("serving from the persisted index equals a fresh ivfTopK recompute") {
    val embs = Tables.embeddings(spark, sf001).localCheckpoint()
    IvfIndex.write(embs, "vec_id", "embedding", table = "ivf_spec_vectors",
      path = s"$tmp/idx", numCentroids = 8, seed = 42L)
    val served = IvfIndex.topK(spark, "ivf_spec_vectors", s"$tmp/idx",
      embs, "vec_id", "embedding", k = 3, nProbe = 2)
    val recomputed = Cosine.ivfTopK(embs, "vec_id", "embedding", k = 3,
      numCentroids = 8, nProbe = 2, seed = 42L)
    assert(served.exceptAll(recomputed).isEmpty &&
           recomputed.exceptAll(served).isEmpty,
      "served index results diverged from the one-shot recompute")
  }

  test("incremental merge: union table under frozen centroids; new vectors findable") {
    val embs = Tables.embeddings(spark, sf001).localCheckpoint()
    val d1 = embs.filter(col("vec_id") % 4 =!= 0)
    val d2 = embs.filter(col("vec_id") % 4 === 0)
    IvfIndex.write(d1, "vec_id", "embedding", table = "ivf_incr_vectors",
      path = s"$tmp/idx_incr", numCentroids = 8, seed = 42L, numBuckets = 4)
    IvfIndex.merge(spark, "ivf_incr_vectors", s"$tmp/idx_incr",
      d2, "vec_id", "embedding", numBuckets = 4)
    // merged table ≡ what write() would produce for the UNION given
    // the SAME (frozen) centroids: assign the union directly and diff
    val centers = IvfIndex.readCentroids(spark, s"$tmp/idx_incr")
    val expected = Cosine.ivfProbes(embs, "vec_id", "embedding", centers,
        nProbe = 1)
      .select(org.apache.spark.sql.functions.element_at(
        col("__probes"), 1).as("__cell"), col("__id"), col("__v"))
    val merged = spark.table("ivf_incr_vectors")
    assert(merged.count() === embs.count())
    assert(merged.exceptAll(expected).isEmpty &&
           expected.exceptAll(merged).isEmpty,
      "merged vector table != frozen-centroid assignment of the union")
    // a merged-in vector is immediately served: querying WITH one of
    // the new vectors returns its exact twin (score 1.0 self excluded;
    // its own cell certainly probes) only if new rows participate —
    // weaker but direct: the new id appears among someone's neighbors
    val served = IvfIndex.topK(spark, "ivf_incr_vectors", s"$tmp/idx_incr",
      d2.limit(20), "vec_id", "embedding", k = 3, nProbe = 2)
    assert(served.count() > 0)
    val newIds = d2.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val asNeighbors = IvfIndex.topK(spark, "ivf_incr_vectors",
        s"$tmp/idx_incr", d1.limit(50), "vec_id", "embedding",
        k = 5, nProbe = 8)
      .filter(col("b").isin(newIds.toSeq.map(Long.box): _*)).count()
    assert(asNeighbors > 0, "no merged-in vector ever surfaced as a neighbor")
  }

  test("a null or wrong-dimension embedding is neither indexed in a cell nor served") {
    // such a row has no cell: the build fails on it, naming its __id,
    // and as a query it probes nothing
    import spark.implicits._
    val embs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val dim = embs.head().getSeq[Float](1).length
    val bad = Seq((900001L, null: Seq[java.lang.Float]),
        (900002L, Seq[java.lang.Float](1.0f, 2.0f)),
        (900003L, Seq.tabulate[java.lang.Float](dim)(i => if (i == 1) null else 0.5f)))
      .toDF("vec_id", "embedding")
    val badIds = Seq(900001L, 900002L, 900003L)
    def assertNames(id: Long)(build: => Unit): Unit = {
      val e = intercept[Exception](build)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains(s"__id $id ")), e.toString)
    }
    // write: here every row is in the k-means sample, and the fit fails
    // on a bad row first; a row outside the sample meets `assign`
    for (id <- badIds) intercept[Exception] {
      IvfIndex.write(embs.unionByName(bad.filter(col("vec_id") === id)), "vec_id",
        "embedding", table = "ivf_null_vectors", path = s"$tmp/idx_null_$id",
        numCentroids = 4, seed = 42L, numBuckets = 2)
    }
    IvfIndex.write(embs, "vec_id", "embedding", table = "ivf_null_vectors",
      path = s"$tmp/idx_null", numCentroids = 4, seed = 42L, numBuckets = 2)
    val centers = IvfIndex.readCentroids(spark, s"$tmp/idx_null")
    for (id <- badIds) assertNames(id) {
      IvfIndex.assign(embs.unionByName(bad.filter(col("vec_id") === id)), "vec_id",
        "embedding", centers).write.format("noop").mode("overwrite").save()
    }
    val indexed = spark.table("ivf_null_vectors").count()
    for (id <- badIds) assertNames(id) {
      IvfIndex.merge(spark, "ivf_null_vectors", s"$tmp/idx_null",
        bad.filter(col("vec_id") === id), "vec_id", "embedding", numBuckets = 2)
    }
    // a failed merge appends nothing
    spark.catalog.refreshTable("ivf_null_vectors")
    assert(spark.table("ivf_null_vectors").count() === indexed)
    // every cell probed: a bad row as a query probes nothing
    val served = IvfIndex.topK(spark, "ivf_null_vectors", s"$tmp/idx_null",
        embs.unionByName(bad), "vec_id", "embedding", k = 600, nProbe = 4)
      .localCheckpoint()
    assert(served.count() > 0)
    assert(served.filter(col("a").isin(badIds: _*) ||
      col("b").isin(badIds: _*) || col("score").isNull).isEmpty)
  }

  test("index side of the serving join is bucketed — no Exchange on it") {
    val embs = Tables.embeddings(spark, sf001).localCheckpoint()
    IvfIndex.write(embs, "vec_id", "embedding", table = "ivf_plan_vectors",
      path = s"$tmp/idx2", numCentroids = 8, seed = 42L, numBuckets = 4)
    // AdaptiveSparkPlan.toString prints Final AND Initial plans —
    // assert on the final section only or every exchange counts twice
    def physical(served: DataFrame): String = {
      served.collect() // finalize the AQE plan before reading it
      served.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    // the probed cells are a literal in the plan: the index (100 TB
    // side) contributes zero hash exchanges on the cell key; the only
    // exchange is the rank window's, on `a`
    val batch = physical(IvfIndex.topK(spark, "ivf_plan_vectors", s"$tmp/idx2",
      embs.limit(50), "vec_id", "embedding", k = 3, nProbe = 2))
    assert("Exchange hashpartitioning\\(__(q?)cell".r.findAllIn(batch).isEmpty,
      s"a cell-keyed exchange:\n${batch.take(2000)}")
    // one query probing one cell opens one of the four buckets
    val one = physical(IvfIndex.topK(spark, "ivf_plan_vectors", s"$tmp/idx2",
      local(embs.filter(col("vec_id") === 7)), "vec_id", "embedding", k = 3,
      nProbe = 1))
    assert(one.contains("SelectedBucketsCount: 1 out of 4"),
      s"the scan was not pruned to the probed cell:\n${one.take(2000)}")
  }

  test("serving equals the probe join after a write and three merges, on every query shape") {
    val embs = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
      .localCheckpoint()
    IvfIndex.write(embs.filter(pmod(col("vec_id"), lit(4)) === 0), "vec_id",
      "embedding", table = "ivf_parity_vectors", path = s"$tmp/idx_parity",
      numCentroids = 8, seed = 42L, numBuckets = 4)
    // 64 indexed queries over 8 cells share their cells; right after
    // the write the read equals the one-shot recompute
    val queries = local(embs.filter(pmod(col("vec_id"), lit(4)) === 0 &&
      col("vec_id") < 256))
    assert(queries.count() === 64)
    assertSameAnswer(IvfIndex.topK(spark, "ivf_parity_vectors", s"$tmp/idx_parity",
        queries, "vec_id", "embedding", k = 5, nProbe = 2),
      Cosine.ivfTopK(embs.filter(pmod(col("vec_id"), lit(4)) === 0), "vec_id",
        "embedding", k = 5, numCentroids = 8, nProbe = 2, seed = 42L)
        .filter(col("a") < 256))
    for (part <- 1 to 3)
      IvfIndex.merge(spark, "ivf_parity_vectors", s"$tmp/idx_parity",
        embs.filter(pmod(col("vec_id"), lit(4)) === part), "vec_id", "embedding",
        numBuckets = 4)
    // after the merges, under the frozen centroids: plus a null
    // embedding (probes nothing) and a repeated query row
    val mixed = local(embs.filter(col("vec_id") < 64),
      Row(900001L, null), embs.filter(col("vec_id") === 5).head())
    for (nProbe <- Seq(1, 3))
      assertSameAnswer(IvfIndex.topK(spark, "ivf_parity_vectors", s"$tmp/idx_parity",
          mixed, "vec_id", "embedding", k = 5, nProbe = nProbe),
        probeJoin("ivf_parity_vectors", s"$tmp/idx_parity", mixed, 5, nProbe))
    val empty = mixed.limit(0)
    assertSameAnswer(IvfIndex.topK(spark, "ivf_parity_vectors", s"$tmp/idx_parity",
        empty, "vec_id", "embedding", k = 5),
      probeJoin("ivf_parity_vectors", s"$tmp/idx_parity", empty, 5, 2))
    assert(IvfIndex.topK(spark, "ivf_parity_vectors", s"$tmp/idx_parity",
      empty, "vec_id", "embedding", k = 5).isEmpty)
  }

  test("a rewrite at the same path serves the new centroids, not the old ones") {
    val embs = Tables.embeddings(spark, sf001).localCheckpoint()
    for ((corpus, cells) <- Seq((embs.filter(col("vec_id") % 2 === 0), 8),
                                (embs.filter(col("vec_id") % 3 === 0), 4))) {
      IvfIndex.write(corpus, "vec_id", "embedding", table = "ivf_rewrite_vectors",
        path = s"$tmp/idx_rewrite", numCentroids = cells, seed = 42L, numBuckets = 4)
      assert(IvfIndex.readCentroids(spark, s"$tmp/idx_rewrite").length === cells)
      assertSameAnswer(IvfIndex.topK(spark, "ivf_rewrite_vectors", s"$tmp/idx_rewrite",
          corpus, "vec_id", "embedding", k = 3, nProbe = 2),
        Cosine.ivfTopK(corpus, "vec_id", "embedding", k = 3, numCentroids = cells,
          nProbe = 2, seed = 42L))
    }
  }
}
