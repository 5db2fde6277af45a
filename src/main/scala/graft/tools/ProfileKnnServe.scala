package graft.tools

import graft.{LocalRun, Tables}
import graft.functions.Noise
import org.apache.spark.sql.functions._

/** Serve-side probe for the persisted KNN donor index: the serving
  * claim is "per-batch cost tracks the BATCH and the candidate sets,
  * never the index build". Measured directly: build the donor index
  * from a 1× and a `mult`× donor corpus (re-keyed unions), then
  * impute the SAME fixed recipient batch against each, timed serve
  * only. Candidates per recipient grow ≈ √|D| (cells ≈ √|D| ⇒ donors
  * per probed cell ≈ √|D|), so the honest expectation at 10× donors
  * is ≤ √10 ≈ 3.2× — sub-linear in the corpus, NOT the build-shaped
  * 10×. Results recorded in BASELINE.md.
  * Usage: runMain graft.tools.ProfileKnnServe [sfDir] [mult]
  */
object ProfileKnnServe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, sfDir)
      .filter(pmod(col("l_orderkey"), lit(10L)) === 0)
      .withColumn("__mkey", expr("(l_orderkey * 8 + l_linenumber)"))
      .withColumn("__key", expr(
        "(((l_orderkey * 8 + l_linenumber) * 32768 + l_partkey) * 1024 + l_suppkey)"))
    val base = Noise.injectMissing(li, "l_extendedprice",
      "__mkey", salt = 43, frac = 0.10).localCheckpoint()
    val maxKey = base.agg(max(col("__key"))).collect()(0).getLong(0)
    // mult× DONORS (targets present), same feature distribution
    val bigDonors = (0 until mult).map(i =>
        base.filter(col("l_extendedprice").isNotNull)
          .withColumn("__key", col("__key") + lit(i.toLong * (maxKey + 1))))
      .reduce(_ union _).localCheckpoint()
    // the FIXED batch: the 1× recipients (missing targets)
    val batch = base.filter(col("l_extendedprice").isNull).localCheckpoint()
    println(s"[knn-serve] donors 1x=${base.filter(col("l_extendedprice")
      .isNotNull).count()} ${mult}x=${bigDonors.count()} batch=${batch.count()}")
    val tmp = java.nio.file.Files.createTempDirectory("knnserve").toString

    def timeServe(donorsDf: org.apache.spark.sql.DataFrame,
                  tag: String): Double = {
      graft.impute.KnnImpute.writeDonorIndex(donorsDf, "__key",
        "l_extendedprice", feats, table = s"knnserve_$tag",
        path = s"$tmp/$tag")
      val t0 = System.nanoTime()
      graft.impute.KnnImpute.imputeServe(spark, s"knnserve_$tag",
          s"$tmp/$tag", batch, "__key", "l_extendedprice", feats, k = 5)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeServe(base.filter(col("l_extendedprice").isNotNull), "warm")
    val t1 = timeServe(base.filter(col("l_extendedprice").isNotNull), "x1")
    val tN = timeServe(bigDonors, s"x$mult")
    println(f"| knn serve of fixed batch | $t1%.2f s vs 1x index " +
      f"| $tN%.2f s vs ${mult}x index | ${tN / t1}%.1fx |")
    spark.stop()
  }
}
