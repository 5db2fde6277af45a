package graft.tools

import graft.{LocalRun, Tables}
import graft.operators.IncrementalAgg
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Pins the change-feed aggregate maintenance cost claim ("∝ the
  * CHANGE, never the corpus") by sweeping the number of touched
  * buckets 1 → 64 on one bucketed corpus: each round applies a CDC
  * batch upserting every row whose bucket id < k and times
  * `IncrementalAgg.maintainOverVersions` over that advance, with the
  * prior state MATERIALIZED driver-side first (as a deployed rollup
  * would hold it — StreamingRollup persists the state table), so the
  * timed work is exactly the changed files' scan + the |groups|-row
  * retract. If the claim holds, time grows ~linearly in k while the
  * corpus stays fixed. Results recorded in BASELINE.md.
  * Usage: runMain graft.tools.ProfileMaintainSweep [sfDir] [mult] [reps]
  */
object ProfileMaintainSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val big = (0 until mult).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * (maxId + 1))))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files
      .createTempDirectory("maintain_sweep").toString
    VersionedTable.drop(spark, dir)
    graft.streaming.StreamingMerge.init(big, "doc_id", dir,
      nBuckets = 64)
    println(s"corpus: ${big.count()} docs, " +
      s"${VersionedTable.filesOf(spark, dir, 1L).size} files, 64 buckets")

    def materializedState(v: Long) = {
      val st = IncrementalAgg.retractableState(
        VersionedTable.readAsOf(spark, dir, v), Seq("source"), "n_chars")
      spark.createDataFrame(
        spark.sparkContext.parallelize(st.collect().toSeq, 1), st.schema)
    }

    var prevV = 1L
    for (k <- Seq(1, 4, 16, 64)) {
      val batch = big
        .filter(pmod(xxhash64(col("doc_id")), lit(64L)) < k)
        .withColumn("text", concat(col("text"), lit(s" [k$k]")))
        .withColumn("__seq", lit(k.toLong))
        .withColumn("__op", lit(graft.operators.MergeUpsert.OpUpsert))
      graft.streaming.StreamingMerge.applyBatch(batch, "doc_id",
        "__seq", "__op", dir, 64, Some(s"sweep-$k"))
      val curV = VersionedTable.latestVersion(spark, dir).get
      val (added, removed) =
        VersionedTable.changedFiles(spark, dir, prevV, curV)
      val oldState = materializedState(prevV)
      var n = 0
      val best = LocalRun.bestSeconds(reps) {
        n = IncrementalAgg.maintainOverVersions(spark, dir, prevV,
          curV, oldState, Seq("source"), "n_chars").collect().length
      }
      println(f"k=$k%-3d touched: +${added.size}%3d -${removed.size}%3d " +
        f"files  maintain $best%6.3f s  ($n groups, min of $reps)")
      prevV = curV
    }
    VersionedTable.drop(spark, dir)
    spark.stop()
  }
}
