package graft.tools

import graft.{LocalRun, Tables}
import graft.operators.SnapshotDiff
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Measures the manifest-change-feed diff (SnapshotDiff.incremental)
  * against the full-content diff on a bucketed versioned corpus where
  * one CDC batch touches a handful of buckets: incremental cost must
  * track the CHANGE (removed+added files' rows + carried files' id
  * column), not the corpus. Results recorded in BASELINE.md.
  * Usage: runMain graft.tools.ProfileChangeFeed [sfDir] [mult] [reps]
  */
object ProfileChangeFeed {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    // corpus = documents unioned mult x with re-keyed ids (the
    // ScaleProbe recipe), bucketed 64-way; the batch touches ONE id
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val big = (0 until mult).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * (maxId + 1))))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files
      .createTempDirectory("feed_probe").toString
    VersionedTable.drop(spark, dir)
    graft.streaming.StreamingMerge.init(big, "doc_id", dir,
      nBuckets = 64)
    val upsert = big.filter(col("doc_id") === 42L)
      .withColumn("text", concat(col("text"), lit(" [rev2]")))
      .withColumn("__seq", lit(1L))
      .withColumn("__op", lit(graft.operators.MergeUpsert.OpUpsert))
    graft.streaming.StreamingMerge.applyBatch(upsert, "doc_id",
      "__seq", "__op", dir, 64, Some("probe-batch"))
    val (added, removed) = VersionedTable.changedFiles(spark, dir, 1L, 2L)
    val total = VersionedTable.filesOf(spark, dir, 2L).size
    println(s"corpus: ${big.count()} docs, $total files; " +
      s"feed: +${added.size} -${removed.size} " +
      s"(carried ${total - added.size})")
    def time(tag: String)(op: => Long): Unit = {
      op // warm
      val best = LocalRun.bestSeconds(reps)(require(op > 0))
      println(f"$tag%-24s $best%6.2f s (min of $reps)")
    }
    time("full diff")(SnapshotDiff.diff(
      VersionedTable.readAsOf(spark, dir, 1L),
      VersionedTable.readAsOf(spark, dir, 2L), "doc_id", "text")
      .filter(col("status") =!= "unchanged").count() +
      SnapshotDiff.diff(
        VersionedTable.readAsOf(spark, dir, 1L),
        VersionedTable.readAsOf(spark, dir, 2L), "doc_id", "text")
        .count())
    time("incremental (feed)")(SnapshotDiff.incremental(spark, dir,
      1L, 2L, "doc_id", "text")
      .filter(col("status") =!= "unchanged").count() +
      SnapshotDiff.incremental(spark, dir, 1L, 2L, "doc_id", "text")
        .count())
    VersionedTable.drop(spark, dir)
    spark.stop()
  }
}
