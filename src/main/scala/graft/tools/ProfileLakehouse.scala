package graft.tools

import graft.{LocalRun, Tables}
import graft.sources.{VersionedTable, ZOrder}
import graft.streaming.StreamingMerge
import org.apache.spark.sql.functions._

/** 10×-scale probes for the round-15 lakehouse additions, pinning
  * each operation's claimed cost shape: metadata ops (count / bytes /
  * range / evolve / restore) must be FLAT in corpus size; the
  * row-level change feed must track the CHANGE; z-order pays one
  * bounded rewrite and then prunes sublinearly. Run at mult=1 and
  * mult=10 on one host and compare rows. Results in BASELINE.md.
  * Usage: runMain graft.tools.ProfileLakehouse [sfDir] [mult] [reps]
  */
object ProfileLakehouse {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    def time(tag: String)(op: => Any): Unit = {
      op // warm
      val best = LocalRun.bestSeconds(reps)(op)
      println(f"[mult=$mult] $tag%-28s $best%7.3f s (min of $reps)")
    }

    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val big = (0 until mult).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * (maxId + 1))))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files
      .createTempDirectory("lakehouse_probe").toString
    VersionedTable.drop(spark, dir)
    StreamingMerge.init(big, "doc_id", dir, nBuckets = 64)
    println(s"[mult=$mult] corpus ${big.count()} docs, " +
      s"${VersionedTable.filesOf(spark, dir, 1L).size} files")

    // FIXED-size change regardless of mult: the CDF cost claim is
    // "∝ the change, never the corpus"
    val change = docs.limit(500)
      .withColumn("text", concat(col("text"), lit(" [rev]")))
      .withColumn("__seq", lit(1L))
      .withColumn("__op", lit(graft.operators.MergeUpsert.OpUpsert))
    StreamingMerge.applyBatch(change, "doc_id", "__seq", "__op", dir,
      64, Some("probe-change"))
    val v = VersionedTable.latestVersion(spark, dir).get

    time("rowCountOf (metadata)") {
      VersionedTable.rowCountOf(spark, dir, v)
    }
    time("tableBytesOf (metadata)") {
      VersionedTable.tableBytesOf(spark, dir, v)
    }
    time("changeFeedRows (fixed chg)") {
      StreamingMerge.changeFeedRows(spark, dir, 1L, v, "doc_id")
        .count()
    }
    time("evolveSchema (add column)") {
      val cur = VersionedTable.readLatest(spark, dir).schema
      if (!cur.fieldNames.contains("probe_col"))
        VersionedTable.evolveSchema(spark, dir,
          org.apache.spark.sql.types.StructType(cur.fields :+
            org.apache.spark.sql.types.StructField("probe_col",
              org.apache.spark.sql.types.DoubleType, nullable = true)))
    }
    time("restore (rollback)") {
      // alternate restores between v and the evolved latest so each
      // rep commits (content differs), pinning the flat commit cost
      val latest = VersionedTable.latestVersion(spark, dir).get
      VersionedTable.restore(spark, dir,
        if (latest % 2 == 0) 1L else v)
    }

    // z-order: one bounded rewrite, then sublinear pruned reads
    val zdir = java.nio.file.Files
      .createTempDirectory("lakehouse_probe_z").toString
    VersionedTable.drop(spark, zdir)
    VersionedTable.publish(
      big.select("doc_id", "n_chars", "source"), zdir, "z-base")
    val t0 = System.nanoTime()
    ZOrder.compactZOrder(spark, zdir, Seq("doc_id", "n_chars"),
      minFiles = 32)
    println(f"[mult=$mult] zorder rewrite               " +
      f"${(System.nanoTime() - t0) / 1e9}%7.3f s (once)")
    val zv = VersionedTable.latestVersion(spark, zdir).get
    time("zorder pruned read (5% id)") {
      val (df, opened, total) = VersionedTable.readAsOfPruned(spark,
        zdir, zv, "doc_id", 0.0, (mult * (maxId + 1)) / 20.0)
      require(opened < total, s"no pruning: $opened of $total")
      df.count()
    }
    VersionedTable.drop(spark, dir)
    VersionedTable.drop(spark, zdir)
    spark.stop()
  }
}
