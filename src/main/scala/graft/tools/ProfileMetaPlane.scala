package graft.tools

import graft.LocalRun
import graft.sources.VersionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Measures the round-16 SIDECAR METADATA PLANE against file-count
  * growth — the verdict's named 100× hazard: the round-15 manifest
  * carried EVERY file's stats + row counts + sizes + base64 bloom
  * payloads inline, so a 1-file CDC change on an N-file table wrote
  * (and every read resolution parsed) O(N) metadata bytes, with the
  * bloom constant up to ~700 KB per (file, column).
  *
  * For each file count F: build an F-file table with zone maps AND
  * blooms on `id`, then measure
  *
  *  1. the FULL table's metadata bytes (all sidecars + manifest) —
  *     grows O(F), as it must;
  *  2. a 1-FILE-CHANGE commit's metadata bytes (its manifest slot +
  *     only the sidecars it newly wrote) — must stay FLAT as F grows
  *     (carried files are references, not rewritten payloads);
  *  3. manifest-slot bytes parsed by a read RESOLUTION (readAsOf
  *     plan) — flat (the slot holds the file list + refs only, never
  *     bloom payloads);
  *  4. point-probe driver time — loads ONLY the probed column's bloom
  *     sidecars; scales with that one column's payload, never with
  *     other columns' or with stats (the residual O(F) within one
  *     column is the per-file-bloom floor every format pays — see
  *     SCALING.md's bloom-bytes budget).
  *
  * Usage: runMain graft.tools.ProfileMetaPlane [fileCounts...]
  * (default 16 256; results recorded in BASELINE.md) */
object ProfileMetaPlane {
  def main(args: Array[String]): Unit = {
    val counts =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(16, 256)
    val spark = LocalRun.session(LocalRun.cpus)
    import spark.implicits._

    for (f <- counts) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"meta_plane_$f").toString
      VersionedTable.drop(spark, dir)
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val rowsPerFile = 2000L
      val df = (1L to f * rowsPerFile).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(f, col("id"))
      val t0 = System.nanoTime()
      VersionedTable.publish(df, dir, "base", statsCols = Seq("id"),
        bloomCols = Seq("id"))
      val buildS = (System.nanoTime() - t0) / 1e9
      def bytesOf(rel: String): Long =
        fs.getFileStatus(new Path(dir, rel)).getLen
      val (mr1, br1) = VersionedTable.fileMetaRefsOf(spark, dir, 1L)
      val fullMeta = (mr1 ++ br1.map(_._1)).map(bytesOf).sum +
        bytesOf("_manifests/1")
      // a 1-file change: carry f-1 files, add 1 freshly-written file
      val extra = s"data/extra-${java.util.UUID.randomUUID()}"
      Seq((f * rowsPerFile + 1L, "new")).toDF("id", "s").coalesce(1)
        .write.parquet(new Path(dir, extra).toString)
      val newFile = fs.listStatus(new Path(dir, extra)).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(s => s"$extra/${s.getPath.getName}")
      val base = VersionedTable.filesOf(spark, dir, 1L)
      VersionedTable.publishFilesIfUnchanged(spark, dir, "chg",
        VersionedTable.readAsOf(spark, dir, 1L).schema.json,
        base.tail ++ newFile, expectedBaseVersion = 1L,
        stats = VersionedTable.fileStats(spark, dir, newFile, Seq("id")),
        blooms = VersionedTable.fileBlooms(spark, dir, newFile, Seq("id")))
      val (mr2, br2) = VersionedTable.fileMetaRefsOf(spark, dir, 2L)
      val carriedRefs = (mr1 ++ br1.map(_._1)).toSet
      val changeMeta = (mr2 ++ br2.map(_._1)).filterNot(carriedRefs)
        .map(bytesOf).sum + bytesOf("_manifests/2")
      // read resolution parses the slot only (refs load lazily)
      val slotBytes = bytesOf("_manifests/2")
      var r = 0; val reps = 20
      VersionedTable.readAsOf(spark, dir, 2L).schema // warm
      val tR = System.nanoTime()
      while (r < reps) {
        VersionedTable.readAsOf(spark, dir, 2L).schema; r += 1
      }
      val resolveMs = (System.nanoTime() - tR) / 1e6 / reps
      // point probe: loads only id's bloom sidecars
      VersionedTable.readAsOfPoint(spark, dir, 2L, "id", 7L) // warm
      r = 0
      val tP = System.nanoTime()
      while (r < reps) {
        VersionedTable.readAsOfPoint(spark, dir, 2L, "id", 7L); r += 1
      }
      val probeMs = (System.nanoTime() - tP) / 1e6 / reps
      // changePayload = the sidecar bytes the change commit wrote —
      // the O(change) claim; the slot's file= list is the named
      // O(files) residual (manifest-list sharding is the next step)
      println(f"F=$f%5d  build=$buildS%6.1fs  fullMeta=$fullMeta%10d B" +
        f"  changePayload=${changeMeta - slotBytes}%7d B" +
        f"  slot(file list)=$slotBytes%8d B" +
        f"  resolve=$resolveMs%7.2f ms  pointProbe=$probeMs%7.2f ms")
      VersionedTable.drop(spark, dir)
    }
    spark.stop()
  }
}
