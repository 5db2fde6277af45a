package graft.tools

import graft.LocalRun
import graft.sources.VersionedTable

/** Measures the VersionedTable METADATA hot path against version
  * history depth — the round-14 checkpoint-summary work. Commits `n`
  * manifest-only versions, then times `latestVersion` / `readLatest`
  * resolution / `committedVersionOf` / one more publish, (a) through
  * the checkpoint summary level and (b) with checkpoints deleted —
  * the full-parse fallback, which is EXACTLY the round-13 cost shape
  * (every operation listed and parsed all retained manifests).
  * Results recorded in BASELINE.md.
  * Usage: runMain graft.tools.ProfileVersionedMeta [nVersions] [reps]
  */
object ProfileVersionedMeta {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1000)
    val reps = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = LocalRun.session(LocalRun.cpus)
    val dir = java.nio.file.Files
      .createTempDirectory("vt_meta_probe").toString
    VersionedTable.drop(spark, dir)
    val schemaJson = spark.range(1).toDF("id").schema.json
    val t0 = System.nanoTime()
    for (i <- 1 to n)
      VersionedTable.publishFiles(spark, dir, s"b-$i", schemaJson, Nil)
    println(f"setup: $n manifest-only commits in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")

    def time(tag: String)(op: => Unit): Double = {
      op // warm
      val parses0 = VersionedTable.manifestParses.get()
      val t = System.nanoTime()
      var r = 0
      while (r < reps) { op; r += 1 }
      val ms = (System.nanoTime() - t) / 1e6 / reps
      val parses = (VersionedTable.manifestParses.get() - parses0) / reps
      println(f"$tag%-28s $ms%8.2f ms/op   $parses manifest parses/op")
      ms
    }
    def sweep(label: String): Unit = {
      println(s"-- $label")
      time("latestVersion")(VersionedTable.latestVersion(spark, dir))
      time("readLatest (resolve+plan)")(
        VersionedTable.readLatest(spark, dir).schema)
      time("committedVersionOf")(
        VersionedTable.committedVersionOf(spark, dir, s"b-${n / 2}"))
      time("readAsOf (resolve+plan)")(
        VersionedTable.readAsOf(spark, dir, n / 2L).schema)
    }
    sweep(s"WITH checkpoint summaries (n=$n)")
    // delete checkpoints: every op falls back to the full parse — the
    // round-13 shape
    val cd = new java.io.File(s"$dir/_checkpoints")
    if (cd.exists()) cd.listFiles().foreach(_.delete())
    // keep the fallback honest: re-delete before every rep (an op may
    // NOT rewrite checkpoints, but guard anyway)
    sweep(s"WITHOUT checkpoints = round-13 full parse (n=$n)")
    VersionedTable.drop(spark, dir)
    spark.stop()
  }
}
