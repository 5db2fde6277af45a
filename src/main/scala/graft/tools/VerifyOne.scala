package graft.tools

import graft.{LocalRun, SparkEntry}

/** Dev loop for a single oracle row: dump ONE (or a few) named
  * SparkEntry queries to parquet plus their oracle SQL, so a local
  * DuckDB compare can run in seconds instead of the full 96-query
  * Verify sweep. Usage: runMain graft.tools.VerifyOne <sfDir> <outDir>
  * <queryName> [more names...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifyOne <sfDir> <outDir> <name>...")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = LocalRun.session(LocalRun.cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(name).foreach { sql =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.sql"), sql)
        println(s"[verify-one] $name: dumped result + oracle sql")
      }
    }
    spark.stop()
  }
}
