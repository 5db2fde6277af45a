package graft

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

/** What graft's local mains share: one session recipe, one warm-up, one
  * best-of timer and the stamp of the environment a run ran in. */
private[graft] object LocalRun {

  /** The core count of a local run: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session Bench, Verify and the tools run in: graft's extensions,
    * `local[cpus]`, shuffle partitions = cpus, UI off, WARN logging, and
    * UTC like every other entry point — the events TIMESTAMP_NTZ→LTZ
    * normalization is session-timezone-dependent, so a run in another
    * zone would load shifted timestamps and do different work than the
    * verified queries (different rows pass the ts filters). */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM/codegen warm-up, so the first timed query does not absorb the
    * one-time startup cost (measured ~4-8 s on the first action). */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** The fastest of `reps` runs of `op`, in seconds. */
  def bestSeconds(reps: Int)(op: => Any): Double =
    (1 to reps).map { _ =>
      val t = System.nanoTime()
      op
      (System.nanoTime() - t) / 1e9
    }.min

  /** Where a run ran: its core count, its data directory, the parquet
    * files behind each table there, and the git revision of the working
    * directory (`unknown` outside a checkout). Two readings compare like
    * with like only when their stamps agree. */
  final case class Stamp(cpus: String, sfDir: String,
                         filesPerTable: Seq[(String, Int)], gitRev: String) {
    override def toString: String =
      s"cpus $cpus | sf $sfDir | files/table " +
        filesPerTable.map { case (t, n) => s"$t=$n" }.mkString(" ") +
        s" | git $gitRev"
  }

  def stamp(sfDir: String, cpus: String): Stamp =
    Stamp(cpus, sfDir, filesPerTable(sfDir), gitRev())

  /** Each `<table>.parquet` under `sfDir`: 1 for a single file, else the
    * data files under its directory (not `_SUCCESS`, not `.crc`). */
  private def filesPerTable(sfDir: String): Seq[(String, Int)] =
    Option(new File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map { t =>
        val n = if (t.isFile) 1 else {
          val w = Files.walk(t.toPath)
          try w.iterator().asScala.count { f =>
            val leaf = f.getFileName.toString
            Files.isRegularFile(f) && leaf.endsWith(".parquet") && !leaf.startsWith(".")
          } finally w.close()
        }
        t.getName.stripSuffix(".parquet") -> n
      }

  private def gitRev(): String =
    Try(Process(Seq("git", "rev-parse", "HEAD")).!!(ProcessLogger(_ => ())).trim)
      .toOption.filter(_.nonEmpty).getOrElse("unknown")
}
