package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev
    // iteration on a single query without the full sweep)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalRun.session(LocalRun.cpus)
    new java.io.File(outDir).mkdirs()
    // A query that fails to plan/execute must be LOUD, not absent:
    // round 7's events regression dropped 11 queries from the
    // correctness artifact with no recorded failure because a thrown
    // query left no output dir and the driver compared only what
    // existed. Write a one-row `_verify_error` parquet in its place —
    // the oracle compare then fails visibly (schema mismatch) instead
    // of shrinking coverage — and collect a machine-readable summary.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failed(name) = msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: ${msg.take(500)}").toDF("_verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // the query set THIS run executed — lets the dev gate detect
    // coverage shrink without trusting (possibly stale) output dirs
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq
        .filter(k => only.forall(_.contains(k))).sorted
        .map(q).mkString("[", ",", "]"))
    if (failed.nonEmpty) System.err.println(
      s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
