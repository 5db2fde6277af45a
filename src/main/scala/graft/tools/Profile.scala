package graft.tools

import graft.{Ledger, LocalRun, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiles registered queries the way Bench times them: build the
  * query's DataFrame, then write it to the `noop` sink. For each query
  * it prints the run's stamp, the ledger of each half (build, action):
  * wall and driver time, jobs, stages, tasks, executor run/CPU/GC time,
  * shuffle, spill, input and one line per job with its call site; then
  * the executed plan of the write that ran — AQE-final, with each
  * operator's nonzero SQL metrics.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_CPUS=<n>]
  * sbt 'runMain graft.tools.Profile q1,q2,...'` */
object Profile {

  final case class Report(build: Ledger.Entry, action: Ledger.Entry, plan: String) {
    def render: String =
      s"${build.render}\n${action.render}\nfinal plan (the write that ran):\n$plan"
  }

  def profile(spark: SparkSession, sfDir: String, query: String): Report = {
    val fn = SparkEntry.queries(query)
    val (df, build) = Ledger.measure(spark, "build")(fn(spark, sfDir))
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // measure drains the listener bus, which also delivers the write's
    // QueryExecution to the listener
    val (_, action) = try Ledger.measure(spark, "action") {
      df.write.mode("overwrite").format("noop").save()
    } finally spark.listenerManager.unregister(listener)
    require(writes.size == 1, s"$query: expected one noop write, saw ${writes.size}")
    Report(build, action, planWithMetrics(writes.peek()))
  }

  /** The plan tree, AQE stages expanded, one operator a line with its
    * nonzero SQL metrics. */
  def planWithMetrics(root: SparkPlan): String = {
    val out = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      val metrics = p.metrics.toSeq.sortBy(_._1)
        .collect { case (k, m) if m.value > 0 => s"$k=${m.value}" }
      // scans and projections list every column: cap fields and width
      out ++= "  " * depth ++= p.simpleString(8).take(160)
      if (metrics.nonEmpty) out ++= metrics.mkString("  [", ", ", "]")
      out += '\n'
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      inner.foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val queries = args.headOption.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(queries.nonEmpty, "usage: graft.tools.Profile q1,q2,...")
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the data directory, as for graft.Bench"))
    val cpus = LocalRun.cpus
    val spark = LocalRun.session(cpus)
    LocalRun.warmUp(spark)
    val stamp = LocalRun.stamp(sfDir, cpus)
    queries.foreach { q =>
      println(s"== $q | $stamp")
      println(profile(spark, sfDir, q).render)
    }
    spark.stop()
  }
}
