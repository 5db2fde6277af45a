package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One call into a module: `<module>.<call>` name, wall interval in
  * epoch milliseconds (fractional), and the enclosing span (-1 = none). */
final case class Span(id: Int, parent: Int, name: String,
                      start: Double, end: Double)

/** The Spark work one job did, summed over its tasks. `span` is the
  * innermost span open on the submitting thread, or -1. */
final class JobStats(val id: Int, val span: Int, val start: Long) {
  var end: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Span recorder for the benchmark's own calls into the program. Spans
  * live in memory until the run ends. While a span is open, its id is
  * set as a local property of the SparkContext, so every job the call
  * submits (broadcast and subquery jobs inherit local properties) is
  * attributed to it by [[Ledger]]. Disabled, `span` only runs the body. */
final class Tracer(sc: SparkContext) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  var enabled = false

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      buf += Span(id, stack.headOption.getOrElse(-1), name, nowMs, Double.NaN)
      stack = id :: stack
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      try body
      finally {
        sc.setLocalProperty(Tracer.Key, prev)
        stack = stack.tail
        buf(id) = buf(id).copy(end = nowMs)
      }
    }

  def spans: Seq[Span] = buf.toSeq
}

object Tracer {
  val Key = "perfbench.span"
}

/** SparkListener that keeps per-job task totals, keyed by the span the
  * job was submitted under. Registered only for traced phases. */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobStats(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); s <- jobs.get(j)) {
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def snapshot: Seq[JobStats] = synchronized(jobs.values.toSeq)
}
