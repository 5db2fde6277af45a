package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Counts the Spark work submitted under one label: its jobs, the
  * stages they ran and the metrics of those stages' tasks. A job
  * belongs to the label innermost on the thread that submitted it (a
  * SparkContext local property, which broadcast and subquery threads
  * inherit), so jobs run before or after the labelled block, or under
  * another label, are not counted. Used through [[Ledger.measure]]. */
final class Ledger private (private val token: String) extends SparkListener {
  private final class JobRec(val callSite: String, val start: Long) {
    var end = -1L
    var tasks = 0
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val submitted = mutable.HashSet[Int]()
  private val sqlCallSite = mutable.HashMap[Long, String]()
  private var stages, tasks = 0
  private var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L

  private def ours(p: java.util.Properties): Boolean =
    p != null && p.getProperty(Ledger.Key) == token

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlCallSite(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (ours(e.properties)) {
      // A SQL query's stages are submitted from AQE's thread pool and
      // named after it, so a SQL job takes its query's description (the
      // call site, unless a job description was set). Any other job
      // takes its result stage's name (the result stage is created
      // after its parents, so it has the largest id).
      val callSite = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => sqlCallSite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "(no stages)" else e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = new JobRec(callSite, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (ours(e.properties)) {
      submitted += e.stageInfo.stageId
      stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (submitted(e.stageId)) {
      tasks += 1
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
      }
    }
  }

  /** The entry for a block that ran `wallNs` between epoch ms `from`
    * and `to`. Driver time is the wall time no job span covers. */
  private def entry(label: String, wallNs: Long, from: Long, to: Long): Ledger.Entry =
    synchronized {
      def end(j: JobRec) = if (j.end < 0) to else j.end
      val spans = jobs.values.toSeq
        .map(j => (math.max(j.start, from), math.min(end(j), to))).sortBy(_._1)
      var busy, reach = 0L
      for ((s, e) <- spans if e > math.max(s, reach)) {
        busy += e - math.max(s, reach)
        reach = e
      }
      val wallMs = wallNs / 1e6
      Ledger.Entry(label, wallMs, math.max(0.0, wallMs - busy),
        jobs.toSeq.map { case (id, j) => Ledger.Job(id, j.callSite, end(j) - j.start, j.tasks) },
        stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input)
    }
}

object Ledger {
  private val Key = "graft.ledger.label"

  /** One job: Spark's short call site for it (e.g. `collect at
    * LexicalIndex.scala:141`), how long it ran and how many tasks it ran. */
  final case class Job(id: Int, callSite: String, ms: Long, tasks: Int)

  /** The Spark work of one labelled block. Times in ms except executor
    * CPU (ns); sizes in bytes; spill is disk spill. */
  final case class Entry(label: String, wallMs: Double, driverMs: Double,
                         jobs: Seq[Job], stages: Int, tasks: Int,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, inputBytes: Long) {
    def render: String = {
      def s(ms: Double) = f"${ms / 1e3}%.3f s"
      def mb(b: Long) = f"${b / 1048576.0}%.2f MB"
      f"$label%-8s wall ${s(wallMs)}  driver ${s(driverMs)}  jobs ${jobs.size}" +
        s"  stages $stages  tasks $tasks" +
        s"\n         executor run ${s(runMs)}  cpu ${s(cpuNs / 1e6)}  gc ${s(gcMs)}" +
        s"  shuffle read ${mb(shuffleReadBytes)}  write ${mb(shuffleWriteBytes)}" +
        s"  spill ${mb(spillBytes)}  input ${mb(inputBytes)}" +
        jobs.map(j => f"\n         job ${j.id}%-5d ${j.ms}%6d ms ${j.tasks}%4d tasks  ${j.callSite}")
          .mkString
    }
  }

  /** Runs `body` with its jobs labelled, waits until the listener bus
    * has delivered their events, and returns the body's value with the
    * work its jobs did. */
  def measure[T](spark: SparkSession, label: String)(body: => T): (T, Entry) = {
    val sc = spark.sparkContext
    val ledger = new Ledger(s"$label#${java.util.UUID.randomUUID()}")
    val prev = sc.getLocalProperty(Key)
    sc.addSparkListener(ledger)
    sc.setLocalProperty(Key, ledger.token)
    try {
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      val to = System.currentTimeMillis()
      GraftListenerBus.drain(sc)
      (out, ledger.entry(label, wallNs, from, to))
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(ledger)
    }
  }
}
