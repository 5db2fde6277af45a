package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import graft.Graft
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one benchmark process measures, filled in by a workload
  * and printed by [[Main]] as one raw JSON line for `run.py`. */
final class Run(val spark: SparkSession, val seed: Long, val dataDir: String,
                val workDir: String, val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer(spark.sparkContext)
  private val ledger = new Ledger
  val setupS = mutable.ArrayBuffer[Double]()
  /** (seconds, traced) per full pass or index build, in run order. */
  val passes = mutable.ArrayBuffer[(Double, Boolean)]()
  /** (kind, milliseconds, traced) per closed-loop operation. */
  val ops = mutable.ArrayBuffer[(String, Double, Boolean)]()
  /** Wall seconds of the closed-loop serving window. */
  var opsWindowS = 0.0
  val gauges = mutable.LinkedHashMap[String, Double]()
  var attempted = 0
  var failed = 0
  private var gcMs = 0L

  def now: Double = System.nanoTime() / 1e9

  /** One attempted operation: it fails if it throws or `check` says so. */
  def attempt[T](what: String)(body: => T)(check: T => Seq[String]): Unit = {
    attempted += 1
    val errors = try check(body) catch { case e: Exception => Seq(s"threw $e") }
    if (errors.nonEmpty) {
      failed += 1
      errors.foreach(e => System.err.println(s"perfbench: $what failed: $e"))
    }
  }

  /** Marks `n` already-counted operations as failed. */
  def fail(what: String, n: Int): Unit = if (n > 0) {
    failed += n
    System.err.println(s"perfbench: $what ($n operations)")
  }

  /** A batch workload's measured window. The timed pass is the
    * process's first, as in a batch job submitted on its own: it
    * includes JIT and codegen warm-up. A traced run then makes three
    * warm passes, untraced, traced, untraced, so the tracing overhead
    * compares the traced pass with the mean of the two around it; its
    * layer numbers are those of the warm traced pass. */
  def batchPasses(pass: => Unit): Unit =
    for (traced <- if (this.traced) Seq(false, false, true, false) else Seq(false)) {
      val t = now
      phase(traced)(attempt("pass")(pass)(_ => Nil))
      passes += ((now - t, traced))
    }

  /** Runs `body` with tracing (spans + ledger) on or off. */
  def phase[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.addSparkListener(ledger)
      tracer.enabled = true
      val gc0 = gcTotal
      try body
      finally {
        tracer.enabled = false
        gcMs += gcTotal - gc0
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(ledger)
      }
    }

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def json(sessionReadyMs: Long): String = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val formats: Formats = DefaultFormats
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val rt = ManagementFactory.getRuntimeMXBean
    Serialization.write(Map(
      "session_ready_ms" -> sessionReadyMs,
      "setup_s" -> setupS,
      "passes" -> passes.map { case (s, t) => Map("s" -> s, "traced" -> t) },
      "ops" -> ops.map { case (k, ms, t) => Map("kind" -> k, "ms" -> ms, "traced" -> t) },
      "ops_window_s" -> opsWindowS,
      "attempted" -> attempted, "failed" -> failed, "gauges" -> gauges,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> ledger.snapshot.map(j => Map("span" -> j.span,
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)),
      "jvm" -> Map("gc_s" -> gcMs / 1e3, "heap_peak_mb" -> heapPeak / 1048576.0,
        "version" -> s"${rt.getVmName} ${rt.getSpecVersion} ${rt.getVmVersion}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> spark.version,
      "cores" -> spark.sparkContext.defaultParallelism))
  }
}

/** Benchmark process: `Main <workload> <seed> <seconds> <trace 0|1>
  * <dataDir> <workDir> <cores>`. Prints the raw measurements as the last
  * line of stdout; `run.py` turns them into the reported metrics. */
object Main {
  /** Times each workload sets itself up; `setup_s` reports the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir, cores) = args
    val spark = Graft.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ready = System.currentTimeMillis()
    val run = new Run(spark, seed.toLong, dataDir, workDir, seconds.toDouble,
      trace == "1")
    val w: Workload = workload match {
      case "rbm_impute" => new RbmImpute(run)
      case "curate_serve" => new CurateServe(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    for (_ <- 1 to SetupReps) {
      val t = run.now
      w.setup()
      run.setupS += run.now - t
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    w.measure()
    w.finish()
    println(run.json(ready))
    spark.stop()
  }
}

trait Workload {
  /** Reads and registers the generated inputs. Runs [[Main.SetupReps]]
    * times. */
  def setup(): Unit
  /** The measured window. */
  def measure(): Unit
  /** Output checks that need work outside the window, and gauges. */
  def finish(): Unit = ()
}
