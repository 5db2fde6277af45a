package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query at the env-given SF and
  * emits ONE JSON line to stdout AND to a file (`SPARK_GRAFT_BENCH_OUT`,
  * default `bench.json` in the working directory) so the driver can
  * parse it even when sbt interleaves [info]/WARN lines into stdout.
  * Query failures are NOT swallowed: a failed query reports -1 seconds
  * and its message lands in the `errors` object. */
object Bench {
  /** Locale-pinned decimal formatting: the f-interpolator follows the
    * default locale, and a comma-decimal locale would emit invalid JSON. */
  private def fmt(v: Double, pattern: String): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(v))

  /** Per-FAMILY regression gate (BASELINE.md §"bench budget"): flag a
    * family whose total seconds exceed 2× last round's AT EQUAL QUERY
    * COUNT — adding queries legitimately moves a family's budget by
    * the new rows' cost, so unequal counts never flag; a +1 s absolute
    * floor keeps sub-second families from flagging on jitter. Pure
    * function so BenchGateSpec can drive it with synthetic slowdowns.
    * Input maps: family → (query count, total seconds). */
  private[graft] def familyGate(cur: Map[String, (Int, Double)],
                                prior: Map[String, (Int, Double)])
      : Seq[String] =
    cur.collect { case (f, (n, sec))
      if prior.get(f).exists { case (pn, psec) =>
        pn == n && psec > 0 && sec > 2 * psec && sec - psec > 1.0 }
      => f }.toSeq.sorted

  /** Parse the `families` object out of a prior bench.json line:
    * `"f":{"n":12,"sec":3.45}` entries. Malformed entries drop
    * individually (the per-entry tolerance rule the queries parse
    * follows). */
  private[graft] def parseFamilies(txt: String): Map[String, (Int, Double)] = {
    val start = txt.indexOf("\"families\":{")
    if (start < 0) return Map.empty
    """"([a-z]+)":\{"n":(\d+),"sec":(-?[0-9.eE+-]+)\}""".r
      .findAllMatchIn(txt.substring(start))
      .flatMap(m => scala.util.Try(
        m.group(1) -> (m.group(2).toInt, m.group(3).toDouble)).toOption)
      .toMap
  }

  /** Parse the `queries` object out of a prior bench.json line.
    * Per-entry parse tolerance: Double.toString emits scientific
    * notation below 1e-3 (negative exponent — the char class includes
    * '-' for it), and one malformed entry must drop only ITSELF, not
    * silently erase the whole prior map (which would turn the
    * contamination guard off with no diagnostic). */
  private[graft] def parseQueries(txt: String): Map[String, Double] = {
    val start = txt.indexOf("\"queries\":{")
    val end = txt.indexOf("}", start)
    if (start < 0 || end < 0) Map.empty
    else """"([^"]+)":(-?[0-9.eE+-]+)""".r
      .findAllMatchIn(txt.substring(start + 11, end))
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble)
        .toOption)
      .toMap
  }

  /** The >3x-per-query contamination self-guard (round 6 shipped a
    * 13.2 s driver reading for a 2.9 s query; min-of-2 reps did not
    * protect because contention landed on both reps). Pure so
    * BenchGateSpec can drive it with synthetic slowdowns. The +1 s
    * absolute floor keeps sub-second jitter from flagging. */
  private[graft] def suspectsOf(results: Iterable[(String, Double)],
                                prior: Map[String, Double]): Seq[String] =
    results.collect { case (name, v)
      if v > 0 && prior.get(name).exists(p => p > 0 && v > 3 * p && v - p > 1.0)
      => name }.toSeq.sorted

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A string field of a bench.json line (`"key":"value"`, value as
    * escaped in the file), or None. */
  private[graft] def stampOf(txt: String, key: String): Option[String] =
    ("\"" + key + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(txt).map(_.group(1))

  /** The part of the environment stamp only bench.json carries (the
    * stdout line keeps its budget): parquet files per table and the git
    * revision. `sf` and `cpus` are written by every line. */
  private[graft] def stampFields(s: LocalRun.Stamp): String =
    s.filesPerTable.map { case (t, n) => s"\"${esc(t)}\":$n" }
      .mkString(",\"files_per_table\":{", ",", "}") +
      s",\"git_rev\":\"${esc(s.gitRev)}\""

  /** Load the prior-bench text for the contamination guard: the live
    * `outPath` when present (same-workspace re-runs), else the
    * COMMITTED reference bench (`refPath`). The fallback is what keeps
    * the guard alive on fresh checkouts: bench.json is untracked, so
    * driver rounds start with no prior and round 17's contended window
    * (a 21 s reading for a 1.5 s query) shipped unflagged — the
    * committed per-round close file still describes last round's
    * quiet-host timings and catches exactly that. A candidate counts
    * only when it was taken like this run: same `sf` dir and same
    * `cpus` (a prior without `cpus` is skipped) — timings from other
    * data or another core count would seed spurious suspects. With no
    * candidate left the guard is unseeded, and says so. */
  private[graft] def loadPriorText(outPath: String, refPath: String,
                                   sfDir: String, cpus: String): String = {
    val candidates = Seq(outPath, refPath)
      .flatMap(p => scala.util.Try(Files.readString(Paths.get(p))).toOption.map(p -> _))
      .filter(_._2.contains("\"queries\":{"))
    val matching = candidates.collectFirst { case (_, txt)
      if stampOf(txt, "sf").contains(esc(sfDir)) && stampOf(txt, "cpus").contains(esc(cpus)) => txt }
    if (matching.isEmpty) System.err.println(
      s"[bench] contamination guard unseeded: no prior bench at sf=$sfDir, " +
        s"cpus=$cpus (skipped: ${candidates.map(_._1).mkString(", ")})")
    matching.getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalRun.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    // dev-only knobs: run a comma-given subset / repeat each query N
    // times (perf isolation on a noisy host); driver runs use defaults
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // default 2 reps, min taken per query: damps host-contention spikes
    // (driver rounds measured 22s for a query that costs 2s unloaded)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Timing action: `noop` (default) writes to Spark's no-op sink,
    // which EVALUATES every output column; `count` is the legacy mode.
    // Round 8 found count() letting Catalyst prune real work — it
    // eliminated a unique-build left-outer join entirely (the KNN
    // imputer benched an empty plan) and it drops any expression the
    // row count doesn't need (projection-tail queries timed only
    // their scans). noop times what a consumer actually reads.
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "noop")
    val spark = LocalRun.session(cpus)
    LocalRun.warmUp(spark)
    val stamp = LocalRun.stamp(sfDir, cpus)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        // guide §1.5: label the query's jobs so a Spark UI / event-log
        // reading of a bench run maps stages back to queries
        spark.sparkContext.setJobDescription(s"bench: $name")
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok = try {
            val df = fn(spark, sfDir)
            if (mode == "count") df.count()
            else df.write.mode("overwrite").format("noop").save()
            true
          } catch {
            case e: Throwable =>
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .take(200)
              false
          }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        if (reps > 1) System.err.println(
          s"[bench] $name reps: ${times.map(t => fmt(t, "%.2f")).mkString(", ")}")
        // best SUCCESSFUL rep; -1 (and an errors entry) only when every
        // rep failed — one transient failure must not mask real timings
        val ok = times.filter(_ >= 0)
        if (ok.nonEmpty) errors.remove(name)
        name -> (if (ok.nonEmpty) ok.min else -1.0)
      }
    // Self-guard against contaminated artifacts: compare each timing
    // to the prior bench (live bench.json, else the committed
    // reference — see loadPriorText) and flag >3× outliers as
    // "suspect": the artifact identifies its own noise instead of
    // reading as a regression.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      "bench_reference.json")
    val priorTxt = loadPriorText(outPath, refPath, sfDir, cpus)
    val prior: Map[String, Double] = parseQueries(priorTxt)
    val suspects = suspectsOf(results, prior)
    if (suspects.nonEmpty) System.err.println(
      s"[bench] SUSPECT (>3x their last-round time — likely host " +
        s"contention, re-measure isolated): ${suspects.mkString(", ")}")
    val errJson = errors.map { case (k, v) => s"\"${esc(k)}\":\"${esc(v)}\"" }
      .mkString("{", ",", "}")
    // Stdout gets a BOUNDED errors object: round 7 had 118 failures and
    // the full error map alone (~24k chars) overflowed the driver's
    // 2000-char tail no matter how many query timings were dropped —
    // the summary line vanished and the round read as `parsed: null`.
    // Keep at most 3 messages (truncated) plus an explicit errors_n
    // count; the file always carries every full message.
    val errJsonStdout = errors.take(3)
      .map { case (k, v) => s"\"${esc(k)}\":\"${esc(v.take(80))}\"" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Per-family subtotals (written to the file JSON): the per-family
    // budget table in BASELINE.md §"bench budget" reads these, so the
    // 2x regression gate compares against a live per-family yardstick
    // instead of the stale global figure written when the suite had
    // ~50 queries. Families follow the query-name prefixes of
    // SURVEY.md §2 / COVERAGE.md.
    def familyOf(name: String): String =
      if (name.startsWith("c1") || name.startsWith("c2")) "dedup"
      else if (name.startsWith("c3") || name.startsWith("c4")) "similarity"
      else if (name.startsWith("c5") || name.startsWith("c7")) "text"
      else if (name.startsWith("c6")) "multimodal"
      else if (name.startsWith("c8") || name.startsWith("impute")
        || name == "clean_api") "impute"
      else if (name.startsWith("q") || name.startsWith("b")) "relational"
      else "analytics" // the d-row beyond-survey surface
    val families = results.toSeq.filter(_._2 >= 0)
      .groupBy { case (k, _) => familyOf(k) }
      .view.mapValues(v => (v.size, v.map(_._2).sum)).toMap
    val famJson = families.toSeq.sortBy(_._1)
      .map { case (f, (n, s)) =>
        s""""$f":{"n":$n,"sec":${fmt(s, "%.2f")}}""" }
      .mkString("{", ",", "}")
    // per-family 2x gate against last round's subtotals (the live
    // BASELINE.md budget yardstick committed in bench.json) — only
    // meaningful on full runs: a subset run's family counts never
    // match the prior full run's, so the equal-count rule keeps the
    // gate silent there by construction
    val priorFamilies = parseFamilies(priorTxt)
    val famSuspects = familyGate(families, priorFamilies)
    if (famSuspects.nonEmpty) System.err.println(
      s"[bench] FAMILY SUSPECT (>2x last-round family total at equal " +
        s"query count — regression or contention; re-measure): " +
        famSuspects.mkString(", "))
    val suspectJson =
      suspects.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    def render(qEntries: Seq[String], extra: String,
               errs: String = errJson): String = {
      val qs = qEntries.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, "%.3f")},"unit":"sec","queries":$qs,"errors":$errs,"errors_n":${errors.size},"suspect":$suspectJson$extra,"sf":"${esc(sfDir)}","cpus":"${esc(cpus)}"}"""
    }
    // Full-precision JSON goes to the file (per-query history for the
    // judge); stdout gets a compacted line. The driver keeps only a
    // ~2000-char stdout tail and sbt appends its [success] epilogue
    // after us, so full-precision timings for 60 queries overflow the
    // window (r1/r2 both came back `parsed: null`). 2-decimal timings
    // fit; as a backstop, if the line would still exceed the budget,
    // drop the FASTEST queries from the stdout map (the file always has
    // them all) and flag how many were dropped.
    val famSuspectJson =
      famSuspects.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    val full = render(
      results.map { case (k, v) => s"\"${esc(k)}\":$v" }.toSeq,
      s""","families":$famJson,"family_suspect":$famSuspectJson${stampFields(stamp)}""")
    Files.writeString(Paths.get(outPath), full + "\n")
    val byTimeDesc = results.toSeq.sortBy { case (_, v) => -v }
      .map { case (k, v) => s"\"${esc(k)}\":${fmt(v, "%.2f")}" }
    val budget = 1880 // chars; tail window 2000 minus sbt epilogue (~90)
    val compactAll = render(results.map {
      case (k, v) => s"\"${esc(k)}\":${fmt(v, "%.2f")}" }.toSeq, "",
      errJsonStdout)
    val line =
      if (compactAll.length <= budget) compactAll
      else {
        var kept = byTimeDesc
        var out = render(kept, s""","queries_dropped":0""", errJsonStdout)
        while (out.length > budget && kept.nonEmpty) {
          kept = kept.dropRight(1)
          out = render(kept,
            s""","queries_dropped":${results.size - kept.size}""",
            errJsonStdout)
        }
        out
      }
    println(line)
    spark.stop()
  }
}
