package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-family 2× bench regression gate (Bench.familyGate) and its
  * prior-file parse — pure functions, driven with synthetic slowdowns
  * so the gate's firing conditions are pinned without running Spark. */
class BenchGateSpec extends AnyFunSuite {

  test("a synthetic 2x family slowdown at equal query count FIRES") {
    val prior = Map("text" -> (40, 30.0), "dedup" -> (20, 25.0))
    val cur = Map("text" -> (40, 70.0), "dedup" -> (20, 26.0))
    assert(Bench.familyGate(cur, prior) === Seq("text"))
  }

  test("unequal query counts never flag — added queries move the " +
    "budget, they do not breach it") {
    val prior = Map("text" -> (40, 30.0))
    val cur = Map("text" -> (45, 70.0))
    assert(Bench.familyGate(cur, prior).isEmpty)
  }

  test("the +1s absolute floor keeps tiny families from flagging " +
    "on jitter") {
    val prior = Map("multimodal" -> (10, 0.4))
    val cur = Map("multimodal" -> (10, 1.1)) // >2x but delta < 1s
    assert(Bench.familyGate(cur, prior).isEmpty)
    val cur2 = Map("multimodal" -> (10, 1.5)) // >2x AND delta > 1s
    assert(Bench.familyGate(cur2, prior) === Seq("multimodal"))
  }

  test("missing prior family / zero prior seconds never flag; " +
    "multiple breaches sort") {
    val prior = Map("a" -> (5, 10.0), "b" -> (5, 0.0), "c" -> (5, 4.0))
    val cur = Map("a" -> (5, 25.0), "b" -> (5, 9.0), "c" -> (5, 11.0),
      "new" -> (3, 99.0))
    assert(Bench.familyGate(cur, prior) === Seq("a", "c"))
  }

  test("fresh checkout: with no live bench.json, the contamination " +
    "guard seeds from the committed reference and a synthetic 5x " +
    "slowdown flags SUSPECT") {
    // round-17 gap: bench.json is untracked, so driver runs had no
    // prior and a 21 s contended reading for a 1.5 s query shipped
    // with suspect:[] — the committed reference must catch it
    val dir = java.nio.file.Files.createTempDirectory("benchref")
    val ref = dir.resolve("bench_reference.json")
    java.nio.file.Files.writeString(ref,
      """{"metric":"total","value":3.0,"unit":"sec",""" +
        """"queries":{"c4_matryoshka_recall":1.5,"fast_q":0.2},""" +
        """"errors":{},"sf":"x","cpus":"4"}""")
    val missingOut = dir.resolve("bench.json").toString // does not exist
    val txt = Bench.loadPriorText(missingOut, ref.toString, "x", "4")
    val prior = Bench.parseQueries(txt)
    assert(prior === Map("c4_matryoshka_recall" -> 1.5, "fast_q" -> 0.2))
    val results = Seq("c4_matryoshka_recall" -> 7.5, // 5x AND +1s: flags
      "fast_q" -> 0.9) // >3x but sub-second delta: jitter, stays quiet
    assert(Bench.suspectsOf(results, prior) === Seq("c4_matryoshka_recall"))
    // live bench.json (when present) wins over the reference
    val live = dir.resolve("live.json")
    java.nio.file.Files.writeString(live,
      """{"metric":"total","queries":{"c4_matryoshka_recall":9.0},"sf":"x","cpus":"4"}""")
    val livePrior = Bench.parseQueries(
      Bench.loadPriorText(live.toString, ref.toString, "x", "4"))
    assert(livePrior === Map("c4_matryoshka_recall" -> 9.0))
    assert(Bench.suspectsOf(results, livePrior).isEmpty)
    // neither file present: guard degrades to silent, never throws
    assert(Bench.loadPriorText(missingOut,
      dir.resolve("nope.json").toString, "x", "4") === "")
    // the committed repo reference actually exists and parses
    val repoRef = java.nio.file.Paths.get("bench_reference.json")
    assert(java.nio.file.Files.exists(repoRef),
      "bench_reference.json must be committed at the repo root")
    assert(Bench.parseQueries(java.nio.file.Files.readString(repoRef))
      .nonEmpty, "the committed reference must carry a queries map")
  }

  test("the guard skips a prior taken on other data or another core " +
    "count, and falls back to one that matches") {
    val dir = java.nio.file.Files.createTempDirectory("benchstamp")
    def write(name: String, sf: String, cpus: Option[String], q: Double): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p,
        s"""{"metric":"total","queries":{"q1":$q},"errors":{},""" +
          s""""sf":"$sf"""" + cpus.fold("")(c => s""","cpus":"$c"""") + "}")
      p.toString
    }
    val run = ("/data/sf0.1", "8")
    def prior(out: String, ref: String): Map[String, Double] =
      Bench.parseQueries(Bench.loadPriorText(out, ref, run._1, run._2))
    val good = write("good.json", "/data/sf0.1", Some("8"), 1.0)
    val otherSf = write("sf.json", "/data/sf0.01", Some("8"), 2.0)
    val otherCpus = write("cpus.json", "/data/sf0.1", Some("32"), 3.0)
    val noCpus = write("nocpus.json", "/data/sf0.1", None, 4.0)
    // sf mismatch, cpus mismatch, cpus missing: each alone seeds nothing
    Seq(otherSf, otherCpus, noCpus).foreach { p =>
      assert(prior(p, dir.resolve("nope.json").toString).isEmpty, p)
      assert(prior(dir.resolve("nope.json").toString, p).isEmpty, p)
    }
    // a mismatched live file falls back to the matching reference
    Seq(otherSf, otherCpus, noCpus).foreach { p =>
      assert(prior(p, good) === Map("q1" -> 1.0), p)
    }
    // and a matching live file still wins over a matching reference
    val goodLive = write("live.json", "/data/sf0.1", Some("8"), 5.0)
    assert(prior(goodLive, good) === Map("q1" -> 5.0))
  }

  test("parseFamilies round-trips the bench.json families object and " +
    "drops malformed entries individually") {
    val txt = """{"metric":"total","value":1.0,"queries":{"q1":0.5},""" +
      """"families":{"text":{"n":40,"sec":30.25},""" +
      """"dedup":{"n":20,"sec":oops},"impute":{"n":7,"sec":2.5}},"sf":"x"}"""
    val fams = Bench.parseFamilies(txt)
    assert(fams === Map("text" -> (40, 30.25), "impute" -> (7, 2.5)))
    assert(Bench.parseFamilies("{}").isEmpty)
    assert(Bench.parseFamilies("no json at all").isEmpty)
  }

  test("bench.json's stamp carries parquet files per table and the git " +
    "revision, and the prior parse still reads a line that has them") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("benchstamp_sf")
    Files.writeString(dir.resolve("region.parquet"), "one file")
    val split = Files.createDirectories(dir.resolve("lineitem.parquet"))
    (0 until 3).foreach(i => Files.writeString(split.resolve(s"part-0000$i.snappy.parquet"), "x"))
    Files.writeString(split.resolve("_SUCCESS"), "")
    Files.writeString(split.resolve(".part-00000.snappy.parquet.crc"), "")
    Files.writeString(dir.resolve("notes.txt"), "not a table")
    val stamp = LocalRun.stamp(dir.toString, "8")
    assert(stamp.filesPerTable === Seq("lineitem" -> 3, "region" -> 1))
    val hex = "[0-9a-f]{40}"
    assert(stamp.gitRev == "unknown" || stamp.gitRev.matches(hex), stamp.gitRev)
    if (Files.isDirectory(Paths.get(".git"))) assert(stamp.gitRev.matches(hex), stamp.gitRev)
    val fields = Bench.stampFields(stamp)
    assert(fields === s""","files_per_table":{"lineitem":3,"region":1},"git_rev":"${stamp.gitRev}"""")
    val line = s"""{"metric":"total","queries":{"q1":1.0},"errors":{}$fields,""" +
      s""""sf":"$dir","cpus":"8"}"""
    assert(Bench.stampOf(line, "git_rev") === Some(stamp.gitRev))
    val file = dir.resolve("bench.json")
    Files.writeString(file, line)
    val prior = Bench.loadPriorText(file.toString, dir.resolve("nope.json").toString,
      dir.toString, "8")
    assert(Bench.parseQueries(prior) === Map("q1" -> 1.0))
  }
}
