#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload rbm_impute --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main` and the
benchmark's Scala sources with the Scala compiler shipped among the
Spark jars; later runs reuse the classes while the sources are
unchanged. Everything the run writes goes under `$CARGO_TARGET_DIR`
(default `.bench_build`). The last stdout line is the result object;
the line before it is the environment stamp, and the full result (raw
samples, stamp, every metric) is kept under `<build>/perfbench/results`.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

GEN_REPS = 3
HEAP = "3g"
# a run's limit after the build (the first run in a checkout also builds)
TIMEOUT_S = 170
# what spark-submit passes to a JDK 17 driver (JavaModuleOptions)
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the sbt build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    if not m or not os.path.isdir(m.group(1)):
        die("build.sbt names no Spark jar directory")
    return m.group(1)


def scala_files(base):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                  for f in fs if f.endswith(".scala"))


def compile_once(name, srcs, build_dir, jars, deps):
    """Compiles `srcs` against the Spark jars and `deps` into a classes
    directory named by the sources' digest; reuses it when it exists."""
    h = hashlib.sha256("\n".join(sorted(os.listdir(jars)) + deps).encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-%s-%s" % (name, h.hexdigest()[:16]))
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, name + "-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t = time.perf_counter()
    # an explicit class path keeps the working directory (and its
    # perfbench/scala folder) out of the compiler's package lookup
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars + "/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-classpath", os.pathsep.join(deps + [tmp]),
                        "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation of %s failed" % name)
    os.rename(tmp, out)
    print("perfbench: compiled %d %s sources in %.0fs"
          % (len(srcs), name, time.perf_counter() - t), file=sys.stderr)
    return out


def build(root, build_dir, jars):
    """Class path entries for the program (src/main) and the benchmark."""
    srcs = scala_files(os.path.join(root, "src", "main"))
    main = compile_once("main", [os.path.relpath(p, root) for p in srcs],
                        build_dir, jars, [])
    bench = compile_once("bench", [os.path.relpath(p, root)
                                   for p in scala_files(os.path.join(HERE, "scala"))],
                         build_dir, jars, [main])
    return [main, bench]


def git_rev(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpus():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        die("run from the repository root (no BENCHMARK.json here)")
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        die("unknown workload " + a.workload)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die("no program sources under src/main/scala to build")
    jars = spark_jars(root)

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                             "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)
    built = time.time()

    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    gen_s, digests = [], set()
    for r in range(GEN_REPS):
        out = os.path.join(run_dir, "data%d" % r)
        t = time.perf_counter()
        inputs = gen.generate(a.workload, a.seed, out)
        gen_s.append(time.perf_counter() - t)
        digests.add(gen.digest(out))
        if r:
            shutil.rmtree(out)
    if len(digests) != 1:
        die("the generator wrote different inputs for one seed")
    data = os.path.join(run_dir, "data0")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))

    # no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classes + [jars + "/*"]), "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work,
              str(cpus())])
    log_path = os.path.join(build_dir, "last-run.log")
    launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S - (launch - built))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("timed out; log in " + log_path, 4)
    if proc.returncode != 0 or not out.strip():
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        die("benchmark process failed (exit %d)" % proc.returncode, 3)
    raw = json.loads(out.strip().splitlines()[-1])

    if a.trace:
        metrics = stats.layer_metrics(raw)
        declared = {m["name"] for m in bench["per_layer"]}
    else:
        metrics = stats.end_to_end(raw, launch, gen_s)
        declared = {m["name"] for m in bench["end_to_end"]}
    bad = stats.check_names(metrics, declared) + sorted(declared - set(metrics))
    if bad:
        die("metric names not matching BENCHMARK.json: " + ", ".join(bad))

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus(), "spark_cores": raw["cores"],
        "data_dir": os.path.relpath(data, root), "inputs": inputs,
        "git_rev": git_rev(root),
        "build": [os.path.basename(c) for c in classes],
        "spark": raw["spark"], "jvm": raw["jvm"]["version"],
        "driver_heap_mb": raw["jvm"]["max_heap_mb"]}
    result = {
        "correct": raw["failed"] == 0 and raw["attempted"] > 0,
        "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    full = dict(result, stamp=stamp, gauges=raw["gauges"],
                setup={"gen_s": gen_s, "jvm_setup_s": raw["setup_s"],
                       "session_s": raw["session_ready_ms"] / 1e3 - launch},
                passes=raw["passes"],
                ops={k: stats.timing_summary([o["ms"] for o in raw["ops"] if o["kind"] == k])
                     for k in ("read", "write")})
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results", "%s-s%d-t%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
