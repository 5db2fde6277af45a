"""Turns one benchmark process's raw measurements into the reported metrics.

Pure functions over the JSON the JVM side prints, so the arithmetic
(percentiles, span self time, job coverage) is testable without Spark.
"""

import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

# The benchmark's calls into each module, one span per call. The serve
# calls report a per-call latency percentile, the batch calls a median.
SPANS = ["operators.profile", "ml.fit", "ml.transform",
         "dedup.exact", "dedup.minhash", "dedup.semdedup",
         "text.index_write", "similarity.index_write",
         "text.topk", "similarity.topk", "text.merge", "similarity.merge"]
SERVE_SPANS = {"text.topk", "similarity.topk", "text.merge", "similarity.merge"}

GAUGES = ["ml.epochs", "dedup.kept_frac", "similarity.recall_at_10",
          "sources.index_files", "sources.index_mb_per_input_mb"]


def _rank(n, p):
    # 1-based nearest rank; rounding first keeps 99.9% of 10000 at 9990
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def highest_percentile(n, candidates=(50, 90, 99, 99.9), need=10):
    """The highest candidate percentile with at least `need` samples
    beyond it; the median when none has."""
    ok = [p for p in candidates if beyond(n, p) >= need]
    return max(ok) if ok else 50


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def self_time(span, children):
    """A span's wall time minus the part its child spans cover."""
    kids = clip([(c["start"], c["end"]) for c in children],
                span["start"], span["end"])
    return (span["end"] - span["start"]) - union_length(kids)


def span_calls(raw):
    """Per span name, one record per traced call: self time, wall time
    not covered by any Spark job of the call, and the call's job totals
    (jobs submitted under the span or any span inside it)."""
    spans = raw["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = {}
    for j in raw["jobs"]:
        jobs.setdefault(j["span"], []).append(j)

    def subtree(s):
        out = [s]
        for k in kids.get(s["id"], []):
            out.extend(subtree(k))
        return out

    calls = {}
    for s in spans:
        js = [j for t in subtree(s) for j in jobs.get(t["id"], [])]
        wall = s["end"] - s["start"]
        covered = union_length(clip([(j["start"], j["end"]) for j in js],
                                    s["start"], s["end"]))
        calls.setdefault(s["name"], []).append({
            "self_ms": self_time(s, kids.get(s["id"], [])),
            "driver_ms": wall - covered,
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "task_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "shuffle_mb": sum(j["shuffle_bytes"] for j in js) / 1048576.0,
            "spill_mb": sum(j["spill_bytes"] for j in js) / 1048576.0})
    return calls


def layer_metrics(raw):
    """The per-layer metrics of a traced run. A layer the workload does
    not call reads 0, which is what 'flat' means for it."""
    calls = span_calls(raw)
    m = {}
    for name in SPANS:
        cs = calls.get(name, [])

        def med(key, scale=1.0):
            return statistics.median(c[key] for c in cs) * scale if cs else 0.0
        if name in SERVE_SPANS:
            m[name + "_p50_ms"] = (
                percentile([c["self_ms"] for c in cs], 50) if cs else 0.0, "ms")
        else:
            m[name + "_s"] = (med("self_ms", 1e-3), "s")
        m[name + ".jobs"] = (med("jobs"), "count")
        m[name + ".tasks"] = (med("tasks"), "count")
        m[name + ".driver_s"] = (med("driver_ms", 1e-3), "s")
        m[name + ".task_cpu_s"] = (med("task_cpu_s"), "s")
        m[name + ".shuffle_mb"] = (med("shuffle_mb"), "MB")
        m[name + ".spill_mb"] = (med("spill_mb"), "MB")
    g = raw["gauges"]
    units = {"ml.epochs": "count", "sources.index_files": "count"}
    for name in GAUGES:
        m[name] = (float(g.get(name, 0.0)), units.get(name, "ratio"))
    roots = [s for s in raw["spans"] if s["parent"] < 0]
    wall_ms = sum(s["end"] - s["start"] for s in roots)
    task_ms = sum(j["run_ms"] for j in raw["jobs"])
    m["spark.core_util"] = (task_ms / (wall_ms * raw["cores"]) if wall_ms else 0.0,
                            "ratio")
    m["jvm.gc_s"] = (raw["jvm"]["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (raw["jvm"]["heap_peak_mb"], "MB")
    # the first pass is cold; the traced pass sits between two warm
    # untraced ones, so a steady warming trend cancels out
    on = [p["s"] for p in raw["passes"] if p["traced"]]
    off = [p["s"] for p in raw["passes"][1:] if not p["traced"]]
    m["trace.overhead_frac"] = (
        statistics.median(on) / statistics.median(off) - 1 if on and off else 0.0,
        "ratio")
    return m


def end_to_end(raw, launch_s, gen_s):
    """The end-to-end metrics of an untraced run.

    setup_s: session start (from process launch), plus the median input
    generation and the median input registration.
    run_s: the process's first full pass (batch workloads) or index
    build (index_serve), JIT and codegen warm-up included.
    op_p50_ms / ops_per_s: the closed-loop client's operations. On the
    batch workloads its one operation is the pass."""
    run_s = raw["passes"][0]["s"]
    ops = [o["ms"] for o in raw["ops"] if not o["traced"]]
    session = raw["session_ready_ms"] / 1e3 - launch_s
    m = {"setup_s": (session + statistics.median(gen_s)
                     + statistics.median(raw["setup_s"]), "s"),
         "run_s": (run_s, "s")}
    if ops:
        m["op_p50_ms"] = (percentile(ops, 50), "ms")
        m["ops_per_s"] = (len(ops) / raw["ops_window_s"], "1/s")
    else:
        m["op_p50_ms"] = (run_s * 1e3, "ms")
        m["ops_per_s"] = (1 / run_s, "1/s")
    return m


def timing_summary(values):
    """Sample count, median and the highest percentile the sample
    supports (at least ten samples beyond it)."""
    if not values:
        return {"n": 0}
    p = highest_percentile(len(values))
    return {"n": len(values), "p50": percentile(values, 50),
            "highest": {"p": p, "value": percentile(values, p)}}


def check_names(metrics, declared):
    """Names that break the naming rule or are not declared."""
    return sorted(n for n in metrics if not NAME.match(n) or n not in declared)
