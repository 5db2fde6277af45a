#!/usr/bin/env python3
"""Compares two sets of full benchmark results (the JSON files run.py
keeps under <build>/perfbench/results):

    python3 perfbench/compare.py base/*.json -- new/*.json

It refuses (exit 1) when any two results' environment stamps differ,
since their timings would not compare like with like. The git revision
and the build digests are expected to differ and are only printed;
generated byte counts vary with the seed and are compared only between
results of the same seed. For every workload and metric it prints the
median of each side and the new/base ratio.
"""

import json
import statistics
import sys

# stamp fields that must match across every compared result
ENV = ("cpus", "spark_cores", "spark", "jvm", "driver_heap_mb", "seconds", "trace")


def env(stamp):
    inputs = {k: {"rows": v["rows"], "files": v["files"]} for k, v in stamp["inputs"].items()}
    return dict({k: stamp[k] for k in ENV}, inputs=inputs)


def mismatches(results):
    """Human-readable stamp differences between the results."""
    out = []
    first = results[0]
    for path, r in results[1:]:
        a, b = env(first[1]["stamp"]), env(r["stamp"])
        out += ["%s vs %s: %s %r != %r" % (first[0], path, k, a.get(k), b.get(k))
                for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)]
    by_seed = {}
    for path, r in results:
        s = r["stamp"]
        key = (s["workload"], s["seed"])
        if key in by_seed and by_seed[key][1] != s["inputs"]:
            out.append("%s vs %s: generated inputs differ for seed %d"
                       % (by_seed[key][0], path, s["seed"]))
        by_seed.setdefault(key, (path, s["inputs"]))
    return out


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    sides = []
    for paths in (argv[:cut], argv[cut + 1:]):
        if not paths:
            sys.exit("each side needs at least one result file")
        side = []
        for p in paths:
            with open(p) as f:
                side.append((p, json.load(f)))
        sides.append(side)
    problems = mismatches([(p, r) for side in sides for p, r in side])
    if problems:
        print("refusing to compare: the environment stamps differ", file=sys.stderr)
        for line in problems:
            print("  " + line, file=sys.stderr)
        return 1
    for name, side in zip(("base", "new"), sides):
        revs = sorted({str(r["stamp"]["git_rev"]) for _, r in side})
        print("%s: %d results, git %s" % (name, len(side), ", ".join(revs)))
    workloads = sorted({r["stamp"]["workload"] for side in sides for _, r in side})
    for w in workloads:
        vals = [{}, {}]
        for i, side in enumerate(sides):
            for _, r in side:
                if r["stamp"]["workload"] == w:
                    for m, v in r["metrics"].items():
                        vals[i].setdefault(m, []).append(v["value"])
        for m in sorted(set(vals[0]) & set(vals[1])):
            a, b = statistics.median(vals[0][m]), statistics.median(vals[1][m])
            print("%-16s %-36s base %12.4f  new %12.4f  new/base %s"
                  % (w, m, a, b, "%.3f" % (b / a) if a else "-"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
