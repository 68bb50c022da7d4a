#!/usr/bin/env python3
"""Summarize or compare saved benchmark records.

usage: python3 perfbench/compare.py BASE_GLOB [HEAD_GLOB]

Each glob names result records written by run.py (by default under
perfbench/.work/results/). With one glob, prints per workload and metric
the median, the quartiles and the spread (quartile distance / median).
With two, also prints the change of the median and flags a change worse
than the metric's bound in BENCHMARK.json. Records taken at different
core counts are never compared: the script exits 1 instead.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(pattern):
    recs = [json.load(open(f)) for f in sorted(glob.glob(pattern))]
    if not recs:
        sys.exit(f"no records match {pattern}")
    return recs


def series(recs):
    """{(workload, metric): [values]} over end-to-end and per-layer metrics."""
    out = {}
    for r in recs:
        metrics = r["per_layer"] if r["trace"] else r["end_to_end"]
        for k, v in metrics.items():
            out.setdefault((r["workload"], k), []).append(v)
    return out


def stats(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    sets = [load(p) for p in argv[1:]]
    cores = {r["host"]["nproc"] for recs in sets for r in recs}
    if len(cores) > 1:
        print(f"refusing to compare results taken at different core counts: {sorted(cores)}")
        return 1
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    base = series(sets[0])
    head = series(sets[1]) if len(sets) == 2 else {}
    worse = 0
    print(f"cores={cores.pop()}  records: " + " vs ".join(str(len(s)) for s in sets))
    for key in sorted(base):
        med, q1, q3, spread = stats(base[key])
        line = (f"{key[0]:16} {key[1]:40} n={len(base[key]):2} median={med:.6g} "
                f"q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}")
        if key in head and med:
            hmed = statistics.median(head[key])
            change = (hmed - med) / med
            line += f"  head median={hmed:.6g} change={change:+.3f}"
            if key[1] in bounds:
                bound, better = bounds[key[1]]
                if (change if better == "lower" else -change) > bound:
                    line += "  WORSE THAN BOUND"
                    worse += 1
        print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
