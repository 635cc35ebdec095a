#!/usr/bin/env python3
"""Compare two sets of benchmark results, one row per workload.

Usage: python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result files run.py writes
(<workload>-s<seed>-t<trace>.json, by default under
.bench_build/perfbench/results); several seeds or repeats per workload
make the spread measurable. For every end-to-end metric of
BENCHMARK.json the tool compares the medians of the two sets:

  regressed   worse by more than the metric's bound
  unresolved  a side's run-to-run spread (quartile distance / median)
              exceeds the bound, and the runs overlap
  moved       better or worse by more than both sides' spread
  flat        otherwise

A wall-time mover (op_s_p50, rows_per_s) is then classed by the work
counters: "operator" when cpu_s_per_op or one of the traced counters
slope.passes, spark.jobs, spark.task_cpu_s also moved by more than its
run-to-run spread on either side, "wall-only" (box noise) when none did,
and "unresolved" when none did but a counter has fewer than two runs on a
side, so its spread is unknown (run several traced seeds to resolve it).
Exit code 1 when any metric regressed, or when a workload or an
end-to-end metric is missing from either set.
"""
import argparse
import glob
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
WALL = ("op_s_p50", "rows_per_s")
WORK = (("t0", "cpu_s_per_op"), ("t1", "slope.passes"), ("t1", "spark.jobs"),
        ("t1", "spark.task_cpu_s"))


def load(directory):
    """{(workload, 't0'|'t1'): {metric: [values]}}"""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-t[01].json"))):
        with open(path) as fh:
            r = json.load(fh)
        key = (r["header"]["workload"], "t1" if r["header"]["trace"] else "t0")
        for name, m in r["result"]["metrics"].items():
            runs.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return runs


def spread(values):
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 2 else (
        min(values), statistics.median(values), max(values))
    return (q3 - q1) / abs(med) if med else 0.0


def worse(base, new, better):
    """Relative change, positive when the new median is worse."""
    b, n = statistics.median(base), statistics.median(new)
    if b == 0:
        return 0.0
    d = (n - b) / abs(b)
    return -d if better == "higher" else d


def verdict(base, new, bound, better):
    w = worse(base, new, better)
    s = max(spread(base), spread(new))
    disjoint = max(base) < min(new) or max(new) < min(base)
    if w > bound and (s <= bound or disjoint):
        return "regressed", w, s
    if s > bound and not disjoint:
        return "unresolved", w, s
    if abs(w) > s:
        return "moved", w, s
    return "flat", w, s


def work_moves(base, new, w):
    """(counters that moved beyond their spread, counters with too few runs)"""
    moved, unknown = [], []
    for trace, name in WORK:
        bv = base.get((w, trace), {}).get(name, [])
        nv = new.get((w, trace), {}).get(name, [])
        if min(len(bv), len(nv)) < 2:
            unknown.append(name)
            continue
        b, n = statistics.median(bv), statistics.median(nv)
        if b == n:
            continue
        if b == 0 or abs(n - b) / abs(b) > max(spread(bv), spread(nv)):
            moved.append(f"{name} {(n - b) / abs(b):+.1%}" if b else f"{name} 0 -> {n:.4g}")
    return moved, unknown


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    base, new = load(a.base), load(a.new)
    failed = False
    for w in [x["name"] for x in bench["workloads"]]:
        b0, n0 = base.get((w, "t0"), {}), new.get((w, "t0"), {})
        if not b0 or not n0:
            print(f"{w}: missing untraced results in {'base' if not b0 else 'new'}")
            failed = True
            continue
        cells, wall_moved = [], False
        for m in bench["end_to_end"]:
            name = m["name"]
            if name not in b0 or name not in n0:
                cells.append(f"{name}=missing")
                failed = True
                continue
            v, d, s = verdict(b0[name], n0[name], m["bound"], m["better"])
            failed |= v == "regressed"
            wall_moved |= name in WALL and v in ("moved", "regressed")
            cells.append(f"{name}={v}({d:+.1%} worse, spread {s:.1%})")
        moved, unknown = work_moves(base, new, w)
        few = f" (too few runs of {', '.join(unknown)})" if unknown else ""
        if not wall_moved:
            cls = "work counters moved: " + (", ".join(moved) or "none") + few
        elif moved:
            cls = "wall movers: operator: " + ", ".join(moved)
        elif unknown:
            cls = "wall movers: unresolved" + few
        else:
            cls = "wall movers: wall-only"
        print(f"{w} | " + " | ".join(cells) + f" | {cls}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
