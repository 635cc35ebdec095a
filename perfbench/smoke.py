#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage: python3 perfbench/smoke.py   (from the repository root)

Runs every workload of BENCHMARK.json once untraced and once traced at
tiny size, and checks that each run exits 0 with correct=true and no
failed op, that its last stdout line names exactly the end-to-end
(untraced) or per-layer (traced) metrics of BENCHMARK.json, each with
its unit, and that the result file carries the run header and the
traced run its spans file. Exit code 1 on any failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")
HEADER = ("nproc", "max_heap_mb", "java_version", "spark_version", "seed", "commit",
          "load_avg_start", "load_avg_end")
SEED = 7


def run(workload, trace, expected):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    problems = []
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    r = json.loads(lines[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(r)}")
    if not r.get("correct") or r.get("failed") != 0 or r.get("attempted", 0) < 1:
        problems.append(f"checks: correct={r.get('correct')} failed={r.get('failed')}")
    got = {k: v.get("unit") for k, v in r.get("metrics", {}).items()}
    if got != expected:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(expected))}"
                        f" or units {[(k, got.get(k), u) for k, u in expected.items() if got.get(k) != u]}")
    with open(os.path.join(RESULTS, f"{workload}-s{SEED}-t{trace}.json")) as fh:
        detail = json.load(fh)
    missing = [h for h in HEADER if h not in detail["header"]]
    if missing:
        problems.append(f"run header lacks {missing}")
    if trace and not os.path.getsize(os.path.join(RESULTS, f"{workload}-s{SEED}.spans.jsonl")):
        problems.append("traced run wrote no spans")
    if trace and not all(detail["equivalence"].values()):
        problems.append(f"equivalence checks failed: {detail['equivalence']}")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failed = False
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, expected in ((0, e2e), (1, layers)):
            problems = run(w, trace, expected)
            failed |= bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace}"
                  + "".join(f"\n     {x}" for x in problems), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
