#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Workloads: slope_fit, slope_cv_serve, pipeline (see
perfbench/README.md). The first call builds the engine and the benchmark
from source (perfbench/build.py). Each run starts one JVM with a
local[nproc] Spark session, generates the workload's inputs from the
seed, and runs a closed loop with one client for --seconds. The last
stdout line is a JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics of
a traced run with --trace 1. The full result file (run header, samples,
self times) and the spans of a traced run are written under
.bench_build/perfbench/results.

Exit codes: 0 when every output check passed, 1 when a check failed (the
result is still printed), 2 or more when the run could not complete (no
result is printed).
"""
import argparse
import os
import subprocess
import sys

import build

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["slope_fit", "slope_cv_serve", "pipeline"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()

    cp, digest = build.build()
    out = os.path.join(build.OUT, "results")
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size, "--out", out,
              "--commit", git_commit(), "--source-digest", digest])
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(out, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"run: {tag} exceeded {JVM_TIMEOUT_S}s; log in {log_path}", file=sys.stderr)
            return 3
    lines = stdout.rstrip("\n").splitlines()
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    if result is None or proc.returncode not in (0, 1):
        sys.stdout.write(stdout)
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"run: {tag} ended with code {proc.returncode} and no result", file=sys.stderr)
        return max(2, proc.returncode)
    print("\n".join(lines[:-1]))
    print(result, flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
