#!/usr/bin/env python3
"""User-traffic benchmark of the spec-search library.

    python3 perfbench/run.py --workload serve_hot|churn --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark from source (perfbench/build.py),
runs one workload in one JVM, and prints the result object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics. Layouts live in .bench_work/ for the run only; the
run's evidence (box state, corpus sizes, samples, spans) is kept in
.bench_out/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_hot", "churn")
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jar, archive = build.build()
    root = build.ROOT
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    # -Xshare:on: a run that cannot map the archive fails instead of
    # silently paying the cold class loading in its set-up
    cmd = build.java_cmd(jar, work, [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--result", result,
        "--detail", os.path.join(out_dir, tag + ".json")]
    try:
        proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} did not finish in time")
        if code != 0:
            raise SystemExit(f"perfbench: benchmark JVM exited with code {code}")
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
