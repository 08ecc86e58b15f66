#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM.

    python3 perfbench/run.py --workload dbscan_dist --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark first when needed (see build.py), then
starts `java -cp <build jar>:<spark jars>/*` with a fixed heap. The last line
of stdout is the result JSON: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (the trace itself goes to <build dir>/traces/). The
line before it records nproc, heap, Spark version and commit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["dbscan_dist", "dbscan_harness", "pagerank_bsp"]
RUN_TIMEOUT_S = 170


def commit(key):
    if not (build.ROOT / ".git").exists():
        return "source-" + key
    try:
        out = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "source-" + key


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()

    out, jars, key = build.build()
    work = build.build_dir() / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_cmd(out, jars, work / "tmp") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
        "--trace-dir", str(build.build_dir() / "traces"),
        "--commit", commit(key)] + (["--small"] if a.small else [])
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                             timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout)
        sys.exit(f"perfbench: run failed with exit code {res.returncode}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("perfbench: malformed result line")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
