#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds graft and the benchmark from
source (graftbench/build.py) into the build directory ($CARGO_TARGET_DIR
if set, else .bench_build), then runs the workload in one JVM on a
local[nproc] Spark session. Every file the run writes (java.io.tmpdir,
Spark local and warehouse dirs, the stores, stream checkpoints, spans)
lives under <build dir>/run/<workload>, wiped at the start of each run.

`--workload all` runs every workload in turn, each in its own JVM.

The last stdout line of a run is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end_to_end metrics of BENCHMARK.json (--trace 0) or its per_layer
metrics (--trace 1). The line before it, {"info": ...}, records the host
(nproc, heap cap, Spark version, sentinels), the sample counts and the
workload-specific figures. The exit code is 0 only if every op succeeded
and every output check passed.

Self-check options: --tiny 1 (small feeds, two queries per mix),
--inject-failure 1 (adds an op that always fails). --emit-reference PATH
writes the query-mix digests instead of checking them (README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

WORKLOADS = ["tsdb_track_fetch", "corpus_curation"]
RUN_LIMIT_S = 170


def run_one(a, workload, build_dir, build):
    """Run one workload in its own JVM; print its lines; return the exit code."""
    run_dir = os.path.join(build_dir, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    cmd = build.java_cmd(build_dir, run_dir, "graftbench.Main", [
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tiny", str(a.tiny),
        "--inject-failure", str(a.inject_failure)] + build.bench_args(run_dir))
    if a.emit_reference:
        cmd += ["--emit-reference", os.path.abspath(a.emit_reference)]

    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    try:
        out, _ = proc.communicate()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out:
        print(f"graftbench: {workload} exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    lines = out.splitlines()

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        for line in lines:
            print(line, file=sys.stderr)
        print(f"graftbench: {workload} ended ({proc.returncode}) without a result",
              file=sys.stderr)
        return 3
    for line in lines:
        print(line)
    sys.stdout.flush()
    return 0 if proc.returncode == 0 and result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0)
    ap.add_argument("--emit-reference")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("graftbench: no graft sources at src/main/scala/graft; nothing to benchmark",
              file=sys.stderr)
        return 2
    import build

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build.build(build_dir)
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    return max(run_one(a, w, build_dir, build) for w in workloads)


if __name__ == "__main__":
    sys.exit(main())
