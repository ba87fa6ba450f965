#!/usr/bin/env python3
"""Tiny-scale self-check of the graft benchmark.

Runs every workload once at tiny scale (small feeds, one query per layer
in each query mix, one-second runs), untraced and traced, and asserts
that each run prints every metric BENCHMARK.json declares, finite and
tagged with its declared unit, with every end-to-end metric above zero
and no failed op; that in the traced run every per-layer metric of the
layers the workload exercises was computed, not filled in (only the
layers it bypasses may read 0); then runs one workload with a
deliberately failing op and asserts the failure is counted and named and
fails the run instead of vanishing.

    python3 graftbench/selfcheck.py            (from the checkout root)
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["tsdb_track_fetch", "corpus_curation"]

# name prefixes of the per-layer metrics each workload must compute
EXERCISED = {
    "tsdb_track_fetch": ["core.", "serve.", "streaming.", "operators.analytics"],
    "corpus_curation": ["operators.dedup", "operators.text", "operators.similarity",
                        "operators.contamination", "operators.sample", "stores."],
}
BOTH = ["trace.", "host.", "spark.", "functions."]


def run(workload, trace, inject=0):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", "1",
           "--inject-failure", str(inject)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: no result (exit {p.returncode})")
    return p.returncode, json.loads(lines[-2])["info"], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, info, res = run(w, trace)
            declared = {m["name"]: m["unit"] for m in spec[section]}
            got = res["metrics"]
            tag = f"{w} trace={trace}"
            if code != 0 or not res["correct"] or res["failed"] != 0:
                problems.append(f"{tag}: exit {code}, failed ops {info['failed_ops']}")
            if set(got) != set(declared):
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(declared))}")
            for name, m in got.items():
                v = m.get("value")
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{tag}: {name} is not a finite number: {v}")
                if m.get("unit") != declared.get(name):
                    problems.append(f"{tag}: {name} unit {m.get('unit')} != {declared.get(name)}")
                if trace == 0 and isinstance(v, (int, float)) and v <= 0:
                    problems.append(f"{tag}: {name} is {v}, expected above zero")
            if trace == 1:
                must = [n for n in declared if any(n.startswith(p) for p in EXERCISED[w] + BOTH)]
                missing = sorted(set(must) - set(info["metrics_computed"]))
                if missing:
                    problems.append(f"{tag}: exercised-layer metrics not computed: {missing}")
                unexplained = sorted(set(declared) - set(info["metrics_computed"]) -
                                     set(info["metrics_bypassed"]))
                if unexplained:
                    problems.append(f"{tag}: neither computed nor bypassed: {unexplained}")
            print(f"{tag}: {len(got)} metrics, computed {len(info['metrics_computed'])}, "
                  f"bypassed {len(info['metrics_bypassed'])}, attempted {res['attempted']}",
                  flush=True)
    code, info, res = run("tsdb_track_fetch", 0, inject=1)
    named = [f for f in info["failed_ops"] if f.startswith("bench.injected_failure")]
    if code == 0 or res["correct"] or res["failed"] < 1 or not named or info["error_rate"] <= 0:
        problems.append(f"injected failure not counted: exit {code}, result {res}, info {info}")
    print(f"injected failure: exit {code}, failed {res['failed']}, "
          f"error_rate {info['error_rate']:.4f}")
    for p in problems:
        print("PROBLEM:", p)
    print("SELF-CHECK", "FAILED" if problems else "PASSED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
