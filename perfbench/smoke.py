#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at tiny scale.

Runs every workload on the `sf0.001` inputs (sf0.001-shaped base tables, a
two-copy generator output for `ingest_serve`) with two different seeds
and once traced, then asserts:

- every end-to-end metric of the workload is printed with its unit and
  sample count, and the final JSON line carries every metric of
  BENCHMARK.json with its unit;
- the traced run's final line carries every per-layer metric;
- the two seeds produce identical output digests, and no operation
  failed.

Usage (from the repository root): python3 perfbench/smoke.py
"""
import json
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PRINTED = {
    "dashboard": ["setup_s", "pass_s", "latency_p50_s", "latency_p90_s",
                  "latency_geomean_s", "failed_frac", "live_heap_mb", "peak_rss_mb"],
    "ingest_serve": ["setup_s", "pass_s", "latency_p50_s", "latency_p90_s",
                     "latency_geomean_s", "land_p50_s", "land_p90_s", "read_p50_s", "read_p90_s",
                     "failed_frac", "live_heap_mb", "peak_rss_mb"],
}


def run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "sf0.001"], cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload} seed {seed}: {out.stderr[-2000:]}"
    lines = out.stdout.strip().splitlines()
    ctx = os.path.join(BENCH, ".work", "runs",
                       f"{workload}-seed{seed}-trace{trace}.json")
    with open(ctx) as f:
        return lines, json.loads(lines[-1]), json.load(f)["digests"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w, printed in PRINTED.items():
        lines, a, digests_a = run(w, 1, 0)
        for name in printed:
            assert any(re.match(rf"{w} {name} = \S+ \S+ \(n=\d+\)$", l) for l in lines), \
                f"{w}: {name} not printed with unit and sample count"
        for d in spec["end_to_end"]:
            assert a["metrics"][d["name"]]["unit"] == d["unit"], (w, d["name"])
        _, b, digests_b = run(w, 2, 0)
        assert digests_a and digests_a == digests_b, f"{w}: digests differ across seeds"
        _, t, _ = run(w, 3, 1)
        missing = [d["name"] for d in spec["per_layer"] if d["name"] not in t["metrics"]]
        assert not missing, f"{w}: per-layer metrics missing: {missing}"
        for r in (a, b, t):
            assert r["correct"] and r["failed"] == 0, f"{w}: {r}"
        print(f"smoke {w}: ok ({len(digests_a)} digests, "
              f"{len(t['metrics'])} per-layer metrics)")


if __name__ == "__main__":
    main()
