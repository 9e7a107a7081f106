#!/usr/bin/env python3
"""Run a workload once per seed, one run at a time, and summarise each
end-to-end metric: median, quartiles and the quartile spread as a share
of the median, next to the bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --workload catalog_api --seeds 1-10

Prints one markdown table; ``--json FILE`` also writes every run's
result line and its per-op latencies. Never run two of these at once: the runs must not contend.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(runs: list[dict], spec: dict) -> list[dict]:
    rows = []
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        rows.append({"name": m["name"], "unit": m["unit"], "median": q2,
                     "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / q2 if q2 else 0.0,
                     "bound": m["bound"]})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=REPO, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result["seed"], result["wall_s"] = seed, time.time() - t0
        result["host"] = json.loads(next(
            line for line in reversed(out.stderr.splitlines())
            if line.startswith('{"host.')))
        # the per-op latency lines, to tell seed from host effects later
        result["ops"] = [line for line in out.stderr.splitlines()
                         if line.endswith((" ms", " FAILED"))]
        runs.append(result)
        print(f"seed {seed}: {time.time() - t0:.0f} s, "
              f"correct={result['correct']}, {result['host']}",
              file=sys.stderr, flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(runs, f, indent=1)
    print(f"| {args.workload} ({len(runs)} runs) | median | q1 | q3 "
          f"| spread | bound |")
    print("|---|---|---|---|---|---|")
    for r in summarise(runs, spec):
        print(f"| {r['name']} ({r['unit']}) | {r['median']:.4g} "
              f"| {r['q1']:.4g} | {r['q3']:.4g} | {r['spread']:.3f} "
              f"| {r['bound']} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
