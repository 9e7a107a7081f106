#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last line of
stdout.

    python3 perfbench/run.py --workload catalog_api --seed 1 --seconds 20 \
        --trace 0

``--trace 0`` prints the end-to-end metrics of an untraced run.
``--trace 1`` also runs the timed phase with spans and the Spark event
log, and prints the per-layer metrics of that traced phase plus
``trace.overhead_pct``, its time against untraced phases of the same
operations in the same process. A layer the workload does not run
reports 0. ``--seconds`` sets the length of the op
sequence, not a time box: every run of a given ``--seconds`` does the
same amount of work. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

WORKLOADS = ("catalog_api", "store_lifecycle")


def _bench_spec() -> dict:
    from perfbench.harness import REPO

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(result: dict) -> dict[str, tuple[float, str]]:
    """The untraced metrics, from the timed phase's op records."""
    from statistics import mean

    recs = result["timed"]
    reads = [r["lat"] * 1000.0 for r in recs if r["cls"] == "read"]
    writes = [r["lat"] * 1000.0 for r in recs if r["cls"] == "write"]
    ok = sum(1 for r in recs if r["ok"])
    busy = sum(r["lat"] for r in recs)
    return {
        "setup_s": (result["setup_s"], "s"),
        "success_rate": (ok / len(recs), "ratio"),
        "ops_per_s": (ok / busy, "1/s"),
        "read_mean_ms": (mean(reads), "ms"),
        "write_mean_ms": (mean(writes), "ms"),
        "heap_live_mb": (result["heap_live_mb"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import tantalus_spark  # noqa: F401
        spec = _bench_spec()
    except (ImportError, OSError) as exc:
        print(f"perfbench: the engine is not importable here ({exc}); run "
              f"from the root of a tantalus-spark checkout",
              file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

    if args.workload == "catalog_api":
        from perfbench import catalog_api as workload
    else:
        from perfbench import store_lifecycle as workload
    result = workload.run(args.seed, args.seconds, bool(args.trace))

    from perfbench.harness import emit

    e2e = end_to_end(result)
    correct = result["warmup_ok"] and all(r["ok"] for r in result["records"])
    failed = sum(1 for r in result["records"] if not r["ok"])
    # host probes go to stderr on untraced runs, where only the
    # end-to-end metrics may appear in the result line
    print(json.dumps({k: round(v, 3) for k, v in result["host"].items()}),
          file=sys.stderr)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = {**result["host"], **result["layers"]}
        unknown = sorted(set(layers) - set(units))
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
        metrics = {name: (layers.get(name, 0.0), unit)
                   for name, unit in units.items()}
    else:
        metrics = e2e
    emit(correct, len(result["records"]), failed, metrics)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
