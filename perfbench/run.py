"""Benchmark entry point.

    python3 perfbench/run.py --workload short_turns --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: ``short_turns`` and ``curation``
(see workloads.py and NOTES.md).  Prints the workload's input properties
and every metric by name with its unit, then, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics, measured with
no instrumentation; with ``--trace 1`` they are the per-layer metrics of a
separate traced run.  Exits non-zero if any output check failed, or
without a result if the program's sources are not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = ("sherlog_parser_spark", "__spark_entry__.py", "BENCHMARK.json")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found next to the benchmark: {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    H.fresh_work()
    try:
        res = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(H.WORK, ignore_errors=True)

    for e in res.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} input: {json.dumps(res.props, sort_keys=True)}")
    values = res.layers if args.trace else res.metrics
    metrics = {}
    for name, unit in units.items():
        v = float(values.get(name, 0.0))
        metrics[name] = {"value": v, "unit": unit}
        print(f"  {name:34s} {v:16.6f} {unit}")
    # a layer that does no work on this workload reports 0; an end-to-end
    # metric is always measured, so a missing one means the run failed
    correct = res.failed == 0 and res.attempted > 0 and (bool(args.trace) or all(k in values for k in units))
    print(
        json.dumps(
            {"correct": correct, "attempted": max(1, res.attempted), "failed": res.failed if res.attempted else 1, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
