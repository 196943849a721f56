"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository. The library is driven
only through its public functions, on inputs generated from ``--seed``, in
one driver process at ``local[<cores of this host>]``. Every run checks its
outputs and counts operations attempted and failed.

The last line of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list,
with ``--trace 1`` its ``per_layer`` list, which every workload it names
measures in full. The line before it, ``detail: {...}``, carries the
workload's own named figures (encode MB/s, stream latency percentiles,
recall@10, ...), its layers outside that list, and the failure messages. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("dedup_batch", "dedup_unique", "dedup_stream", "ferret_search", "query_mix")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _payload(run, spec: dict, trace: bool) -> dict:
    """The result line. With tracing off the metrics are BENCHMARK.json's
    ``end_to_end`` list. With tracing on they are its ``per_layer`` list for
    a workload it names, and every layer the run measured for one it does
    not; a measured layer outside the list goes to the detail line. A
    listed metric the run did not measure is a benchmark defect: it fails
    the run and is left out of the line, never reported as 0."""
    gated = run.workload in {w["name"] for w in spec["workloads"]}
    if not trace:
        want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        measured = run.metrics
    else:
        want = {m["name"]: m["unit"] for m in spec["per_layer"]} if gated else {}
        want.update({k: u for k, (_, u) in run.layers.items() if not gated})
        measured = run.layers
        run.detail.update({k: v for k, v in run.layers.items() if k not in want})
    metrics = {}
    for name, unit in want.items():
        if name not in measured:
            run.ops.fail("report", f"metric {name} not measured")
            continue
        value, got = measured[name]
        if got != unit:
            raise ValueError(f"{name}: unit {got} != {unit}")
        metrics[name] = {"value": value, "unit": unit}
    return {
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # The library is used from source in the checkout: without it there is
    # nothing to measure.
    if not os.path.isfile(os.path.join(ROOT, "bensp_suite_spark", "__init__.py")):
        print(f"perfbench: no bensp_suite_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()
    sys.path.insert(0, ROOT)

    from harness import Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), T0)
    try:
        module = importlib.import_module(args.workload)
        module.run(run)
    finally:
        run.stop()
        run.cleanup()
    run.note("host_steal_pct", run.steal_pct(), "%")
    if args.trace:
        print(f"spans: {run.write_spans()}")
    payload = _payload(run, spec, bool(args.trace))
    detail = {k: {"value": v, "unit": u} for k, (v, u) in sorted(run.detail.items())}
    print("detail: " + json.dumps({"workload": args.workload, "seed": args.seed, "figures": detail,
                                   "errors": run.ops.errors[:20]}))
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    sys.exit(main())
