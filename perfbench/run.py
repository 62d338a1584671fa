"""TSDB benchmark: ``ingest``, ``dashboard`` and ``adhoc`` workloads.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Runs from any working directory.  The last stdout line is the result
JSON (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is the full record (run environment, workload-specific metric
names, failures, per-layer self times when traced).  Both, and the span
file of a traced run, are also written under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard", "adhoc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "tsdb_parquet_spark", "__init__.py")):
        print(f"perfbench: no tsdb_parquet_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    from perfbench import harness, workloads

    out_dir = os.path.join(HERE, "out")
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(out_dir, tag)
    workloads.clean(work)
    harness.prepare_env(work)
    try:
        run = workloads.execute(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
        spans = os.path.join(work, "spans.json")
        if args.trace:
            os.replace(spans, os.path.join(out_dir, f"spans-{tag}.json"))
    finally:
        workloads.clean(work)

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = run.layers
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = run.e2e
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in units.items()
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "env": run.env,
        "end_to_end": run.e2e,
        "failed_frac": run.failed / run.attempted,
        "workload_metrics": run.extra,
        "failures": run.failures,
        "per_layer": run.layers if args.trace else None,
    }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    print(json.dumps(record, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
