"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the per-layer metrics
(see perfbench/README.md). Metric names and units come from
``BENCHMARK.json`` at the checkout root. The line before the result is a
detail record with the host fingerprint and the raw numbers behind the
metrics. Exits non-zero without a result line when the program under test
cannot be imported or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

sys.path.insert(0, harness.ROOT)

CORES = 4
WORKLOADS = ("cdc_flat_steady", "cdc_roundtrip_aggregate", "catalog_sf0.01")


def _module(workload: str):
    if workload == "cdc_flat_steady":
        import cdc_flat

        return cdc_flat
    if workload == "cdc_roundtrip_aggregate":
        import cdc_aggregate

        return cdc_aggregate
    import catalog

    return catalog


def _catalogue() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _finite(metrics: dict[str, float]) -> bool:
    return all(isinstance(v, (int, float)) and math.isfinite(v) for v in metrics.values())


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-replica",
        action="store_true",
        help="CDC workloads: corrupt one stored replica row before the "
        "correctness gate runs (self-test; the run must then fail)",
    )
    args = ap.parse_args(argv)
    if args.corrupt_replica and not args.workload.startswith("cdc_"):
        ap.error("--corrupt-replica applies to the CDC workloads only")

    try:
        import dionysus_rb_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program under test not importable: {exc}", file=sys.stderr)
        return 2
    e2e, per_layer = _catalogue()

    t_run = time.perf_counter()
    fingerprint = harness.host_fingerprint()
    harness.fresh_work_dir()
    mod = _module(args.workload)
    session = None
    try:
        t0 = time.perf_counter()
        session = harness.Session(CORES, trace=False)
        session_start_s = time.perf_counter() - t0
        if args.trace:
            out = mod.trace(session, args.seed, args.seconds, session_start_s)
        else:
            out = mod.measure(
                session, args.seed, args.seconds, session_start_s, args.corrupt_replica
            )
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        if session is not None:
            session.close()
        harness.remove_work_dir()

    fingerprint["load_end"] = [round(x, 2) for x in os.getloadavg()]
    fingerprint["run_wall_s"] = round(time.perf_counter() - t_run, 2)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": fingerprint, **out["detail"]}
    print(json.dumps({"perfbench_detail": detail}, default=str))
    metrics = out["metrics"]
    if args.trace:
        units = per_layer
        unknown = set(metrics) - set(units)
        metrics = {n: metrics.get(n, 0.0) for n in units}  # 0 = not applicable
    else:
        units = e2e
        unknown = set(metrics) ^ set(units)
    if unknown:
        print(f"perfbench: metric names off the catalogue: {sorted(unknown)}", file=sys.stderr)
        return 1
    if not _finite(metrics):
        print(f"perfbench: non-finite metric in {metrics}", file=sys.stderr)
        return 1
    result = {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
