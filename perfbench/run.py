"""perfbench: repeatable end-to-end and per-layer benchmark of addok_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_cdc --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric of BENCHMARK.json;
``--trace 1`` runs the same workload with spans and Spark job groups
and prints every per-layer metric (0 for layers the workload does not
call). The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the workload's detail (layer-level metric names, input
properties, failures). Traced runs also write their spans to
``.bench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402

WORKLOADS = ("serve_cdc", "engine_ops")


def _spec() -> dict:
    return json.loads((common.ROOT / "BENCHMARK.json").read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs for the smoke test")
    args = ap.parse_args(argv)
    try:
        common.require_program()
        spec = _spec()
    except (common.BenchError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    if args.workload == "serve_cdc":
        import serve_cdc as workload
    else:
        import engine_ops as workload

    work = common.run_dir(args.workload, args.seed)
    try:
        res = workload.run(args.seed, args.seconds, bool(args.trace), work, args.size)
        if args.trace:
            out = common.WORK / f"trace-{args.workload}-s{args.seed}.json"
            res["tracer"].dump(out, {"layers": res["layers"],
                                     "self_s": res["tracer"].self_times(),
                                     **res["trace_extra"]})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["layers"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = res["e2e"]
    missing = sorted(set(units) - set(values))
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": res["detail"], "fails": res["fails"][:20],
                      "not_measured": missing}, default=float))
    common.emit({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
