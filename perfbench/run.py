"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 4 --trace 0

Every input is generated from ``--seed`` inside the checkout
(``.bench_work/``); the program receives only those inputs. With
``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it records spans and a Spark event log and reports the
per-layer metrics instead. Output checks run outside the timed region
in both modes.

Standard output: one JSON line with the box, the workload's own named
metrics and every failed operation by name, then, last, the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[0] = str(ROOT)

from perfbench import common  # noqa: E402

#: workloads and metric names and units, as BENCHMARK.json declares them
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
#: per-layer metrics; a workload reports each it declares in its own
#: ``LAYERS`` and 0 for the layers it never calls
LAYERS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    common.require_program()
    traced = bool(args.trace)
    work = common.work_dir(args.workload, args.seed)
    # pin the Spark session before its JVM starts
    os.environ.update(common.spark_env(work, work / "eventlogs" if traced else None))
    mod = importlib.import_module(f"perfbench.{args.workload}")
    box = common.box()
    try:
        res = mod.run(args.seed, args.seconds, traced, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = LAYERS if traced else E2E
    values = res["layers"] if traced else res["e2e"]
    measured = mod.LAYERS if traced else E2E
    missing = [n for n in measured if not isinstance(values.get(n), (int, float))
               or not math.isfinite(values[n])]
    if traced:
        values = {**dict.fromkeys(set(LAYERS) - set(mod.LAYERS), 0.0), **values}
    if missing:
        print(json.dumps({"errors": res["errors"], "unmeasured": missing}))
        return 1
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "metrics": res["detail"],
        "error_rate": failed / attempted,
        "errors": res["errors"],
    }))
    if traced:
        out = ROOT / ".bench_work" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        (out / f"{args.workload}-s{args.seed}.json").write_text(
            json.dumps({"layers": values, "spans": res["spans"]})
        )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
