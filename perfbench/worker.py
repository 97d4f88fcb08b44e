"""One workload in one process: ``run.py`` starts this with a hard
timeout and relays its last stdout line.

    python3 perfbench/worker.py --workload W --seed N --seconds S \
        --trace 0|1 --work DIR [--size full|tiny]

The metric names and units are the ones declared in BENCHMARK.json at
the checkout root. A traced run must report every per-layer metric its
workload lists in ``LAYER_METRICS``, and no other; the declared ones it
does not list (layers the workload does not exercise) are reported as 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["batch_hdfs", "stream_serve", "registry_pipelines"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--cpus", type=int, required=True)
    a = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    from common import Context

    ctx = Context(a.work, a.seed, a.seconds, bool(a.trace), a.size, a.cpus)
    names = declared(ctx.trace)
    workload = importlib.import_module(a.workload).WORKLOAD
    res = workload(ctx).run()

    got = set(res["metrics"])
    want = set(workload.LAYER_METRICS) if ctx.trace else set(names)
    if got != want:
        raise ValueError(f"metrics missing: {sorted(want - got)}; "
                         f"not expected: {sorted(got - want)}")
    unknown = got - set(names)
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    for k, v in res["metrics"].items():
        if v["unit"] != names[k]:
            raise ValueError(f"{k}: unit {v['unit']} but BENCHMARK.json says {names[k]}")
    metrics = {k: res["metrics"].get(k, {"value": 0.0, "unit": u}) for k, u in names.items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
