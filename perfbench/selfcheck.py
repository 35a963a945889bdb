"""Fast self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Runs every workload once at toy scale (a 6 K-point fixture table,
10 K-point hotspot tables, a two-second traced window) in one Spark
session and fails unless each run emits every end-to-end and per-layer
metric with its unit, every op matches the oracle (``failed_ops_share ==
0``), and ``BENCHMARK.json`` names the same metrics with the same units.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import END_TO_END, ROOT, Bench, pin_env, result, stop_spark  # noqa: E402
from tracing import PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def check_benchmark_json() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        for m in spec[key]:
            if table.get(m["name"], (None, None)) != (m["unit"], m["better"]):
                problems.append(f"BENCHMARK.json {key} {m['name']}: {m['unit']}/{m['better']} not emitted as such")
        missing = set(table) - {m["name"] for m in spec[key]}
        if missing:
            problems.append(f"BENCHMARK.json {key} lacks {sorted(missing)}")
    for w in spec["workloads"]:
        if w["name"] not in WORKLOADS["full"]:
            problems.append(f"BENCHMARK.json workload {w['name']} is not runnable")
    return problems


def main() -> int:
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"selfcheck-{os.getpid()}")
    pin_env(work)
    problems = check_benchmark_json()
    try:
        for name in WORKLOADS["toy"]:
            bench = Bench(name, seed=7, seconds=2, trace=True, scale="toy", work=os.path.join(work, name))
            metrics = bench.run()
            layers = bench.per_layer(os.path.join(work, f"trace-{name}.json"))
            for table, layer_metrics in ((END_TO_END, None), (PER_LAYER, layers)):
                emitted = result(bench, metrics, layer_metrics)["metrics"]
                want = {k: {"unit": u} for k, (u, _) in table.items()}
                got = {k: {"unit": v["unit"]} for k, v in emitted.items()}
                if got != want:
                    problems.append(f"{name}: emitted {sorted(got.items())}, want {sorted(want.items())}")
            if metrics["failed_ops_share"] != 0:
                problems.append(f"{name}: failed_ops_share {metrics['failed_ops_share']}: {bench.failures[:3]}")
            print(f"{name}: {bench.attempted} ops checked against the oracle, failed_ops_share {metrics['failed_ops_share']}")
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAILED {p}")
    print("selfcheck " + ("failed" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
