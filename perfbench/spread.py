"""Run one workload once per seed and report each metric's median and spread.

    python3 perfbench/spread.py --workload extract_job --seeds 1-10

Run from the root of a checkout. Each run measures for the ``run_seconds``
of ``BENCHMARK.json``, with tracing off. Spread is the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        seconds = str(json.load(f)["run_seconds"])
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    metrics: dict = {}
    walls, failed = [], 0
    for seed in seeds_of(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", seconds],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        )
        walls.append(time.monotonic() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        for name, m in result["metrics"].items():
            metrics.setdefault(name, []).append(m["value"])
    report = {
        "workload": args.workload,
        "seeds": args.seeds,
        "nproc": len(os.sched_getaffinity(0)),
        "failed": failed,
        "run_wall_s": summary(walls),
        "metrics": {k: summary(v) for k, v in metrics.items()},
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
