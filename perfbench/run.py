"""Benchmark entry point: one workload, one process, one operation at a time.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run gets a private work dir under
``.perfbench_runs/`` that holds its corpus, outputs, signature cache, Spark
local dirs and temp files, and is removed at exit. Spark runs as
``local[N]`` with N = the usable cores, through ``session.get_spark``.

Flush policy: before each timed operation the previous output is deleted
and ``os.sync()`` runs, both outside the timer.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run with the Spark event log on and a span around every call into a
layer; it prints the per-layer metrics and writes its spans and per-span
event-log totals to ``.perfbench_traces/``.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"op_s": "s", "setup_s": "s"}
SPARK_LAYERS = {
    "spark.python_worker_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
}
TRACED = {"traced.op_s": "s", "traced.setup_s": "s", "process.peak_rss_mb": "MB"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def isolate(root: str, work: str, trace: bool) -> None:
    """Point every file the run writes into ``work`` and fix the hash seed
    of the Python workers."""
    for sub in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        {
            "SPARK_GRAFT_SIG_CACHE": os.path.join(work, "sigcache"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        }
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONHASHSEED": "0",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(
        f'--driver-java-options "-Djava.io.tmpdir={os.path.join(work, "tmp")} -XX:-UsePerfData"'
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process this
    run started."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def measure(wl, rec, seconds: float) -> tuple:
    """Closed loop: run ``wl.op`` back to back for ``seconds`` (at least once).
    Returns (seconds of each correct operation, attempted, failed)."""
    times, attempted, failed = [], 0, 0
    end = time.perf_counter() + seconds
    while attempted == 0 or (time.perf_counter() < end and wl.can_continue()):
        wl.prepare()
        attempted += 1
        try:
            with rec.span("op"):
                t0 = time.perf_counter()
                res = wl.op(rec)
                dt = time.perf_counter() - t0
            problems = wl.check(res)
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            failed += 1
            log(f"operation {attempted} FAILED: {problems}")
        else:
            times.append(dt)
            log(f"operation {attempted}: {dt:.3f} s")
    return times, attempted, failed


def run(args, root: str, work: str) -> dict:
    from deed_ocr_spark.session import get_spark
    from tracing import RssSampler, SpanRecorder, read_event_log, spark_layers
    from workloads import PER_LAYER, WORKLOADS, NullRecorder

    rss = RssSampler()
    with rss if args.trace else contextlib.nullcontext():
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            rec = SpanRecorder(spark, f"{args.workload}-{args.seed}") if args.trace else NullRecorder()
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            t0 = time.perf_counter()
            with rec.span("setup"):
                wl.setup(rec)
            setup_s = session_s + time.perf_counter() - t0
            log(f"session {session_s:.3f} s, set-up {setup_s:.3f} s")
            times, attempted, failed = measure(wl, rec, args.seconds)
            # a run with no correct operation reports correct: false and 0 s
            op_s = statistics.median(times) if times else 0.0
            layers = {}
            if args.trace:
                attempted += 1
                try:
                    layers = wl.layers(rec)
                except Exception:
                    failed += 1
                    log(f"per-layer calls FAILED: {traceback.format_exc()}")
        finally:
            stop_spark(spark)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        values = {"op_s": op_s, "setup_s": setup_s}
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return result

    (log_path,) = glob.glob(os.path.join(work, "events", "*"))
    groups = read_event_log(log_path)
    ops = [s for s in rec.spans if s["name"] == "op" and s["parent"] is None]
    per_op = [spark_layers(groups, rec.subtree(s["id"])) for s in ops]
    for k in SPARK_LAYERS:
        layers[k] = statistics.median(p[k.split(".", 1)[1]] for p in per_op)
    layers["traced.op_s"] = op_s
    layers["traced.setup_s"] = setup_s
    layers["process.peak_rss_mb"] = rss.peak / 2**20
    units = {**PER_LAYER, **SPARK_LAYERS, **TRACED}
    result["metrics"] = {k: {"value": layers.get(k, 0), "unit": u} for k, u in units.items()}
    out_dir = os.path.join(root, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(
            {
                "spans": rec.spans,
                "event_log": {
                    gid: {k: v for k, v in g.items() if k != "stages"} for gid, g in groups.items()
                },
                "metrics": result["metrics"],
            },
            f,
            indent=1,
        )
    return result


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deed_ocr_spark", "__init__.py")):
        log("run from the root of a checkout that holds the deed_ocr_spark package")
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])
    sys.path.insert(0, root)

    runs = os.path.join(root, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(root, work, bool(args.trace))
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
