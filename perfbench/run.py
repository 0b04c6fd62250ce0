"""geo_spark benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--driver-memory 3g]

Run it from the root of a geo_spark checkout. It starts one Spark session at
``local[<nproc>]`` with the given pinned driver heap and the checkout on the
Python workers' path. It then sets the workload up four times (inputs
generated from the seed and written afresh, one iteration on them), runs a
closed loop with one client for ``--seconds`` seconds on the last set-up,
and checks every output against an answer computed without geo_spark.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``. The
line before it is the full record of the run (settings, samples, problems).
Workloads, metrics and how they relate are described in ``METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_ITERATIONS = 3
SETUP_REPS = 4  # set-ups per run; ``setup_s`` takes their median
MAX_PROBLEMS_SHOWN = 5

# name: (unit, which direction is better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "iter_s_p50": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "peak_mem_mb": ("MB", "lower"),
}

# name: (unit, which direction is better). Every per-layer metric is
# reported on every workload; a layer a workload does not reach reads 0.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sources.scan_rows": ("rows", "lower"),
    "sources.scan_bytes": ("bytes", "lower"),
    "sources.scan_ms": ("ms", "lower"),
    "extract.points_out": ("rows", "higher"),
    "extract.s": ("s", "lower"),
    "pip_join.call_s": ("s", "lower"),
    "pip_join.call_jobs": ("count", "lower"),
    "pip_join.candidates": ("rows", "lower"),
    "pip_join.matches": ("rows", "higher"),
    "pip_join.match_ratio": ("ratio", "higher"),
    "pip_join.broadcast_bytes": ("bytes", "lower"),
    "pip_join.broadcast_collect_ms": ("ms", "lower"),
    "index.cover_s": ("s", "lower"),
    "index.cover_cells": ("count", "lower"),
    "index.full_cell_share": ("ratio", "higher"),
    "udf.rows": ("rows", "lower"),
    "udf.bytes_sent": ("bytes", "lower"),
    "udf.bytes_returned": ("bytes", "lower"),
    "udf.worker_start_ms": ("ms", "lower"),
    "udf.worker_init_ms": ("ms", "lower"),
    "udf.run_ms": ("ms", "lower"),
    "udf.marshal_ms": ("ms", "lower"),
    "kernels.polygon_position_s": ("s", "lower"),
    "kernels.pts_per_s": ("rows/s", "higher"),
    "knn_join.s": ("s", "lower"),
    "knn_join.call_s": ("s", "lower"),
    "knn_join.jobs": ("count", "lower"),
    "knn_join.candidates": ("rows", "lower"),
    "knn_join.useful_ratio": ("ratio", "higher"),
    "knn_join.brute_queries": ("count", "lower"),
    "distance_join.s": ("s", "lower"),
    "distance_join.candidates": ("rows", "lower"),
    "distance_join.pairs": ("rows", "higher"),
    "distance_join.useful_ratio": ("ratio", "higher"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "streaming.checkpoint_bytes": ("bytes", "lower"),
    "streaming.sink_bytes": ("bytes", "lower"),
    "streaming.write_amp": ("ratio", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.driver_gap_ms": ("ms", "lower"),
    "spark.storage_bytes": ("bytes", "lower"),
    "mem.live_heap_mb": ("MB", "lower"),
    "mem.jvm_offheap_mb": ("MB", "lower"),
    "mem.python_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}

PYTHON_UDF_SENT = "data sent to Python workers"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="3g", help="pinned driver heap (SPARK_DRIVER_MEMORY)")
    return ap.parse_args(argv)


def pin_environment(work: str, driver_memory: str) -> dict:
    """Pin the Spark session settings before the JVM starts. Scratch files
    of Spark, the JVM and Python go under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.update(
        SPARK_DRIVER_MEMORY=driver_memory,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=pythonpath,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata files in the system temp dir; JVM temp files in ``tmp``
        JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip(),
    )
    return {"master": f"local[{cpus}]", "driver_memory": driver_memory, "worker_pythonpath": pythonpath}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until both have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of input
        proc.wait(timeout=60)


def generic_layers(status, tracer, span, extra_groups) -> tuple[dict, list]:
    """Per-layer readings every workload has, from the jobs of one traced
    iteration."""
    from tracing import node_sum, union_seconds

    jobs = status.job_ids(tracer.groups_under(span) + extra_groups)
    st = status.stages(jobs)
    nodes = status.sql_nodes(jobs)
    start, end = tracer.epoch(span.start), tracer.epoch(span.end)
    busy = union_seconds(status.job_intervals(jobs), start, end)
    python = [(n, d, m) for n, d, m in nodes if PYTHON_UDF_SENT in m]
    out = {
        "sources.scan_rows": node_sum(nodes, "Scan parquet", "number of output rows"),
        "sources.scan_bytes": node_sum(nodes, "Scan parquet", "size of files read"),
        "sources.scan_ms": node_sum(nodes, "Scan parquet", "scan time"),
        "udf.rows": node_sum(python, "", "number of output rows"),
        "udf.bytes_sent": node_sum(python, "", PYTHON_UDF_SENT),
        "udf.bytes_returned": node_sum(python, "", "data returned from Python workers"),
        "udf.worker_start_ms": node_sum(python, "", "time to start Python workers"),
        "udf.worker_init_ms": node_sum(python, "", "time to initialize Python workers"),
        "udf.run_ms": node_sum(python, "", "time to run Python workers"),
        "spark.jobs": len(jobs),
        "spark.stages": st["stages"],
        "spark.tasks": st["tasks"],
        "spark.executor_run_ms": st["run_ms"],
        "spark.executor_cpu_ms": st["cpu_ms"],
        "spark.gc_ms": st["gc_ms"],
        "spark.shuffle_write_bytes": st["shuffle_write"],
        "spark.shuffle_read_bytes": st["shuffle_read"],
        "spark.spill_bytes": st["spill"],
        "spark.task_skew": st["task_skew"],
        "spark.driver_gap_ms": max(0.0, (end - start) - busy) * 1000.0,
        "spark.storage_bytes": status.storage_bytes(),
    }
    return out, nodes


def run(spark, args, settings: dict, work: str, t_start: float, session_start_s: float) -> tuple[dict, dict]:
    from stats import median, tail
    from tracing import Memory, SparkStatus, Tracer
    from workloads import WORKLOADS

    from pyspark import SparkContext

    memory = Memory(spark, SparkContext._gateway.proc.pid, SETUP_REPS + MIN_ITERATIONS)
    tracer = Tracer(spark, enabled=False)
    status = SparkStatus(spark)
    w = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer, status)
    errors: dict[int, str] = {}

    def one(i: int, traced: bool) -> tuple[float, int]:
        tracer.enabled, tracer.iteration = traced, i
        w.prepare(i)
        t = time.perf_counter()
        rows = 0
        try:
            with tracer.span("iteration"):
                rows = w.iterate(i)
        except Exception:  # counted as a failed iteration and reported
            errors[i] = traceback.format_exc()
            print(errors[i], file=sys.stderr, flush=True)
        dt = time.perf_counter() - t
        if i not in errors:
            w.after(i)
        return dt, rows

    # Each set-up writes the inputs afresh and runs one iteration on them;
    # the session is started once. The timed loop uses the last set-up.
    setups = []
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        w.setup(r)
        one(r, traced=False)
        setups.append(time.perf_counter() - t)
        memory.sample()

    samples: list[tuple[int, float, int, bool]] = []
    per_iter: dict[int, dict] = {}
    deadline = time.perf_counter() + args.seconds
    i = SETUP_REPS
    while True:
        traced = bool(args.trace) and (i - SETUP_REPS) % 2 == 0
        dt, rows = one(i, traced)
        samples.append((i, dt, rows, traced))
        memory.sample()
        if traced and i not in errors:
            span = tracer.find("iteration", i)[0]
            layer, nodes = generic_layers(status, tracer, span, w.job_groups(i))
            layer.update(w.layers(i, nodes))
            per_iter[i] = layer
        i += 1
        if time.perf_counter() >= deadline and len(samples) >= MIN_ITERATIONS:
            break

    problems = w.check()
    for j, msg in errors.items():
        problems.setdefault(j, []).append(msg.strip().splitlines()[-1])
    bad = {j: p for j, p in problems.items() if p}
    timed = [s for s in samples if not s[3]] if args.trace else samples
    times = [s[1] for s in timed]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": settings,
        "rows_counted": w.rows_unit,
        "session_start_s": session_start_s,
        "setup_rep_s": [round(t, 6) for t in setups],
        "iteration_s": [round(s[1], 6) for s in samples],
        "traced": [s[3] for s in samples],
        "iter_s_tail": tail(times),
        "memory_mb": {"live_heap": memory.live_heap_mb, "jvm_offheap": memory.jvm_offheap_mb, "python": memory.python_mb},
        "problems": {str(j): p[:MAX_PROBLEMS_SHOWN] for j, p in sorted(bad.items())},
    }
    # the set-ups' iterations are checked and counted like timed ones
    result = {
        "correct": not bad,
        "attempted": SETUP_REPS + len(samples),
        "failed": len(bad),
    }
    if not args.trace:
        total_rows = sum(s[2] for s in timed if s[0] not in bad)
        values = {
            "setup_s": session_start_s + median(setups),
            "iter_s_p50": median(times),
            "rows_per_s": total_rows / sum(times),
            "peak_mem_mb": memory.peak_mb(),
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, (u, _) in END_TO_END.items()}
        return record, result

    values = dict.fromkeys(PER_LAYER, 0.0)
    for key in {k for layer in per_iter.values() for k in layer}:
        values[key] = median(layer[key] for layer in per_iter.values() if key in layer)
    tracer.enabled, tracer.iteration = True, None
    tracer.record("get_spark", t_start, t_start + session_start_s)
    values.update(w.probes())
    values["session.start_s"] = session_start_s
    values["mem.live_heap_mb"] = memory.live_heap_mb
    values["mem.jvm_offheap_mb"] = memory.jvm_offheap_mb
    values["mem.python_mb"] = memory.python_mb
    if values["udf.run_ms"]:
        values["udf.marshal_ms"] = values["udf.run_ms"] - 1000.0 * values["kernels.polygon_position_s"]
    untraced = [s[1] for s in samples if not s[3]]
    traced_t = [s[1] for s in samples if s[3]]
    if untraced and traced_t:
        values["trace.overhead_s"] = median(traced_t) - median(untraced)
        values["trace.overhead_share"] = values["trace.overhead_s"] / median(untraced)
    record["per_iteration_layers"] = {str(j): v for j, v in per_iter.items()}
    spans_path = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
    tracer.dump(spans_path)
    record["spans"] = os.path.relpath(spans_path, ROOT)
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "geo_spark", "__init__.py")):
        print(f"perfbench: no geo_spark package in {ROOT}; run from a geo_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    settings = pin_environment(work, args.driver_memory)
    sys.path.insert(0, ROOT)
    try:
        from geo_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=settings["master"],
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.executorEnv.PYTHONPATH": settings["worker_pythonpath"],
            },
        )
        session_start_s = time.perf_counter() - t_start
        try:
            settings["spark_version"] = spark.version
            record, result = run(spark, args, settings, work, t_start, session_start_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
