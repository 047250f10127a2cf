"""Benchmark entry point.

    python3 perfbench/run.py --workload price_analytics --seed 1 --seconds 12 --trace 0

Runs one workload in one long-lived Spark session on ``local[<cores>]``:
session start, seeded input staging and warm-up (together ``setup_s``), then
a closed-loop, single-client timed window of ``--seconds`` (extended to the
end of the workload's current round of operations), then output checks.
The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run also
writes its spans to ``.perfbench_out/``). Exits 1 when any output is wrong,
2 when the program sources are missing.

Everything the run writes lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_min": "1/min",
    "rows_per_s": "1/s",
    "stored_bytes_per_row": "B",
    "peak_pss_mb": "MB",
    "ok_op_frac": "share",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.crawl_parse_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_share": "share",
    "plans.daily_update_s": "s",
    **{f"family.{f}.exec_p50_s": "s" for f in ("ts", "a", "w", "r", "j", "apx", "fx")},
    "storage.upsert_s": "s",
    "storage.compact_s": "s",
    "storage.read_after_write_s": "s",
    "storage.inserted_per_offered": "share",
    "storage.files_per_partition": "count",
    "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.executor_run_s_per_op": "s",
    "engine.busy_share": "share",
    "engine.shuffle_fetch_wait_s_per_op": "s",
    "engine.jvm_gc_s_per_op": "s",
    "engine.shuffle_write_bytes_per_op": "B",
    "engine.spill_bytes_per_op": "B",
    "engine.cached_bytes": "B",
    "engine.failed_tasks": "count",
}


# The driver heap's ceiling (-Xmx). 2g holds every workload's inputs several
# times over and fits a 4-core, 15 GiB box.
HEAP = "2g"
# The serial collector grows and shrinks the heap from the data that survives
# a collection (Min/MaxHeapFreeRatio), so the JVM's part of peak memory follows
# what the program holds. G1, the default, sizes the heap from its pause
# times: with it the same code read 1.25 to 1.66 GB on three seeds.
JVM_OPTIONS = "-XX:+UseSerialGC"


def box_settings(tmp: str) -> tuple[int, dict[str, str]]:
    """Cores and Spark settings that fit this machine, applied from the
    benchmark side only: every core the process may use, the ``HEAP``
    ceiling, the ``JVM_OPTIONS`` and every scratch directory under ``tmp``.
    Environment variables must be set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(tmp, k) for k in ("py", "spark-local", "jvm", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["py"],
            # every JVM the launch starts (the launcher's too)
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = dirs["py"]
    conf = {
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
    }
    return cores, conf


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, tmp: str) -> dict:
    from perfbench.stats import median, summarize
    from perfbench.trace import MemorySampler, Tracer, engine_counters, set_op_group
    from perfbench.workloads import WORKLOADS, Ctx

    cores, conf = box_settings(tmp)
    tracer = Tracer(bool(args.trace))
    latencies: list[float] = []
    ok_ops: list[int] = []
    failed = 0
    cpu0 = _cpu_times()
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            from market_data_pipeline_spark.session import get_spark

            spark = get_spark(
                "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
            )
        start_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](Ctx(spark, tmp, args.seed, tracer))
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0

        i = 0
        w0 = time.perf_counter()
        # whole rounds only, so every run samples the same mix of operations
        while time.perf_counter() - w0 < args.seconds or i % wl.round_len:
            if args.trace:
                set_op_group(spark, i)
            s = time.perf_counter()
            try:
                with tracer.span("op", i):
                    wl.run_op(i)
                latencies.append(time.perf_counter() - s)
                ok_ops.append(i)
            except Exception:
                failed += 1
                print(f"op {i} failed:\n{traceback.format_exc()}", file=sys.stderr)
            i += 1
        window_s = time.perf_counter() - w0
        if args.trace:
            set_op_group(spark, None)
    steal = _steal_share(cpu0, _cpu_times())
    print(f"perfbench: host CPU steal {steal:.1%} of the run", file=sys.stderr)
    engine = engine_counters(spark, set(ok_ops)) if args.trace else {}

    errors = wl.check()
    for e in errors:
        print(f"WRONG OUTPUT {e}", file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        **summarize(latencies, failed, window_s),
        **wl.extra_metrics(len(ok_ops), window_s),
        "peak_pss_mb": mem.peak_mb,
    }
    result = {"correct": not errors, "attempted": i, "failed": failed}
    if not args.trace:
        return {**result, "metrics": _with_units(e2e, END_TO_END)}

    ops = set(ok_ops)
    n = len(ok_ops)
    build = tracer.durations("plans.build", ops)
    layers = {k: 0.0 for k in PER_LAYER}  # layers a workload does not touch stay 0
    layers.update(
        {
            "session.start_s": start_s,
            "plans.build_s": median(build or [0.0]),
            "plans.exec_s": median(tracer.durations("plans.exec", ops) or [0.0]),
            "plans.build_share": sum(build) / sum(latencies),
            "engine.jobs_per_op": engine["jobs"] / n,
            "engine.stages_per_op": engine["stages"] / n,
            "engine.tasks_per_op": engine["tasks"] / n,
            "engine.executor_run_s_per_op": engine["executor_run_s"] / n,
            "engine.busy_share": engine["executor_run_s"] / (window_s * cores),
            "engine.shuffle_fetch_wait_s_per_op": engine["shuffle_fetch_wait_s"] / n,
            "engine.jvm_gc_s_per_op": engine["jvm_gc_s"] / n,
            "engine.shuffle_write_bytes_per_op": engine["shuffle_write_bytes"] / n,
            "engine.spill_bytes_per_op": engine["spill_bytes"] / n,
            "engine.cached_bytes": engine["cached_bytes"],
            "engine.failed_tasks": engine["failed_tasks"],
            **wl.layer_metrics(ok_ops),
        }
    )
    extra = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "host_steal_share": steal,
        "end_to_end": e2e,
        "per_layer": layers,
        "engine": engine,
    }
    trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    tracer.write(trace_path, extra)
    print(f"trace written to {os.path.relpath(trace_path, ROOT)}", file=sys.stderr)
    return {**result, "metrics": _with_units(layers, PER_LAYER)}


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings. On a shared host it tracks the latencies closely (see
    perfbench/NOTES.md), so every run reports it."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("price_analytics", "daily_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "market_data_pipeline_spark")):
        print("perfbench: the program sources are not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(TMP_BASE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TMP_BASE)
    try:
        result = run(args, tmp)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(TMP_BASE)
            except OSError:
                pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
