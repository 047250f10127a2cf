"""What the benchmark observes from outside the program: spans around its
own calls into each layer, the memory held by the process tree, and
Spark's own counters read from the status REST API."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers
    record nothing, so untraced runs pay only a branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def durations(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (ops is None or s["op"] in ops)
        ]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Memory held by this process and every process it started
# ---------------------------------------------------------------------------


def _tree_pss_bytes(root: int) -> int:
    """Summed PSS (proportional set size) of ``root`` and its descendants:
    pages that forked Python workers share with their daemon count once,
    where summed RSS would count them once per worker."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended meanwhile
        total += pss_kb * 1024
    return total


class MemorySampler:
    """Samples the summed PSS of the process tree (Python driver, Spark JVM,
    Python workers) on a background thread; ``peak_mb`` is the maximum.
    Reading a 2 GiB JVM's smaps costs ~25 ms, hence the 1 s interval."""

    INTERVAL_S = 1.0

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(me))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spark counters, attributed to operations through job groups
# ---------------------------------------------------------------------------


def set_op_group(spark, op: int | None) -> None:
    """Tag every job the calling thread submits with the op's job group."""
    sc = spark.sparkContext
    if op is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(f"op-{op}", f"perfbench op {op}")


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def engine_counters(spark, ops: set[int]) -> dict[str, float]:
    """Sum Spark's job/stage counters over the jobs of the given ops.

    Each stage counts once, however many jobs list it; stages skipped because
    their shuffle output was reused count nowhere."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    groups = {f"op-{o}" for o in ops}
    # the listener bus is asynchronous: wait until every job has ended
    for _ in range(50):
        jobs = _get(base, "/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    stage_ids = {sid for j in mine for sid in j["stageIds"]}
    stages = [
        s for s in _get(base, "/stages")
        if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
    ]
    rdds = _get(base, "/storage/rdd")

    def total(key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in stages))

    return {
        "jobs": float(len(mine)),
        "stages": float(len(stages)),
        "tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)),
        "failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
        "executor_run_s": total("executorRunTime") / 1e3,
        "jvm_gc_s": total("jvmGcTime") / 1e3,
        "shuffle_fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
        "cached_bytes": float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)),
    }
