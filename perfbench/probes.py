"""Measurement helpers: process-tree CPU time, Spark job counts and stage
totals, the host probe, and spans recorded around calls into the
program's public functions.

Spans and counts are recorded only from the benchmark's own files, by
wrapping methods of the objects the benchmark creates (a store, its
commit backend) or module functions it calls; no program file is
changed. Spans are kept in memory and summarized when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
import urllib.request

import numpy as np

# ---------------------------------------------------------------------------
# process-tree CPU from /proc
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _fields(pid) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    fields = _fields(pid)
    return fields is not None and fields[0] != "Z"


def descendants(root: int) -> dict[int, float]:
    """pid -> CPU seconds for root and every live descendant (the Spark
    driver's Python, the JVM, the Python workers). Time of reaped children is
    included through their parents' cutime/cstime."""
    stats = {}
    for pid in os.listdir("/proc"):
        fields = _fields(pid) if pid.isdigit() else None
        if fields is not None:
            # (ppid, utime + stime + cutime + cstime in seconds)
            stats[int(pid)] = int(fields[1]), sum(int(v) for v in fields[11:15]) / _CLK
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    return sum(descendants(os.getpid()).values())


# ---------------------------------------------------------------------------
# host probe
# ---------------------------------------------------------------------------


def numpy_probe_s() -> float:
    """Median wall of a fixed single-thread numpy kernel (BLAS threads
    are pinned to 1). It does the same work on every run, so it moves
    only with the host."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((192, 192))
    v = rng.standard_normal(200_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            a @ a
        np.sort(v)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Spark: job ids from the status tracker, stage totals from the UI REST
# ---------------------------------------------------------------------------


def last_job_id(spark) -> int:
    """Highest job id the status tracker knows (no job groups are set,
    so every job is in the group-less listing). Job ids are dense, so a
    difference counts the jobs submitted in between."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


_STAGE_FIELDS = {
    "spark.tasks": "numCompleteTasks",
    "spark.executor_run_s": "executorRunTime",
    "spark.executor_cpu_s": "executorCpuTime",
    "spark.gc_s": "jvmGcTime",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.spill_bytes": "diskBytesSpilled",
}
_SCALE = {"spark.executor_run_s": 1e-3, "spark.executor_cpu_s": 1e-9, "spark.gc_s": 1e-3}


def _stages(spark) -> dict[tuple, dict]:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return {(s["stageId"], s["attemptId"]): s for s in json.load(resp)}


def settled_stages(spark) -> dict[tuple, dict]:
    """Completed stages once the listener bus has caught up (two equal
    consecutive listings with no active stage)."""
    prev = None
    for _ in range(50):
        tracker = spark.sparkContext.statusTracker()
        cur = _stages(spark)
        if prev is not None and cur.keys() == prev.keys() and not tracker.getActiveStageIds():
            return cur
        prev = cur
        time.sleep(0.2)
    return cur


def stage_totals(before: dict, after: dict) -> dict[str, float]:
    """Totals over the stages that completed between two listings."""
    new = [s for k, s in after.items() if k not in before]
    out = {"spark.stages": float(len(new))}
    for name, field in _STAGE_FIELDS.items():
        out[name] = sum(s.get(field, 0) for s in new) * _SCALE.get(name, 1.0)
    out["spark.spill_bytes"] += sum(s.get("memoryBytesSpilled", 0) for s in new)
    return out


# ---------------------------------------------------------------------------
# spans and counts around calls into the program
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end) and named counters, thread-safe: the
    incremental path commits its stages from worker threads."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, int] = {}

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, span=None, counter=None) -> None:
        """Replace `owner.attr` (an instance or module attribute) by a
        wrapper that records a span named `span(*args, **kw)` and/or
        bumps the counter named `counter(*args, **kw)`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kw):
            if counter is not None:
                name = counter(*args, **kw)
                if name:
                    self.count(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                if span is not None:
                    t1 = time.perf_counter()
                    with self._lock:
                        self.spans.append((span(*args, **kw), t0, t1))

        setattr(owner, attr, traced)

    def durations(self, prefix: str) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        with self._lock:
            for name, t0, t1 in self.spans:
                if name.startswith(prefix):
                    out.setdefault(name, []).append(t1 - t0)
        return out

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return dict(self.counts)


def trace_store(tracer: Tracer, store) -> None:
    """Spans around the store's table writes and partition overwrites
    (per table), counts of manifest commits, lineage appends and
    manifest reads."""
    tracer.wrap(store, "write_table", span=lambda df, table, *a, **k: f"store.write_table_s.{table}")
    tracer.wrap(
        store, "overwrite_partitions",
        span=lambda df, table, *a, **k: f"store.overwrite_partitions_s.{table}",
    )
    tracer.wrap(store, "log_lineage", counter=lambda *a, **k: "store.log_lineage_calls")
    tracer.wrap(store, "manifest", counter=lambda *a, **k: "store.manifest_reads")
    tracer.wrap(
        store.backend, "create_exclusive",
        counter=lambda path, *a, **k: "store.manifest_commits"
        if "/manifests/" in path and path.endswith(".json") else None,
    )


def tree_bytes(root: str) -> tuple[int, int]:
    """(total bytes, number of parquet files) under root."""
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def version_dirs(store) -> int:
    """Distinct data directories the current snapshots of all tables
    reference — what a full read of the store must list."""
    dirs = set()
    for table in ("images_indexed", "pip", "knn", "tiles_fine", "tiles_coarse", "id_index"):
        m = store.manifest(table)
        if m is not None:
            dirs |= {os.path.dirname(p["path"]) for p in m.partitions.values()}
    return len(dirs)
