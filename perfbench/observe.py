"""What the benchmark observes besides its own timers: per-layer spans and
Spark event-log counters, peak resident memory of the process tree, and
host weather (CPU steal and two fixed micro-probes)."""

from __future__ import annotations

import glob
import json
import mmap
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable

import numpy as np

LAYERS = [
    "pipeline.transcripts",
    "pipeline.blocking",
    "pipeline.scoring",
    "pipeline.linkage",
    "operators.collection",
    "operators.entityframe",
    "operators.metrics",
    "pipeline.dedup",
]
GLUE = "bench.glue"
EXTRAS = [
    "pipeline.blocking.useful_ratio",
    "pipeline.dedup.verify_ratio",
    "operators.collection.cache_hit_ratio",
    "functions.jw_native.score_pairs_per_s",
    "functions.jw_native.lsh_docs_per_s",
    "functions.uf_native.linkage_edges_per_s",
    "functions.uf_native.grid_labels_per_s",
]
LAYER_FIELDS = [
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "idle_s",
    "shuffle_bytes",
    "spill_bytes",
    "failed_tasks",
    "rows_out",
]


class Tracer:
    """Layer spans around calls into the package's public functions.

    Untraced, ``layer`` only calls ``fn``. Traced, it runs ``fn`` under a
    Spark job group named after the layer, materialises the result with
    ``sink`` (default: an eager local checkpoint of a DataFrame) so the
    layer's work is charged to it, and records wall time and rows out.
    Jobs started between layers run under the ``bench.glue`` group."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.wall: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def layer(self, name: str, fn: Callable[[], Any], sink: Callable | None = None):
        if not self.traced:
            return fn()
        self._group(name)
        t0 = time.perf_counter()
        try:
            out = fn()
            if sink is not None:
                self.rows[name] += int(sink(out))
            elif hasattr(out, "localCheckpoint"):
                out = out.localCheckpoint(eager=True)
                self.rows[name] += out.count()
        finally:
            self.wall[name] += time.perf_counter() - t0
            self._group(GLUE)
        return out


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, summed executor run time,
    shuffle bytes written, disk spill and failed tasks, read from the
    single Spark event log in ``log_dir`` (after the session stopped).
    ``listed_stages`` counts the stage ids each job lists, skipped ones
    included, as ``statusTracker().getJobInfo(id).stageIds`` does."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", GLUE)
                out[group]["jobs"] += 1
                out[group]["listed_stages"] += len(ev["Stage IDs"])
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id", GLUE)
                out[stage_group[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], GLUE)]
                c["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {g: dict(c) for g, c in out.items()}


def layer_metrics(
    tracer: Tracer, counters: dict[str, dict[str, float]], cores: int
) -> dict[str, float]:
    """``<layer>.<field>`` for every layer in LAYERS (zero where the
    workload does not run the layer)."""
    out: dict[str, float] = {}
    for name in LAYERS:
        c = counters.get(name, {})
        wall = tracer.wall.get(name, 0.0)
        vals = {
            "wall_s": wall,
            "jobs": c.get("jobs", 0),
            "stages": c.get("stages", 0),
            "tasks": c.get("tasks", 0),
            "task_s": c.get("task_s", 0.0),
            "idle_s": wall - c.get("task_s", 0.0) / cores if wall else 0.0,
            "shuffle_bytes": c.get("shuffle_bytes", 0),
            "spill_bytes": c.get("spill_bytes", 0),
            "failed_tasks": c.get("failed_tasks", 0),
            "rows_out": tracer.rows.get(name, 0),
        }
        for field in LAYER_FIELDS:
            out[f"{name}.{field}"] = vals[field]
    return out


# -- memory --------------------------------------------------------------


def children(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def _hwm_kib(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Samples ``VmHWM`` of the driver JVM and the Python workers among the
    descendants of this process twice a second. ``peak_mb`` is the sum
    over processes of each one's high-water mark; a process that ended
    keeps the last mark seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.hwm: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        todo = children(os.getpid())
        while todo:
            pid = todo.pop()
            todo.extend(children(pid))
            if pid not in self.names:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        self.names[pid] = f.read().strip()
                except OSError:
                    continue
            # the JVM and Python workers only: a process the JVM forks to
            # run a command shares, and would count again, the JVM's pages
            if self.names[pid] != "java" and not self.names[pid].startswith("python"):
                continue
            kib = _hwm_kib(pid)
            if kib is not None:
                self.hwm[pid] = max(self.hwm.get(pid, 0), kib)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm.values()) / 1024.0

    def by_process(self) -> list[tuple[str, float]]:
        """(command name, peak MB) per process, largest first."""
        return sorted(
            ((self.names.get(p, "?"), k / 1024.0) for p, k in self.hwm.items()),
            key=lambda x: -x[1],
        )


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the descendants they have reaped. Time the
    hypervisor steals is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        todo.extend(children(pid))
    return total / tick


# -- host weather --------------------------------------------------------


def cpu_times() -> tuple[float, float]:
    """(steal, total) CPU jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return float(vals[7]), float(sum(vals[:8]))


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def weather_probes() -> dict[str, float]:
    """The two host-weather probes of the repository's bench.py:
    single-thread fresh-page touch throughput over 256 MiB, and one
    mul-mod pass over 50M int64."""
    out: dict[str, float] = {}
    size = 256 << 20
    t0 = time.perf_counter()
    m = mmap.mmap(-1, size)
    for off in range(0, size, mmap.PAGESIZE):
        m[off] = 1
    m.close()
    out["fresh_page_gibps"] = size / (1 << 30) / max(time.perf_counter() - t0, 1e-9)
    a = np.arange(50_000_000, dtype=np.int64)
    t0 = time.perf_counter()
    (a * 2_654_435_761 % 1_000_003).sum()
    out["numpy_mulmod_sec"] = time.perf_counter() - t0
    return out


def rate(fn: Callable[[], int], min_s: float = 0.5) -> float:
    """Items per second of ``fn`` (which returns its item count), calling
    it until ``min_s`` has passed."""
    items, t0 = 0, time.perf_counter()
    while True:
        items += fn()
        el = time.perf_counter() - t0
        if el >= min_s:
            return items / el
