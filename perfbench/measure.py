"""Measurement helpers: process-tree RSS sampling, per-process I/O
counters, and per-layer Spark metrics parsed from the event log.

Layer spans are recorded from the benchmark's side of the API: every
layer call in a traced run is wrapped in ``sparkContext.setJobGroup`` and
forced with a ``noop`` write, so each Spark job in the event log carries
the layer that caused it. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> dict[int, tuple[int, str]]:
    """``{pid: (ppid, executable)}`` of every process we may inspect."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            exe = os.readlink(f"/proc/{name}/exe")
        except OSError:
            continue  # exited while we looked, or not ours
        # the command name may hold spaces or parens: the parent pid is
        # the second field after its closing ')'
        table[int(name)] = (int(stat[stat.rindex(")") + 1:].split()[1]), exe)
    return table


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants
    (the driver Python, the JVM, and the JVM's Python workers).

    A child the JVM forks to run a command shares the JVM's pages until it
    execs, and its RSS would count the JVM twice: a child still running
    the ``java`` binary of its parent is skipped."""
    table = _process_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid, exe = table.get(pid, (0, ""))
        if exe.endswith("/java") and table.get(ppid, (0, ""))[1] == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS on a thread until ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._halt.wait(self.interval_s)

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def write_bytes(pid: int) -> int:
    """Bytes ``pid`` sent toward storage so far (``/proc/<pid>/io``)."""
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    raise RuntimeError(f"no write_bytes in /proc/{pid}/io")


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class Tracer:
    """Op walls and per-layer wall times (benchmark side) plus a job-group
    context for the event-log breakdown. A disabled tracer only times; it
    sets no job group and the workloads force no layer boundary. Job
    groups are set only once ``start_timing`` is called, so the event-log
    breakdown covers the timed phase alone."""

    def __init__(self, spark, enabled: bool, events: str):
        self.spark = spark
        self.enabled = enabled
        self.events = events
        self.jvm = jvm_pid(spark)
        self.tagging = False
        self._clear()

    def start_timing(self) -> None:
        """Drop what set-up and warm-up recorded; tag jobs from now on."""
        self._clear()
        self.tagging = self.enabled

    def _clear(self) -> None:
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.op_walls: list[float] = []
        self.op_rows = 0

    def op(self, wall_s: float, rows: int) -> None:
        """Record one timed op: its wall and the input rows it handled."""
        self.op_walls.append(wall_s)
        self.op_rows += rows

    def storage_writes(self) -> int:
        """Bytes the JVM has sent toward storage, less its event log."""
        logged = sum(os.path.getsize(os.path.join(self.events, f))
                     for f in os.listdir(self.events)) if os.path.isdir(self.events) else 0
        return write_bytes(self.jvm) - logged

    def count(self, name: str, value: float) -> None:
        self.counts[name].append(value)

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        if self.tagging:
            sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[layer].append(time.perf_counter() - t0)
            if self.tagging:
                sc.setJobGroup("bench", "bench")


def force(df) -> None:
    """Run ``df`` to completion without collecting it (a layer boundary)."""
    df.write.format("noop").mode("overwrite").save()


#: per-job-group event-log fields and their units
SPARK_FIELDS = {"task_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "stages": "count",
                "tasks": "count"}


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate the (finished) event log per job group.

    Returns ``{group: {task_s, gc_s, shuffle_read_mb, shuffle_write_mb,
    spill_mb, stages, tasks}}``: executor run time and JVM GC time summed
    over tasks, shuffle bytes read (local + remote) and written, memory +
    disk spill, and the number of stages and tasks that ran.
    """
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    mb = 1 << 20
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "none")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                g = out[stage_group.get(ev["Stage ID"], "none")]
                rd = m.get("Shuffle Read Metrics", {})
                g["tasks"] += 1
                g["task_s"] += m.get("Executor Run Time", 0) / 1000
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                         + rd.get("Local Bytes Read", 0)) / mb
                g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / mb
                g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / mb
    return dict(out)
