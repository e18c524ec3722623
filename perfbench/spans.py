"""Process-tree CPU accounting and layer spans for the traced run.

Spans are recorded from outside the program: the benchmark opens a span
around each public call it makes into a layer, and (through ``wrap``)
around calls the program makes internally into another layer. Each span
tags its Spark work with its own job group; on exit it reads the group's
stage metrics from ``statusTracker`` and the status store, which both work
with ``spark.ui.enabled=false``. CPU comes from ``/proc``: the driver side
is the driver Python process plus every descendant that is not the JVM
(fork pools), the executor side is the JVM plus its Python workers.
Nested spans report self time: a parent's figures exclude its children's.
Spans stay in memory until the run prints them.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")

KINDS = (
    ("wall_s", "s"),
    ("driver_cpu_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("rows_out", "count"),
)


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds) for every
    process visible in /proc. A child's CPU moves into its parent's
    cutime/cstime when it is reaped, so summing all four over a live tree
    counts each exited process exactly once."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state; ppid is field 4 of stat, times are 14-17
        out[int(name)] = (
            int(fields[1]),
            sum(int(x) for x in fields[11:15]) / _CLK,
        )
    return out


def _subtree(table, root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_cpu(jvm_pid: int | None) -> tuple[float, float]:
    """(driver-side CPU s, JVM-side CPU s), cumulative, for this process
    tree. Driver side: this process and its non-JVM descendants."""
    table = _proc_table()
    everything = _subtree(table, os.getpid())
    jvm = _subtree(table, jvm_pid) if jvm_pid else set()
    drv = sum(table[p][1] for p in everything - jvm)
    return drv, sum(table[p][1] for p in jvm)


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM that PySpark launched (spark-submit execs
    java, so the gateway's process is the JVM itself)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stage_totals(sc, group: str | None) -> dict[str, float]:
    """Jobs, completed tasks, GC time, shuffle writes and input bytes of
    every job in Spark job group ``group`` (None: jobs without a group)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    tot = {"jobs": 0, "tasks": 0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0}
    for jid in tracker.getJobIdsForGroup(group):
        tot["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the stage never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["gc_s"] += st.jvmGcTime() / 1000.0
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["input_mb"] += st.inputBytes() / 2**20
    return tot


class Tracer:
    """Per-layer totals over the spans recorded since ``reset``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = jvm_pid(spark)
        self.active = False  # wrapped program calls are traced only when set
        self._stack: list[dict] = []
        self._seq = 0
        self.reset()

    def reset(self) -> None:
        self.layers: dict[str, dict[str, float]] = {}
        self.extra: dict[str, float] = {}
        # (layer, start, duration s, parent layer or None)
        self.spans: list[tuple[str, float, float, str | None]] = []

    @contextmanager
    def span(self, layer: str):
        """Time one call into ``layer``. The body may set ``frame["rows"]``
        to the row count of the layer's output."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        parent = self._stack[-1]["layer"] if self._stack else None
        frame = {"layer": layer, "group": group, "rows": None,
                 "child": dict.fromkeys(("wall_s", "driver_cpu_s", "executor_cpu_s"), 0.0)}
        self._stack.append(frame)
        self.sc.setJobGroup(group, layer)
        drv0, jvm0 = tree_cpu(self.jvm)
        t0 = time.perf_counter()
        start = time.time()
        try:
            yield frame
        finally:
            wall = time.perf_counter() - t0
            drv1, jvm1 = tree_cpu(self.jvm)
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            incl = {"wall_s": wall, "driver_cpu_s": drv1 - drv0, "executor_cpu_s": jvm1 - jvm0}
            if self._stack:
                for k, v in incl.items():
                    self._stack[-1]["child"][k] += v
            st = stage_totals(self.sc, group)
            acc = self.layers.setdefault(layer, dict.fromkeys((k for k, _ in KINDS), 0.0))
            for k in incl:
                acc[k] += incl[k] - frame["child"][k]
            for k in ("gc_s", "shuffle_write_mb", "jobs", "tasks"):
                acc[k] += st[k]
            if frame["rows"] is not None:
                acc["rows_out"] += frame["rows"]
            if layer == "scan":
                self.extra["scan.input_mb"] = self.extra.get("scan.input_mb", 0.0) + st["input_mb"]
            self.spans.append((layer, start, wall, parent))

    def wrap(self, module, name: str, layer: str) -> None:
        """Make every binding of ``module.name`` inside the program run in
        a span of ``layer`` while the tracer is active — for calls the
        program makes internally into another layer."""
        fn = getattr(module, name)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("taxahfe_spark") and (
                mod.__dict__.get(name) is fn
            ):
                setattr(mod, name, traced)
