"""Measurements taken from outside the program: Spark's own per-stage
counters, grouped by job group, and the peak resident memory of the driver
JVM plus its Python workers."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

LAYERS = ("extract", "linking", "cluster", "fusion", "transform", "sources", "streaming")


class LayerTracer:
    """Times each layer call and tags its Spark jobs with ``setJobGroup``.

    A layer may be entered several times (``sources`` reads at the start
    and writes at the end); its wall time accumulates. ``alias_group`` maps
    a job group that Spark itself sets — a streaming query tags its jobs
    with the query's run id — onto a layer.
    """

    def __init__(self, spark):
        self.spark = spark
        self.wall = {name: 0.0 for name in LAYERS}
        self.rows = {name: 0 for name in LAYERS}
        self.groups = {name: name for name in LAYERS}
        self.first_start = self.last_end = None

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"perfbench layer {name}")
        t0 = time.perf_counter()
        if self.first_start is None:
            self.first_start = t0
        try:
            yield
        finally:
            self.last_end = time.perf_counter()
            self.wall[name] += self.last_end - t0
            sc.setJobGroup("perfbench", "perfbench untraced work")

    def total_s(self) -> float:
        """Wall time from the first layer's start to the last one's end."""
        return self.last_end - self.first_start

    def alias_group(self, group: str, layer: str) -> None:
        self.groups[group] = layer

    def counters(self, cores: int) -> dict:
        """Per-layer counters from the status store (call once, at the end)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        agg = {name: dict.fromkeys(("task_ms", "cpu_ns", "gc_ms", "shuffle_b", "spill_b", "jobs", "tasks"), 0)
               for name in LAYERS}

        stage_layer: dict[int, str] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            layer = self.groups.get(group.get()) if group.isDefined() else None
            if layer is None:
                continue
            agg[layer]["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                # a stage belongs to the job that first ran it; later jobs
                # that reuse its shuffle output list it as skipped
                stage_layer.setdefault(ids.apply(k), layer)

        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            layer = stage_layer.get(st.stageId())
            if layer is None:
                continue
            a = agg[layer]
            a["task_ms"] += st.executorRunTime()
            a["cpu_ns"] += st.executorCpuTime()
            a["gc_ms"] += st.jvmGcTime()
            a["shuffle_b"] += st.shuffleWriteBytes()
            a["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            a["tasks"] += st.numCompleteTasks()

        out = {}
        for name in LAYERS:
            a = agg[name]
            task_s = a["task_ms"] / 1e3
            cpu_s = a["cpu_ns"] / 1e9
            wall = self.wall[name]
            values = {
                "wall_s": (wall, "s"),
                "task_s": (task_s, "s"),
                "jvm_cpu_s": (cpu_s, "s"),
                "offjvm_s": (task_s - cpu_s, "s"),
                "idle_core_s": (wall * cores - task_s, "s"),
                "gc_s": (a["gc_ms"] / 1e3, "s"),
                "shuffle_mb": (a["shuffle_b"] / 1e6, "MB"),
                "spill_mb": (a["spill_b"] / 1e6, "MB"),
                "jobs": (a["jobs"], "count"),
                "tasks": (a["tasks"], "count"),
                "rows_out": (self.rows[name], "count"),
            }
            for counter, (value, unit) in values.items():
                out[f"{name}.{counter}"] = {"value": value, "unit": unit}
        return out


# ---------------------------------------------------------------------------
# peak resident memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid())


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants (the JVM forks the Python
    worker daemon, which forks the workers)."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # exited while walking
            continue
    return pids


def reset_peak_rss(root: int) -> None:
    """Restart the peak-RSS watermark of every process in the tree."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sets (VmHWM) since the last reset."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
