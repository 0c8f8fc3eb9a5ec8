"""Spans, counters and Spark execution metrics for the traced run.

Nothing here changes the program. The traced run wraps the program's
public functions where their callers look them up (module attributes),
records a span around each call and restores the originals when the run
ends. Spark work is attributed to the operation that launched it through
a job group set around each benchmark operation, and read back from the
driver's status store (which works with the UI off) right after the
operation, because the store only retains the last
``spark.ui.retainedStages`` stages.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import defaultdict

_STAGE_FIELDS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


class SparkStats:
    """Per-job-group execution totals read from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group_id: str) -> dict[str, float]:
        """Totals over every stage of every job the group launched."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        jobs = tracker.getJobIdsForGroup(group_id)
        out["jobs"] = float(len(jobs))
        stages = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # skipped stages never reach the store
                continue
            for name, (attr, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(data, attr)() * scale
        return out


class Tracer:
    """Spans kept in memory, named counters and reversible patches.

    A disabled tracer records nothing and patches nothing, so the
    untraced runs execute the program exactly as a user would.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark_stats = SparkStats(spark) if enabled else None
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.marks: dict[str, float] = {}  # last times of named events
        self._stack: list[int] = []
        self._op = None
        self._ops = 0
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        """A top-level benchmark operation: a span that owns a job group
        and the Spark metrics it launched (``spark.<metric>`` under
        ``name`` and in the workload totals)."""
        if not self.enabled:
            yield
            return
        self._ops += 1
        group = f"op{self._ops}:{name}"
        self._op = group
        try:
            with self.spark_stats.group(group), self.span(name) as record:
                yield
        finally:
            self._op = None
            stats = self.spark_stats.collect(group)
            record["spark"] = stats
            for k, v in stats.items():
                self.counters[f"{name}.spark.{k}"] += v
                self.counters[f"spark.{k}"] += v

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        record = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(record)
        self._stack.append(len(self.spans) - 1)
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.perf_counter()
            self.counters[f"{name}.calls"] += 1
            self.counters[f"{name}_s"] += record["end"] - record["start"]

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    # --- patches -------------------------------------------------------
    def wrap(self, module, attr: str, make_wrapper) -> None:
        """Replace ``module.attr`` with ``make_wrapper(original)`` and
        also every other binding of the same function object in the
        program's modules (``from x import f`` copies), so calls are seen
        wherever the caller looked the function up."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        wrapper = make_wrapper(original)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("canvas_data_2_aws_spark"):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, name, value))
                    setattr(mod, name, wrapper)

    def timed(self, name: str):
        """Wrapper factory: a span named ``name`` around each call."""

        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return wrapper

        return make

    def restore(self) -> None:
        for mod, name, value in reversed(self._patches):
            setattr(mod, name, value)
        self._patches.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)
