"""Observation helpers for the benchmark: spans, peak RSS and task timings.

Nothing here changes what the engine does.  Spans are recorded by the
benchmark's own code around its calls into the engine; the RSS sampler
reads ``/proc`` (``psutil`` is not required); task timings come from
Spark's status store, the same source ``plans.profiling.StageProfiler``
reads.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: name, start, end, parent span and op id.

    A disabled tracer records nothing and costs one generator per call, so
    the untraced runs pay (almost) nothing for the instrumentation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _tree_pids(root: int) -> list[int]:
    """``root`` and every descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # the command name may contain spaces and parentheses: split after
        # the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of the process tree: driver, JVM and Python workers.

    Every ``interval`` seconds it sums the kernel's per-process peak
    (``VmHWM``) over the live tree and keeps the largest sum.  Using each
    process's own high-water mark means a short spike between two samples
    is not missed."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_hwm_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def task_run_times_ms(spark, stage_id: int, attempt_id: int = 0) -> list[int]:
    """Executor run time of every task of one stage, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = store.taskList(stage_id, attempt_id, 1 << 20)
    out = []
    for i in range(tasks.size()):
        metrics = tasks.apply(i).taskMetrics()
        if metrics.isDefined():
            out.append(int(metrics.get().executorRunTime()))
    return out


def stage_layer(spark, prof) -> dict:
    """Summary of the stages a ``StageProfiler`` saw, plus the task count
    and skew (max ÷ median task run time) of the heaviest stage — the
    stage that sets the job's critical path."""
    s = prof.summary()
    heaviest = max(prof.stages, key=lambda m: m.executor_run_time_ms, default=None)
    times = task_run_times_ms(spark, heaviest.stage_id) if heaviest else []
    med = statistics.median(times) if times else 0
    return {
        "run_ms": s["executor_run_time_ms"],
        "cpu_ms": s["executor_cpu_time_ms"],
        "shuffle_write_bytes": s["shuffle_write_bytes"],
        "spill_bytes": s["memory_spilled_bytes"] + s["disk_spilled_bytes"],
        "tasks": heaviest.num_tasks if heaviest else 0,
        "task_skew": max(times) / med if med else 0.0,
    }
