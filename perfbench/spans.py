"""Spans and counters recorded from outside the program.

A span covers one call into a layer: its name (``<module>.<function>``),
start, end, the span that caused it, and counters read at its edges:

- ``jobs`` / ``tasks``: Spark jobs run under the span's job group and
  the tasks of their stages, read from the public status tracker when
  the span ends (the tracker keeps only the last 1000 jobs, so reading
  per span stays exact);
- ``cpu_s``: user+system CPU of the driver JVM over the span, from
  ``/proc/<pid>/stat``; ``core_util`` = cpu_s / (wall x cores).

Spans live in memory and are written as one JSON file when the run ends.
The tracer also times its own bookkeeping, reported as its overhead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection: cached
    frames, memos, broadcast and the session's own bookkeeping."""
    jvm = spark.sparkContext._jvm
    # the second collection also frees what the first one let Spark's
    # context cleaner release
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1024.0 * 1024.0)


class Tracer:
    """Records spans around calls into the program's public functions.

    With ``enabled`` false every method is a no-op, so the untraced run
    executes the same benchmark code without the bookkeeping."""

    def __init__(self, enabled: bool, spark=None, jvm_pid: int | None = None, cores: int = 1):
        self.enabled = enabled
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.cores = cores
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parent(self) -> int | None:
        stack = getattr(self._stack, "ids", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False, **attrs) -> Iterator[dict]:
        """Time the block as one span; with ``count_jobs`` also count
        its Spark jobs, tasks and driver-JVM CPU."""
        if not self.enabled:
            yield {}
            return
        t_book = time.perf_counter()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._parent(), "thread": threading.get_ident(), **attrs}
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        self._stack.ids.append(sid)
        sc = self.spark.sparkContext if count_jobs else None
        if sc is not None:
            group = f"perfbench-span-{sid}"
            sc.setJobGroup(group, name)
            cpu0 = proc_cpu_s(self.jvm_pid)
        book = time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            self._stack.ids.pop()
            if sc is not None:
                rec["cpu_s"] = proc_cpu_s(self.jvm_pid) - cpu0
                rec["core_util"] = rec["cpu_s"] / (max(rec["end"] - rec["start"], 1e-9) * self.cores)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["jobs"], rec["tasks"] = self._jobs_tasks(sc, group)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += book + time.perf_counter() - t_book

    @staticmethod
    def _jobs_tasks(sc, group: str) -> tuple[int, int]:
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = 0
        for sid in stage_ids:
            stage = tracker.getStageInfo(sid)
            if stage is not None:  # skipped stages never ran
                tasks += stage.numCompletedTasks
        return len(job_ids), tasks

    def wrap_everywhere(self, package: str, fn: Callable, name: str) -> None:
        """Replace ``fn`` by a spanned wrapper in every loaded module of
        ``package`` that binds it (callers resolve module globals at
        call time, so internal calls are traced too)."""
        if not self.enabled:
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, traced)

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed wall, CPU, jobs, tasks and call count;
        ``core_util`` over the summed wall."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            t = out[s["name"]]
            t["calls"] += 1
            t["wall_s"] += s["end"] - s["start"]
            for key in ("cpu_s", "jobs", "tasks", "rows_out"):
                if key in s:
                    t[key] += s[key]
        for t in out.values():
            if "cpu_s" in t:
                t["core_util"] = t["cpu_s"] / (max(t["wall_s"], 1e-9) * self.cores)
        return out

    def dump(self, path: Path, meta: dict) -> None:
        """Write every span, with times relative to the first, as JSON."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"meta": meta, "spans": spans}, indent=1))
