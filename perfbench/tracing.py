"""Spans and engine counters recorded from outside the engine.

A ``Tracer`` times named spans around calls into the package's public
functions.  With tracing on it also diffs Spark's status store at each
span boundary: every stage that completed while a span was open is
attributed to that span and to the spans enclosing it (the loop has one
client and waits for each call, so sibling intervals never overlap).
The store keeps only ``spark.ui.retainedStages`` stages, so counters
are read at each span boundary, never once at the end of the run.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

STAGE_FIELDS = {
    # status-store accessor -> (counter name, scale to the reported unit)
    "numTasks": ("spark.tasks", 1),
    "executorRunTime": ("spark.task_time_s", 1e-3),
    "executorCpuTime": ("spark.cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "inputRecords": ("spark.input_records", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spark.spill_mb", 1 / 2**20),
}

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) spent so far by process ``root``
    (default: this one) and every process under it, counting their
    reaped children.  In local mode that tree is the whole engine: this
    Python driver, the JVM it launched and the Python workers the JVM
    forks.  Time the host's hypervisor gave to other tenants (steal) is
    not in it, so on a busy shared host it moves less than the wall."""
    root = os.getpid() if root is None else root
    cpu: dict[int, int] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listed
            continue
        # after the parenthesised command: state, ppid, ... and utime,
        # stime, cutime, cstime (fields 14-17 of the line)
        rest = stat[stat.rindex(")") + 2:].split()
        cpu[int(d)] = sum(int(x) for x in rest[11:15])
        children[int(rest[1])].append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


class Tracer:
    """Named wall-clock spans; with ``enabled`` also per-span engine
    counters.  ``spans[name]`` lists every duration recorded under that
    name; ``counters[name]`` sums the engine counters of those spans."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._sc = spark.sparkContext
        self._jvm = spark.sparkContext._gateway.jvm
        self.jvm_pid = self._jvm.java.lang.ProcessHandle.current().pid()
        self._last_stage = -1
        self._last_job = -1
        self._open: list[str] = []
        if enabled:
            self._drain()

    @contextlib.contextmanager
    def span(self, name: str):
        self._attribute()
        self._open.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            self._attribute()
            self._open.pop()

    def _attribute(self) -> None:
        """Credit the counters gathered since the last boundary to every
        open span (none open: they belong to untraced work)."""
        if not self.enabled:
            return
        for k, v in self._drain().items():
            for name in self._open:
                self.counters[name][k] += v

    def _drain(self) -> dict[str, float]:
        """Counters of the stages and jobs finished since the last call."""
        out: dict[str, float] = defaultdict(float)
        store = self._sc._jsc.sc().statusStore()
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        stages = store.stageList(None, False, False, empty, None)
        newest = self._last_stage
        # the store lists stages newest first
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            for acc, (key, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, acc)() * scale
        self._last_stage = newest
        jobs = [j for j in self._sc.statusTracker().getJobIdsForGroup()
                if j > self._last_job]
        out["spark.jobs"] += len(jobs)
        self._last_job = max([self._last_job, *jobs])
        return out

    def heap_peak_mb(self, reset: bool = False) -> float:
        """Sum of the JVM heap pools' peak usage since the last reset."""
        mf = self._jvm.java.lang.management.ManagementFactory
        total = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                total += pool.getPeakUsage().getUsed()
                if reset:
                    pool.resetPeakUsage()
        return total / 2**20

    def rss_mb(self, field: str = "VmHWM") -> float:
        """Resident memory of the driver JVM plus this Python driver
        process: the peak (``VmHWM``) or the current (``VmRSS``) value."""
        total_kb = 0
        for p in (self.jvm_pid, "self"):
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024


@contextlib.contextmanager
def wrapped(owner, attr: str, tracer: Tracer, span_of):
    """Time every call of ``owner.attr`` while the context is open (the
    benchmark's own wrapper; the engine is left unchanged).
    ``span_of(*args, **kwargs)`` names the span a call is recorded under,
    or returns None to leave that call untimed."""
    original = getattr(owner, attr)

    def timed(*args, **kwargs):
        span = span_of(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            if span is not None:
                tracer.spans[span].append(time.perf_counter() - t0)

    setattr(owner, attr, timed)
    try:
        yield
    finally:
        setattr(owner, attr, original)
