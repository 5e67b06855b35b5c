"""Spans around the engine's public functions, and a /proc sampler.

:class:`Tracer` wraps named functions of the engine's modules from the
outside (the engine is not edited). Each call opens a span; every Spark
job issued while the span is innermost carries the span's job group,
and the job's stage metrics are read back through ``statusTracker()``
(job → stages) and the JVM ``statusStore()`` (stage → metrics) as each
top-level span ends. Spans stay in memory until the run ends.

:class:`ProcTree` reads ``/proc`` for the benchmark process and all its
descendants (the Spark JVM and its Python workers): CPU seconds and
the summed peak resident set.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_mb": ("shuffleWriteBytes", 1 / MB),
    "input_mb": ("inputBytes", 1 / MB),
    "output_mb": ("outputBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
}


class Tracer:
    """Span recorder. ``wrap`` patches a module function in every
    loaded module that holds a reference to it, so calls through
    ``from x import f`` names are traced too; ``restore`` undoes it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self.roots: list[Span] = []
        self.overhead_s = 0.0

    # -- wrapping -----------------------------------------------------------
    def wrap(self, module, fn_name: str, span_name: str) -> None:
        original = getattr(module, fn_name)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            for attr, value in list(getattr(mod, "__dict__", {}).items()):
                if value is original:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, original))

    def restore(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        s = self._enter(name)
        try:
            yield s
        finally:
            self._exit(s)

    @property
    def current(self) -> Span:
        return self._stack[-1]

    def _enter(self, name: str) -> Span:
        t0 = time.perf_counter()
        s = Span(name, f"perfbench-{next(self._ids)}")
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self._collect(s)
        self.overhead_s += time.perf_counter() - s.end

    def _collect(self, root: Span) -> None:
        """Attach job ids and per-job stage metrics to every span of a
        finished top-level span. Each stage counts once, for the first
        job that lists it (a reused shuffle stage shows up again,
        skipped, in later jobs)."""
        tracker = self._sc.statusTracker()
        for s in root.walk():
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            totals = dict.fromkeys(STAGE_FIELDS, 0.0)
            for job in s.jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    try:
                        data = self._store.lastStageAttempt(stage)
                    except Py4JJavaError:
                        continue  # stage never ran (skipped)
                    for key, (getter, scale) in STAGE_FIELDS.items():
                        totals[key] += getattr(data, getter)() * scale
            s.stages = totals


def own_totals(span: Span) -> dict[str, float]:
    """Job-derived totals of the jobs ``span`` itself issued."""
    out = {"jobs": float(len(span.jobs)), **dict.fromkeys(STAGE_FIELDS, 0.0)}
    out.update(span.stages)
    out["io_mb"] = out["input_mb"] + out["output_mb"]
    return out


def subtree_totals(span: Span) -> dict[str, float]:
    """Inclusive job-derived totals of ``span``: its own jobs plus
    every descendant's."""
    out: dict[str, float] = {}
    for s in span.walk():
        for k, v in own_totals(s).items():
            out[k] = out.get(k, 0.0) + v
    return out


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM (which is also the only
    executor in local mode)."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1e3


# ---------------------------------------------------------------------------
# /proc process-tree sampler
# ---------------------------------------------------------------------------

_TCK = os.sysconf("SC_CLK_TCK")


def _scan() -> dict[int, tuple[int, float]]:
    """pid → (ppid, user+sys CPU seconds including reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # raced with process exit
        # rest[1] = ppid, rest[11:15] = utime stime cutime cstime
        out[int(entry)] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / _TCK)
    return out


def _tree(stats: dict[int, tuple[int, float]], root: int) -> set[int]:
    members, frontier = set(), {root}
    while frontier:
        members |= frontier
        frontier = {p for p, (pp, _) in stats.items() if pp in frontier} - members
    return members


def _peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # raced with process exit
    return 0


class ProcTree:
    """CPU and peak memory of this process and its descendants: the
    Python driver, the Spark JVM and its Python workers.

    ``cpu_s`` is the tree's user+sys time between ``start()`` and
    ``stop()`` (children already reaped by a tree member are included
    through ``cutime``/``cstime``). ``peak_rss_mb`` is the sum of each
    live member's peak resident set (``VmHWM``) at ``stop()``: the
    processes live for the whole run, and short-lived helpers the JVM
    spawns are left out instead of counted twice."""

    def __init__(self) -> None:
        self._root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0

    def _cpu(self, stats) -> float:
        return sum(stats[p][1] for p in _tree(stats, self._root))

    def start(self) -> None:
        self._cpu0 = self._cpu(_scan())

    def stop(self) -> None:
        stats = _scan()
        self.cpu_s = self._cpu(stats) - self._cpu0
        self.peak_rss_mb = sum(
            _peak_rss_bytes(p) for p in _tree(stats, self._root)
        ) / MB

    def descendants(self) -> set[int]:
        return _tree(_scan(), self._root) - {self._root}
