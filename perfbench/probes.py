"""Measurement taken from outside the program: Spark's own status tracker,
process memory from /proc, and spans recorded around calls into the
program's public functions.

- `SparkProbe` gives every op its own job group and, when asked, reads the
  op's job, task and failed-task counts from `statusTracker()`, and
  the change in `getPersistentRDDs()` across the op (cached relations built).
- `RssSampler` samples resident memory of this process and the Spark JVM
  on a timer; `tree_cpu_s` reads CPU time of the whole process tree.
- `Tracer` wraps functions in place with span recorders and keeps the
  spans in memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ Spark


@dataclass
class OpCounters:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cache_builds: int = 0


class SparkProbe:
    def __init__(self, spark, count: bool) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.count = count
        self._n = 0

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    @contextmanager
    def op(self, kind: str):
        """Run one op in its own job group; yields an OpCounters filled in
        after the op when counting is on."""
        self._n += 1
        group = f"perfbench-{self._n}"
        counters = OpCounters()
        before = self.persistent_rdds() if self.count else 0
        self.sc.setJobGroup(group, kind)
        try:
            yield counters
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.count:
                self._fill(group, counters, before)

    def _fill(self, group: str, c: OpCounters, rdds_before: int) -> None:
        c.cache_builds = max(0, self.persistent_rdds() - rdds_before)
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            c.jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                c.tasks += st.numTasks
                c.failed_tasks += st.numFailedTasks


# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_ticks(path: str) -> tuple[bytes, int]:
    with open(path, "rb") as fh:
        stat = fh.read()
    fields = stat[stat.rindex(b")") + 2 :].split()
    return stat[stat.index(b"(") + 1 : stat.rindex(b")")], int(fields[11]) + int(fields[12])


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, all threads,
    except the JVM's JIT compiler threads: compiling is warm-up whose
    amount varies from run to run, not per-request work."""
    ticks = 0
    for pid in pids:
        try:
            comm, t = _stat_cpu_ticks(f"/proc/{pid}/stat")
            if comm != b"java":
                ticks += t
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, t = _stat_cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
                if not comm.startswith((b"C1 Compiler", b"C2 Compiler")):
                    ticks += t
        except (OSError, ValueError):
            continue
    return ticks / CLK_TCK


def driver_rss_bytes(root: int) -> int:
    """Resident bytes of `root` plus the JVMs among its descendants. The
    Python workers Spark forks are left out: how many are alive at one
    instant depends on task scheduling, not on the work done."""
    total = 0
    for pid in process_tree(root):
        try:
            comm, _ = _stat_cpu_ticks(f"/proc/{pid}/stat")
            if pid != root and comm != b"java":
                continue
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of the driver and its JVM, sampled every
    `interval` seconds."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, driver_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, driver_rss_bytes(os.getpid()))


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = field(default=0.0, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """In-memory span recorder. Disabled, `span` and the wrappers cost one
    attribute test; enabled, each span is one list append."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.dur

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace owner.attr (a module function or a class method) with a
        span-recording wrapper; `restore` puts the original back."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries -----------------------------------------------------------

    def exec_s(self, op: int) -> float:
        """Time inside outermost Spark actions of one op."""
        spans = self.spans
        total = 0.0
        for s in spans:
            if s.op != op or s.layer != "spark":
                continue
            p = s.parent
            while p is not None and spans[p].layer != "spark":
                p = spans[p].parent
            if p is None:
                total += s.dur
        return total

    def self_by_layer(self, ops: set[int]) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op in ops:
                out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out

    def self_by_name(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.dur
            d["self_s"] += s.self_s
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "layer": s.layer, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": s.self_s}
            for i, s in enumerate(self.spans)
        ]


def wrap_spark_actions(tracer: Tracer) -> None:
    """Span every DataFrame action and writer call, so an op's wall splits
    into time inside Spark (`exec`) and time in the driver around it."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for m in ("collect", "toPandas", "first", "head", "take", "count", "isEmpty", "toLocalIterator"):
        tracer.wrap(DataFrame, m, f"spark.{m}", "spark")
    for m in ("save", "parquet", "saveAsTable", "insertInto"):
        tracer.wrap(DataFrameWriter, m, f"spark.write.{m}", "spark")
