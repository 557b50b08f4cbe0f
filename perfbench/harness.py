"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: wall clocks around
calls into its public functions, Spark counters read from the session's
status store, and resident memory read from /proc for this process and
its descendants (the driver JVM and its ``pyspark.daemon`` workers).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


def process_start_wall() -> float:
    """Wall-clock time (epoch seconds) at which this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks(os.getpid()) / os.sysconf("SC_CLK_TCK")


def start_ticks(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks after boot, or None if it is
    gone; with the pid it names one process, even after pid reuse."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def processes_with_env(entry: str) -> list[int]:
    """Live processes whose environment holds ``entry`` (``NAME=value``).
    Children inherit the environment, so this finds Python workers that
    were reparented when the JVM that forked them exited."""
    want = entry.encode() + b"\0"
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if want in f.read():
                    out.append(int(name))
        except OSError:
            continue  # ended while we looked, or not ours
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum over this process and its live descendants of each one's
    peak resident set (VmHWM), in MiB."""
    pids = [os.getpid()] + descendants(os.getpid())
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def files_under(path: str) -> set[tuple[str, int, int, int]]:
    """(path, size, inode, mtime) of every regular file under ``path``."""
    out = set()
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out.add((full, st.st_size, st.st_ino, st.st_mtime_ns))
    return out


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (Spark's .crc side
    files included: they are stored too)."""
    return sum(f[1] for f in files_under(path))


@dataclass
class Counters:
    """One sample of the session's cumulative Spark counters."""

    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    wall: float = 0.0

    def __sub__(self, other: "Counters") -> "Counters":
        return Counters(
            *(getattr(self, k) - getattr(other, k) for k in self.__dataclass_fields__)
        )


class SparkProbe:
    """Reads cumulative job/task counters from the status store, which
    Spark keeps whether or not its web UI runs."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def sample(self) -> Counters:
        # the status store is fed by an asynchronous listener bus; drain
        # it so the sample includes every task that has already ended
        self._jsc.listenerBus().waitUntilEmpty()
        c = Counters(wall=time.perf_counter())
        execs = self._jsc.statusStore().executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            # (totalDuration is not used: for the driver executor of a
            # local session it is the executor's elapsed time, not task time)
            c.tasks += e.totalTasks()
            c.gc_ms += e.totalGCTime()
            c.input_bytes += e.totalInputBytes()
            c.shuffle_bytes += e.totalShuffleRead() + e.totalShuffleWrite()
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        c.jobs = max(ids) + 1 if ids else 0
        return c


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: Counters = field(default_factory=Counters)
    end_sample: Counters = field(default_factory=Counters)


class Tracer:
    """In-memory span recorder: one span per layer boundary crossed,
    with the Spark counter deltas over the span. Spans of one operation
    share ``op_id``; ``parent`` is the index of the enclosing span."""

    def __init__(self, probe: SparkProbe) -> None:
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    def begin(self, name: str) -> int:
        c = self.probe.sample()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op_id, parent, c.wall, counters=c))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> Span:
        c = self.probe.sample()
        span = self.spans[idx]
        span.end = c.wall
        span.end_sample = c
        span.counters = c - span.counters
        self._stack.pop()
        return span

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "op_id": s.op_id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "jobs": s.counters.jobs,
                "tasks": s.counters.tasks,
                "gc_ms": s.counters.gc_ms,
                "input_bytes": s.counters.input_bytes,
                "shuffle_bytes": s.counters.shuffle_bytes,
            }
            for s in self.spans
        ]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def spark_layer_metrics(op_spans: list[Span]) -> dict[str, float]:
    """Per-operation medians of the Spark counters over whole-op spans."""
    def per_op(fn):
        return median(fn(s) for s in op_spans)

    return {
        "spark.jobs": per_op(lambda s: s.counters.jobs),
        "spark.tasks": per_op(lambda s: s.counters.tasks),
        "spark.shuffle_mb": per_op(lambda s: s.counters.shuffle_bytes / 2**20),
        "spark.input_mb": per_op(lambda s: s.counters.input_bytes / 2**20),
        "spark.gc_s": per_op(lambda s: s.counters.gc_ms / 1000.0),
    }
