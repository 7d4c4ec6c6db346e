"""Measurement plumbing shared by the workloads: spans, the noop sink,
peak memory and CPU / steal clocks of the process tree, and timing
summaries."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def noop(df) -> None:
    """Materialize ``df`` through Spark's noop sink (full plan, no output)."""
    df.write.format("noop").mode("overwrite").save()


class Spans:
    """Named wall-clock spans, each tagged as a Spark job group when
    tracing so the event log attributes its jobs to the span. Kept in
    memory; the run reports them when it ends."""

    def __init__(self, spark=None, prefix: str = ""):
        self.sc = spark.sparkContext if spark is not None else None
        self.prefix = prefix
        self.walls: dict[str, float] = {}

    @contextmanager
    def group(self, name: str):
        gid = self.prefix + name
        if self.sc is not None:
            self.sc.setJobGroup(gid, gid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[gid] = time.perf_counter() - t0
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def time(self, name: str, fn) -> float:
        with self.group(name):
            fn()
        return self.walls[self.prefix + name]


_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _tree(root: int) -> list[int]:
    children, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_clock() -> tuple[float, float]:
    """(CPU seconds used by this process tree, including reaped children;
    CPU seconds the hypervisor stole from the machine's CPUs)."""
    cpu = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        cpu += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    with open("/proc/stat", "rb") as f:
        steal = int(f.readline().split()[8])
    return cpu / _TICK, steal / _TICK


def _tree_memory_bytes(root: int, page: int) -> int:
    """Resident memory of the process tree under ``root``: RSS of the JVM
    (its pages are its own) plus the proportional set size of every other
    process, which splits pages shared after fork among the sharers so
    forked Python workers are not counted once per worker. PSS is read
    only where it is cheap: walking the JVM's page tables for it every
    sample would stall the JVM itself."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/comm", "rb") as f:
                is_jvm = f.read().strip() == b"java"
            if is_jvm:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * page
            else:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                    pss = next(line for line in f if line.startswith(b"Pss:"))
                total += int(pss.split()[1]) * 1024
        except (OSError, StopIteration):
            continue  # exited while sampling
    return total


class PeakMemory:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every ``interval`` seconds while
    the context is open."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        self.peak = max(self.peak, _tree_memory_bytes(os.getpid(), self._page))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def summary(walls: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below eleven samples), with the sample count."""
    xs = sorted(walls)
    n = len(xs)
    out = {"n": n, "median_s": statistics.median(xs)}
    if n >= 11:
        out["tail_pct"] = round(100.0 * (n - 10) / n, 1)
        out["tail_s"] = xs[n - 11]
    return out
