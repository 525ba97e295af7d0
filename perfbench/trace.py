"""Spans, Spark job counts and the process tree's CPU time and memory,
recorded from the benchmark's side of every call into the engine.

Spans are kept in memory and written out once, when the run ends. With
tracing off the tracer records nothing, so the untraced run pays only for
the context-manager entry.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    """Spans with a name, start, end, parent span and request id, plus the
    counts recorded at the same boundary (``attrs``)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "req": req,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr`` (a module
        function or a class's method) while the block runs, so a public
        function's share of a call that goes through it is measured
        without changing the program."""
        if not self.enabled:
            yield
            return
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, inner)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def values(self, name: str, attr: str) -> list[float]:
        return [s[attr] for s in self.spans if s["name"] == name and attr in s]

    def p50(self, name: str, attr: str | None = None, scale: float = 1.0) -> float:
        """Median duration (or attribute) over the spans named ``name``;
        0.0 when the workload produced no such span."""
        vals = self.durations(name) if attr is None else self.values(name, attr)
        return median(vals) * scale if vals else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks run, tasks failed) for every job tagged with ``group``
    by ``setJobGroup``; skipped stages ran no tasks and add nothing."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time a virtual CPU was runnable but the host ran something
    else, so a run's share of it shows co-tenant load."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is also counted in user time
    return vals[7], sum(vals[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, exclude: frozenset = frozenset()) -> float:
    """CPU seconds used so far by ``root`` and its descendants (user +
    system, plus that of children they have reaped). Time the host stole
    from a virtual CPU is not charged to any process, so this counts the
    work done, not the wait for a CPU."""
    ticks = 0
    for pid in process_tree(root):
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak memory (PSS) of a process tree, sampled every ``interval``
    seconds by a separate process, so the sampling neither holds the
    client's interpreter lock nor counts in the tree.

    The root's PSS when sampling starts is the baseline: the figure is the
    JVM and its Python workers plus the root's growth past that point, so
    memory the benchmark held before (its inputs and oracle) is left out.
    """

    def __init__(self, root: int, interval: float = 0.5):
        self.peak_kb = 0
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(root), str(interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.pid = self._proc.pid

    def stop(self) -> None:
        """Stop sampling and wait for the sampler to exit."""
        if self._proc.returncode is None:
            out, _ = self._proc.communicate(timeout=30)
            self.peak_kb = int(out.split()[-1]) if out.strip() else 0

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _sample(root: int, interval: float) -> None:
    """Sampler process: runs until its standard input closes, then prints
    the peak in KiB."""
    me = os.getpid()
    base = _pss_kb(root)
    peak = 0
    while True:
        total = sum(_pss_kb(p) for p in process_tree(root) if p != me) - base
        peak = max(peak, total)
        if select.select([sys.stdin], [], [], interval)[0]:
            if not sys.stdin.read(1):
                break
    print(peak)


if __name__ == "__main__":
    _sample(int(sys.argv[1]), float(sys.argv[2]))
