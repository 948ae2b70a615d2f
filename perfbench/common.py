"""Pieces every workload shares: timed calls, failure counts, percentiles,
CPU time."""

from __future__ import annotations

import os
import statistics
import time
import traceback

TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    head, _, tail = text.rpartition(")")
    return head.partition("(")[2], tail.split()


def _ticks(fields: list[str]) -> int:
    return sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime


_jit_threads: dict[int, list[str]] = {}  # JVM pid -> its JIT compiler threads' stat files


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. ``run.py`` turns off
    HotSpot's dynamic compiler threads, so these threads live as long as
    the JVM and their time can be taken out of the process's."""
    if pid not in _jit_threads:
        paths = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            path = f"/proc/{pid}/task/{tid}/stat"
            if _stat(path)[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                paths.append(path)
        _jit_threads[pid] = paths
    return sum(_ticks(_stat(path)[1]) for path in _jit_threads[pid])


def cpu_split() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and every
    process below it (the Spark driver JVM and its Python workers,
    including those that have exited and been waited for), as (all but the
    JIT compiler threads, the JIT compiler threads). Time the hypervisor
    gave to other machines is in neither."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    jvms: set[int] = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            name, fields = _stat(f"/proc/{entry}/stat")
        except OSError:
            continue  # exited since the listing
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = _ticks(fields)
        if name == "java":
            jvms.add(pid)
    root = os.getpid()
    total = jit = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
            jit += _jit_ticks(pid) if pid in jvms else 0
    return (total - jit) / TICK, jit / TICK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it,
    leaving out the JVM's JIT compiler threads: they still compile the hot
    paths minutes after the JVM starts, and their share of a pass varies
    from run to run."""
    return cpu_split()[0]


class InjectedFailure(RuntimeError):
    """Raised on purpose by a benchmark handle; never counted as failed."""


class Calls:
    """Wall and CPU time (``tree_cpu_s``) of each timed call, grouped by
    kind, plus the counts of attempted and failed operations. A call that
    raises an exception the workload did not inject counts as failed, and
    so does a failed check. The call made to deliver an injected failure is
    left out of both."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, kind: str, fn, *args, injected: bool = False, **kwargs):
        """Run ``fn`` in a span named ``kind``; returns its result, or None
        if it raised. With ``injected`` the call must raise."""
        cpu = tree_cpu_s()
        start = time.perf_counter()
        try:
            with self.tracer.span(kind):
                out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — counted and reported below
            if injected and InjectedFailure.__name__ in str(exc):
                return None
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        wall = time.perf_counter() - start
        cpu = tree_cpu_s() - cpu
        if injected:
            self.failed += 1
            self.errors.append(f"{kind}: injected failure did not surface")
            return out
        self.attempted += 1
        self.walls.setdefault(kind, []).append(wall)
        self.cpus.setdefault(kind, []).append(cpu)
        return out

    def clear(self) -> None:
        """Forget the times so far (the warm pass's); keep the counts."""
        self.walls.clear()
        self.cpus.clear()

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")
        return ok

    def p50(self, kind: str) -> float:
        return statistics.median(self.walls[kind])

    def cpu_p50(self, kinds: list[str]) -> float:
        return statistics.median(c for k in kinds for c in self.cpus.get(k, []))


def weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    """Value below which a share ``q`` of the total weight lies."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    seen = 0
    for value, weight in pairs:
        seen += weight
        if seen >= q * total:
            return value
    return pairs[-1][0]


def run_passes(seconds: float, one_pass) -> float:
    """Closed loop: call ``one_pass(i)`` until ``seconds`` have gone by,
    at least once. Returns the seconds measured."""
    start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - start < seconds:
        one_pass(i)
        i += 1
    return time.perf_counter() - start
