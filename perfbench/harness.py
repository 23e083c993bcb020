"""Closed-loop op runner, statistics and process-tree memory sampling.

One client issues one op at a time.  An op is a call into the package that
returns a DataFrame; the runner times three steps of every op:

- build:   the call itself, up to the returned DataFrame (eager checkpoints
           and stream drains run their Spark jobs here);
- plan:    forcing ``queryExecution().executedPlan()`` (Catalyst analysis,
           optimization and physical planning; the action below reuses
           the same QueryExecution, so nothing is planned twice);
- exec:    ``collect()``.

The same three steps run with tracing on and off; tracing only adds span
records, a stream listener and the status-store read after the measured
phase.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from spans import Tracer


@dataclass
class Op:
    name: str  # op kind, e.g. "top_miners" or "balance_upsert"
    build: Callable[[Any], Any]  # spark -> DataFrame
    point: bool = False  # counts toward point_p50_s
    scan_table: str | None = None  # the table a full-range scan decodes
    blocks: int = 0  # chain blocks this op fetches over RPC
    range_rows: int = 0  # rows inside a point lookup's block range
    params: dict = field(default_factory=dict)


@dataclass
class OpRun:
    op: Op
    span: str
    start: float
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    rows: list | None = None
    columns: list | None = None
    error: str | None = None
    ok: bool = False
    cycle: int = 0
    phases: list = field(default_factory=list)  # (span id, start, end)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.plan_s + self.exec_s

    @property
    def end(self) -> float:
        return self.start + self.wall_s


def run_op(spark, op: Op, tracer: Tracer) -> OpRun:
    span = tracer.new_id("op")
    run = OpRun(op, span, time.time())
    spark.sparkContext.setJobGroup(span, op.name)
    t0 = time.perf_counter()
    try:
        df = op.build(spark)
        t1 = time.perf_counter()
        run.build_s = t1 - t0
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        run.plan_s = t2 - t1
        run.rows = [tuple(r) for r in df.collect()]
        run.exec_s = time.perf_counter() - t2
        run.columns = df.columns
    except Exception as e:  # counted as a failed op
        run.error = f"{type(e).__name__}: {str(e)[:300]}"
        if not run.build_s:
            run.build_s = time.perf_counter() - t0
    tracer.add("op", run.start, run.end, None, span, kind=op.name, **op.params)
    t = run.start
    for name, d in (("build", run.build_s), ("plan", run.plan_s), ("exec", run.exec_s)):
        run.phases.append((tracer.add(name, t, t + d, span), t, t + d))
        t += d
    return run


def phase_of(run: OpRun, t: float) -> str:
    """The span id of the op phase (build/plan/exec) running at time t."""
    for span, start, end in run.phases:
        if start <= t <= end:
            return span
    return run.span


def run_cycles(spark, make_cycle, cycles: int, tracer: Tracer, hard_stop: float):
    """``cycles`` whole cycles of the op mix, so every run of a workload
    issues the same ops in the same proportions (the seed only picks
    parameters and order).  ``hard_stop`` (a perf_counter deadline) cuts
    the loop short so a pathologically slow program cannot overrun the
    run's time limit."""
    runs: list[OpRun] = []
    t0 = time.perf_counter()
    for i in range(cycles):
        for op in make_cycle(i):
            if time.perf_counter() > hard_stop:
                return runs, time.perf_counter() - t0
            runs.append(run_op(spark, op, tracer))
            runs[-1].cycle = i
    return runs, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def cycle_median(runs) -> float:
    """Median over cycles of each cycle's median op wall time.  A cycle
    holds one op of every kind, so this is the typical op of the mix; a
    slow op can shift its own cycle's median but not the run's, where
    the pooled median can sit at the edge of the gap between the fast
    and the slow kinds and jump across it."""
    cycles: dict[int, list] = {}
    for r in runs:
        cycles.setdefault(r.cycle, []).append(r.wall_s)
    return median(median(w) for w in cycles.values())


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile rank, n): the highest percentile with at least
    ten samples beyond it, i.e. the 11th-largest sample, at rank
    100 * (n - 10) / n.  Up to 20 samples that rank would be at or under
    the median, so the maximum is reported instead (rank 100)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (1, v)
    if isinstance(v, (list, tuple)):
        return (2, tuple(_norm(x) for x in v))
    if type(v).__name__ == "Decimal":
        return (3, str(v))
    if isinstance(v, bool):
        return (4, int(v))
    if isinstance(v, int):
        return (1, v)
    return (5, str(v))


def _close(a, b, rel: float) -> bool:
    if a == b:
        return True
    if a[0] == 1 and b[0] == 1 and isinstance(a[1], (int, float)):
        if isinstance(b[1], (int, float)):
            return abs(a[1] - b[1]) <= rel * max(1.0, abs(a[1]), abs(b[1]))
    if a[0] == 2 and b[0] == 2 and len(a[1]) == len(b[1]):
        return all(_close(x, y, rel) for x, y in zip(a[1], b[1]))
    return False


def same_rows(got, want, rel: float = 1e-9, ordered: bool = False) -> bool:
    """Multiset (or, with ``ordered``, list) equality of row tuples, with a
    relative tolerance on floats: double sums differ in their last bits
    when the engine adds in another order."""
    g = [tuple(_norm(v) for v in r) for r in got]
    w = [tuple(_norm(v) for v in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    return all(
        len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited, SIGKILL what is left at
    the timeout and wait for that too.  Python workers are the JVM's
    children and get re-parented when it exits, so the caller lists them
    before stopping it."""
    import signal

    deadline = time.time() + timeout
    while any(_running(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 5
    while any(_running(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and all its descendants (JVM,
    Python workers, the fake node), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20
