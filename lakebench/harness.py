"""Closed-loop runner, host probes and statistics for the lakehouse benchmark.

One client thread issues the next operation only after the previous one
returns. Operations are grouped into *periods*: one cycle (a commit,
then the workload's scans, pruned scans and lookups) followed by one
``compact``. Warm-up and the
timed window both run whole periods, so every window samples each LSM
state of a period in the same proportion.
"""

from __future__ import annotations

import hashlib
import os
import resource
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

OPS = ("commit", "scan", "pruned_scan", "lookup", "compact")


@dataclass
class Op:
    """One operation of the closed loop. ``run`` does the work and is
    timed; ``check`` compares its result with the workload's oracle and
    is not timed. ``rows`` are the rows a successful op acknowledges."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: int = 0
    extra: Callable[[], dict] | None = None  # counters the traced run adds to the op


@dataclass
class Sample:
    op: str
    seconds: float
    period: int
    ok: bool
    traced: bool
    rows: int  # rows acknowledged: the op's rows when its result checked correct


@dataclass
class Recorder:
    """Every completed op lands here, whether or not its result checks
    correct, so a later correctness fix changes the failure count and
    not the sample set. An op that raises is a failure with no sample."""

    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    raised: int = 0
    first_error: str | None = None


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float | None, float | None]:
    """Highest of p99.9/p99/p95/p90/p75 with at least ten samples
    beyond it, as (percentile, value); (None, None) if none qualifies."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            rank = min(n - 1, max(0, int(-(-p * n // 100)) - 1))  # nearest rank
            return p, xs[rank]
    return None, None


# --- host ------------------------------------------------------------------


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def driver_mem_gb() -> int:
    """Driver heap sized from the host: a quarter of physical memory,
    between 2 and 8 GiB (the engine's own default is a fixed 16g)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        return max(2, min(8, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def cpu_canary() -> float:
    """Seconds for a fixed single-core hashing loop; on a settled host it
    reads the same run to run, so a slow reading flags contention."""
    buf = b"lakebench" * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(1500):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError):
        return 0, 0


class HostQuality:
    """CPU canary before and after the run plus the hypervisor steal share
    over it. A run is flagged degraded when the canary slowed by more than
    25% or steal exceeded 5% of CPU time."""

    def __init__(self):
        self.canary_before = min(cpu_canary() for _ in range(3))
        self.cpu0 = cpu_times()

    def finish(self) -> dict:
        after = min(cpu_canary() for _ in range(3))
        s1, t1 = cpu_times()
        steal = (s1 - self.cpu0[0]) / (t1 - self.cpu0[1]) if t1 > self.cpu0[1] else 0.0
        degraded = after > 1.25 * self.canary_before or steal > 0.05
        return {
            "canary_before_s": round(self.canary_before, 5),
            "canary_after_s": round(after, 5),
            "steal_share": round(steal, 5),
            "degraded": degraded,
        }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the JVM it launched, in MB."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (own_kb + jvm_kb) / 1024.0


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# --- closed loop -----------------------------------------------------------


class Loop:
    """Runs periods of a workload, timing each op and checking it after
    the clock stops. ``on_op`` (if set) sees every op with its perf
    counter interval; the traced run uses it to attribute spans."""

    def __init__(self, workload, recorder: Recorder, on_op=None, after_op=None):
        self.wl = workload
        self.rec = recorder
        self.on_op = on_op
        self.after_op = after_op

    def run_op(self, op: Op, period: int, timed: bool, traced: bool) -> float:
        if self.on_op is not None:
            self.on_op("start", op, traced)
        t0 = time.perf_counter()
        try:
            result = op.run()
        except Exception as e:  # an op that raises completes nothing
            dt = time.perf_counter() - t0
            if self.on_op is not None:
                self.on_op("end", op, traced)
            if timed:
                self.rec.attempted += 1
                self.rec.failed += 1
                self.rec.raised += 1
                self.rec.first_error = self.rec.first_error or f"{op.name}: {e!r}"[:300]
            return dt
        dt = time.perf_counter() - t0
        if self.on_op is not None:
            self.on_op("end", op, traced)
        ok = bool(op.check(result))
        if self.after_op is not None:
            self.after_op(op, timed)
        if timed:
            self.rec.attempted += 1
            self.rec.samples.append(Sample(op.name, dt, period, ok, traced, op.rows if ok else 0))
            if not ok:
                self.rec.failed += 1
                self.rec.first_error = self.rec.first_error or f"{op.name} wrong in period {period}"
        return dt

    def run_period(self, period: int, timed: bool, traced: bool = False) -> dict[str, list[float]]:
        by_op: dict[str, list[float]] = {}
        for op in self.wl.cycle_ops(period) + [self.wl.compact_op(period)]:
            by_op.setdefault(op.name, []).append(self.run_op(op, period, timed, traced))
        return by_op

    def warm_up(self, budget_s: float, tolerance: float = 0.10, min_periods: int = 2,
                max_periods: int = 1000) -> dict:
        """Untimed periods until no op's per-period median fell by more
        than ``tolerance`` against the period before (the per-op rolling
        median stopped falling), or until another period would overrun
        ``budget_s``; never fewer than ``min_periods``."""
        t0 = time.perf_counter()
        history: list[dict[str, float]] = []
        period_s: list[float] = []
        plateau = False
        while True:
            p0 = time.perf_counter()
            by_op = self.run_period(len(history), timed=False)
            period_s.append(time.perf_counter() - p0)
            history.append({k: statistics.median(v) for k, v in by_op.items()})
            if len(history) >= 2:
                prev, cur = history[-2], history[-1]
                plateau = all(cur[k] >= (1 - tolerance) * prev[k] for k in cur if k in prev)
            if len(history) < min_periods:
                continue
            if (plateau or len(history) >= max_periods
                    or time.perf_counter() - t0 + period_s[-1] > budget_s):
                break
        return {
            "periods": len(history),
            "plateau": plateau,
            "seconds": round(time.perf_counter() - t0, 3),
            "period_s": period_s,
            "medians": [{k: round(v, 4) for k, v in h.items()} for h in history],
        }
