"""Timing, counting and correctness bookkeeping for one benchmark run."""

from __future__ import annotations

import os
import statistics
import time
import traceback

# the end-to-end metrics every workload reports: name -> unit
END_TO_END = {
    "setup_s": "s",
    "call_cpu_s": "s",
    "recall_at_10": "ratio",
    "space_amp": "ratio",
}
# wall-clock call figures: reported by every run but not gated, because
# host contention moves them more than a bound can allow (README.md)
WALL = {
    "call_p50_s": "s",
    "calls_per_s": "1/s",
}

MIN_BEYOND = 10


def tail_rank(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Index (0-based, ascending order) of the highest sample that still
    has at least ``min_beyond`` samples above it; None when ``n`` is too
    small for any."""
    i = n - 1 - min_beyond
    return i if i >= 0 else None


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``min_beyond`` samples beyond it.  With too few samples the
    maximum is returned and flagged by a percentile of 100."""
    xs = sorted(values)
    i = tail_rank(len(xs), min_beyond)
    if i is None:
        return xs[-1], 100.0
    return xs[i], 100.0 * (i + 1) / len(xs)


class CheckFailed(Exception):
    """A call returned, but its output broke a correctness rule."""


class Recorder:
    """Runs calls in a closed loop: each call (and the ``collect()`` that
    executes its plan) finishes before the next starts.  Every call is
    attempted; it fails when it raises or when its check raises."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.timings: dict[str, list[float]] = {}
        self.by_name: dict[str, list[float]] = {}
        self.cpu_by_name: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.recall: list[float] = []

    def call(self, cls: str, layer: str, name: str, fn, check=None):
        """Time ``fn()`` as one call named ``name`` of class ``cls``
        ('vector', 'text', 'write' or 'check'), then run
        ``check(result)``.  Returns the result, or None when the call
        failed."""
        self.attempted += 1
        cpu0 = busy_cpu_s()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None and self.tracer.enabled:
                with self.tracer.span(layer, name):
                    out = fn()
            else:
                out = fn()
        except Exception:
            self._fail(name, traceback.format_exc(limit=3))
            return None
        dt = time.perf_counter() - t0
        self.timings.setdefault(cls, []).append(dt)
        self.by_name.setdefault(name, []).append(dt)
        self.cpu_by_name.setdefault(name, []).append(busy_cpu_s() - cpu0)
        if check is not None:
            try:
                check(out)
            except Exception as e:  # CheckFailed or a broken result shape
                self._fail(name, f"{type(e).__name__}: {e}")
                return None
        return out

    def reset_timings(self) -> None:
        """Forget timings and recall; failures stay counted."""
        self.timings.clear()
        self.by_name.clear()
        self.cpu_by_name.clear()
        self.recall.clear()

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{name}: {why}")

    def all_timings(self) -> list[float]:
        return [t for ts in self.timings.values() for t in ts]

    def summary(self, measured_s: float) -> dict[str, float]:
        """``call_p50_s`` is the median latency of each call name, and
        ``call_cpu_s`` the median CPU time, each combined over the names
        by geometric mean: a plain median over a handful of calls of
        unlike cost jumps between them."""
        calls = self.all_timings()

        def combined(by_name):
            return statistics.geometric_mean(
                statistics.median(xs) for xs in by_name.values())

        return {
            # with no successful call the whole window stands in
            "call_p50_s": combined(self.by_name) if self.by_name
            else measured_s,
            "call_cpu_s": combined(self.cpu_by_name) if self.cpu_by_name
            else measured_s,
            "calls_per_s": len(calls) / measured_s,
            # no ANN read passed its check: the failures already make
            # the run incorrect, so report the worst recall
            "recall_at_10": (statistics.fmean(self.recall) if self.recall
                             else 0.0),
        }

    def per_name(self) -> dict[str, dict]:
        """Median latency and CPU time and sample count per call name,
        for the record."""
        return {name: {"p50_s": statistics.median(ts),
                       "cpu_s": statistics.median(self.cpu_by_name[name]),
                       "n": len(ts)}
                for name, ts in sorted(self.by_name.items())}


def check_topk(rows, k: int, live: set[int], id_col: str) -> list[int]:
    """The shape every top-k read must have: at most ``k`` rows, scores
    descending, only live ids.  Returns the ids in order."""
    if len(rows) > k:
        raise CheckFailed(f"{len(rows)} rows > k={k}")
    scores = [float(r["score"]) for r in rows]
    if any(b > a for a, b in zip(scores, scores[1:])):
        raise CheckFailed(f"scores not descending: {scores}")
    ids = [int(r[id_col]) for r in rows]
    dead = [i for i in ids if i not in live]
    if dead:
        raise CheckFailed(f"ids not live: {dead[:5]}")
    return ids


def busy_cpu_s() -> float:
    """CPU seconds the machine has spent busy (user, nice, system, irq
    and softirq time over all its CPUs) according to /proc/stat, or 0.0
    where there is none.  Taken around a call on a machine that runs
    nothing else, the difference is the CPU time of the benchmark, the
    Spark JVM and its Python workers, including workers that exit
    during the call.  The kernel counts time the hypervisor steals
    apart, and waiting for a descheduled CPU is idle time, so host
    contention moves it far less than wall time."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0.0
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total

