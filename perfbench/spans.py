"""Per-layer tracing, done entirely from outside the library.

Each layer is one module of ``astro_vectordb_spark``.  ``Tracer.install``
replaces the public functions of those modules (and the public methods
of the facade handle classes) with wrappers that open a span around the
call.  A span records its name, layer, start, end, parent and request
id; while it is open the Spark job group is the span id, so every job
maps to the innermost span that started it.  A call into the layer that
is already the innermost one opens no new span.

Spans stay in memory.  When the run ends, ``Tracer.layer_metrics``
joins them with job, stage and task counts from ``statusTracker()`` and
with task time, shuffle bytes and job intervals from the Spark event log
(enabled only for traced runs), and folds everything into per-layer
figures.
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "astro_vectordb_spark"

# layer name -> module, in reporting order
LAYERS = {
    "search": f"{PKG}.search",
    "index": f"{PKG}.index",
    "neardup": f"{PKG}.neardup",
    "functions.embed": f"{PKG}.functions.embed",
    "operators.topk": f"{PKG}.operators.topk",
    "operators.hnsw": f"{PKG}.operators.hnsw",
    "operators.keyword": f"{PKG}.operators.keyword",
    "operators.dedup": f"{PKG}.operators.dedup",
    "sources.vault": f"{PKG}.sources.vault",
}

# the public handle classes whose methods are the facade's entry points
HANDLE_CLASSES = {"index": "MaintainedIndex", "neardup": "NearDupIndex"}

LAYER_FIELDS = [
    ("calls", "count", "higher"),
    ("busy_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("driver_only_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("failed", "count", "lower"),
]
# fields measured in Spark, not on the driver
SPARK_FIELDS = ("jobs", "tasks", "task_s", "shuffle_bytes")

# layers whose public functions only build lazy plans in these
# workloads: the jobs that run those plans start at the caller's
# ``collect()`` or write, so they belong to the caller's span and the
# layer's Spark fields would always read 0.  Only their driver-side
# fields are reported.
PLAN_ONLY = ("functions.embed", "operators.topk", "operators.dedup")

# ratios, each reported with its base
RATIO_METRICS = [
    ("operators.hnsw.cache_hits", "count", "higher"),
    ("operators.hnsw.cache_lookups", "count", "higher"),
    ("operators.hnsw.cache_hit_ratio", "ratio", "higher"),
    ("sources.vault.bytes_written", "bytes", "lower"),
    ("sources.vault.user_bytes", "bytes", "higher"),
    ("sources.vault.bytes_written_per_user_byte", "ratio", "lower"),
]


def layer_metric_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [(f"{layer}.{n}", u, b) for layer in LAYERS
           for n, u, b in LAYER_FIELDS
           if not (layer in PLAN_ONLY and n in SPARK_FIELDS)]
    return out + RATIO_METRICS


# vault functions that only read; every other vault call is checked for
# the bytes it wrote
_VAULT_READS = ("load_", "detect", "hnsw_index_stats", "max_partition")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    error: bool = False
    bytes_written: int = 0
    children: list = field(default_factory=list)


class _Traced:
    """A traced module-level function.  Pickles as the original, so a
    Spark UDF closure that refers to it ships the untraced function to
    the workers."""

    def __init__(self, tracer: "Tracer", layer: str, fn) -> None:
        self._tracer, self._layer, self.__wrapped__ = tracer, layer, fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self.__name__,
                                 self.__wrapped__, args, kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self.__module__], self.__name__))


def _method(tracer: "Tracer", layer: str, cls_name: str, fn):
    def traced(*args, **kwargs):
        return tracer.call(layer, f"{cls_name}.{fn.__name__}", fn, args,
                           kwargs)

    traced.__wrapped__ = fn
    traced.__name__ = fn.__name__
    traced.__doc__ = fn.__doc__
    return traced


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]


class Tracer:
    """Span recorder.  Disabled tracers cost one attribute check per
    benchmark call and install nothing."""

    def __init__(self, enabled: bool, work_root: str | None = None) -> None:
        self.enabled = enabled
        self.work_root = work_root
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None
        self.cache_accums = None
        self.user_bytes = 0

    # -- installation ---------------------------------------------------
    def install(self, spark) -> None:
        """Wrap every layer's public functions and bind the wrappers
        wherever the library had imported the originals."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self.cache_accums = (self._sc.accumulator(0),
                             self._sc.accumulator(0))
        swapped = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != modname):
                    continue
                wrapper = _Traced(self, layer, obj)
                setattr(mod, name, wrapper)
                swapped[id(obj)] = wrapper
            cls_name = HANDLE_CLASSES.get(layer)
            if cls_name:
                cls = getattr(mod, cls_name)
                for name, obj in list(vars(cls).items()):
                    if not name.startswith("_") and inspect.isfunction(obj):
                        setattr(cls, name, _method(self, layer, cls_name, obj))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                w = swapped.get(id(obj))
                if w is not None and not isinstance(obj, _Traced):
                    setattr(mod, name, w)
        self._wrap_hnsw_accums()

    def _wrap_hnsw_accums(self) -> None:
        """Pass the cache-hit accumulators through the public
        ``cache_accums`` argument of ``hnsw_query_shards``."""
        mod = importlib.import_module(LAYERS["operators.hnsw"])
        traced = mod.hnsw_query_shards
        query, accums = traced.__wrapped__, self.cache_accums

        def with_accums(*args, **kwargs):
            if kwargs.get("cache_accums") is None:
                kwargs["cache_accums"] = accums
            return query(*args, **kwargs)

        with_accums.__name__ = "hnsw_query_shards"
        traced.__wrapped__ = with_accums

    # -- spans ----------------------------------------------------------
    def call(self, layer, name, fn, args, kwargs):
        cur = self._stack[-1] if self._stack else None
        if cur is not None and cur.layer == layer:
            return fn(*args, **kwargs)
        span = self._open(layer, name)
        try:
            return fn(*args, **kwargs)
        except BaseException:
            span.error = True
            raise
        finally:
            self._close(span)

    def span(self, layer: str, name: str):
        """Context manager for a benchmark call into ``layer``: the
        span covers the call and the ``collect()`` that runs its plan."""
        return _SpanContext(self, layer, name)

    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        span = Span(
            id=sid, name=f"{layer}.{name}", layer=layer,
            parent=parent.id if parent else None,
            request=parent.request if parent else sid,
            start=time.time(),
        )
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(str(sid), span.name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self._sc.setJobGroup(str(parent.id), parent.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        if span.layer == "sources.vault" and not span.name.split(".")[-1] \
                .startswith(_VAULT_READS):
            span.bytes_written = self._bytes_since(span.start)

    def _bytes_since(self, t0: float) -> int:
        """Bytes of files under the work root modified since ``t0``."""
        total = 0
        for root, _, files in os.walk(self.work_root):
            for f in files:
                try:
                    st = os.stat(os.path.join(root, f))
                except OSError:
                    continue
                if st.st_mtime >= t0 - 0.001:
                    total += st.st_size
        return total

    # -- reporting ------------------------------------------------------
    def job_counts(self) -> dict[str, dict]:
        """Per span id: jobs, tasks and failures from statusTracker().
        Call before the session stops."""
        st = self._sc.statusTracker()
        out = {}
        for span in self.spans:
            jobs = st.getJobIdsForGroup(str(span.id))
            tasks = failed = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                failed += info.status == "FAILED"
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None:
                        tasks += sinfo.numTasks
                        failed += sinfo.numFailedTasks
            out[str(span.id)] = {"jobs": len(jobs), "tasks": tasks,
                                 "failed": failed}
        return out

    def records(self) -> list[dict]:
        """Every span as a plain dict, for the run's config line."""
        return [{"id": s.id, "name": s.name, "layer": s.layer,
                 "parent": s.parent, "request": s.request,
                 "start": s.start, "end": s.end, "error": s.error}
                for s in self.spans]

    def layer_metrics(self, counts: dict, events: dict) -> dict[str, float]:
        """Fold spans, status-tracker counts and event-log figures into
        the per-layer metrics."""
        job_iv = events["job_intervals"]  # group -> [(start, end)]
        subtree_jobs: dict[int, list] = {}

        def jobs_under(span: Span) -> list:
            if span.id not in subtree_jobs:
                iv = list(job_iv.get(str(span.id), []))
                for c in span.children:
                    iv.extend(jobs_under(c))
                subtree_jobs[span.id] = iv
            return subtree_jobs[span.id]

        out: dict[str, float] = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            f = dict.fromkeys(n for n, _, _ in LAYER_FIELDS)
            f.update(calls=len(spans), jobs=0, tasks=0, failed=0,
                     task_s=0.0, shuffle_bytes=0, self_s=0.0,
                     driver_only_s=0.0)
            f["busy_s"] = union_length((s.start, s.end) for s in spans)
            for s in spans:
                dur = s.end - s.start
                f["self_s"] += dur - union_length(
                    (c.start, c.end) for c in s.children)
                f["driver_only_s"] += dur - union_length(
                    _clip(jobs_under(s), s.start, s.end))
                c = counts.get(str(s.id), {})
                f["jobs"] += c.get("jobs", 0)
                f["tasks"] += c.get("tasks", 0)
                f["failed"] += c.get("failed", 0) + int(s.error)
                g = events["groups"].get(str(s.id), {})
                f["task_s"] += g.get("task_s", 0.0)
                f["shuffle_bytes"] += g.get("shuffle_bytes", 0)
            for name, value in f.items():
                if not (layer in PLAN_ONLY and name in SPARK_FIELDS):
                    out[f"{layer}.{name}"] = value
        hits = self.cache_accums[0].value if self.cache_accums else 0
        misses = self.cache_accums[1].value if self.cache_accums else 0
        out["operators.hnsw.cache_hits"] = hits
        out["operators.hnsw.cache_lookups"] = hits + misses
        out["operators.hnsw.cache_hit_ratio"] = (
            hits / (hits + misses) if hits + misses else 0.0)
        written = sum(s.bytes_written for s in self.spans
                      if s.layer == "sources.vault")
        out["sources.vault.bytes_written"] = written
        out["sources.vault.user_bytes"] = self.user_bytes
        out["sources.vault.bytes_written_per_user_byte"] = (
            written / self.user_bytes if self.user_bytes else 0.0)
        return out


class _SpanContext:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.tracer, self.layer, self.name = tracer, layer, name
        self.span = None

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer._open(self.layer, self.name)
        return self

    def __exit__(self, exc_type, exc, tb):
        if self.span is not None:
            self.span.error = exc_type is not None
            self.tracer._close(self.span)
        return False


def read_event_log(log_dir: str) -> dict:
    """Task time, shuffle bytes and job intervals per job group, from
    the (uncompressed) Spark event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    job_start: dict[int, tuple[str, float]] = {}
    job_intervals: dict[str, list] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job_start[ev["Job ID"]] = (grp, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerJobEnd":
                    grp, t0 = job_start.get(ev["Job ID"], (None, None))
                    if grp is not None:
                        job_intervals.setdefault(grp, []).append(
                            (t0 / 1000.0, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if grp is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    if grp is None or not tm:
                        continue
                    g = groups.setdefault(grp, {"task_s": 0.0,
                                                "shuffle_bytes": 0})
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                           or {}).get(
                                               "Shuffle Bytes Written", 0)
    return {"groups": groups, "job_intervals": job_intervals}
