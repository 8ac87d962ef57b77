"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pytest

from perfbench import gen, metrics, spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _inputs_digest(seed: int) -> str:
    corpus, rng = gen.make_corpus(seed, 300, 120)
    h = hashlib.sha256()
    for arr in (corpus.vec_ids, corpus.vectors, corpus.doc_ids,
                gen.perturbed_queries(rng, corpus.vectors, 16)):
        h.update(np.ascontiguousarray(arr).tobytes())
    for t in corpus.texts + corpus.words + gen.text_queries(
            rng, corpus.texts, 8):
        h.update(t.encode())
    h.update(json.dumps(corpus.dup_pairs).encode())
    return h.hexdigest()


def test_same_seed_gives_identical_inputs():
    assert _inputs_digest(7) == _inputs_digest(7)
    assert _inputs_digest(7) != _inputs_digest(8)


def test_planted_near_duplicates_are_recorded():
    corpus, _ = gen.make_corpus(3, 10, 400, dup_rate=0.2)
    assert 40 <= len(corpus.dup_pairs) <= 120
    text = dict(zip(corpus.doc_ids.tolist(), corpus.texts))
    for orig, copy in corpus.dup_pairs:
        a, b = text[orig].split(), text[copy].split()
        assert orig < copy and len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= len(a) // 5


def test_exact_topk_orders_by_score_then_id():
    ids = np.array([5, 3, 9, 1])
    vecs = np.array([[1, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float32)
    got, scores = gen.exact_topk(ids, vecs, np.array([1.0, 0.0]), k=3)
    assert got.tolist() == [3, 5, 1]
    assert scores[0] == pytest.approx(1.0)


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_and_workload_names():
    b = _benchmark()
    names = ([w["name"] for w in b["workloads"]]
             + [m["name"] for m in b["end_to_end"] + b["per_layer"]])
    assert all(NAME.match(n) for n in names), names
    assert len(set(names)) == len(names)
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
               for m in b["end_to_end"] + b["per_layer"])


def test_benchmark_json_matches_the_code():
    from perfbench.workloads import WORKLOADS

    b = _benchmark()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == \
        metrics.END_TO_END
    layer = {n: u for n, u, _ in spans.layer_metric_names()}
    layer.update({f"trace.{n}": u for n, u in
                  {**metrics.END_TO_END, **metrics.WALL}.items()})
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layer


@pytest.mark.parametrize("n", range(1, 120))
def test_tail_keeps_ten_samples_beyond(n):
    xs = list(range(n))
    i = metrics.tail_rank(n)
    if n <= metrics.MIN_BEYOND:
        assert i is None
        assert metrics.tail(xs) == (n - 1, 100.0)
        return
    value, pct = metrics.tail(xs)
    beyond = sum(x > value for x in xs)
    assert beyond == metrics.MIN_BEYOND  # at least ten beyond ...
    assert sum(x > i + 1 for x in xs) < metrics.MIN_BEYOND  # ... and highest
    assert pct == pytest.approx(100.0 * (n - metrics.MIN_BEYOND) / n)


def test_a_forced_fault_counts_as_failed():
    rec = metrics.Recorder()

    def boom():
        raise RuntimeError("forced fault")

    assert rec.call("vector", "search", "ok", lambda: 1) == 1
    assert rec.call("vector", "search", "boom", boom) is None
    assert (rec.attempted, rec.failed) == (2, 1)
    assert len(rec.timings["vector"]) == 1
    assert "forced fault" in rec.errors[0]


def test_a_wrong_result_counts_as_failed():
    rec = metrics.Recorder()
    rows = [{"vec_id": 1, "score": 0.5}, {"vec_id": 2, "score": 0.9}]
    rec.call("vector", "search", "unsorted", lambda: rows,
             lambda r: metrics.check_topk(r, 10, {1, 2}, "vec_id"))
    rec.call("vector", "search", "dead id", lambda: rows[:1],
             lambda r: metrics.check_topk(r, 10, {2}, "vec_id"))
    rec.call("vector", "search", "too many", lambda: rows[:1] * 11,
             lambda r: metrics.check_topk(r, 10, {1}, "vec_id"))
    rec.call("vector", "search", "good", lambda: rows[::-1],
             lambda r: metrics.check_topk(r, 10, {1, 2}, "vec_id"))
    assert (rec.attempted, rec.failed) == (4, 3)


def test_union_length():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([]) == 0


def test_layer_metrics_self_and_driver_only_time():
    tr = spans.Tracer(enabled=True)
    outer = spans.Span(1, "search.search", "search", None, 1, 0.0, 10.0)
    inner = spans.Span(2, "operators.hnsw.q", "operators.hnsw", 1, 1,
                       2.0, 6.0)
    outer.children.append(inner)
    tr.spans = [outer, inner]
    events = {
        # one job under the outer span, one under the inner span
        "job_intervals": {"1": [(7.0, 9.0)], "2": [(3.0, 5.0)]},
        "groups": {"1": {"task_s": 1.5, "shuffle_bytes": 10},
                   "2": {"task_s": 4.0, "shuffle_bytes": 0}},
    }
    counts = {"1": {"jobs": 1, "tasks": 4, "failed": 0},
              "2": {"jobs": 1, "tasks": 2, "failed": 1}}
    m = tr.layer_metrics(counts, events)
    assert m["search.calls"] == 1 and m["search.busy_s"] == 10
    assert m["search.self_s"] == 6  # 10 minus the child's 4
    assert m["search.driver_only_s"] == 6  # 10 minus both jobs' 4
    assert m["search.task_s"] == 1.5 and m["search.shuffle_bytes"] == 10
    assert m["operators.hnsw.self_s"] == 4
    assert m["operators.hnsw.driver_only_s"] == 2
    assert m["operators.hnsw.failed"] == 1
    assert m["index.calls"] == 0 and m["index.busy_s"] == 0


def test_summary_survives_a_run_where_every_call_failed():
    rec = metrics.Recorder()

    def boom():
        raise RuntimeError("forced fault")

    rec.call("vector", "search", "search[hnsw]", boom)
    out = rec.summary(measured_s=2.0)
    assert (rec.attempted, rec.failed) == (1, 1)
    assert out == {"call_p50_s": 2.0, "call_cpu_s": 2.0,
                   "calls_per_s": 0.0, "recall_at_10": 0.0}


def test_busy_cpu_counts_a_child_process():
    import subprocess
    import sys

    before = metrics.busy_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"],
                   check=True)
    assert metrics.busy_cpu_s() - before >= 0.25


def test_measure_runs_at_least_min_steps():
    from perfbench.workloads import measure

    class Fake:
        min_steps = 3
        steps = 0

        def step(self):
            self.steps += 1

    wl = Fake()
    measure(wl, seconds=0.0)
    assert wl.steps == 3


def test_steal_share_reads_the_eighth_counter():
    from perfbench import run

    before = [100, 0, 10, 500, 0, 0, 0, 40, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 50, 0, 0]
    assert run._steal_share(before, after) == pytest.approx(10 / 100)
    assert run._steal_share(None, after) is None
