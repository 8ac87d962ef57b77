"""Distributed HNSW tests: local-index correctness + sharded recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.hnsw import NumpyHNSW, hnsw_batch_topk
from astro_vectordb_spark.operators.topk import batch_topk


def test_numpy_hnsw_exactish_on_small_set():
    rng = np.random.RandomState(0)
    vecs = rng.randn(200, 16)
    idx = NumpyHNSW(dim=16, m=8, ef_construction=100)
    for i, v in enumerate(vecs):
        idx.add(i, v)
    # brute-force cosine oracle
    q = vecs[7]
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ (q / np.linalg.norm(q))
    exact = set(np.argsort(-sims)[:10])
    got = {uid for _, uid in idx.search(q, 10, ef=100)}
    recall = len(got & exact) / 10
    assert recall >= 0.9, recall
    # self-query: top hit is itself with sim ~1
    top = idx.search(vecs[3], 1)[0]
    assert top[1] == 3 and abs(top[0] - 1.0) < 1e-9


def test_numpy_hnsw_levels_geometric():
    """The level draw must be geometric (the reference's selectLevel is
    broken and puts every node on the top level — SURVEY.md O13)."""
    idx = NumpyHNSW(dim=4, m=16)
    rng = np.random.RandomState(1)
    for i in range(300):
        idx.add(i, rng.randn(4))
    level0 = sum(1 for lv in idx.levels if lv == 0)
    assert level0 > 200  # ~ (1 - 1/ln(16)) of nodes at level 0
    assert max(idx.levels) <= 6


def test_hnsw_batch_topk_recall(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = batch_topk(embeddings, queries, k=10)
    approx = hnsw_batch_topk(
        embeddings, queries, k=10, ef_construction=100, ef_search=100, num_shards=4
    )
    e, a = {}, {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(a.get(q, set()) & e[q]) / len(e[q]) for q in e]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"sharded HNSW recall {avg} ({recalls})"


def test_hnsw_graph_persist_roundtrip(spark, embeddings, tmp_path):
    """Build -> save graph rows -> load -> query: same quality as the
    build-and-search path, metric preserved (unlike the reference)."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    graph = hnsw_build_shards(embeddings, num_shards=4, ef_construction=100)
    p = str(tmp_path / "hnsw")
    save_hnsw_index(graph, p, m=16, metric="cosine")
    g2, meta = load_hnsw_index(spark, p)
    assert meta["metric"] == "cosine" and meta["m"] == 16
    assert sorted(meta["shard_ids"]) == [0, 1, 2, 3]
    assert g2.count() == embeddings.count()
    # graph rows are well-formed: one entry point per shard
    entries = g2.filter(F.col("is_entry")).groupBy("shard_id").count().collect()
    assert all(r["count"] == 1 for r in entries)

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_query_shards(g2, queries, k=10, m=16, ef_search=100)
    exact = batch_topk(embeddings, queries, k=10)
    e, a = {}, {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in hits.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(a.get(q, set()) & e[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_hnsw_shard_union_covers_all_rows(spark, embeddings):
    """Every corpus row lives in exactly one shard: a query equal to a
    corpus vector always finds it (score 1.0) regardless of shard."""
    for probe in [0, 123, 456]:
        qv = embeddings.filter(F.col("vec_id") == probe).first()["embedding"]
        queries = spark.createDataFrame(
            [(0, [float(x) for x in qv])], "query_id long, query_vec array<float>"
        )
        hits = hnsw_batch_topk(embeddings, queries, k=3, num_shards=4).collect()
        assert hits[0]["vec_id"] == probe and abs(hits[0]["score"] - 1.0) < 1e-6


def test_hnsw_incremental_insert_persisted(spark, embeddings, tmp_path):
    """Build -> persist -> append a batch -> query: appended vectors are
    found with recall >= 0.9, WITHOUT a full rebuild (untouched shard
    partitions keep their files; only touched shards rewritten)."""
    import glob
    import os

    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    old = embeddings.filter(F.col("vec_id") < 400)
    new = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    n_new = new.count()
    assert n_new > 0

    graph = hnsw_build_shards(old, num_shards=4, ef_construction=100)
    p = str(tmp_path / "hnsw_inc")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    files_before = {
        d: set(glob.glob(os.path.join(p, "graph", d, "*.parquet")))
        for d in os.listdir(os.path.join(p, "graph"))
        if d.startswith("shard_id=")
    }

    touched = index.open(spark, p).append(new)
    assert touched  # at least one shard got rows

    # untouched shards kept their exact files
    untouched = [
        d for d in files_before
        if int(d.split("=")[1]) not in touched
    ]
    for d in untouched:
        now = set(glob.glob(os.path.join(p, "graph", d, "*.parquet")))
        assert now == files_before[d], f"untouched shard {d} was rewritten"

    g2, meta = load_hnsw_index(spark, p)
    assert g2.count() == embeddings.count()
    # still exactly one entry per shard
    entries = g2.filter(F.col("is_entry")).groupBy("shard_id").count().collect()
    assert all(r["count"] == 1 for r in entries)

    # queries AT the appended vectors find them (self-hit, score 1.0)
    probes = [r["vec_id"] for r in new.limit(5).collect()]
    queries = embeddings.filter(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_query_shards(g2, queries, k=10, m=16, ef_search=100)
    by_q = {}
    for r in hits.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in probes:
        assert q in by_q.get(q, set()), f"appended vector {q} not found"

    # recall vs exact over the merged corpus
    exact = batch_topk(embeddings, queries, k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(by_q.get(q, set()) & e[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_hnsw_query_shards_clustered_skips_shuffle(spark, embeddings, tmp_path):
    """Reading the shard-partitioned parquet and querying with
    clustered=True returns the same hits as the reshuffling path, with
    no Exchange on the graph side of the plan."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    graph = hnsw_build_shards(embeddings, num_shards=4, ef_construction=100)
    p = str(tmp_path / "hnsw_cl")
    save_hnsw_index(graph, p, m=16, metric="cosine")
    g2, meta = load_hnsw_index(spark, p)

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    shuffled = hnsw_query_shards(g2, queries, k=10, m=16, ef_search=100)
    fast = hnsw_query_shards(
        g2, queries, k=10, m=16, ef_search=100, clustered=True
    )
    a = sorted((r["query_id"], r["vec_id"]) for r in shuffled.collect())
    b = sorted((r["query_id"], r["vec_id"]) for r in fast.collect())
    assert a == b

    # the clustered plan must not reshuffle the graph before mapInPandas
    from astro_vectordb_spark.plans.explain import executed_plan

    text = executed_plan(fast)
    before_map = text.split("MapInPandas")[0] if "MapInPandas" in text else text
    assert "Exchange hashpartitioning(shard_id" not in before_map


def test_hnsw_append_is_idempotent(spark, embeddings, tmp_path):
    """Re-appending the same batch (foreachBatch retry semantics) does
    not duplicate nodes."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    old = embeddings.filter(F.col("vec_id") < 300)
    new = embeddings.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 350)
    ).select("vec_id", "embedding")
    graph = hnsw_build_shards(old, num_shards=2, ef_construction=64)
    p = str(tmp_path / "hnsw_idem")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    index.open(spark, p).append(new)
    index.open(spark, p).append(new)  # retry replay
    g, _ = load_hnsw_index(spark, p)
    assert g.count() == 350
    assert g.select("vec_id").distinct().count() == 350


def test_hnsw_rebalance_splits_oversized_shards(spark, embeddings, tmp_path):
    """An append-grown single shard splits into balanced shards; rows
    preserved, graphs well-formed, queries still find vectors."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    n = embeddings.count()
    graph = hnsw_build_shards(embeddings, num_shards=1, ef_construction=64)
    p = str(tmp_path / "hnsw_rb")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    # within budget: no-op
    assert index.open(spark, p).rebalance(target_rows_per_shard=n) == {}

    plan = index.open(spark, p).rebalance(target_rows_per_shard=n // 4)
    assert 0 in plan and len(plan[0]) >= 4

    g, meta = load_hnsw_index(spark, p)
    assert g.count() == n
    assert g.select("vec_id").distinct().count() == n
    counts = [r["count"] for r in g.groupBy("shard_id").count().collect()]
    assert len(counts) == len(plan[0])
    assert max(counts) <= 2 * (n // 4)
    entries = g.filter(F.col("is_entry")).groupBy("shard_id").count().collect()
    assert all(r["count"] == 1 for r in entries)

    probe = embeddings.filter(F.col("vec_id") == 7).first()
    queries = spark.createDataFrame(
        [(7, [float(x) for x in probe["embedding"]])],
        "query_id long, query_vec array<float>",
    )
    hits = hnsw_query_shards(g, queries, k=3, m=meta["m"])
    assert hits.collect()[0]["vec_id"] == 7


def _single_shard_graph(spark, embeddings, n=200, ef=64):
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards

    base = embeddings.filter(F.col("vec_id") < n).select("vec_id", "embedding")
    return hnsw_build_shards(base, num_shards=1, ef_construction=ef)


def test_hnsw_insert_conflict_skip_keeps_stored_vector(spark, embeddings):
    """A replayed batch carrying an existing id with a DIFFERENT vector
    must not swap the stored embedding (the duplicate-id last-wins bug:
    graph wiring would go inconsistent with the vector)."""
    from astro_vectordb_spark.operators.hnsw import hnsw_insert_shards

    graph = _single_shard_graph(spark, embeddings).localCheckpoint(eager=True)
    stored = {
        int(r["vec_id"]): list(r["embedding"])
        for r in graph.select("vec_id", "embedding").collect()
    }
    dim = len(stored[0])
    conflict = spark.createDataFrame(
        [(7, [9.0] * dim), (1000, [1.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    out = hnsw_insert_shards(graph, conflict, metric="cosine")
    rows = {int(r["vec_id"]): list(r["embedding"]) for r in out.collect()}
    assert rows[7] == stored[7], "stored embedding was swapped on replay"
    assert 1000 in rows  # the genuinely-new row was inserted
    assert len(rows) == len(stored) + 1


def test_hnsw_insert_conflict_update_replaces_vector(spark, embeddings):
    """on_conflict='update' = the reference's id-stable updatePoint
    (hnsw.ts:497-517): the node is unlinked and re-inserted with the new
    vector, no rebuild; a query AT the new vector finds the id."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_insert_shards,
        hnsw_query_shards,
    )

    graph = _single_shard_graph(spark, embeddings).localCheckpoint(eager=True)
    dim = len(graph.first()["embedding"])
    rng = np.random.RandomState(99)
    newvec = [float(x) for x in rng.randn(dim)]
    upd = spark.createDataFrame(
        [(7, newvec)], "vec_id long, embedding array<float>"
    )
    out = hnsw_insert_shards(graph, upd, metric="cosine", on_conflict="update")
    out = out.localCheckpoint(eager=True)
    rows = {int(r["vec_id"]): list(r["embedding"]) for r in out.collect()}
    assert len(rows) == graph.count()  # no duplicate node
    assert np.allclose(rows[7], np.asarray(newvec, dtype=np.float32))
    # query at the NEW vector: id 7 is the top hit
    q = spark.createDataFrame(
        [(0, newvec)], "query_id long, query_vec array<float>"
    )
    hits = hnsw_query_shards(out, q, k=3, ef_search=64).collect()
    assert hits[0]["vec_id"] == 7 and hits[0]["score"] > 0.999


def test_hnsw_insert_conflict_update_idempotent(spark, embeddings):
    """Replaying the same update batch (identical vector) is a no-op:
    same node count, same embedding."""
    from astro_vectordb_spark.operators.hnsw import hnsw_insert_shards

    graph = _single_shard_graph(spark, embeddings).localCheckpoint(eager=True)
    dim = len(graph.first()["embedding"])
    newvec = [2.0] * dim
    upd = spark.createDataFrame(
        [(3, newvec)], "vec_id long, embedding array<float>"
    )
    once = hnsw_insert_shards(
        graph, upd, metric="cosine", on_conflict="update"
    ).localCheckpoint(eager=True)
    twice = hnsw_insert_shards(
        once, upd, metric="cosine", on_conflict="update"
    ).localCheckpoint(eager=True)
    assert twice.count() == graph.count()
    r = {int(x["vec_id"]): list(x["embedding"]) for x in twice.collect()}
    assert np.allclose(r[3], np.asarray(newvec, dtype=np.float32))


def test_hnsw_insert_conflict_error_raises(spark, embeddings):
    import pytest

    from astro_vectordb_spark.operators.hnsw import hnsw_insert_shards

    graph = _single_shard_graph(spark, embeddings).localCheckpoint(eager=True)
    dim = len(graph.first()["embedding"])
    conflict = spark.createDataFrame(
        [(7, [9.0] * dim)], "vec_id long, embedding array<float>"
    )
    out = hnsw_insert_shards(graph, conflict, metric="cosine", on_conflict="error")
    with pytest.raises(Exception, match="already exists"):
        out.count()


def test_hnsw_insert_renamed_columns(spark, embeddings):
    """id_col/vec_col naming of new_rows must be aliased to the graph
    schema before the union (the non-default-column breakage)."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_insert_shards,
        hnsw_query_shards,
    )

    graph = _single_shard_graph(spark, embeddings).localCheckpoint(eager=True)
    new = (
        embeddings.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("vec"),
        )
    )
    out = hnsw_insert_shards(
        graph, new, metric="cosine", id_col="doc_id", vec_col="vec"
    ).localCheckpoint(eager=True)
    assert out.count() == graph.count() + 20
    probe = embeddings.filter(F.col("vec_id") == 205).first()
    q = spark.createDataFrame(
        [(0, [float(x) for x in probe["embedding"]])],
        "query_id long, query_vec array<float>",
    )
    hits = hnsw_query_shards(out, q, k=3, ef_search=64).collect()
    assert hits[0]["vec_id"] == 205


def test_hnsw_large_query_batch_broadcast(spark, embeddings):
    """50k-query batch: the query set ships as ONE broadcast (not a
    per-task closure), and every query gets its top-1 back."""
    n_q = 50_000
    dim = len(embeddings.first()["embedding"])
    queries = spark.range(n_q).select(
        F.col("id").alias("query_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id") * (i + 1)), F.lit(1000))
                    / 500.0
                    - 1.0
                ).cast("float")
                for i in range(dim)
            ]
        ).alias("query_vec"),
    )
    corpus = embeddings.filter(F.col("vec_id") < 100).select(
        "vec_id", "embedding"
    )
    hits = hnsw_batch_topk(
        corpus, queries, k=1, ef_construction=32, ef_search=8, num_shards=1
    )
    assert hits.count() == n_q


def test_hnsw_cogrouped_matches_broadcast_path(spark, embeddings):
    """The no-driver-materialization cogroup serve path returns the
    same hits as the broadcast path on the same persisted graph."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
        hnsw_query_shards_cogrouped,
    )

    graph = hnsw_build_shards(
        embeddings, num_shards=4, ef_construction=100
    ).localCheckpoint(eager=True)
    queries = embeddings.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = hnsw_query_shards(graph, queries, k=10, ef_search=100)
    b = hnsw_query_shards_cogrouped(graph, queries, k=10, ef_search=100)
    ra = sorted((r["query_id"], r["vec_id"]) for r in a.collect())
    rb = sorted((r["query_id"], r["vec_id"]) for r in b.collect())
    assert ra == rb


def test_load_hnsw_index_meta_and_split_shard_safety(spark, embeddings, tmp_path):
    """load_hnsw_index records shard ids + max graph file size and
    derives clustered_safe from the SESSION's maxPartitionBytes; when a
    shard file would be split across scan partitions, serving with
    clustered=meta['clustered_safe'] degrades to the re-shuffled path
    and still returns correct hits — no caller intervention, no
    task-level ValueError."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    graph = hnsw_build_shards(embeddings, num_shards=3, ef_construction=64)
    p = str(tmp_path / "hnsw_split_safety")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    g, meta = load_hnsw_index(spark, p)
    assert sorted(meta["shard_ids"]) == [0, 1, 2]
    assert meta["max_shard_file_bytes"] > 0
    assert meta["clustered_safe"] is True  # default 128 MB >> test files

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = sorted(
        (r["query_id"], r["vec_id"])
        for r in hnsw_query_shards(
            g, queries, k=10, m=16, ef_search=100, clustered=True
        ).collect()
    )

    conf_key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf_key)
    try:
        # force every graph file to split -> clustered=True would build
        # partial shards with dangling neighbor ids
        spark.conf.set(conf_key, "2048")
        g2, meta2 = load_hnsw_index(spark, p)
        assert meta2["clustered_safe"] is False
        got = sorted(
            (r["query_id"], r["vec_id"])
            for r in hnsw_query_shards(
                g2, queries, k=10, m=16, ef_search=100,
                clustered=meta2["clustered_safe"],
            ).collect()
        )
        assert got == want
    finally:
        spark.conf.set(conf_key, old)


def test_load_hnsw_index_legacy_meta(spark, embeddings, tmp_path):
    """An index saved by an older version (2-column _meta) still loads:
    shard ids and max file size come from a filesystem listing."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    graph = hnsw_build_shards(
        embeddings.filter(F.col("vec_id") < 100), num_shards=2, ef_construction=64
    )
    p = str(tmp_path / "hnsw_legacy")
    save_hnsw_index(graph, p, m=16, metric="cosine")
    # rewrite _meta in the legacy 2-column shape
    spark.createDataFrame([("cosine", 16)], "metric string, m int").write.mode(
        "overwrite"
    ).parquet(f"{p}/_meta")

    _, meta = load_hnsw_index(spark, p)
    assert sorted(meta["shard_ids"]) == [0, 1]
    assert meta["max_shard_file_bytes"] > 0
    assert isinstance(meta["clustered_safe"], bool)


def test_hnsw_insert_with_known_shards_runs_no_control_jobs(
    spark, embeddings, tmp_path
):
    """With shard_ids supplied (the _meta path), hnsw_insert_shards
    issues NO Spark job before an action — the routed batch reaches the
    applyInPandas stage through a lazy semi-join, not a
    distinct().collect() per micro-batch."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_insert_shards,
    )
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    old = embeddings.filter(F.col("vec_id") < 200)
    graph = hnsw_build_shards(old, num_shards=2, ef_construction=64)
    p = str(tmp_path / "hnsw_ctrl_jobs")
    save_hnsw_index(graph, p, m=16, metric="cosine")
    g, meta = load_hnsw_index(spark, p)
    new = embeddings.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)
    ).select("vec_id", "embedding")

    # a dedicated job group isolates the count from lagging listener
    # events of EARLIER tests (the default-group count races with the
    # async event bus after a long suite — observed order-dependent
    # flake in full-suite runs)
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("insert-probe", "control-plane job count probe")
    try:
        updated = hnsw_insert_shards(
            g, new, m=meta["m"], metric=meta["metric"], shard_ids=meta["shard_ids"]
        )
        assert len(st.getJobIdsForGroup("insert-probe")) == 0, (
            "insert ran a control job"
        )
        got_ids = {r["vec_id"] for r in updated.collect()}
        assert len(st.getJobIdsForGroup("insert-probe")) > 0
    finally:
        sc.setJobGroup("", "")
    assert {r["vec_id"] for r in new.collect()} <= got_ids
    assert {r["vec_id"] for r in old.select("vec_id").collect()} <= got_ids


def test_hnsw_rebalance_multiple_oversized_shards(spark, embeddings, tmp_path):
    """Splitting SEVERAL oversized shards in one rebalance: the split
    builds execute as one unioned stage, where TaskContext.partitionId
    is globally offset per branch — shard ids must still land in each
    branch's 0..parts-1 space (regression: the multi-shard scale probe
    hit element_at index-out-of-bounds here; the single-shard test
    above never exercised the union offset)."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    n = embeddings.count()  # 500 at sf0.001
    graph = hnsw_build_shards(embeddings, num_shards=3, ef_construction=64)
    p = str(tmp_path / "hnsw_rb_multi")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    # every shard (~167 rows) is oversized at target 60 -> all three
    # split, into ~3 parts each, in ONE rebalance call
    plan = index.open(spark, p).rebalance(
        target_rows_per_shard=60, skew_threshold=1.0
    )
    assert set(plan) == {0, 1, 2}, plan
    assert all(len(v) >= 2 for v in plan.values()), plan

    g, meta = load_hnsw_index(spark, p)
    assert g.count() == n
    assert g.select("vec_id").distinct().count() == n
    # all emitted shard ids belong to the remap plan (no stray
    # stage-offset ids), one entry point per shard
    valid = {s for splits in plan.values() for s in splits}
    got = {r["shard_id"] for r in g.select("shard_id").distinct().collect()}
    assert got == valid, (got, valid)
    # _meta refreshed: the persisted shard list reflects the splits (a
    # stale list would make the cogrouped serve path skip new shards)
    assert set(meta["shard_ids"]) == valid, (meta["shard_ids"], valid)
    entries = g.filter(F.col("is_entry")).groupBy("shard_id").count().collect()
    assert all(r["count"] == 1 for r in entries)

    probe = embeddings.filter(F.col("vec_id") == 7).first()
    queries = spark.createDataFrame(
        [(7, [float(x) for x in probe["embedding"]])],
        "query_id long, query_vec array<float>",
    )
    hits = hnsw_query_shards(g, queries, k=3, m=meta["m"])
    assert hits.collect()[0]["vec_id"] == 7
    # cogrouped serve (driven by meta's shard list) also reaches the
    # post-split shards
    from astro_vectordb_spark.operators.hnsw import hnsw_query_shards_cogrouped

    co = hnsw_query_shards_cogrouped(
        g, queries, k=3, m=meta["m"], shard_ids=meta["shard_ids"]
    )
    assert co.collect()[0]["vec_id"] == 7


def test_hnsw_serve_index_cache_token(spark, embeddings, tmp_path):
    """Opt-in worker-level index cache: token-keyed serving returns the
    same hits as uncached serving, and a mutation (append) changes the
    token so the NEXT serve sees the new vector — stale graphs can
    never be served across index versions."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    old = embeddings.filter(F.col("vec_id") < 300)
    graph = hnsw_build_shards(old, num_shards=2, ef_construction=64)
    p = str(tmp_path / "hnsw_cache_tok")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    g, meta = load_hnsw_index(spark, p)
    tok1 = meta["cache_token"]
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plain = sorted(
        (r["query_id"], r["vec_id"])
        for r in hnsw_query_shards(g, queries, k=10, m=16).collect()
    )
    cached = sorted(
        (r["query_id"], r["vec_id"])
        for r in hnsw_query_shards(
            g, queries, k=10, m=16, index_cache_token=tok1
        ).collect()
    )
    # second cached serve hits the worker cache; results identical
    cached2 = sorted(
        (r["query_id"], r["vec_id"])
        for r in hnsw_query_shards(
            g, queries, k=10, m=16, index_cache_token=tok1
        ).collect()
    )
    assert plain == cached == cached2

    # mutate the index: the token MUST change and the new vector MUST
    # be served (a stale cache would miss it)
    new = embeddings.filter(F.col("vec_id") == 301).select("vec_id", "embedding")
    index.open(spark, p).append(new)
    g2, meta2 = load_hnsw_index(spark, p)
    assert meta2["cache_token"] != tok1
    probe_q = new.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_query_shards(
        g2, probe_q, k=3, m=16, index_cache_token=meta2["cache_token"]
    ).collect()
    assert hits[0]["vec_id"] == 301


def test_shard_index_cache_key_includes_params_and_is_lru():
    """ADVICE r5: (1) the worker cache key must include (m, metric) —
    the same persisted graph may be served with different params and
    must not return an index built with the other call's metric;
    (2) eviction is LRU (hits refresh recency), not FIFO."""
    import pandas as pd

    from astro_vectordb_spark.operators import hnsw as H

    rows = pd.DataFrame(
        {
            "vec_id": [0, 1],
            "level": [0, 0],
            "neighbors": [[[1]], [[0]]],
            "embedding": [[1.0, 0.0], [0.0, 1.0]],
            "is_entry": [True, False],
        }
    )
    saved = dict(H._SHARD_INDEX_CACHE)
    H._SHARD_INDEX_CACHE.clear()
    try:
        a = H._cached_from_rows(rows, m=16, metric="cosine", token="t", shard_id=0)
        b = H._cached_from_rows(rows, m=16, metric="euclidean", token="t", shard_id=0)
        assert a is not b and a.metric == "cosine" and b.metric == "euclidean"
        c = H._cached_from_rows(rows, m=8, metric="cosine", token="t", shard_id=0)
        assert c is not a
        # LRU: touch `a`, then insert a 4th entry to hit the cap of 4;
        # the evicted one must be `b` (least recently used), not `a`
        assert H._cached_from_rows(
            rows, m=16, metric="cosine", token="t", shard_id=0
        ) is a
        H._cached_from_rows(rows, m=16, metric="dot", token="t", shard_id=0)
        H._cached_from_rows(rows, m=16, metric="euclidean_similarity",
                            token="t", shard_id=0)
        assert H._cached_from_rows(
            rows, m=16, metric="cosine", token="t", shard_id=0
        ) is a
    finally:
        H._SHARD_INDEX_CACHE.clear()
        H._SHARD_INDEX_CACHE.update(saved)


def _hits(df):
    return sorted((r["query_id"], r["vec_id"]) for r in df.collect())


def test_hnsw_quantized_build_serve_parity(spark, embeddings, tmp_path):
    """Quantized shards (GRAPH_SCHEMA_Q): 4x-smaller files, serve path
    auto-detects the codes, and recall vs the float index stays within
    the quantization error bound (identical top-10 on this corpus for
    nearly all queries)."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        _graph_file_stats,
        _listing,
        load_hnsw_index,
        save_hnsw_index,
    )

    corpus = embeddings.filter(F.col("vec_id") < 400)
    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    gf = hnsw_build_shards(corpus, num_shards=2, ef_construction=64)
    gq = hnsw_build_shards(
        corpus, num_shards=2, ef_construction=64, quantize=True
    )
    assert "qvec" in gq.columns and "embedding" not in gq.columns

    pf, pq = str(tmp_path / "hf"), str(tmp_path / "hq")
    save_hnsw_index(gf, pf, m=16, metric="cosine")
    save_hnsw_index(gq, pq, m=16, metric="cosine")
    _, fbytes_f, _, _, tot_f = _graph_file_stats(_listing(spark, pf + "/graph")[1])
    _, fbytes_q, _, _, tot_q = _graph_file_stats(_listing(spark, pq + "/graph")[1])
    # int8 codes + scale vs float32: graph files shrink well below 0.6x
    assert tot_q < 0.6 * tot_f, (tot_q, tot_f)

    lf, mf = load_hnsw_index(spark, pf)
    lq, mq = load_hnsw_index(spark, pq)
    hf = {}
    for q, v in _hits(hnsw_query_shards(lf, queries, k=10, m=16, ef_search=64)):
        hf.setdefault(q, set()).add(v)
    hq = {}
    for q, v in _hits(hnsw_query_shards(lq, queries, k=10, m=16, ef_search=64)):
        hq.setdefault(q, set()).add(v)
    # quantized serve recall vs float serve: >= 0.9 overlap on average
    overlaps = [len(hf[q] & hq.get(q, set())) / 10 for q in hf]
    assert sum(overlaps) / len(overlaps) >= 0.9, overlaps
    # self-hit must survive quantization (code of the same vector)
    for q in hq:
        assert q in hq[q], (q, hq[q])


def test_hnsw_quantized_append_and_rebalance(spark, embeddings, tmp_path):
    """Incremental insert into a QUANTIZED persisted index: stored
    codes are never re-derived, new vectors are quantized on insert,
    and rebalance splits re-emit bit-identical codes (dequantize ->
    rebuild -> re-quantize is stable)."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    old = embeddings.filter(F.col("vec_id") < 300)
    gq = hnsw_build_shards(old, num_shards=2, ef_construction=32, quantize=True)
    p = str(tmp_path / "hq_app")
    save_hnsw_index(gq, p, m=16, metric="cosine")

    codes_before = {
        r["vec_id"]: (list(r["qvec"]), r["qscale"])
        for r in load_hnsw_index(spark, p)[0].collect()
    }

    new = embeddings.filter(F.col("vec_id") == 301).select("vec_id", "embedding")
    touched = index.open(spark, p).append(new)
    assert len(touched) == 1
    g2, meta2 = load_hnsw_index(spark, p)
    rows2 = {r["vec_id"]: (list(r["qvec"]), r["qscale"]) for r in g2.collect()}
    assert 301 in rows2
    # untouched rows keep their exact codes
    for vid, cs in codes_before.items():
        assert rows2[vid] == cs, vid

    # the appended vector is served
    probe = embeddings.filter(F.col("vec_id") == 301).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_query_shards(
        g2, probe, k=3, m=16, clustered=meta2["clustered_safe"]
    ).collect()
    assert hits[0]["vec_id"] == 301

    # force a split: tiny target -> every shard oversized
    result = index.open(spark, p).rebalance(
        target_rows_per_shard=60, skew_threshold=1.5, seed=7
    )
    assert result, "expected at least one split"
    g3, meta3 = load_hnsw_index(spark, p)
    rows3 = {r["vec_id"]: (list(r["qvec"]), r["qscale"]) for r in g3.collect()}
    assert set(rows3) == set(rows2)
    for vid, (cv, cs) in rows2.items():
        assert rows3[vid][0] == cv, f"codes changed for {vid} after rebalance"
    # post-split serve still reaches everything
    hits3 = hnsw_query_shards(g3, probe, k=3, m=16).collect()
    assert hits3[0]["vec_id"] == 301


def test_hnsw_rebalance_compacts_degraded_shards(spark, embeddings, tmp_path):
    """Many on_conflict='update' batches erode graph wiring (remove +
    re-add never re-wires the pruned incoming edges).  min_degree_frac
    rebuilds such shards IN PLACE: same rows, same shard ids, fresh
    wiring — shard size stays flat and everything stays servable."""
    from astro_vectordb_spark.operators.hnsw import hnsw_query_shards
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    base = embeddings.filter(F.col("vec_id") < 300)
    g = hnsw_build_shards(base, num_shards=2, ef_construction=64)
    p = str(tmp_path / "hnsw_compact")
    save_hnsw_index(g, p, m=16, metric="cosine")

    def mean_degree():
        gg, _ = load_hnsw_index(spark, p)
        return {
            r["shard_id"]: (r["n"], r["deg"])
            for r in gg.groupBy("shard_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.size(F.element_at("neighbors", 1))).alias("deg"),
            ).collect()
        }

    before = mean_degree()
    assert all(abs(d - 16.0) < 1e-9 for _, d in before.values()), before
    # churn a SUBSET repeatedly: each update is remove + re-add, and
    # the pruned incoming edges of OTHER nodes are never re-wired, so
    # wiring erodes (full-corpus churn self-heals — every node gets
    # fresh links — which is why the trigger watches degree, not
    # update counts)
    sub = base.filter(F.col("vec_id") < 30)
    for rnd in range(5):
        upd = sub.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x + F.lit(0.05 * (rnd + 1))
            ).cast("array<float>").alias("embedding"),
        )
        index.open(spark, p).append(upd, on_conflict="update")
    churned = mean_degree()
    # row counts flat through updates (home-shard routing: no
    # duplicate nodes, no tombstone rows persist)
    assert {s: n for s, (n, _) in churned.items()} == {
        s: n for s, (n, _) in before.items()
    }
    assert any(d < 15.5 for _, d in churned.values()), churned

    # compact: threshold 0.95 -> floor 15.2, degraded shards rebuild
    # in place
    result = index.open(spark, p).rebalance(
        target_rows_per_shard=10_000, min_degree_frac=0.95, seed=3
    )
    assert result and all(v == [s] for s, v in result.items()), result
    after = mean_degree()
    assert set(after) <= set(churned)
    for s in after:
        assert after[s][0] == churned[s][0]  # same rows
    # rebuilt shards are back at full wiring
    for s in result:
        assert abs(after[s][1] - 16.0) < 1e-9, after

    # everything still servable after compaction (latest vectors win)
    g3, meta3 = load_hnsw_index(spark, p)
    probe = base.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02))
        .cast("array<float>")
        .alias("query_vec"),
    )
    hits = hnsw_query_shards(g3, probe, k=3, m=meta3["m"]).collect()
    assert hits[0]["vec_id"] == 5

    # threshold respected: a second compaction pass with a low
    # threshold is a no-op (fresh wiring is healthy)
    assert index.open(spark, p).rebalance(
        target_rows_per_shard=10_000, min_degree_frac=0.2, seed=4
    ) == {}


def test_hnsw_insert_routes_to_home_shard(spark, embeddings, tmp_path):
    """Regression (r6): an arriving id that already lives in the graph
    must route to ITS shard, not its hash shard — build distributes
    round-robin and rebalance moves rows, so hash routing duplicates
    the node in another shard (two rows for one id; stale vector
    servable).  Covers both 'skip' (replay of build-time ids is a true
    no-op) and 'update' (vector replaced in place, count flat)."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    base = embeddings.filter(F.col("vec_id") < 200)
    g = hnsw_build_shards(base, num_shards=4, ef_construction=32)
    p = str(tmp_path / "hnsw_home")
    save_hnsw_index(g, p, m=16, metric="cosine")

    # skip-mode replay of ALL build-time ids: nothing changes
    index.open(spark, p).append(base.select("vec_id", "embedding"))
    g1, _ = load_hnsw_index(spark, p)
    assert g1.count() == 200
    dups = (
        g1.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0

    # update-mode on a subset: count flat, exactly one row per id,
    # and the stored vector is the NEW one
    upd = base.filter(F.col("vec_id") < 40).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(0.25))
        .cast("array<float>")
        .alias("embedding"),
    )
    index.open(spark, p).append(upd, on_conflict="update")
    g2, _ = load_hnsw_index(spark, p)
    assert g2.count() == 200
    assert g2.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0


def test_hnsw_filtered_search_allowed_only_and_recall(spark, embeddings):
    """Filtered approximate search: results restricted to allowed ids,
    recall vs the exact FILTERED top-k >= 0.9 (the over-fetch policy
    widens the beam by 1/selectivity)."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards, hnsw_query_shards
    from astro_vectordb_spark.operators.topk import topk_search

    graph = hnsw_build_shards(embeddings, num_shards=2, ef_construction=64)
    allowed = [
        r["vec_id"]
        for r in embeddings.filter(F.col("label") == 2).select("vec_id").collect()
    ]
    qids = [0, 5, 11]
    qrows = {
        r["vec_id"]: r["embedding"]
        for r in embeddings.filter(F.col("vec_id").isin(qids)).collect()
    }
    queries = spark.createDataFrame(
        [(q, [float(x) for x in qrows[q]]) for q in qids],
        "query_id long, query_vec array<float>",
    )
    got = {}
    for r in hnsw_query_shards(
        graph, queries, k=10, ef_search=64, allowed_ids=allowed
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    aset = set(allowed)
    recalls = []
    for q in qids:
        assert got[q] <= aset, "returned a disallowed id"
        exact = {
            r["vec_id"]
            for r in topk_search(
                embeddings.filter(F.col("label") == 2), qrows[q], 10, strength=0
            ).collect()
        }
        recalls.append(len(got[q] & exact) / max(len(exact), 1))
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_hnsw_filtered_search_highly_selective_filter(spark, embeddings):
    """A filter keeping only a handful of ids degrades to an (almost)
    exhaustive beam instead of returning empty — every allowed id that
    scores above zero must be found."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards, hnsw_query_shards

    graph = hnsw_build_shards(embeddings, num_shards=2, ef_construction=64)
    allowed = [3, 77, 201, 404]
    qv = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qv])], "query_id long, query_vec array<float>"
    )
    got = {
        r["vec_id"]
        for r in hnsw_query_shards(
            graph, queries, k=10, ef_search=16, allowed_ids=allowed
        ).collect()
    }
    assert got == set(allowed)


def test_hnsw_filtered_search_empty_allowed_yields_nothing(spark, embeddings):
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards, hnsw_query_shards

    graph = hnsw_build_shards(
        embeddings.filter(F.col("vec_id") < 100), num_shards=2, ef_construction=32
    )
    qv = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qv])], "query_id long, query_vec array<float>"
    )
    rows = hnsw_query_shards(
        graph, queries, k=5, allowed_ids=[99999, 88888]
    ).collect()
    assert rows == []


def test_numpy_hnsw_heuristic_connects_clustered_corpus():
    """Neighbor-selection heuristic (Malkov Alg. 4) keeps cross-cluster
    bridges: on a tight mixture-of-Gaussians corpus every query's
    cluster must be reachable (the reference's plain top-M truncation
    islands whole clusters — measured recall 0.0 on bench fixture)."""
    rng = np.random.RandomState(1)
    centers = rng.normal(size=(16, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, 16, size=2000)
    pts = (centers[assign] + 0.08 * rng.normal(size=(2000, 32))).astype(
        np.float32
    )
    normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    idx = NumpyHNSW(dim=32, m=8, ef_construction=64, seed=42)
    for i in range(2000):
        idx.add(i, pts[i])
    recalls = []
    for q in (0, 50, 500, 900, 1500):
        sims = normed @ normed[q]
        exact = set(np.argsort(-sims)[:10])
        got = {u for _, u in idx.search(pts[q], 10, ef=32)}
        recalls.append(len(got & exact) / 10)
    assert min(recalls) >= 0.8, recalls
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_numpy_hnsw_heuristic_false_restores_truncation():
    """heuristic=False is reference-parity top-M truncation: neighbor
    lists still capped at m, search still works on benign data."""
    rng = np.random.RandomState(3)
    idx = NumpyHNSW(dim=16, m=8, ef_construction=64, seed=42, heuristic=False)
    pts = rng.normal(size=(300, 16))
    for i in range(300):
        idx.add(i, pts[i])
    assert all(
        len(lvl) <= 8 for nb in idx.neighbors for lvl in nb
    )
    top = idx.search(pts[5], 1)[0]
    assert top[1] == 5


def test_hnsw_index_stats_surface(spark, embeddings, tmp_path):
    """Operational introspection: per-shard rows/degree/levels plus
    the serve-path metadata, from one bounded aggregation."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import save_hnsw_index

    n = embeddings.count()
    graph = hnsw_build_shards(embeddings, num_shards=4, ef_construction=64)
    p = str(tmp_path / "hnsw_stats")
    save_hnsw_index(graph, p, m=16, metric="cosine")
    st = index.open(spark, p).health()
    assert st["num_shards"] == 4
    assert st["total_rows"] == n
    assert sum(s["rows"] for s in st["shards"].values()) == n
    assert st["m"] == 16 and st["metric"] == "cosine"
    assert st["quantized"] is False
    assert st["graph_file_bytes"] > 0
    assert 0 < st["mean_degree_l0"] <= 16
    assert st["min_shard_rows"] <= st["max_shard_rows"]
    # quantized variant flags itself
    gq = hnsw_build_shards(
        embeddings, num_shards=2, ef_construction=32, quantize=True
    )
    pq = str(tmp_path / "hnsw_stats_q")
    save_hnsw_index(gq, pq, m=16, metric="cosine")
    assert index.open(spark, pq).health()["quantized"] is True
