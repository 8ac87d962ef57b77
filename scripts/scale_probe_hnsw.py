"""Multi-shard HNSW lifecycle probe: build -> save -> serve -> insert
-> rebalance, end-to-end, at a deliberately multi-shard scale.

The driver bench (sf0.1, 2k vectors) exercises ONE shard, so the
multi-shard merge, the persisted-serve path across shards, selective
partition rewrites, and shard-split rebalance were covered only by
unit tests.  This probe measures them on a 200k-vector corpus (8
shards of 25k; the reference's own envelope is <100k vectors in one
browser tab — astro-vectordb README.md:90-97) and asserts:

  A1  the persisted index really has >= 8 shards;
  A2  served recall@10 >= 0.95 against exact brute force, multi-shard
      (ef_search=512: the uniform-random corpus is ANN's worst case —
      measured within-shard recall 0.87 @ ef=100, 0.98 @ ef=400);
  A3  a small insert batch rewrites ONLY its routed shard partitions
      (byte-identical untouched files, checked on disk);
  A4  inserted vectors are immediately findable at rank 1;
  A5  serve wall-time is sublinear in shard count (16 shards after
      rebalance <= 1.6x the 8-shard serve on the same corpus);
  A6  rebalance split every oversized shard and recall holds;
  A7  the opt-in worker-level index cache serves identical results
      (timing recorded: rebuild-free steady state vs per-serve
      adjacency rebuild);
  B1  cached serves return identical results at any cache cap;
  B2  hit rate with cap=n_shards >= hit rate with cap=4 after 4
      rounds (per-round hit/miss counts + latency recorded — in
      local[32] there is no task-to-worker affinity, so the hit rate
      is a fleet-level property that climbs as workers fill);
  B3  the cogrouped (very-large-|Q|) serve path returns the same
      results on the same corpus (latency recorded);
  B4  int8-quantized graph serves recall@10 >= 0.9;
  B5  quantized graph storage is >= 2.5x smaller on disk (the vector
      term shrinks 4x; unshrunk neighbor lists dilute the file ratio).

Emits ONE JSON line (and writes it to --out if given) with the
measurements and a green/red flag per assertion.  Not part of the
driver bench; evidence for ARCHITECTURE.md's scale claims.

Usage: python scripts/scale_probe_hnsw.py [--out SCALE_PROBE_HNSW.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.session import get_spark

N_ROWS = 200_000
DIM = 64
ROWS_PER_SHARD = 25_000
N_QUERIES = 16
K = 10


def synth_corpus(spark, path: str):
    """Deterministic pseudo-random corpus: 64 centered-uniform coords
    per row from xxhash64(id, coord) — JVM-side, no Python, and stable
    across runs (unlike F.rand, whose draw depends on partitioning)."""
    coords = [
        (
            (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1_000_000)) / 1_000_000.0)
            - F.lit(0.5)
        ).cast("float")
        for i in range(DIM)
    ]
    df = spark.range(N_ROWS).select(
        F.col("id").alias("vec_id"), F.array(*coords).alias("embedding")
    )
    df.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def graph_file_state(index_path: str) -> dict[str, tuple[int, float]]:
    """{relative parquet path: (size, mtime)} under graph/ — the
    evidence for 'untouched shards keep their files'."""
    state = {}
    root = os.path.join(index_path, "graph")
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                rel = os.path.relpath(p, root)
                st = os.stat(p)
                state[rel] = (st.st_size, st.st_mtime)
    return state


def serve(spark, index_path, queries, ef_search=512, use_cache=False,
          cache_accums=None, cache_cap=None):
    from astro_vectordb_spark.operators.hnsw import hnsw_query_shards
    from astro_vectordb_spark.sources.vault import load_hnsw_index

    graph, meta = load_hnsw_index(spark, index_path)
    return (
        hnsw_query_shards(
            graph, queries, k=K, m=meta["m"], metric=meta["metric"],
            ef_search=ef_search, clustered=meta["clustered_safe"],
            index_cache_token=meta["cache_token"] if use_cache else None,
            cache_accums=cache_accums, cache_cap=cache_cap,
        ),
        meta,
    )


def graph_bytes(index_path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(os.path.join(index_path, "graph")):
        for f in files:
            if f.endswith(".parquet"):
                total += os.stat(os.path.join(dirpath, f)).st_size
    return total


def recall_at_k(served_rows, exact: dict[int, set]) -> float:
    got: dict[int, set] = {}
    for r in served_rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recs = [len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()]
    return sum(recs) / len(recs)


def log(msg: str) -> None:
    print(f"[probe +{time.time() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


_T0 = time.time()


def main() -> None:
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    spark = get_spark("scale-probe-hnsw")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"n_rows": N_ROWS, "dim": DIM, "k": K, "n_queries": N_QUERIES}
    checks: dict[str, bool] = {}

    from astro_vectordb_spark.operators.hnsw import (
        auto_num_shards,
        hnsw_build_shards,
    )
    from astro_vectordb_spark.operators.topk import batch_topk
    from astro_vectordb_spark.sources.vault import save_hnsw_index

    log("synthesizing corpus")
    corpus = synth_corpus(spark, "/tmp/scale/hnsw_corpus")
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # exact ground truth: one brute-force scan of the full corpus
    log("computing exact ground truth")
    exact: dict[int, set] = {}
    for r in batch_topk(corpus, queries, k=K).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    # ---- build + save --------------------------------------------------
    log("building shards")
    shards = auto_num_shards(N_ROWS, target_rows_per_shard=ROWS_PER_SHARD)
    res["num_shards_built"] = shards
    t0 = time.time()
    graph = hnsw_build_shards(
        corpus, num_shards=shards, m=16, ef_construction=64, metric="cosine"
    )
    index_path = "/tmp/scale/hnsw_index"
    save_hnsw_index(graph, index_path, m=16, metric="cosine")
    res["build_save_sec"] = round(time.time() - t0, 2)
    checks["A1_min_8_shards"] = shards >= 8

    # ---- serve (persisted, multi-shard) --------------------------------
    log("build+save done; serving (warm)")
    served, meta = serve(spark, index_path, queries)
    res["clustered_safe"] = meta["clustered_safe"]
    res["max_shard_file_bytes"] = meta["max_shard_file_bytes"]
    rows = served.collect()  # warm (JIT + index load)
    t0 = time.time()
    rows = serve(spark, index_path, queries)[0].collect()
    res["serve_8shard_sec"] = round(time.time() - t0, 2)
    res["recall_at_10_served"] = round(recall_at_k(rows, exact), 4)
    checks["A2_recall_ge_095"] = res["recall_at_10_served"] >= 0.95
    # worker-level index cache (opt-in): first call populates, second
    # measures the rebuild-free steady state; results must not change
    rows_c = serve(spark, index_path, queries, use_cache=True)[0].collect()
    t0 = time.time()
    rows_c = serve(spark, index_path, queries, use_cache=True)[0].collect()
    res["serve_8shard_cached_sec"] = round(time.time() - t0, 2)
    checks["A7_cached_serve_same_results"] = sorted(
        (r["query_id"], r["vec_id"]) for r in rows_c
    ) == sorted((r["query_id"], r["vec_id"]) for r in rows)

    # ---- selective insert ----------------------------------------------
    log("serve timed; selective insert")
    before = graph_file_state(index_path)
    new_ids = [N_ROWS + i for i in range(3)]
    new_rows = (
        spark.createDataFrame([(i,) for i in new_ids], "vec_id long")
        .select(
            "vec_id",
            F.array(
                *[
                    (
                        (
                            F.pmod(
                                F.xxhash64(F.col("vec_id"), F.lit(i)),
                                F.lit(1_000_000),
                            )
                            / 1_000_000.0
                        )
                        - F.lit(0.5)
                    ).cast("float")
                    for i in range(DIM)
                ]
            ).alias("embedding"),
        )
    )
    t0 = time.time()
    touched = index.open(spark, index_path).append(new_rows)
    res["insert_3rows_sec"] = round(time.time() - t0, 2)
    res["touched_shards"] = touched
    after = graph_file_state(index_path)
    untouched_ok = True
    for rel, (size, mtime) in before.items():
        shard = int(rel.split("=", 1)[1].split(os.sep, 1)[0])
        if shard in touched:
            continue
        if after.get(rel) != (size, mtime):
            untouched_ok = False
    checks["A3_untouched_partitions_unchanged"] = (
        untouched_ok and len(touched) <= len(new_ids)
    )

    # inserted vectors immediately findable at rank 1 (read-your-writes
    # at index level)
    log("insert done; read-your-writes serve")
    new_queries = new_rows.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    served_new = serve(spark, index_path, new_queries)[0].collect()
    top1 = {r["query_id"]: r["vec_id"] for r in served_new if r["rank"] == 1}
    checks["A4_inserted_found_rank1"] = all(
        top1.get(q) == q for q in new_ids
    )

    # ---- storage-level remove (touched-shards-only) ---------------------
    log("read-your-writes done; storage-level remove")
    before_rm = graph_file_state(index_path)
    t0 = time.time()
    rm = index.open(spark, index_path).remove(new_ids)
    res["remove_3rows_sec"] = round(time.time() - t0, 2)
    res["remove_touched_shards"] = rm["touched_shards"]
    after_rm = graph_file_state(index_path)
    rm_untouched_ok = True
    for rel, (size, mtime) in before_rm.items():
        shard = int(rel.split("=", 1)[1].split(os.sep, 1)[0])
        if shard in rm["touched_shards"]:
            continue
        if after_rm.get(rel) != (size, mtime):
            rm_untouched_ok = False
    served_rm = serve(spark, index_path, new_queries)[0].collect()
    checks["A5_remove_touched_shards_only"] = (
        rm["removed_rows"] == len(new_ids)
        and rm_untouched_ok
        and len(rm["touched_shards"]) <= len(new_ids)
    )
    # removed ids are physically unservable (not merely re-ranked out)
    checks["A6_removed_never_served"] = not (
        {r["vec_id"] for r in served_rm} & set(new_ids)
    )
    # graph-health verdict rides the remove report (round 9): a 3-id
    # sweep out of 25k-row shards must leave the wiring healthy — the
    # signal exists so CHURN-heavy deployments see erosion when it
    # happens, and a healthy verdict here pins the false-positive side
    res["remove_health"] = rm["health"]
    checks["A6b_health_reported_and_clean"] = (
        len(rm["health"]) == len(rm["touched_shards"]) - len(
            rm["emptied_shards"]
        )
        and all(not h["needs_repair"] for h in rm["health"])
        and all(h["mean_degree"] > 0 for h in rm["health"])
    )

    # ---- rebalance (split every oversized shard) -----------------------
    t0 = time.time()
    log("rebalancing")
    splits = index.open(spark, index_path).rebalance(
        target_rows_per_shard=ROWS_PER_SHARD // 2,
        skew_threshold=1.5,
    )
    res["rebalance_sec"] = round(time.time() - t0, 2)
    res["rebalance_splits"] = {str(k): v for k, v in splits.items()}
    log("rebalance done; serving 16 shards")
    served16, meta16 = serve(spark, index_path, queries)
    res["num_shards_after_rebalance"] = len(meta16["shard_ids"])
    rows16 = served16.collect()  # warm
    t0 = time.time()
    rows16 = serve(spark, index_path, queries)[0].collect()
    res["serve_16shard_sec"] = round(time.time() - t0, 2)
    res["recall_at_10_after_rebalance"] = round(recall_at_k(rows16, exact), 4)
    checks["A5_serve_sublinear_in_shards"] = (
        res["serve_16shard_sec"]
        <= 1.6 * max(res["serve_8shard_sec"], 0.2)
    )
    checks["A6_rebalance_split_and_recall"] = (
        len(splits) > 0
        and res["num_shards_after_rebalance"] > res["num_shards_built"]
        and res["recall_at_10_after_rebalance"] >= 0.95
    )

    # ---- serve-cache sweep (post-rebalance shard count) ----------------
    # Per-worker cache behavior over repeated serves: hit rate and
    # steady-state latency at cap=4 (the conservative default) vs
    # cap=n_shards.  local[32] has no task-to-worker affinity, so the
    # hit rate is a fleet property: it climbs as workers accumulate
    # shards, and a cap below the shard count bounds how far it climbs.
    n_shards_now = len(meta16["shard_ids"])
    sc = spark.sparkContext
    cache_sweep = {}
    for cap in (4, n_shards_now):
        log(f"cache sweep cap={cap}")
        rounds = []
        for rnd in range(4):
            acc_h, acc_m = sc.accumulator(0), sc.accumulator(0)
            t0 = time.time()
            rows_r = serve(
                spark, index_path, queries, use_cache=True,
                cache_accums=(acc_h, acc_m), cache_cap=cap,
            )[0].collect()
            dt = round(time.time() - t0, 2)
            h, ms = int(acc_h.value), int(acc_m.value)
            rounds.append(
                {"sec": dt, "hits": h, "misses": ms,
                 "hit_rate": round(h / max(h + ms, 1), 3)}
            )
        cache_sweep[f"cap_{cap}"] = rounds  # noqa: loop var in key
        # results must match the uncached serve regardless of cap
        checks[f"B1_cap{cap}_same_results"] = sorted(
            (r["query_id"], r["vec_id"]) for r in rows_r
        ) == sorted((r["query_id"], r["vec_id"]) for r in rows16)
    res["cache_sweep"] = cache_sweep
    last_small = cache_sweep[f"cap_4"][-1]["hit_rate"]
    last_big = cache_sweep[f"cap_{n_shards_now}"][-1]["hit_rate"]
    checks["B2_big_cap_hit_rate_not_worse"] = last_big >= last_small

    # ---- cogrouped serve (very-large-|Q| path) on the same corpus ------
    log("cogrouped serve")
    from astro_vectordb_spark.operators.hnsw import hnsw_query_shards_cogrouped
    from astro_vectordb_spark.sources.vault import load_hnsw_index

    g16, m16 = load_hnsw_index(spark, index_path)
    rows_cg = hnsw_query_shards_cogrouped(
        g16, queries, k=K, m=m16["m"], metric=m16["metric"],
        ef_search=512, shard_ids=m16["shard_ids"],
    ).collect()  # warm
    t0 = time.time()
    rows_cg = hnsw_query_shards_cogrouped(
        g16, queries, k=K, m=m16["m"], metric=m16["metric"],
        ef_search=512, shard_ids=m16["shard_ids"],
    ).collect()
    res["serve_cogrouped_sec"] = round(time.time() - t0, 2)
    checks["B3_cogrouped_same_results"] = sorted(
        (r["query_id"], r["vec_id"]) for r in rows_cg
    ) == sorted((r["query_id"], r["vec_id"]) for r in rows16)

    # ---- C: union-merge scaling on the QUERY axis (round-12 verdict
    # item 8): 5k and 20k queries against the rebalanced multi-shard
    # index via the cogrouped face.  The per-shard answers union into
    # the salted rank_topk_per_query merge; the claim under test is
    # that the merge table never concentrates — evidenced by (a) every
    # query served at both sizes and (b) ~linear wall growth on the
    # query axis (4x queries <= 8x wall, covering cogroup + merge).
    log("query-axis cogrouped serve")
    merge_axis = {}
    for nq, modulo in ((5_000, 40), (20_000, 10)):
        qbig = corpus.filter(F.col("vec_id") % modulo == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

        def _run():
            return (
                hnsw_query_shards_cogrouped(
                    g16, qbig, k=K, m=m16["m"], metric=m16["metric"],
                    ef_search=64, shard_ids=m16["shard_ids"],
                )
                .groupBy()
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.countDistinct("query_id").alias("nq"),
                )
                .first()
            )

        _run()  # warm
        t0 = time.time()
        got = _run()
        merge_axis[f"sec_{nq}"] = round(time.time() - t0, 2)
        merge_axis[f"served_{nq}"] = int(got["nq"])
        checks[f"C1_all_served_{nq}"] = int(got["nq"]) == nq
    merge_axis["ratio_4x_queries"] = round(
        merge_axis["sec_20000"] / max(merge_axis["sec_5000"], 0.01), 2
    )
    checks["C2_query_axis_linearish"] = merge_axis["ratio_4x_queries"] <= 8.0
    res["merge_query_axis"] = merge_axis

    # ---- quantized index: size, recall, serve latency ------------------
    log("quantized build")
    t0 = time.time()
    qgraph = hnsw_build_shards(
        corpus, num_shards=shards, m=16, ef_construction=64,
        metric="cosine", quantize=True,
    )
    q_path = "/tmp/scale/hnsw_index_q"
    save_hnsw_index(qgraph, q_path, m=16, metric="cosine")
    res["quantized_build_save_sec"] = round(time.time() - t0, 2)
    fb, qb = graph_bytes(index_path), graph_bytes(q_path)
    res["graph_bytes_float"] = fb
    res["graph_bytes_quantized"] = qb
    res["quantized_size_ratio"] = round(fb / max(qb, 1), 2)
    # NB: float path was rebalanced (different shard count) — the ratio
    # still reflects per-row storage since row counts match
    log("quantized serve")
    served_q, meta_q = serve(spark, q_path, queries, use_cache=True)
    rows_q = served_q.collect()  # warm
    t0 = time.time()
    rows_q = serve(spark, q_path, queries, use_cache=True)[0].collect()
    res["serve_quantized_sec"] = round(time.time() - t0, 2)
    res["recall_at_10_quantized"] = round(recall_at_k(rows_q, exact), 4)
    checks["B4_quantized_recall_ge_09"] = res["recall_at_10_quantized"] >= 0.9
    # quantization shrinks the VECTOR term 4x; graph rows also carry
    # neighbor lists (~16 longs x levels) that don't shrink, so the
    # honest whole-file bound is ~2.5x (measured 2.68x). The 8x
    # in-memory claim is the rebuilt index's vector matrix (float64 ->
    # int8), not the parquet file.
    checks["B5_quantized_at_least_2p5x_smaller"] = res["quantized_size_ratio"] >= 2.5

    res["checks"] = checks
    res["all_green"] = all(checks.values())
    line = json.dumps(res)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()
    sys.exit(0 if res["all_green"] else 1)


if __name__ == "__main__":
    main()
