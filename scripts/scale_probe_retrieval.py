"""Retrieval-stack scaling probe: BM25 / hybrid / MaxSim at 1M docs,
plus the cogrouped PQ batch face at 50k queries over 200k vectors.

The 100 TB claim for the retrieval family is *scan-linearity*: BM25
statistics build in one explode + map-side-combined groupBy; the
indexed query prices terms from the stats table and touches the corpus
with ONE zero-shuffle projection; hybrid fuses two bounded top-C
lists; MaxSim reduces every document to one row per partition before
its single tiny-row shuffle.  So 4x the docs should cost ~4x (modulo
fixed overhead) for both build and warm query — there is no index
structure whose maintenance could super-linearize.

Embeddings here are CODEGEN-generated (xxhash64 arithmetic), not the
stub hash embedder: the stub is a row-at-a-time Python md5 loop whose
throughput (an external-model concern — real deployments embed on
GPUs) would dominate every timing and hide the retrieval operators'
own scaling, which is what this probe measures.  Vector tables are
materialized to parquet once per size, outside the timed region.

The PQ row exercises ``pq_batch_topk_cogrouped`` — the
no-driver-materialization face — at a query volume (50k) where the
broadcast face's driver collect is already a real cost, asserting it
completes with full per-query results.

Prints one JSON line; evidence artifact: SCALE_PROBE_RETRIEVAL.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.session import get_spark

RATIO_CAP = 6.0  # 4x data, +50% headroom
SIZES = (250_000, 1_000_000)
TERMS = ["merge", "hash", "spark"]


def timed(fn) -> float:
    fn()
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


DIM = 16


def _codegen_vec(*seed_cols) -> "F.Column":
    """Deterministic unit-ish vector as pure codegen arithmetic —
    no Python in the loop."""
    return F.array(
        *[
            (F.pmod(F.xxhash64(*seed_cols, F.lit(i)), F.lit(2000)) - 1000)
            .cast("float") / 1000.0
            for i in range(DIM)
        ]
    )


def main() -> None:
    from astro_vectordb_spark.operators.keyword import (
        bm25_score_all,
        bm25_term_stats,
        bm25_topk_indexed,
    )
    from astro_vectordb_spark.operators.multivector import (
        chunk_documents,
        maxsim_topk,
    )
    from astro_vectordb_spark.operators.rerank import rrf_fuse
    from astro_vectordb_spark.operators.topk import score_against

    spark = get_spark("retrieval-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sizes": list(SIZES), "ratio_cap": RATIO_CAP}
    failures: list[str] = []

    docs_src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    corpora, doc_vecs, chunk_vecs = {}, {}, {}
    for n in SIZES:
        reps = n // 5000
        big = (
            docs_src.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
            .select(
                (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
                ).alias("text"),
            )
        )
        path = f"/tmp/scale_ret/docs{n}"
        big.repartition(32).write.mode("overwrite").parquet(path)
        corpora[n] = spark.read.parquet(path)
        # doc- and chunk-level vector tables, materialized outside the
        # timed region (see module docstring)
        vp = f"/tmp/scale_ret/vecs{n}"
        corpora[n].select(
            "doc_id", _codegen_vec(F.col("doc_id")).alias("embedding")
        ).write.mode("overwrite").parquet(vp)
        doc_vecs[n] = spark.read.parquet(vp)
        cp = f"/tmp/scale_ret/cvecs{n}"
        chunk_documents(corpora[n], chunk_tokens=20, stride=20).select(
            "doc_id",
            "chunk_id",
            _codegen_vec(F.col("doc_id"), F.col("chunk_id")).alias("embedding"),
        ).write.mode("overwrite").parquet(cp)
        chunk_vecs[n] = spark.read.parquet(cp)

    def ratio_entry(name, fn_by_n):
        secs = {n: timed(fn_by_n(n)) for n in SIZES}
        ratio = round(secs[SIZES[1]] / max(secs[SIZES[0]], 0.01), 2)
        ok = ratio <= RATIO_CAP
        out[name] = {
            **{f"sec_{n}": s for n, s in secs.items()},
            "ratio": ratio,
            "linear_ok": ok,
        }
        if not ok:
            failures.append(f"{name} ratio {ratio} > {RATIO_CAP}")

    # BM25 index build: explode -> vocabulary groupBy (one shuffle).
    # No cache() inside the timed fn — Spark's cache manager dedupes
    # by logical plan, so a cached first run would turn the second
    # (measured) run into a cache lookup.
    stats = {}

    def build(n):
        def f():
            ts, cs = bm25_term_stats(corpora[n])
            ts.count(), cs.count()
        return f

    ratio_entry("bm25_build", build)
    for n in SIZES:
        ts, cs = bm25_term_stats(corpora[n])
        stats[n] = (ts.cache(), cs.cache())
        stats[n][0].count(), stats[n][1].count()

    # BM25 warm indexed query: |terms|-row stats lookup + ONE corpus
    # scan (scan-bound -> linear in corpus, zero shuffles)
    def query(n):
        def f():
            ts, cs = stats[n]
            bm25_topk_indexed(corpora[n], ts, cs, TERMS, k=10).collect()
        return f

    ratio_entry("bm25_warm_query", query)

    # hybrid: BM25 lexical + vector cosine top-20 lists -> RRF (one
    # corpus text scan + one vector-table scan, two bounded TakeOrdered)
    def hybrid(n):
        qv = doc_vecs[n].filter(F.col("doc_id") == 0).first()["embedding"]

        def f():
            from pyspark.sql import Window

            w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            lex = (
                bm25_score_all(corpora[n], TERMS)
                .filter(F.col("score") > 0)
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(20)
                .withColumn("rank", F.row_number().over(w))
                .select("doc_id", "rank")
            )
            vec = (
                score_against(doc_vecs[n], qv)
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(20)
                .withColumn("rank", F.row_number().over(w))
                .select("doc_id", "rank")
            )
            rrf_fuse([lex, vec], k=10).collect()
        return f

    ratio_entry("hybrid_rrf", hybrid)

    # batch lexical serving (bm25_batch_topk_indexed): the |Q|-row
    # priced-terms array broadcasts into ONE corpus scan and the BM25
    # fold is per (doc, query) codegen work — so cost is linear in
    # docs at fixed |Q| AND linear in |Q| at fixed docs, with no
    # per-query corpus scan and no (doc, term) shuffle.  Completeness
    # asserted: every query (vocab terms always hit) gets k rows.
    from astro_vectordb_spark.operators.keyword import (
        bm25_batch_topk_indexed,
    )

    vocab = ["merge", "hash", "spark", "window", "agg", "table",
             "scan", "join", "row", "data"]

    def _qset(nq):
        return spark.createDataFrame(
            [(i, [vocab[i % 10], vocab[(i * 3 + 1) % 10]])
             for i in range(nq)],
            "query_id long, terms array<string>",
        )

    seen_nq: dict[tuple[int, int], int] = {}

    def _run_batch(n, qs, nq):
        ts, cs = stats[n]
        got_b = (
            bm25_batch_topk_indexed(corpora[n], ts, cs, qs, k=10)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.countDistinct("query_id").alias("nq"))
            .first()
        )
        seen_nq[(n, nq)] = int(got_b["nq"])

    qs32 = _qset(32)

    def bm25_batch_docs(n):
        def f():
            _run_batch(n, qs32, 32)
        return f

    ratio_entry("bm25_batch_docs_axis", bm25_batch_docs)

    # query-count axis at the small corpus: 4x queries -> <= cap x time
    secs_q = {}
    for nq in (32, 128):
        qs = _qset(nq)

        def f(qs=qs, nq=nq):
            _run_batch(SIZES[0], qs, nq)

        secs_q[nq] = timed(f)
    complete = all(
        seen_nq[(SIZES[0], nq)] == nq for nq in (32, 128)
    ) and all(seen_nq[(n, 32)] == 32 for n in SIZES)
    q_ratio = round(secs_q[128] / max(secs_q[32], 0.01), 2)
    q_ok = q_ratio <= RATIO_CAP and complete
    out["bm25_batch_query_axis"] = {
        "sec_32": secs_q[32], "sec_128": secs_q[128],
        "ratio": q_ratio, "all_queries_served": complete,
        "linear_ok": q_ok,
    }
    if not q_ok:
        failures.append(f"bm25_batch query axis ratio {q_ratio} or "
                        f"incomplete results")

    # hybrid FACADE batch composition (r9 verdict item 5): the whole
    # retrieve stack through hybrid_search_batch — vector lists via
    # search_batch (kind auto-detect over the persisted vector table),
    # lexical lists priced from the PERSISTED BM25 index (one corpus
    # scan for the whole batch), grouped RRF — timed on BOTH axes.
    # Completeness asserted (every query served k rows) and the fused
    # plan dump must contain NO single-partition stage (per-query
    # ranks are partitioned windows).
    from astro_vectordb_spark.plans.explain import executed_plan
    from astro_vectordb_spark.search import (
        hybrid_search_batch,
        hybrid_search_text_batch,
    )
    from astro_vectordb_spark.sources.vault import save_bm25_index

    rng_q = __import__("numpy").random.RandomState(7)
    bm25_paths, fvec_paths = {}, {}
    for n in SIZES:
        bp = f"/tmp/scale_ret/bm25idx{n}"
        save_bm25_index(stats[n][0], stats[n][1], bp)
        bm25_paths[n] = bp
        # facade-shaped vector table (vec_id column = the exact-kind
        # contract), materialized outside the timed region
        fp = f"/tmp/scale_ret/fvecs{n}"
        doc_vecs[n].select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.mode("overwrite").parquet(fp)
        fvec_paths[n] = fp

    def _hyb_qset(nq):
        return spark.createDataFrame(
            [
                (
                    i,
                    [float(x) for x in rng_q.normal(size=DIM)],
                    [vocab[i % 10], vocab[(i * 3 + 1) % 10]],
                )
                for i in range(nq)
            ],
            "query_id long, query_vec array<float>, terms array<string>",
        )

    hyb_seen: dict[tuple[int, int], int] = {}

    def _run_hybrid_batch(n, qs, nq):
        got_h = (
            hybrid_search_batch(
                spark, fvec_paths[n], bm25_paths[n],
                corpora[n], qs, k=10, fetch_k=20,
            )
            .groupBy()
            .agg(F.countDistinct("query_id").alias("nq"))
            .first()
        )
        hyb_seen[(n, nq)] = int(got_h["nq"])

    hqs32 = _hyb_qset(32)

    def hybrid_batch_docs(n):
        def f():
            _run_hybrid_batch(n, hqs32, 32)
        return f

    ratio_entry("hybrid_batch_docs_axis", hybrid_batch_docs)

    hsecs_q = {}
    for nq in (32, 128):
        hqs = _hyb_qset(nq)

        def f(hqs=hqs, nq=nq):
            _run_hybrid_batch(SIZES[0], hqs, nq)

        hsecs_q[nq] = timed(f)
    hyb_complete = all(
        hyb_seen[(SIZES[0], nq)] == nq for nq in (32, 128)
    ) and all(hyb_seen[(n, 32)] == 32 for n in SIZES)
    fused_plan = executed_plan(
        hybrid_search_batch(
            spark, fvec_paths[SIZES[0]], bm25_paths[SIZES[0]],
            corpora[SIZES[0]], hqs32, k=10, fetch_k=20,
        )
    )
    no_single = "SinglePartition" not in fused_plan
    hq_ratio = round(hsecs_q[128] / max(hsecs_q[32], 0.01), 2)
    hq_ok = hq_ratio <= RATIO_CAP and hyb_complete and no_single
    out["hybrid_batch_query_axis"] = {
        "sec_32": hsecs_q[32], "sec_128": hsecs_q[128],
        "ratio": hq_ratio, "all_queries_served": hyb_complete,
        "no_single_partition_stage": no_single,
        "linear_ok": hq_ok,
    }
    if not hq_ok:
        failures.append(
            f"hybrid batch query axis ratio {hq_ratio}, complete "
            f"{hyb_complete}, no_single_partition {no_single}"
        )

    # text-in batch face: raw query strings -> distributed encoder
    # (bounded |Q| rows through the registry stub — the corpus side
    # stays the pre-materialized codegen table) -> tokenize ->
    # hybrid_search_batch as one plan.  dim pinned to the corpus
    # vector width.
    def _txt_qset(nq):
        return spark.createDataFrame(
            [(i, f"{vocab[i % 10]} {vocab[(i * 3 + 1) % 10]}")
             for i in range(nq)],
            "query_id long, query_text string",
        )

    tqs = {nq: _txt_qset(nq) for nq in (32, 128)}
    tsecs = {}
    tseen = {}
    for nq in (32, 128):
        def f(nq=nq):
            got_t = (
                hybrid_search_text_batch(
                    spark, fvec_paths[SIZES[0]],
                    bm25_paths[SIZES[0]], corpora[SIZES[0]], tqs[nq],
                    k=10, fetch_k=20, dim=DIM,
                )
                .groupBy()
                .agg(F.countDistinct("query_id").alias("nq"))
                .first()
            )
            tseen[nq] = int(got_t["nq"])

        tsecs[nq] = timed(f)
    t_ratio = round(tsecs[128] / max(tsecs[32], 0.01), 2)
    t_complete = all(tseen[nq] == nq for nq in (32, 128))
    t_ok = t_ratio <= RATIO_CAP and t_complete
    out["hybrid_text_batch_query_axis"] = {
        "sec_32": tsecs[32], "sec_128": tsecs[128],
        "ratio": t_ratio, "all_queries_served": t_complete,
        "linear_ok": t_ok,
    }
    if not t_ok:
        failures.append(
            f"hybrid text batch query axis ratio {t_ratio}, "
            f"complete {t_complete}"
        )

    # full PRF loop on the batch face (round 11, verdict item 8): the
    # whole retrieve -> per-query PRF expansion -> dynamic-term
    # lexical refold -> fuse -> per-query snippet highlight as ONE
    # plan.  The expansion's corpus-scale work is one extra batch BM25
    # scan shared by every query (feedback sets are |Q| x n_feedback
    # bounded; the top-term cut is a partitioned window), so the
    # query axis must stay ~linear and every query must come back
    # with its snippet columns.
    psecs = {}
    pseen = {}
    for nq in (32, 128):
        def f(nq=nq):
            got_p = (
                hybrid_search_text_batch(
                    spark, fvec_paths[SIZES[0]],
                    bm25_paths[SIZES[0]], corpora[SIZES[0]], tqs[nq],
                    k=10, fetch_k=20, dim=DIM,
                    prf=True, n_feedback=10, n_expand=5,
                    snippets=True, snippet_window=8,
                )
                .groupBy()
                .agg(
                    F.countDistinct("query_id").alias("nq"),
                    F.sum(
                        F.when(F.col("snippet") != "", 1).otherwise(0)
                    ).alias("nsnip"),
                )
                .first()
            )
            pseen[nq] = (int(got_p["nq"]), int(got_p["nsnip"]))

        psecs[nq] = timed(f)
    p_ratio = round(psecs[128] / max(psecs[32], 0.01), 2)
    p_complete = all(pseen[nq][0] == nq for nq in (32, 128))
    p_snips = all(pseen[nq][1] > 0 for nq in (32, 128))
    p_ok = p_ratio <= RATIO_CAP and p_complete and p_snips
    out["hybrid_prf_batch_query_axis"] = {
        "sec_32": psecs[32], "sec_128": psecs[128],
        "ratio": p_ratio, "all_queries_served": p_complete,
        "snippets_present": p_snips,
        "linear_ok": p_ok,
    }
    if not p_ok:
        failures.append(
            f"hybrid PRF batch query axis ratio {p_ratio}, complete "
            f"{p_complete}, snippets {p_snips}"
        )

    # MaxSim over non-overlapping 20-token chunk vectors
    def maxsim(n):
        qrows = (
            chunk_vecs[n]
            .filter((F.col("doc_id") == 0) & (F.col("chunk_id") < 2))
            .orderBy("chunk_id")
            .collect()
        )
        qvs = [r["embedding"] for r in qrows]

        def f():
            maxsim_topk(chunk_vecs[n], qvs, k=10).collect()
        return f

    ratio_entry("chunk_maxsim", maxsim)

    # cogrouped PQ batch face: 50k queries x 200k vectors, no
    # driver-side query materialization
    from astro_vectordb_spark.operators.pq import (
        pq_batch_topk_cogrouped,
        pq_encode,
        pq_train,
    )

    emb_src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    vecs = (
        emb_src.crossJoin(spark.range(100).withColumnRenamed("id", "rep"))
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + (F.col("rep") % 17).cast("float") * 0.001 * i.cast("float"),
            ).alias("embedding"),
        )
    )
    vpath = "/tmp/scale_ret/vecs200k"
    vecs.repartition(32).write.mode("overwrite").parquet(vpath)
    corpus = spark.read.parquet(vpath)
    model = pq_train(corpus, m=8, ks=64, max_rows=20_000)
    encoded = pq_encode(corpus, model)
    epath = "/tmp/scale_ret/codes200k"
    encoded.write.mode("overwrite").parquet(epath)
    encoded = spark.read.parquet(epath)
    queries = corpus.filter(F.col("vec_id") % 4 == 0).limit(50_000).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qpath = "/tmp/scale_ret/q50k"
    queries.write.mode("overwrite").parquet(qpath)
    queries = spark.read.parquet(qpath)

    t0 = time.time()
    got = (
        pq_batch_topk_cogrouped(
            encoded, corpus, queries, k=5, model=model, refine_factor=4,
            n_blocks=32,
        )
        .groupBy()
        .agg(F.count(F.lit(1)).alias("rows"),
             F.countDistinct("query_id").alias("nq"))
        .first()
    )
    sec = round(time.time() - t0, 2)
    pq_ok = int(got["nq"]) == 50_000 and int(got["rows"]) == 250_000
    out["pq_cogrouped_50k"] = {
        "queries": 50_000,
        "corpus": 200_000,
        "sec": sec,
        "result_rows": int(got["rows"]),
        "distinct_queries": int(got["nq"]),
        "complete_ok": pq_ok,
    }
    if not pq_ok:
        failures.append("pq cogrouped 50k incomplete results")

    # PQ remove lifecycle: deleting a small id set from a persisted
    # codes table must rewrite ONLY the files containing those ids —
    # the touched-files contract that makes churn affordable at 100 TB
    import os as _os

    from astro_vectordb_spark.sources.vault import save_pq_index

    idx_path = "/tmp/scale_ret/pq_rm_idx"
    save_pq_index(encoded.repartition(64), model, idx_path)

    def _code_files():
        return {
            f for f in _os.listdir(_os.path.join(idx_path, "codes"))
            if f.endswith(".parquet")
        }

    base_files = _code_files()
    # append a 1k batch (lands in its own file(s)), then remove it:
    # the rewrite must touch only the appended files — the 200k-row
    # base table keeps every original file byte-identical.  Offset
    # beyond the replicated id space (reps reach ~99M) so the new ids
    # are genuinely fresh
    new_rows = corpus.limit(1000).select(
        (F.col("vec_id") + 200_000_000).alias("vec_id"), "embedding"
    )
    index.open(spark, idx_path).append(new_rows.coalesce(1))
    t0 = time.time()
    rep = index.open(spark, idx_path).remove(
        new_rows.select("vec_id"),
    )
    rm_sec = round(time.time() - t0, 2)
    surviving_base = base_files & _code_files()
    rm_ok = (
        rep["removed_rows"] == 1000
        and rep["touched_files"] <= 2
        and len(surviving_base) == len(base_files)
    )
    out["pq_remove_appended_1k"] = {
        "removed_rows": rep["removed_rows"],
        "touched_files": rep["touched_files"],
        "base_files": len(base_files),
        "base_files_untouched": len(surviving_base),
        "sec": rm_sec,
        "ok": rm_ok,
    }
    if not rm_ok:
        failures.append("pq remove lifecycle")

    out["failures"] = failures
    out["all_ok"] = not failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
