"""Adaptive refine probe: the error-bound reorder-list claim, measured.

Fixed ``refine_factor`` spends the SAME stage-2 exact-re-rank budget
on every query — the join traffic term that grows at 100 TB — even
when the ADC margins say most of the pool cannot reach the top-k.
``adaptive_refine`` keeps rank <= k*refine_min plus everything within
``sigma_mult * sigma`` of the rank-k ADC score, where sigma is the
per-query quantization-error scale derived from the model's training
MSE (``pq.adc_sigma``).

This probe builds an ISOTROPIC (unclustered — the hard regime: every
query's neighborhood is thin-margined) 100k x 32-d corpus, trains one
PQ model, and serves the same query set three ways:

- exact brute force (ground truth top-10);
- fixed refine at the ceiling (refine 32): recall + pool = k*32/query;
- adaptive with the same ceiling: recall must stay >= 0.9 AND the
  measured mean stage-2 pool must come in BELOW the fixed baseline.

Also pins the IVF-PQ residual face: adaptive recall within 0.02 of
fixed at the same ceiling, pool strictly smaller.

Prints one JSON line; evidence artifact: SCALE_PROBE_ADAPTIVE_REFINE.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np
from pyspark.sql import functions as F

from astro_vectordb_spark.session import get_spark

N = 100_000
DIM = 32
NQ = 40
K = 10
REFINE_MAX = 32
REFINE_MIN = 4
SIGMA_MULT = 3.0


def main() -> None:
    from astro_vectordb_spark.functions.vector import similarity
    from astro_vectordb_spark.operators.pq import (
        adaptive_refine_cut,
        adc_sigma,
        ivf_pq_build,
        ivf_pq_topk,
        pq_candidates,
        pq_encode,
        pq_topk,
        pq_train,
    )

    spark = get_spark("adaptive-refine-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"corpus": N, "dim": DIM, "queries": NQ, "k": K,
                 "refine_max": REFINE_MAX, "refine_min": REFINE_MIN,
                 "sigma_mult": SIGMA_MULT}
    failures: list[str] = []

    # isotropic corpus: pure codegen hash arithmetic, no Python rows
    vec = F.array(
        *[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(i), F.lit("v")),
                    F.lit(2000)) - 1000).cast("double") / 1000.0
            for i in range(DIM)
        ]
    )
    path = "/tmp/scale_adaptive/corpus"
    (
        spark.range(N)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .write.mode("overwrite").parquet(path)
    )
    corpus = spark.read.parquet(path).cache()
    corpus.count()

    rng = np.random.RandomState(17)
    queries = [
        [float(x) for x in rng.randn(DIM)] for _ in range(NQ)
    ]

    model = pq_train(corpus, m=8, ks=256, metric="cosine", max_rows=20_000)
    out["train_mse"] = model.train_mse
    encoded = spark.createDataFrame(
        pq_encode(corpus, model).collect()
    ).cache()
    encoded.count()

    def exact_topk(q):
        qv = F.array(*[F.lit(float(x)) for x in q])
        return {
            r["vec_id"]
            for r in corpus.withColumn(
                "s", similarity(F.col("embedding"), qv, "cosine")
            ).orderBy(F.col("s").desc(), F.col("vec_id").asc())
            .limit(K).collect()
        }

    truths = [exact_topk(q) for q in queries]

    # -- flat PQ face ------------------------------------------------
    def serve_recall(adaptive: bool):
        rec = []
        for q, truth in zip(queries, truths):
            got = {
                r["vec_id"]
                for r in pq_topk(
                    encoded, corpus, q, K, model,
                    refine_factor=REFINE_MAX,
                    adaptive_refine=adaptive,
                    refine_min=REFINE_MIN, sigma_mult=SIGMA_MULT,
                ).collect()
            }
            rec.append(len(got & truth) / K)
        return float(np.mean(rec))

    def pool_sizes():
        # measurement pass, OUTSIDE the serving timer: the stage-2
        # exact-re-rank pool each adaptive query actually shipped
        return float(np.mean([
            adaptive_refine_cut(
                pq_candidates(encoded, model, q, K * REFINE_MAX,
                              with_scores=True),
                K, adc_sigma(model, q),
                refine_min=REFINE_MIN, sigma_mult=SIGMA_MULT,
            ).count()
            for q in queries
        ]))

    t0 = time.time()
    r_fixed = serve_recall(False)
    t_fixed = time.time() - t0
    p_fixed = float(K * REFINE_MAX)
    t0 = time.time()
    r_adapt = serve_recall(True)
    t_adapt = time.time() - t0
    p_adapt = pool_sizes()
    out["pq"] = {
        "recall_fixed": round(r_fixed, 4), "pool_fixed": p_fixed,
        "recall_adaptive": round(r_adapt, 4), "pool_adaptive": p_adapt,
        "pool_ratio": round(p_adapt / p_fixed, 4),
        "wall_fixed_s": round(t_fixed, 1),
        "wall_adaptive_s": round(t_adapt, 1),
    }
    if r_adapt < 0.9:
        failures.append(f"pq adaptive recall {r_adapt} < 0.9")
    if p_adapt >= p_fixed:
        failures.append(
            f"pq adaptive pool {p_adapt} not below fixed {p_fixed}"
        )

    # -- IVF-PQ residual face (smaller sweep) ------------------------
    enc2, cents2, model2 = ivf_pq_build(
        corpus, k_cells=16, m=8, ks=256, metric="cosine",
        residual=True, max_rows=20_000,
    )
    enc2 = spark.createDataFrame(enc2.collect()).cache()
    enc2.count()
    rec_f, rec_a = [], []
    for q, truth in zip(queries[:15], truths[:15]):
        got_f = {
            r["vec_id"]
            for r in ivf_pq_topk(
                enc2, cents2, corpus, q, K, model2, nprobe=8,
                refine_factor=REFINE_MAX,
            ).collect()
        }
        got_a = {
            r["vec_id"]
            for r in ivf_pq_topk(
                enc2, cents2, corpus, q, K, model2, nprobe=8,
                refine_factor=REFINE_MAX, adaptive_refine=True,
                refine_min=REFINE_MIN, sigma_mult=SIGMA_MULT,
            ).collect()
        }
        rec_f.append(len(got_f & truth) / K)
        rec_a.append(len(got_a & truth) / K)
    out["ivf_pq_residual"] = {
        "recall_fixed": round(float(np.mean(rec_f)), 4),
        "recall_adaptive": round(float(np.mean(rec_a)), 4),
    }
    if np.mean(rec_a) < np.mean(rec_f) - 0.02:
        failures.append(
            f"ivfpq adaptive recall {np.mean(rec_a)} more than 0.02 "
            f"below fixed {np.mean(rec_f)}"
        )

    # -- batch faces (round 14): the SAME cut applied plan-side inside
    # the batch ranking — recall within 0.01 of the fixed batch path,
    # pool ratio < 1, one plan for the whole query set (no per-query
    # driver jobs)
    from astro_vectordb_spark.operators.pq import (
        adaptive_refine_cut_batch,
        pq_batch_topk_cogrouped,
    )

    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(queries)],
        "query_id long, query_vec array<double>",
    )

    def batch_recall(adaptive: bool):
        got: dict = {}
        for r in pq_batch_topk_cogrouped(
            encoded, corpus, qdf, K, model, refine_factor=REFINE_MAX,
            adaptive_refine=adaptive, refine_min=REFINE_MIN,
            sigma_mult=SIGMA_MULT,
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return float(np.mean([
            len(got.get(i, set()) & truth) / K
            for i, truth in enumerate(truths)
        ]))

    t0 = time.time()
    rb_fixed = batch_recall(False)
    tb_fixed = time.time() - t0
    t0 = time.time()
    rb_adapt = batch_recall(True)
    tb_adapt = time.time() - t0
    # the global per-query pool the batch cut sees: each query's ADC
    # candidates ranked by (adc desc, id asc)
    from functools import reduce

    from pyspark.sql import DataFrame, Window

    pool = reduce(DataFrame.unionByName, [
        pq_candidates(encoded, model, q, K * REFINE_MAX, with_scores=True)
        .withColumn("query_id", F.lit(i).cast("long"))
        for i, q in enumerate(queries)
    ])
    pool = pool.withColumn("rank", F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("adc_score").desc(), F.col("vec_id").asc())
    )).cache()
    pb_fixed = pool.count() / NQ
    pb_adapt = adaptive_refine_cut_batch(
        pool, K, model, queries=qdf, refine_min=REFINE_MIN,
        sigma_mult=SIGMA_MULT,
    ).count() / NQ
    out["pq_batch"] = {
        "recall_fixed": round(rb_fixed, 4),
        "recall_adaptive": round(rb_adapt, 4),
        "pool_fixed": pb_fixed,
        "pool_adaptive": pb_adapt,
        "pool_ratio": round(pb_adapt / pb_fixed, 4),
        "wall_fixed_s": round(tb_fixed, 1),
        "wall_adaptive_s": round(tb_adapt, 1),
    }
    if rb_adapt < rb_fixed - 0.01:
        failures.append(
            f"batch adaptive recall {rb_adapt} more than 0.01 below "
            f"fixed {rb_fixed}"
        )
    if pb_adapt >= pb_fixed:
        failures.append(
            f"batch adaptive pool {pb_adapt} not below fixed {pb_fixed}"
        )

    out["failures"] = failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
