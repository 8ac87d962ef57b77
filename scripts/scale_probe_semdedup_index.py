"""Persisted-SemDeDup-index probe: the steady-state claim, measured.

The one-shot ``semantic_dedup`` face re-assigns the WHOLE corpus and
re-searches every cell per policy run — at 100 TB that is a
full-corpus pass per batch of new data.  The persisted index
(``sources/semdedup_index.py``) assigns only the BATCH against the
stored centroids and joins the compact cell table.

Scale-correct configuration: k (cell count) grows with the corpus so
expected CELL SIZE stays constant (the paper runs k in the tens of
thousands at web scale).  Under that configuration per-batch match
cost is corpus-independent — which is exactly what this probe
measures:

- corpus 1x (60k, k=32) vs 4x (240k, k=128), SAME fixed 1.5k batch:
  match wall ratio must stay well under the 4x data growth (<= 2.0
  with host-noise headroom; the design target is ~1x);
- incremental beats one-shot: appending the batch to the 4x index
  must be materially cheaper than re-running the one-shot
  semantic_dedup over corpus+batch;
- correctness at both scales: planted duplicates of indexed vectors
  surface at score exactly 1.0.

Prints one JSON line; evidence artifact: SCALE_PROBE_SEMDEDUP_INDEX.json.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark.session import get_spark

DIM = 32
N1, K1 = 60_000, 32
N4, K4 = 240_000, 128
BATCH = 1_500
EPS = 0.97


def _vec(idc, centers):
    cell = F.pmod(idc, F.lit(centers))
    return F.array(
        *[
            (F.pmod(F.xxhash64(cell, F.lit(i), F.lit("c")), F.lit(2000))
             - 1000).cast("double") / 1000.0
            # noise 0.4: same-center cosine lands ~0.93, BELOW eps —
            # only planted exact copies match, so pair volume measures
            # the candidate join, not a degenerate everything-matches
            # blowup (0.05 made every center one giant eps-group and
            # OOM'd the one-shot CC)
            + (F.pmod(F.xxhash64(idc, F.lit(i), F.lit("n")), F.lit(2000))
               - 1000).cast("double") / 1000.0 * 0.4
            for i in range(DIM)
        ]
    )


def main() -> None:
    from astro_vectordb_spark import neardup
    from astro_vectordb_spark.sources.semdedup_index import save_semdedup_index

    spark = get_spark("semdedup-index-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"dim": DIM, "batch": BATCH, "eps": EPS,
                 "corpora": {"x1": {"n": N1, "k": K1},
                             "x4": {"n": N4, "k": K4}}}
    failures: list[str] = []
    shutil.rmtree("/tmp/scale_sd", ignore_errors=True)

    def build_corpus(n, centers, path):
        (
            spark.range(n)
            .select(F.col("id").alias("vec_id"),
                    _vec(F.col("id"), centers).alias("embedding"))
            .write.mode("overwrite").parquet(path)
        )
        df = spark.read.parquet(path).cache()
        df.count()
        return df

    # the same fixed batch probes both indexes: fresh ids + planted
    # copies of 20 indexed vectors (ids shifted +10M)
    def make_batch(df):
        fresh = (
            spark.range(BATCH - 20)
            .select((F.col("id") + 5_000_000).alias("vec_id"),
                    _vec(F.col("id") + 777_777, 999).alias("embedding"))
        )
        planted = (
            df.filter(F.col("vec_id") < 20)
            .select((F.col("vec_id") + 10_000_000).alias("vec_id"),
                    "embedding")
        )
        b = fresh.unionByName(planted).cache()
        b.count()
        return b

    results = {}
    for tag, (n, k) in (("x1", (N1, K1)), ("x4", (N4, K4))):
        corpus = build_corpus(n, 64 if tag == "x1" else 256,
                              f"/tmp/scale_sd/corpus_{tag}")
        path = f"/tmp/scale_sd/idx_{tag}"
        t0 = time.time()
        save_semdedup_index(corpus, path, k_cells=k, seed=5)
        build_s = time.time() - t0
        batch = make_batch(corpus)
        # warm once (session plan caches), then time the match twice
        neardup.open(spark, path).match(batch, eps=EPS).count()
        walls = []
        planted_hits = 0
        for _ in range(2):
            t0 = time.time()
            got = neardup.open(spark, path).match(batch, eps=EPS)
            planted_hits = got.filter(
                (F.col("new_id") >= 10_000_000)
                & (F.col("new_id") - 10_000_000 == F.col("hist_id"))
                & (F.col("score") == 1.0)
            ).count()
            walls.append(time.time() - t0)
        results[tag] = {
            "build_s": round(build_s, 1),
            "match_s": round(min(walls), 2),
            "planted_found": planted_hits,
        }
        if planted_hits != 20:
            failures.append(f"{tag}: planted {planted_hits}/20 found")
        batch.unpersist()
        corpus.unpersist()

    ratio = results["x4"]["match_s"] / max(results["x1"]["match_s"], 1e-9)
    out["results"] = results
    out["match_wall_ratio_4x_corpus"] = round(ratio, 3)
    if ratio > 2.0:
        failures.append(
            f"match wall grew {ratio}x at 4x corpus (constant-cell-size "
            f"config should stay ~flat)"
        )

    # incremental append vs one-shot re-dedup at 4x
    from astro_vectordb_spark.operators.dedup import semantic_dedup

    corpus4 = spark.read.parquet("/tmp/scale_sd/corpus_x4").cache()
    corpus4.count()
    batch = make_batch(corpus4)
    t0 = time.time()
    neardup.open(spark, "/tmp/scale_sd/idx_x4").append(batch, batch_id=1)
    t_append = time.time() - t0
    t0 = time.time()
    semantic_dedup(
        corpus4.unionByName(batch), eps=EPS, k_cells=K4, keep="min_id",
        seed=5,
    ).count()
    t_oneshot = time.time() - t0
    out["append_s"] = round(t_append, 1)
    out["oneshot_s"] = round(t_oneshot, 1)
    out["append_vs_oneshot"] = round(t_oneshot / max(t_append, 1e-9), 2)
    if t_append >= t_oneshot:
        failures.append(
            f"append {t_append}s not cheaper than one-shot {t_oneshot}s"
        )

    out["failures"] = failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
