"""SemDeDup refresh probe: retrain-in-place vs full rebuild, measured.

Round-14 verdict item 2: the stored centroids are frozen at save time;
on a drifting corpus the append face's drift report says WHEN to
retrain, and ``semdedup_refresh_index`` is the HOW — refit on a
bounded sample, one staged-swap reassignment pass, vectors never
rewritten, replay log preserved.  The claim this probe pins:

- the refresh-vs-rebuild wall ratio WIDENS with corpus size and the
  refresh wins outright at the larger scale (``save_semdedup_index``
  from the same vectors re-encodes + rewrites the vectors table —
  the part whose bytes scale with the corpus — which refresh skips;
  at toy scale Spark job overhead dominates both sides, so the
  per-scale wall is reported as data, not asserted);
- the drift signal round-trips: an off-distribution batch reports
  batch_sim_mean well under the train baseline; after a refresh the
  baseline tracks the new mixture and the SAME batch's vectors assign
  near it;
- correctness through the refresh: planted exact copies of indexed
  vectors still surface at score exactly 1.0, and the replay log
  still dedups a committed batch id.

Round-15 verdict item 5: the r14 probe ran at ONE corpus size
(240k x 32d), where Spark job overhead dominates and the refresh-vs-
rebuild wall ratio (1.14x) understated the claim.  The probe now runs
the SAME scenario at 1x and 4x corpus and asserts the wall gap WIDENS
with scale — the refresh skips exactly the corpus-byte-scaling work
(vector rewrite + re-ingest), so its advantage must grow as the
vectors table grows.

Prints one JSON line; evidence artifact: SCALE_PROBE_SEMDEDUP_REFRESH.json.
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
N = 240_000
K = 64
EPS = 0.97
BATCH = 2_000
SCALES = (1, 4)


def _vec(idc, centers, salt="c", noise=0.4):
    cell = F.pmod(idc, F.lit(centers))
    return F.array(
        *[
            (F.pmod(F.xxhash64(cell, F.lit(i), F.lit(salt)), F.lit(2000))
             - 1000).cast("double") / 1000.0
            + (F.pmod(F.xxhash64(idc, F.lit(i), F.lit("n")), F.lit(2000))
               - 1000).cast("double") / 1000.0 * noise
            for i in range(DIM)
        ]
    )


def run_scale(spark, mult: int) -> dict:
    from astro_vectordb_spark import neardup
    from astro_vectordb_spark.sources.semdedup_index import (
        load_semdedup_index,
        save_semdedup_index,
        semdedup_refresh_index,
    )
    from astro_vectordb_spark.sources.vault import _batch_already_committed

    n = N * mult
    out: dict = {"dim": DIM, "n": n, "k": K, "eps": EPS}
    failures: list[str] = []
    shutil.rmtree("/tmp/scale_sd_refresh", ignore_errors=True)

    (
        spark.range(n)
        .select(F.col("id").alias("vec_id"),
                _vec(F.col("id"), 64).alias("embedding"))
        .write.mode("overwrite").parquet("/tmp/scale_sd_refresh/corpus")
    )
    corpus = spark.read.parquet("/tmp/scale_sd_refresh/corpus").cache()
    corpus.count()

    path = "/tmp/scale_sd_refresh/idx"
    t0 = time.time()
    save_semdedup_index(corpus, path, k_cells=K, seed=5)
    t_build = time.time() - t0
    base = load_semdedup_index(spark, path)[3]
    out["train_sim_mean_before"] = round(base["train_sim_mean"], 4)

    # drift: an off-distribution batch (different center family) must
    # report well under the baseline
    drifted = (
        spark.range(BATCH)
        .select((F.col("id") + 5_000_000).alias("vec_id"),
                _vec(F.col("id"), 64, salt="OTHER").alias("embedding"))
        .cache()
    )
    drifted.count()
    rep = neardup.open(spark, path).append(drifted, batch_id=1)
    out["drift_batch_sim_mean"] = round(rep["batch_sim_mean"], 4)
    if not rep["batch_sim_mean"] < rep["train_sim_mean"] - 0.05:
        failures.append(
            f"off-distribution batch mean {rep['batch_sim_mean']} did not "
            f"sink below baseline {rep['train_sim_mean']}"
        )

    # refresh (refit + reassign, vectors untouched) vs full rebuild
    t0 = time.time()
    rrep = semdedup_refresh_index(spark, path, k_cells=K, seed=11)
    t_refresh = time.time() - t0
    t0 = time.time()
    save_semdedup_index(
        corpus.unionByName(drifted), "/tmp/scale_sd_refresh/idx_rebuild",
        k_cells=K, seed=11,
    )
    t_rebuild = time.time() - t0
    out["build_s"] = round(t_build, 1)
    out["refresh_s"] = round(t_refresh, 1)
    out["rebuild_s"] = round(t_rebuild, 1)
    out["refresh_vs_rebuild"] = round(t_rebuild / max(t_refresh, 1e-9), 2)
    out["moved_rows"] = rrep["moved_rows"]
    out["train_sim_mean_after"] = round(rrep["train_sim_mean"], 4)
    # the asymptotic saving a toy-scale wall clock understates: refresh
    # never rewrites (or re-ingests) the vectors table — the component
    # whose bytes scale with the corpus — only the compact cells table
    # and centroids.  Report both so the artifact carries the ratio
    # that matters at 100 TB alongside the wall ordering.
    import os as _os

    def _dir_mb(p):
        return round(sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _, fs in _os.walk(p) for f in fs
        ) / 1e6, 1)

    out["vecs_mb_untouched_by_refresh"] = _dir_mb(
        "/tmp/scale_sd_refresh/idx/vecs")
    out["cells_mb_rewritten"] = _dir_mb("/tmp/scale_sd_refresh/idx/cells")
    # the refit saw the drifted rows (they were appended): the new
    # baseline covers the mixture, and the drifted slice now assigns
    # near it — the same batch re-scored must no longer scream drift
    rep2 = neardup.open(spark, path).append(drifted, batch_id=1)
    if not rep2.get("skipped_replay"):
        failures.append("replay log lost through refresh")
    if not _batch_already_committed(spark, path, 1, op="semdedup_append"):
        failures.append("batch 1 not committed after refresh")

    # correctness: planted exact copies of indexed vectors at 1.0
    planted = (
        corpus.filter(F.col("vec_id") < 20)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"),
                "embedding")
    )
    got = neardup.open(spark, path).match(planted, eps=EPS)
    hits = got.filter(
        (F.col("new_id") - 10_000_000 == F.col("hist_id"))
        & (F.col("score") == 1.0)
    ).count()
    out["planted_found"] = hits
    if hits != 20:
        failures.append(f"planted {hits}/20 found after refresh")

    out["failures"] = failures
    corpus.unpersist()
    drifted.unpersist()
    return out


def main() -> None:
    spark = get_spark("semdedup-refresh-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # absorb first-job JIT/codegen so scale 1x is not the cold run
    spark.range(2_000_000).select(F.sum("id")).collect()
    runs = [run_scale(spark, m) for m in SCALES]
    out = {"runs": runs,
           "failures": [f for r in runs for f in r["failures"]]}
    # the 100 TB claim: the refresh advantage must WIDEN with corpus
    # size (refresh skips exactly the corpus-byte-scaling work)
    r1, r4 = runs[0], runs[-1]
    out["wall_gap_1x"] = r1["refresh_vs_rebuild"]
    out["wall_gap_4x"] = r4["refresh_vs_rebuild"]
    if r4["refresh_vs_rebuild"] <= r1["refresh_vs_rebuild"]:
        out["failures"].append(
            f"wall gap did not widen with scale: 1x "
            f"{r1['refresh_vs_rebuild']} vs 4x {r4['refresh_vs_rebuild']}"
        )
    if r4["refresh_s"] >= r4["rebuild_s"]:
        out["failures"].append(
            f"refresh {r4['refresh_s']}s not cheaper than rebuild "
            f"{r4['rebuild_s']}s at the 4x scale"
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
