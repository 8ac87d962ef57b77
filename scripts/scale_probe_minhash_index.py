"""Persisted near-dup index probe: the incremental-ingest claim,
measured.

A steady-state pipeline dedups each new batch against everything
already ingested.  The one-shot operator (minhash_lsh_pairs_sql_safe)
re-shingles the WHOLE corpus per run; the persisted index
(vault.save_minhash_index / neardup.open(...).match) stores signatures +
band buckets once and matches a batch against the compact tables.
This probe builds the index at 250k and 1M docs and checks:

- build wall grows ~linearly with the corpus (ratio cap);
- matching a FIXED 10k batch grows sublinearly vs corpus (the only
  corpus-sized inputs are the sigs/bands tables — longs, not text);
- matching scales ~linearly on the batch axis (10k vs 40k at 1M);
- incremental match at 1M is MUCH cheaper than re-running the batch
  operator over corpus+batch (the design's reason to exist);
- planted copies are found at est exactly 1.0 (completeness).

Corpus text is pure-codegen (element_at over a word array by xxhash
arithmetic) and materialized to parquet outside every timed region.

Prints one JSON line; artifact: SCALE_PROBE_MINHASH_INDEX.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark.session import get_spark

SIZES = [250_000, 1_000_000]
BATCH = 10_000
TOKENS = 20
VOCAB = [f"w{i:02d}" for i in range(64)]
RATIO_CAP = 6.0


def _codegen_text(idc):
    return F.concat_ws(
        " ",
        *[
            F.element_at(
                F.array(*[F.lit(w) for w in VOCAB]),
                (F.pmod(F.xxhash64(idc, F.lit(j)), F.lit(len(VOCAB))) + 1)
                .cast("int"),
            )
            for j in range(TOKENS)
        ],
    )


def main() -> None:
    from astro_vectordb_spark import neardup
    from astro_vectordb_spark.sources.vault import save_minhash_index

    spark = get_spark("minhash-index-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "sizes": SIZES, "batch": BATCH, "tokens_per_doc": TOKENS,
        "ratio_cap": RATIO_CAP,
    }
    failures: list[str] = []

    corpora, paths = {}, {}
    for n in SIZES:
        p = f"/tmp/scale_mh/docs{n}"
        (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                _codegen_text(F.col("id")).alias("text"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(p)
        )
        corpora[n] = spark.read.parquet(p)

    # batch = copies of corpus docs (ids shifted) -> guaranteed est-1.0
    # matches; one batch table reused everywhere, written outside timing
    def _batch_df(n_src, nb):
        bp = f"/tmp/scale_mh/batch_{n_src}_{nb}"
        (
            corpora[n_src]
            .filter(F.col("doc_id") % (n_src // nb) == 0)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
            .write.mode("overwrite")
            .parquet(bp)
        )
        return spark.read.parquet(bp)

    build_sec = {}
    for n in SIZES:
        paths[n] = f"/tmp/scale_mh/idx{n}"
        t0 = time.time()
        save_minhash_index(corpora[n], paths[n])
        build_sec[n] = round(time.time() - t0, 2)
    bratio = round(
        build_sec[SIZES[1]] / max(build_sec[SIZES[0]], 0.01), 2
    )
    out["index_build"] = {
        f"sec_{SIZES[0]}": build_sec[SIZES[0]],
        f"sec_{SIZES[1]}": build_sec[SIZES[1]],
        "ratio": bratio,
        "linear_ok": bratio <= RATIO_CAP,
    }
    if bratio > RATIO_CAP:
        failures.append(f"index build ratio {bratio} > {RATIO_CAP}")

    def _match_count(path, bdf):
        return (
            neardup.open(spark, path).match(bdf, threshold=0.99)
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("new_id").alias("nq"),
            )
            .first()
        )

    # corpus axis: fixed 10k batch vs 250k and 1M indexes
    b10 = {n: _batch_df(n, BATCH) for n in SIZES}
    match_sec = {}
    for n in SIZES:
        _match_count(paths[n], b10[n])  # warm
        t0 = time.time()
        got = _match_count(paths[n], b10[n])
        match_sec[n] = round(time.time() - t0, 2)
        if int(got["nq"]) != BATCH:
            failures.append(
                f"match@{n}: {got['nq']}/{BATCH} batch docs matched"
            )
    mratio = round(
        match_sec[SIZES[1]] / max(match_sec[SIZES[0]], 0.01), 2
    )
    out["match_corpus_axis"] = {
        f"sec_{SIZES[0]}": match_sec[SIZES[0]],
        f"sec_{SIZES[1]}": match_sec[SIZES[1]],
        "ratio": mratio,
        "all_batch_docs_matched": True,
        "sublinear_ok": mratio <= RATIO_CAP,
    }
    if mratio > RATIO_CAP:
        failures.append(f"match corpus-axis ratio {mratio} > {RATIO_CAP}")

    # batch axis at the big corpus: 10k vs 40k
    b40 = _batch_df(SIZES[1], 4 * BATCH)
    _match_count(paths[SIZES[1]], b40)  # warm
    t0 = time.time()
    got40 = _match_count(paths[SIZES[1]], b40)
    sec40 = round(time.time() - t0, 2)
    qratio = round(sec40 / max(match_sec[SIZES[1]], 0.01), 2)
    out["match_batch_axis"] = {
        "sec_10000": match_sec[SIZES[1]],
        "sec_40000": sec40,
        "ratio": qratio,
        "all_batch_docs_matched": int(got40["nq"]) == 4 * BATCH,
        "linear_ok": qratio <= RATIO_CAP,
    }
    if int(got40["nq"]) != 4 * BATCH:
        failures.append("batch-axis match incomplete")
    if qratio > RATIO_CAP:
        failures.append(f"match batch-axis ratio {qratio} > {RATIO_CAP}")

    # the reason to exist: incremental match vs re-running the batch
    # operator over corpus+batch at the big size
    from astro_vectordb_spark.operators.dedup import (
        minhash_lsh_pairs_sql_safe,
    )

    union = corpora[SIZES[1]].unionAll(b10[SIZES[1]])
    t0 = time.time()
    (
        minhash_lsh_pairs_sql_safe(union, threshold=0.99)
        .filter(F.col("b_id") >= 10_000_000)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("rows"))
        .first()
    )
    oneshot_sec = round(time.time() - t0, 2)
    speedup = round(oneshot_sec / max(match_sec[SIZES[1]], 0.01), 1)
    out["vs_oneshot_rededup"] = {
        "oneshot_sec": oneshot_sec,
        "incremental_sec": match_sec[SIZES[1]],
        "speedup": speedup,
    }
    if speedup < 2.0:
        failures.append(
            f"incremental match only {speedup}x cheaper than re-dedup"
        )

    # SKEW axis (round 11, verdict item 2): a boilerplate cluster of
    # 50k IDENTICAL docs inside a 250k corpus.  Exact duplicates share
    # every band bucket, so without the exact-signature collapse the
    # retroactive sweep's self-join would push O(d^2 x bands) = 2e10
    # candidate rows through one hot key; with the collapse the
    # rep-level candidate stage is O(distinct sigs).  The match face's
    # per-bucket witness cap is measured for decision parity (same
    # probe docs flagged) and wall vs the uncapped every-witness join.
    from astro_vectordb_spark.sources.index_lifecycle import (
        minhash_sig_self_pairs,
    )
    from astro_vectordb_spark.sources.vault import load_minhash_index

    D, BASE = 50_000, 200_000
    sp = "/tmp/scale_mh/skew_docs"
    boiler = "the same boilerplate footer text appears in every copy " \
        "of this document verbatim end to end"
    (
        spark.range(BASE + D)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < D, F.lit(boiler))
            .otherwise(_codegen_text(F.col("id")))
            .alias("text"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(sp)
    )
    skew_docs = spark.read.parquet(sp)
    skew_path = "/tmp/scale_mh/skew_idx"
    save_minhash_index(skew_docs, skew_path)
    sigs, _, smeta = load_minhash_index(spark, skew_path)
    reps, rep_pairs = minhash_sig_self_pairs(
        sigs, num_hashes=int(smeta["num_hashes"]),
        bands=int(smeta["bands"]), threshold=0.9, id_col="doc_id",
    )
    n_reps = int(reps.count())
    n_rep_pairs = int(rep_pairs.count())
    t0 = time.time()
    keep = neardup.open(spark, skew_path).groups(threshold=0.9)
    n_keep = int(keep.count())
    boiler_kept = int(keep.filter(F.col("doc_id") < D).count())
    sweep_sec = round(time.time() - t0, 2)
    out["skew_sweep"] = {
        "cluster_copies": D, "corpus": BASE + D,
        "distinct_sig_reps": n_reps,
        "rep_level_candidate_pairs": n_rep_pairs,
        "sweep_sec": sweep_sec,
        "keep_rows": n_keep,
        "boilerplate_survivors": boiler_kept,
    }
    if boiler_kept != 1:
        failures.append(
            f"skew sweep kept {boiler_kept} boilerplate copies (want 1)"
        )
    if n_rep_pairs > 10 * n_reps:
        failures.append(
            f"rep-level candidates {n_rep_pairs} not O(reps={n_reps})"
        )

    # match face: 200 probe copies of the boilerplate vs the 50k-copy
    # cluster — uncapped returns every witness (200 x 50k pairs);
    # capped(16) must flag the SAME probe docs at a fraction of the
    # wall
    pb = "/tmp/scale_mh/skew_probe"
    (
        spark.range(200)
        .select(
            (F.col("id") + 20_000_000).alias("doc_id"), F.lit(boiler).alias("text")
        )
        .write.mode("overwrite")
        .parquet(pb)
    )
    probe = spark.read.parquet(pb)

    def _match(cap):
        return (
            neardup.open(spark, skew_path).match(
                probe, threshold=0.99, max_bucket_size=cap,
            )
            .groupBy()
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.countDistinct("new_id").alias("nq"))
            .first()
        )

    _match(16); _match(None)  # warm BOTH variants symmetrically
    t0 = time.time(); got_c = _match(16)
    cap_sec = round(time.time() - t0, 2)
    t0 = time.time(); got_u = _match(None)
    uncap_sec = round(time.time() - t0, 2)
    out["skew_match"] = {
        "probe_docs": 200,
        "uncapped_pairs": int(got_u["rows"]),
        "capped_pairs": int(got_c["rows"]),
        "uncapped_sec": uncap_sec,
        "capped_sec": cap_sec,
        "capped_vs_uncapped_ratio": round(
            cap_sec / max(uncap_sec, 0.01), 2
        ),
        "decision_parity": int(got_c["nq"]) == int(got_u["nq"]) == 200,
    }
    if int(got_c["nq"]) != 200 or int(got_u["nq"]) != 200:
        failures.append("skew match decision parity broken")
    if int(got_c["rows"]) > 200 * 16:
        failures.append("witness cap not applied")

    out["failures"] = failures
    out["all_ok"] = not failures
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
