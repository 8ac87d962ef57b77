"""Approximate nearest-neighbor search: IVF coarse quantization.

The reference's HNSW graph (hnsw.ts:241-299) is a pointer-chasing
physical index that cannot be (and should not be) ported to Spark —
SURVEY.md §4.  The Spark-native equivalent of "hierarchical search-space
pruning" is IVF (inverted-file) partitioning:

  build:  KMeans centroids over the corpus -> every vector gets a
          ``cell_id`` column -> persist partitioned by cell
          (sources.vault.save_ivf_index)
  search: score query vs the tiny centroid table -> take the top
          ``nprobe`` cells -> exact top-K *within those cells only*.

At scale the cell filter is **partition pruning at the parquet scan**:
a 1000-executor cluster reads nprobe/k_cells of the data and never
touches the rest.  Candidate reduction is k_cells/nprobe (e.g. 16/2 =
8x fewer vectors scored); recall is tunable via nprobe.  Recall is
checked statistically against the exact path (tests/test_ann.py), not
hash-compared — ANN is the one non-SQL-expressible family
(SURVEY.md §5.2).

Centroid fitting uses MLlib KMeans (public Spark API) with a fixed
seed; for cosine similarity the vectors are L2-normalized first so
Euclidean KMeans approximates spherical clustering.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.vector import l2_norm, vector_literal
from astro_vectordb_spark.operators.topk import topk_search
from astro_vectordb_spark.session import local_frame

DEFAULT_CELLS = 16
DEFAULT_SEED = 42


def _normalized(vec_col):
    n = l2_norm(vec_col)
    return F.transform(vec_col, lambda x: x.cast("double") / n)


def ivf_build_sampled(
    df: DataFrame,
    k_cells: int = DEFAULT_CELLS,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 10,
    sample_rows: int = 100_000,
    spill: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """IVF build, FAISS-style: fit centroids on a bounded sample
    driver-side (NumPy Lloyd's, deterministic seed), assign the full
    corpus distributed (Arrow-batched argmax against the broadcast
    centroid matrix).

    This is the scale-correct split: centroid *fitting* is a small-data
    iterative task (sample caps driver memory at sample_rows x D
    floats); *assignment* — the actual 100 TB pass — is one narrow
    vectorized projection.  Avoids MLlib's per-iteration job overhead
    entirely (measured ~7s -> <1s on the local harness).

    ``spill > 1`` assigns each vector to its ``spill`` nearest cells
    (SPANN-style redundant assignment): storage multiplies by spill,
    and boundary vectors become reachable from either neighboring cell
    — the recall lever when the corpus clusters weakly.  Searchers must
    de-duplicate by id (ivf_search does).
    """
    from pyspark.sql.functions import pandas_udf

    frac_df = df.select(F.col(id_col), F.col(vec_col))
    n = frac_df.count()
    if n > sample_rows:
        sample_df = frac_df.sample(
            fraction=min(1.0, 1.2 * sample_rows / n), seed=seed
        ).limit(sample_rows)
    else:
        sample_df = frac_df
    # Arrow transfer + BLAS Lloyd (round-12 perf fix; measured 101.7 s
    # -> ~2 s at 100k x 32, k=256): the old path (a) collect()ed and
    # deserialized array rows one by one (pq_train's docstring already
    # documents ~50 s / 50k rows for exactly this) and (b) computed
    # distances via a broadcast (n, k, dim) float64 temporary — 6.5 GB
    # PER Lloyd iteration at k=256 and 26 GB at k=1024, which made the
    # fit cost SCALE WITH k and dominate every IVF / IVF-PQ /
    # semantic-dedup build.  ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2
    # with ||x||^2 constant in the argmin, so one BLAS matmul per
    # iteration suffices; the centroid update is one bincount +
    # np.add.at scatter instead of a k-pass Python loop.
    pdf = sample_df.select(vec_col).toPandas()
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        X = X / norms
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k_cells, len(X)), replace=False)]
    for _ in range(max_iter):
        d = -2.0 * (X @ cents.T) + (cents * cents).sum(axis=1)
        labels = d.argmin(axis=1)
        counts = np.bincount(labels, minlength=len(cents))
        sums = np.zeros_like(cents)
        np.add.at(sums, labels, X)
        nonempty = counts > 0
        new = cents.copy()
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        if np.allclose(new, cents):
            break
        cents = new
    C = cents.copy()

    assign = make_cell_assigner(C, metric=metric, spill=spill)
    assigned = df.withColumn(
        "cell_id", F.explode(assign(F.col(vec_col)))
    )
    centroids = local_frame(
        df.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell_id int, centroid array<double>",
    )
    return assigned, centroids


def make_cell_assigner(
    C: "np.ndarray",
    metric: str = "cosine",
    spill: int = 1,
    cell_ids: "np.ndarray | None" = None,
):
    """Arrow-batched pandas_udf assigning each vector to its ``spill``
    nearest centroids of the matrix ``C`` (row i -> ``cell_ids[i]``,
    identity when omitted).  Shared by build, append, and the
    storage-level vault append so assignment semantics can never
    drift."""
    from pyspark.sql.functions import pandas_udf

    is_cosine = metric == "cosine"
    n_spill = max(1, min(int(spill), len(C)))
    ids = (
        np.arange(len(C), dtype="int64") if cell_ids is None
        else np.asarray(cell_ids)
    )

    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        if is_cosine:
            nm = np.linalg.norm(m, axis=1, keepdims=True)
            nm[nm == 0] = 1.0
            m = m / nm
        d2 = (
            (m**2).sum(axis=1, keepdims=True)
            - 2 * (m @ C.T)
            + (C**2).sum(axis=1)[None, :]
        )
        picks = np.argsort(d2, axis=1)[:, :n_spill]
        return pd.Series(list(ids[picks].astype("int32")))

    return assign


def ivf_append(
    assigned: DataFrame,
    centroids: DataFrame,
    new_rows: DataFrame,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill: int = 1,
    cell_stats: DataFrame | None = None,
):
    """Incremental index update: assign NEW rows to the existing
    centroids (same vectorized transform as the build — SURVEY.md O11:
    'incremental hash computation: new row's hash columns computed by
    the same transform') and union with the current assignment.  No
    refit, no touch of existing rows; rebuild when drift warrants
    (vault.rebuild_index).

    WARNING — exact-search interaction: appended rows can lie outside
    the radius recorded in a stale ``ivf_cell_stats`` table, which
    would let ``ivf_search_exact`` prune a cell that now holds a true
    top-K member.  Pass the current ``cell_stats`` here and this
    returns ``(assigned', cell_stats')`` with the radii widened by one
    aggregation over ONLY the appended rows (min/max merge with the old
    stats).  Without ``cell_stats`` the return is just ``assigned'``
    and stale stats MUST NOT be fed to ``ivf_search_exact``.
    """
    cents = centroids.orderBy("cell_id").collect()
    C = np.array([r["centroid"] for r in cents], dtype=np.float64)
    cell_ids = np.array([r["cell_id"] for r in cents])
    assign = make_cell_assigner(C, metric=metric, spill=spill, cell_ids=cell_ids)

    appended = new_rows.withColumn("cell_id", F.explode(assign(F.col(vec_col))))
    out = assigned.unionByName(appended.select(*assigned.columns))
    if cell_stats is None:
        return out
    new_stats = ivf_cell_stats(
        appended.select(*assigned.columns), centroids, metric=metric,
        vec_col=vec_col,
    )
    if metric == "cosine":
        merge = F.min("min_sim").alias("min_sim")
    else:
        merge = F.max("max_dist").alias("max_dist")
    merged = (
        cell_stats.unionByName(new_stats).groupBy("cell_id").agg(merge)
    )
    return out, merged


def ivf_build(
    df: DataFrame,
    k_cells: int = DEFAULT_CELLS,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> tuple[DataFrame, DataFrame]:
    """Fit IVF centroids and assign every vector a ``cell_id``.

    Returns ``(assigned, centroids)``:
      assigned  = input columns + ``cell_id INT``
      centroids = (cell_id INT, centroid ARRAY<DOUBLE>) — tiny (k_cells
                  rows), always broadcastable.

    Reference analogue: ``buildIndex`` (hnsw.ts:769-779) — the bulk
    index-construction job.  See also ``ivf_build_sampled`` for the
    sample-fit + distributed-assign variant (faster; same contract).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = _normalized(F.col(vec_col)) if metric == "cosine" else F.transform(
        F.col(vec_col), lambda x: x.cast("double")
    )
    train = df.select(
        F.col(id_col), array_to_vector(feat).alias("_features")
    )
    # KMeans runs maxIter tiny jobs; right-size the partition count to
    # the corpus so the iteration overhead doesn't dominate small fits
    # (a 100 TB corpus keeps its parallelism: ~100k rows per partition).
    n = train.count()
    target_parts = max(1, min(train.rdd.getNumPartitions(), n // 100_000 + 1))
    train = train.coalesce(target_parts)
    model = KMeans(
        k=k_cells, seed=seed, maxIter=max_iter, initMode=init_mode,
        featuresCol="_features",
    ).fit(train)
    assigned = (
        model.transform(train)
        .select(F.col(id_col), F.col("prediction").alias("cell_id"))
        .join(df, on=id_col)
    )
    spark = df.sparkSession
    centroids = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell_id int, centroid array<double>",
    )
    return assigned, centroids


def _ranked_cells(
    centroids: DataFrame, query_vector: Sequence[float], metric: str
) -> tuple[list[int], np.ndarray]:
    """Every cell id in (similarity desc, cell_id asc) order — the
    order of ``probe_table_batch``'s window, so both faces pick the
    same cells when a cut binds on tied similarities — with its
    similarity, from ONE collect of the k_cells-row centroid table (a
    driver-side micro-query by design: it parameterizes the scan
    pruning of the big query).  Null similarities rank last and NaN
    first, as in the Spark sort."""
    from astro_vectordb_spark.functions.vector import similarity

    qv = vector_literal(query_vector)
    rows = (
        centroids.withColumn("_s", similarity(F.col("centroid"), qv, metric))
        .select("cell_id", "_s")
        .collect()
    )
    sims = np.array(
        [-np.inf if r["_s"] is None else r["_s"] for r in rows],
        dtype=np.float64,
    )
    ids = np.array([r["cell_id"] for r in rows], dtype=np.int64)
    order = np.lexsort((ids, -np.where(np.isnan(sims), np.inf, sims)))
    return [int(ids[i]) for i in order], sims[order]


def _adaptive_count(
    sims: np.ndarray,
    structure_z: float = 3.0,
    member_z: float = 1.0,
    min_probe: int = 2,
    max_probe_frac: float | None = None,
) -> int:
    """How many top-similarity cells the adaptive profile rule probes
    (see :func:`choose_probe_cells_adaptive`)."""
    n = len(sims)
    if n <= min_probe:
        return n
    cap = (
        n
        if max_probe_frac is None
        else max(min_probe, math.ceil(float(max_probe_frac) * n))
    )
    mean, std = sims.mean(), sims.std()
    if std <= 1e-12 or (sims.max() - mean) / std < structure_z:
        return min(cap, n)
    zscores = (sims - mean) / std
    return min(cap, max(min_probe, int((zscores >= member_z).sum())))


def _widened(n, sel: float | None):
    """The one selectivity-widening rule of filtered IVF and IVF-PQ:
    probe ``ceil(n / sel)`` cells instead of ``n`` (never fewer), so
    the expected number of allowed candidates stays at the unfiltered
    level.  ``n`` is a single query's count or the batch face's
    per-query count column."""
    if sel is None:
        return n
    if isinstance(n, Column):
        return F.greatest(n, F.ceil(n / F.lit(sel)))
    return max(n, math.ceil(n / sel))


def _selectivity(allowed_ids, n_total: int | None, corpus: DataFrame,
                 id_col: str) -> float | None:
    """|allowed| / |corpus| (None without a filter); ``n_total`` (the
    index ``_meta`` ``n_rows`` counter) skips the distinct-id count."""
    if allowed_ids is None:
        return None
    from astro_vectordb_spark.operators.filtering import allowed_count

    if n_total is None:
        n_total = corpus.dropDuplicates([id_col]).count()
    return max(allowed_count(allowed_ids) / max(n_total, 1), 1e-9)


def probe(
    corpus: DataFrame, centroids: DataFrame, query_vector: Sequence[float],
    nprobe: int | None, metric: str, max_probe_frac: float | None,
    allowed_ids, n_total: int | None, id_col: str,
) -> tuple[DataFrame, list[int]]:
    """The single-query probe policy of IVF and IVF-PQ: ``(rows, cells)``
    — the top ``nprobe`` cells by query-to-centroid similarity, or the
    adaptive profile rule's cells when ``nprobe`` is None, widened by
    the selectivity of ``allowed_ids`` (one collect of the centroid
    table), and ``corpus`` pruned to them by a literal ``cell_id IN
    (...)`` filter (partition pruning on cell-partitioned parquet),
    then restricted to the allowed ids."""
    from astro_vectordb_spark.operators.filtering import restrict_to_allowed

    order, sims = _ranked_cells(centroids, query_vector, metric)
    n = (
        _adaptive_count(sims, max_probe_frac=max_probe_frac)
        if nprobe is None else min(int(nprobe), len(order))
    )
    sel = _selectivity(allowed_ids, n_total, corpus, id_col)
    cells = order[: _widened(n, sel)]
    rows = corpus.filter(F.col("cell_id").isin(cells))
    if allowed_ids is not None:
        rows = restrict_to_allowed(rows, allowed_ids, id_col=id_col)
    return rows, cells


def choose_probe_cells(
    centroids: DataFrame,
    query_vector: Sequence[float],
    nprobe: int,
    metric: str = "cosine",
) -> list[int]:
    """Rank cells by query-to-centroid similarity; return top nprobe."""
    return _ranked_cells(centroids, query_vector, metric)[0][:nprobe]


def choose_probe_cells_adaptive(
    centroids: DataFrame,
    query_vector: Sequence[float],
    metric: str = "cosine",
    structure_z: float = 3.0,
    member_z: float = 1.0,
    min_probe: int = 2,
    max_probe_frac: float | None = None,
) -> list[int]:
    """Profile-adaptive probe-cell selection — replaces the fixed
    ``nprobe`` knob whose right value depends on cluster structure the
    caller cannot know (a fixed count under-probes unstructured
    corpora and over-probes tight ones; the round-7 recall gate had to
    special-case small corpora for exactly this reason).

    The query-to-centroid similarity profile itself carries the
    signal, and it is a k_cells-row driver-side micro-query either
    way:

    * ``z = (s_max - mean) / std < structure_z``: NO cell stands out
      — the corpus has no prunable cell structure for this query
      (near-uniform vectors; measured: top-10 scatter needs 11/12
      cells at 500 rows), so probe EVERY cell.  The search degrades
      gracefully to the exact scan instead of silently dropping
      recall.
    * otherwise: probe the cells that are clearly better than average
      for this query (per-cell z >= ``member_z``), floored at
      ``min_probe`` so spill/boundary vectors in the runner-up cell
      stay reachable.  On clustered corpora this is a handful of
      cells — the candidate reduction fixed nprobe was buying, now
      derived per query.

    COST NOTE (the round-10 default change, called out loud): the
    serving facades default the IVF and IVF-PQ kinds to this rule
    (``nprobe=None``), replacing the old fixed ``nprobe=4``.  On a
    corpus whose profile has no standout cell — guaranteed at small
    ``k_cells`` (with k cells the max attainable z is sqrt(k-1), so
    k <= 9 can never clear structure_z=3) — the fallback probes
    EVERY cell: maximal recall, full-corpus cost.  Callers who need
    a predictable cost ceiling instead set ``max_probe_frac`` (e.g.
    0.25): the fallback (and the structured selection) is then capped
    at ``ceil(max_probe_frac * k_cells)`` top-similarity cells,
    floored at ``min_probe`` — the standard bounded-recall LSH-style
    trade, OFF by default because the uncapped fallback is what makes
    the small-k exactness gates provably exact.

    Cells return in (similarity desc, cell_id asc) order.
    """
    order, sims = _ranked_cells(centroids, query_vector, metric)
    return order[: _adaptive_count(
        sims, structure_z, member_z, min_probe, max_probe_frac
    )]


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vector: Sequence[float],
    k: int,
    nprobe: int | None = 2,
    strength: float = 0.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids=None,
    n_total: int | None = None,
    max_probe_frac: float | None = None,
) -> DataFrame:
    """Approximate top-K: prune to the probed cells, exact within.

    ``nprobe=None`` selects cells ADAPTIVELY from the query's
    centroid-similarity profile (``choose_probe_cells_adaptive``);
    an integer keeps the classic fixed-count ranking.

    ``allowed_ids`` = metadata-filtered search (parity with the HNSW
    path's result-set filter): candidate rows inside the probed cells
    are restricted to the allowed set BEFORE ranking, and the probe
    count — fixed or adaptive — is widened by 1/selectivity
    (``_widened``: ceil(n / sel) cells; selectivity = |allowed| /
    |corpus|, the same policy as ``hnsw_query_shards``'s beam
    widening).  ``n_total`` (corpus row count) skips the count job
    when the caller already knows it.

    ``cell_id IN (...)`` is a literal IN-filter -> partition pruning
    when ``assigned`` is read from cell-partitioned parquet; the
    subsequent plan is identical to the exact path (codegen score ->
    TakeOrderedAndProject)."""
    pruned, _ = probe(
        assigned, centroids, query_vector, nprobe, metric, max_probe_frac,
        allowed_ids, n_total, id_col,
    )
    # drop spill duplicates: with redundant assignment a vector can
    # sit in several probed cells
    return topk_search(
        pruned.dropDuplicates([id_col]), query_vector, k, strength=strength,
        metric=metric, id_col=id_col, vec_col=vec_col,
    )


def rp_build(
    df: DataFrame,
    n_planes: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
) -> tuple[DataFrame, DataFrame]:
    """Random-hyperplane cell partitioner (LSH-style, fit-free).

    ``cell_id = sum_p 2^p * [v . plane_p > 0]`` over ``n_planes``
    deterministic seeded hyperplanes -> 2^n_planes cells.  One codegen
    projection per row, NO training job — the right builder when cells
    only gate *exact* bound-based search (ivf_search_exact), where
    partition quality affects pruning rate but never correctness.
    Centroids are empirical per-cell means (posexplode + avg), computed
    once at build.
    """
    import hashlib
    import struct as _struct

    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]

    def plane(p: int) -> list[float]:
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            (u,) = _struct.unpack("<Q", h[:8])
            vals.append(u / 2**64 - 0.5)
        return vals

    cell = F.lit(0)
    for p in range(n_planes):
        pl = plane(p)
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in pl]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cell = cell + F.when(dot > 0, F.lit(2**p)).otherwise(F.lit(0))
    assigned = df.withColumn("cell_id", cell.cast("int"))

    ex = assigned.select("cell_id", F.posexplode(vec_col).alias("pos", "v"))
    centroids = (
        ex.groupBy("cell_id", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    return assigned, centroids


def ivf_cell_stats(
    assigned: DataFrame,
    centroids: DataFrame,
    metric: str = "cosine",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell radius statistics for exact bound-based pruning.

    cosine:     ``min_sim``  = worst member-to-centroid cosine (the
                cell's angular radius is arccos(min_sim)).
    euclidean:  ``max_dist`` = farthest member-to-centroid distance.

    One small aggregation at build time; k_cells output rows.
    """
    from astro_vectordb_spark.functions.vector import (
        cosine_similarity,
        euclidean_distance,
    )

    joined = assigned.join(F.broadcast(centroids), on="cell_id")
    if metric == "cosine":
        agg = F.min(
            cosine_similarity(F.col(vec_col), F.col("centroid"))
        ).alias("min_sim")
    else:
        agg = F.max(
            euclidean_distance(F.col(vec_col), F.col("centroid"))
        ).alias("max_dist")
    return joined.groupBy("cell_id").agg(agg)


def ivf_search_exact(
    assigned: DataFrame,
    centroids: DataFrame,
    cell_stats: DataFrame,
    query_vector: Sequence[float],
    k: int,
    nprobe_seed: int = 2,
    strength: float = 0.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT top-K with IVF cell pruning (recall = 1.0 by construction).

    Two-phase branch-and-bound on the sphere (the Spark-native
    replacement for HNSW's hierarchical pruning, hnsw.ts:260-275,
    with a *correctness guarantee* the reference lacks):

      1. scan the ``nprobe_seed`` nearest cells exactly -> tau = k-th
         best score found.
      2. for every other cell, the best achievable score is bounded by
         the spherical triangle inequality:
           angle(q, x) >= angle(q, centroid) - radius(cell)
         so  best_sim(cell) = cos(max(0, theta_qc - radius)).
         Cells with bound <= tau are provably irrelevant — skip them;
         re-scan only the survivors.

    Pruning is data-adaptive: tight clusters prune aggressively, random
    data degrades gracefully toward a full scan (never below exact
    correctness).  Cell selection is driver-side math over k_cells
    rows; the big scans stay distributed and partition-pruned.
    """
    cells, _ = _bound_pruned_cells(
        assigned, centroids, cell_stats, query_vector, k, nprobe_seed,
        strength, metric, id_col, vec_col,
    )
    return topk_search(
        assigned.filter(F.col("cell_id").isin(cells)).dropDuplicates([id_col]),
        [float(x) for x in query_vector], k, strength=strength,
        metric=metric, id_col=id_col, vec_col=vec_col,
    )


def ivf_exact_pruned_cells(
    assigned: DataFrame,
    centroids: DataFrame,
    cell_stats: DataFrame,
    query_vector: Sequence[float],
    k: int,
    nprobe_seed: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """(cells_scanned, cells_total) for one exact bound-pruned search —
    instrumentation for recall/cost reporting (BASELINE.md obligation)."""
    cells, n_cells = _bound_pruned_cells(
        assigned, centroids, cell_stats, query_vector, k, nprobe_seed,
        0.0, metric, id_col, vec_col,
    )
    return len(cells), n_cells


def _bound_pruned_cells(
    assigned, centroids, cell_stats, query_vector, k, nprobe_seed,
    strength, metric, id_col, vec_col,
) -> tuple[list[int], int]:
    """``(cells, k_cells)``: the cells :func:`ivf_search_exact` scans —
    the ``nprobe_seed`` nearest, plus every other cell whose
    triangle-inequality bound beats the seed scan's k-th score."""
    if metric not in ("cosine", "euclidean"):
        raise ValueError(f"unsupported metric {metric!r}")

    stats = {r["cell_id"]: r[1] for r in cell_stats.collect()}
    cents = {r["cell_id"]: r["centroid"] for r in centroids.collect()}
    q = [float(x) for x in query_vector]
    qn = math.sqrt(sum(x * x for x in q))

    def cos_to(c):
        cn = math.sqrt(sum(x * x for x in c))
        return sum(a * b for a, b in zip(q, c)) / (qn * cn)

    def dist_to(c):
        return math.sqrt(sum((a - b) ** 2 for a, b in zip(q, c)))

    if metric == "cosine":
        order = sorted(cents, key=lambda cid: -cos_to(cents[cid]))
    else:
        order = sorted(cents, key=lambda cid: dist_to(cents[cid]))
    seed_cells = order[:nprobe_seed]

    seed_top = topk_search(
        assigned.filter(F.col("cell_id").isin(seed_cells)).dropDuplicates([id_col]),
        q, k, strength=strength, metric=metric, id_col=id_col, vec_col=vec_col,
    ).collect()
    # scores come back rounded to 6 decimals; relax tau by one ulp of
    # that rounding so the bound never prunes a true top-K member
    tau = (seed_top[-1]["score"] - 1e-6) if len(seed_top) >= k else -float("inf")

    survivors = []
    for cid in order[nprobe_seed:]:
        if metric == "cosine":
            s_qc = max(-1.0, min(1.0, cos_to(cents[cid])))
            radius = math.acos(max(-1.0, min(1.0, stats.get(cid, -1.0))))
            bound = math.cos(max(0.0, math.acos(s_qc) - radius))
        else:
            d_qc = dist_to(cents[cid])
            radius = stats.get(cid, float("inf"))
            bound = 1.0 / (1.0 + max(0.0, d_qc - radius))
        if bound > tau:
            survivors.append(cid)
    return seed_cells + survivors, len(cents)


def brp_lsh_topk(
    corpus: DataFrame,
    query_vector: Sequence[float],
    k: int,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Euclidean ANN via MLlib BucketedRandomProjectionLSH — the
    built-in alternative to IVF (SURVEY.md §1.3 option b).

    Returns (id, score) with score = 1/(1+distance), aligned with the
    engine's euclidean_similarity.  Kept as the stock-Spark baseline;
    IVF gives explicit partition pruning and the exact bound-pruned
    variant, which the LSH API does not expose.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    feats = corpus.select(
        F.col(id_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_features"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feats)
    key = Vectors.dense([float(x) for x in query_vector])
    neighbors = model.approxNearestNeighbors(feats, key, k, distCol="_dist")
    return neighbors.select(
        F.col(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.col("_dist")), 6).alias("score"),
    )


def probe_table_batch(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int | None,
    metric: str = "cosine",
    sel: float | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_probe_frac: float | None = None,
) -> DataFrame:
    """Distributed per-query probe-cell table ``(query_id, query_vec,
    cell_id)`` — :func:`probe`'s policy as windows over the
    (|Q| x k_cells) centroid ranking: the fixed (``nprobe``) or
    ADAPTIVE (``nprobe=None``) cutoff, optionally capped by
    ``max_probe_frac`` and widened by the selectivity ``sel`` of a
    filtered search (the same ``_widened`` rule on each query's own
    count).  No driver-side per-query loop; shared by
    ``ivf_batch_search`` and the cell-probed IVF-PQ batch face."""
    from pyspark.sql import Window

    from astro_vectordb_spark.functions.vector import similarity

    ranked = (
        queries.join(F.broadcast(centroids))
        .withColumn(
            "_s", similarity(F.col("centroid"), F.col(query_vec_col), metric)
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.col("_s").desc(), F.col("cell_id")
                )
            ),
        )
    )
    if nprobe is None:
        wq = Window.partitionBy(query_id_col)
        ranked = (
            ranked.withColumn("_mu", F.avg("_s").over(wq))
            .withColumn("_sd", F.stddev_pop("_s").over(wq))
            .withColumn("_mx", F.max("_s").over(wq))
            .withColumn(
                "_keep",
                # no standout cell -> probe all; else z_i >= 1 or the
                # top-2 floor (same constants as the driver-side rule)
                (F.col("_sd") <= F.lit(1e-12))
                | ((F.col("_mx") - F.col("_mu")) / F.col("_sd") < F.lit(3.0))
                | ((F.col("_s") - F.col("_mu")) / F.col("_sd") >= F.lit(1.0))
                | (F.col("_r") <= F.lit(2)),
            )
        )
        if max_probe_frac is not None:
            # optional cost ceiling on the adaptive selection (incl.
            # the all-cells fallback): rank cutoff at ceil(frac x
            # k_cells), floored at the min_probe=2 floor
            ranked = ranked.withColumn(
                "_nc", F.count(F.lit(1)).over(wq)
            ).withColumn(
                "_keep",
                F.col("_keep")
                & (
                    F.col("_r")
                    <= F.greatest(
                        F.lit(2),
                        F.ceil(
                            F.col("_nc") * F.lit(float(max_probe_frac))
                        ),
                    )
                ),
            )
        # the kept cells are a rank prefix, so the count is the cutoff
        ranked = ranked.withColumn(
            "_n", F.sum(F.col("_keep").cast("int")).over(wq)
        )
        n = F.col("_n")
    else:
        n = F.lit(int(nprobe))
    return ranked.filter(F.col("_r") <= _widened(n, sel)).select(
        query_id_col, query_vec_col, "cell_id"
    )


def probe_batch(
    corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
    nprobe: int | None, metric: str, max_probe_frac: float | None,
    allowed_ids, n_total: int | None, id_col: str,
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> tuple[DataFrame, DataFrame]:
    """:func:`probe`'s batch form: ``(rows, probe table)`` — ``corpus``
    restricted to the allowed ids, and :func:`probe_table_batch` with
    every query's count widened by the same selectivity."""
    from astro_vectordb_spark.operators.filtering import restrict_to_allowed

    sel = _selectivity(allowed_ids, n_total, corpus, id_col)
    if allowed_ids is not None:
        corpus = restrict_to_allowed(corpus, allowed_ids, id_col=id_col)
    return corpus, probe_table_batch(
        queries, centroids, nprobe, metric=metric, sel=sel,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        max_probe_frac=max_probe_frac,
    )


def ivf_batch_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int | None = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    allowed_ids=None,
    n_total: int | None = None,
    max_probe_frac: float | None = None,
) -> DataFrame:
    """Batch face of :func:`ivf_search`: each query joins only its
    probed cells, chosen by the same probe policy
    (:func:`probe_batch`), so each query's rows equal the single
    face's.  Returns ``(query_id, vec_id, score, rank)``.

    Plan: broadcast (queries x centroids) ranking -> (query_id, cell_id)
    probe table -> broadcast-join corpus on cell_id (each corpus row
    meets only the queries probing its cell) -> per-query top-K via the
    salted window.  Shuffle volume is |corpus| x avg_probes_per_cell,
    an nprobe/k_cells fraction of the exact batch path."""
    from astro_vectordb_spark.functions.vector import similarity
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    assigned, ranked = probe_batch(
        assigned, centroids, queries, nprobe, metric, max_probe_frac,
        allowed_ids, n_total, id_col, query_id_col, query_vec_col,
    )
    # drop spill duplicates per query: with redundant assignment a
    # vector sits in several cells and can be probed more than once by
    # the same query — dedupe before scoring so copies never occupy
    # multiple top-K slots
    probed = assigned.join(F.broadcast(ranked), on="cell_id").dropDuplicates(
        [query_id_col, id_col]
    )
    scored = probed.withColumn(
        "score", similarity(F.col(vec_col), F.col(query_vec_col), metric)
    )
    return rank_topk_per_query(
        scored, k, id_col=id_col, query_id_col=query_id_col
    )
