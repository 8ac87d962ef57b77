"""Product quantization (PQ) — the sub-byte-per-dimension compression
tier for 100 TB embedding corpora.

Int8 scalar quantization (operators/quantize.py) stops at 1 byte per
dimension; PQ goes far below: split each d-dim vector into ``m``
subvectors, k-means each subspace into ``ks`` centroids, and store one
code per subspace — ``m`` bytes per vector at ks<=256 (e.g. 64-d
float32 = 256 B -> 8 B, 32x).  Queries score compressed codes with an
asymmetric-distance LUT (ADC, Jegou et al. 2011, "Product Quantization
for Nearest Neighbor Search"): per query, precompute LUT[j, c] =
<q_j, codebook[j][c]> (a tiny (m, ks) float64 table), so a candidate's
approximate score is ``sum_j LUT[j, code_j]`` — m table lookups, no
float vector ever read.

One kernel per meaning: every encoder assigns codes through
``_assign_codes``, every serving path — single-query or batch, flat or
residual, with or without the OPQ rotation — builds its tables through
``_adc_tables`` and scores through ``_adc_scores``.

Spark mapping (two-stage, same contract as topk_search_quantized):

  1. ADC scan over the COMPACT (id, pq_code) table — an Arrow-batched
     ``mapInPandas`` kernel (NumPy take + sum over (m, ks) tables the
     task builds from ONE SparkContext broadcast of model-sized state:
     codebooks, rotation, the query and, for residual codes, the
     probed centroids — never per-task pickled).  Each Arrow batch
     emits only its local top ``k*refine`` rows, so the global
     TakeOrdered sees partitions x k*refine rows, not the corpus.
  2. exact re-rank: broadcast the candidate ids into the
     full-precision table, score with the built-in fold expression,
     return the exact top-K.

Training is a bounded control-plane job: a deterministic hash-sampled
subset (<= ``max_rows`` rows) collects to the driver and runs a NumPy
Lloyd per subspace — the same "fit on a sample, assign distributed"
shape as ``ivf_build_sampled``.  At 100 TB the sample stays
``max_rows`` regardless of corpus size; encoding is an embarrassingly
parallel linear map.

No reference counterpart (the reference stores full-precision JSON,
astrovault.ts:34-40); this is the task brief's similarity-search scale
path composed with its compression lever.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.vector import (
    similarity,
    threshold_from_strength,
    vector_literal,
)
from astro_vectordb_spark.operators.topk import (
    rank_topk_per_query,
    top_k_rows,
    topk_search,
)
from astro_vectordb_spark.session import local_frame


class PQModel:
    """Trained product quantizer: ``codebooks[j]`` is the (ks_eff,
    dsub) centroid matrix of subspace ``j``.  Plain-NumPy state so it
    broadcasts/pickles cheaply and persists as a small parquet table
    (`to_rows`/`from_rows`).

    ``residual=True`` marks an IVF-PQ model whose codes quantize CELL
    RESIDUALS (prep(v) - centroid[cell]) instead of raw vectors — the
    standard fidelity win (residuals have far less variance than the
    vectors, so the same m x ks budget spends its codewords on the
    fine structure), which lets the stage-2 ``refine_factor`` drop —
    the term whose join traffic grows at 100 TB.  Serving builds its
    ADC tables per (query, probed cell) against that cell's centroid;
    see ``_adc_tables``.

    ``rotation`` (OPQ, Ge et al. CVPR 2013 "Optimized Product
    Quantization", non-parametric variant) is an optional (dim, dim)
    ORTHOGONAL matrix learned at train time: vectors (or residuals)
    are rotated before the subspace split so the m independent
    quantizers see decorrelated, variance-balanced subspaces.
    Rotation preserves dot products and euclidean distances, so every
    ADC derivation holds verbatim in the rotated space — queries and
    centroids rotate at LUT-build time, codes quantize rotated
    vectors, and scores remain comparable across cells.  Stored as
    float32 (same precision as the codebooks) so an in-session model
    and its vault round-trip are bit-identical."""

    def __init__(
        self, codebooks: np.ndarray, metric: str, dim: int,
        residual: bool = False, rotation: np.ndarray | None = None,
        train_mse: float | None = None,
    ) -> None:
        self.codebooks = np.ascontiguousarray(codebooks, dtype=np.float32)
        self.metric = metric
        self.dim = dim
        self.m = codebooks.shape[0]
        self.ks = codebooks.shape[1]
        self.dsub = codebooks.shape[2]
        self.residual = bool(residual)
        self.rotation = (
            None
            if rotation is None
            else np.ascontiguousarray(rotation, dtype=np.float32)
        )
        # mean squared reconstruction error on the TRAINING sample
        # (float32-rounded like the codebooks, so session and vault
        # models agree bit-for-bit) — the error scale the adaptive
        # refine cut derives its per-query sigma from; None on legacy
        # models (adaptive refine then degrades to the fixed pool)
        self.train_mse = None if train_mse is None else float(
            np.float32(train_mse)
        )

    def kernel_state(self) -> tuple:
        """``(codebooks, metric, dsub, rotation)`` in float64 (rotation
        None when unrotated) — the model-sized state every worker-side
        kernel (encode, LUT build, reconstruction error) unpacks from
        one broadcast."""
        return (
            self.codebooks.astype(np.float64), self.metric, self.dsub,
            None if self.rotation is None else self.rotation.astype(
                np.float64
            ),
        )

    # -- persistence (tiny: m * ks * dsub floats; the OPQ rotation
    # rides the SAME table as subspace = -1 rows — row i of the
    # (dim, dim) matrix under code = i — so old indexes load untouched
    # and the vault schema never changes) ------------------------------
    def to_rows(self) -> list[tuple[int, int, list[float]]]:
        rows = [
            (j, c, [float(x) for x in self.codebooks[j, c]])
            for j in range(self.m)
            for c in range(self.ks)
        ]
        if self.rotation is not None:
            rows.extend(
                (-1, i, [float(x) for x in self.rotation[i]])
                for i in range(self.rotation.shape[0])
            )
        if self.train_mse is not None:
            # sentinel row, same schema trick as the rotation: the
            # training MSE rides subspace -2 so legacy loaders (which
            # only read rows >= 0 / == -1) ignore it harmlessly
            rows.append((-2, 0, [float(self.train_mse)]))
        return rows

    @classmethod
    def from_rows(
        cls, rows: Sequence, metric: str, dim: int, residual: bool = False
    ) -> "PQModel":
        cb_rows = [r for r in rows if r[0] >= 0]
        rot_rows = [r for r in rows if r[0] == -1]
        mse_rows = [r for r in rows if r[0] == -2]
        m = max(r[0] for r in cb_rows) + 1
        ks = max(r[1] for r in cb_rows) + 1
        dsub = len(cb_rows[0][2])
        cb = np.zeros((m, ks, dsub), dtype=np.float32)
        for j, c, vec in cb_rows:
            cb[j, c] = vec
        rotation = None
        if rot_rows:
            d = max(r[1] for r in rot_rows) + 1
            rotation = np.zeros((d, len(rot_rows[0][2])), dtype=np.float32)
            for _, i, vec in rot_rows:
                rotation[i] = vec
        return cls(
            cb, metric=metric, dim=dim, residual=residual,
            rotation=rotation,
            train_mse=(float(mse_rows[0][2][0]) if mse_rows else None),
        )


def _prep(mat: np.ndarray, metric: str) -> np.ndarray:
    """Cosine trains/encodes/scores in the normalized space (ADC dot
    on unit vectors == cosine); dot/euclidean use raw vectors."""
    mat = np.asarray(mat, dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
    return mat


def _lloyd(
    X: np.ndarray, ks: int, iters: int, rng: np.random.RandomState,
    C0: np.ndarray | None = None,
) -> np.ndarray:
    """Vectorized Lloyd iterations on one subspace; empty clusters are
    reseeded to random points (deterministic via the passed rng).
    ``C0`` warm-starts the centroids (the OPQ alternation re-fits the
    same subspace after each rotation update)."""
    n = X.shape[0]
    ks_eff = min(ks, n)
    if C0 is not None and C0.shape[0] == ks_eff:
        C = C0.astype(np.float64, copy=True)
    else:
        C = X[rng.choice(n, size=ks_eff, replace=False)].copy()
    for _ in range(iters):
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant in argmin
        d = -2.0 * (X @ C.T) + (C * C).sum(axis=1)
        assign = d.argmin(axis=1)
        counts = np.bincount(assign, minlength=ks_eff)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
        n_empty = int((~nonempty).sum())
        if n_empty:
            C[~nonempty] = X[rng.choice(n, size=n_empty, replace=False)]
    return C


def _pq_fit(
    mat: np.ndarray, m: int, ks: int, iters: int,
    rng: np.random.RandomState, C0: np.ndarray | None = None,
) -> np.ndarray:
    """Fit per-subspace Lloyd codebooks on a prepared (n, dim) sample;
    ``C0`` warm-starts each subspace (OPQ alternation)."""
    dsub = mat.shape[1] // m
    return np.stack(
        [
            _lloyd(
                np.ascontiguousarray(mat[:, j * dsub : (j + 1) * dsub]),
                ks, iters, rng,
                C0=None if C0 is None else C0[j],
            )
            for j in range(m)
        ]
    )


def _assign_codes(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) nearest-codeword index per subspace of the prepared rows
    ``X`` against float64 ``codebooks`` (m, ks, dsub) — the one argmin
    behind the training reconstruction, ``pq_encode`` and the residual
    encode, so persisted codes come from one float64 expression."""
    m, _, dsub = codebooks.shape
    codes = np.empty((X.shape[0], m), dtype=np.int64)
    for j in range(m):
        cb = codebooks[j]
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant in argmin
        d = -2.0 * (X[:, j * dsub : (j + 1) * dsub] @ cb.T) + (cb * cb).sum(
            axis=1
        )
        codes[:, j] = d.argmin(axis=1)
    return codes


def _decode_codes(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, dim) reconstruction: each subspace's codeword, concatenated."""
    return np.concatenate(
        [codebooks[j][codes[:, j]] for j in range(len(codebooks))], axis=1
    )


def _pq_reconstruct(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Encode-then-decode ``mat`` against ``codebooks`` (the OPQ
    alternation's quantized target Y_hat)."""
    return _decode_codes(_assign_codes(mat, codebooks), codebooks)


def _unpack_codes(col: pd.Series) -> np.ndarray:
    """Stored ``pq_code`` bytes (code - 128) -> (n, m) codeword indexes."""
    return np.stack(col.to_numpy()).astype(np.int32) + 128


def _centroid_table(centroids: DataFrame) -> tuple[np.ndarray, dict]:
    """The (k_cells, dim) float64 centroid matrix in cell_id order and
    its cell_id -> row map (k_cells rows collect to the driver)."""
    cents = centroids.orderBy("cell_id").collect()
    return (
        np.array([r["centroid"] for r in cents], dtype=np.float64),
        {int(r["cell_id"]): i for i, r in enumerate(cents)},
    )


def _residuals(
    pdf: pd.DataFrame, vec_col: str, metric: str, C: np.ndarray, pos: dict
) -> np.ndarray:
    """prep(v) - centroid[cell_id] per row.  Residuals are never
    re-normalized: prep applies to the VECTOR (cosine's unit sphere),
    the residual is a plain difference in that space, so centroid +
    decode(code) reconstructs v_hat additively."""
    X = _prep(np.stack(pdf[vec_col].to_numpy()), metric)
    rows = np.array(
        [pos[int(c)] for c in pdf["cell_id"].to_numpy()], dtype=np.int64
    )
    return X - C[rows]


def _adc_tables(
    codebooks: np.ndarray,
    metric: str,
    dsub: int,
    Q: np.ndarray,
    rotation: np.ndarray | None = None,
    centroid: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one ADC LUT builder: ``(luts, consts)`` with luts (nq, m, ks)
    and consts (nq,) such that score(q, row) = consts[q] + sum_j
    luts[q, j, code_j] (:func:`_adc_scores`).  ``Q`` holds raw query
    rows; cosine preps them onto the unit sphere.  cosine/dot score the
    dot product; euclidean the negated squared distance (monotone in
    the true euclidean similarity, which stage 2 re-ranks exactly).

    ``centroid`` = one cell of RESIDUAL codes, v_hat = c + r:

    - cosine/dot: q.v_hat = q.c + q.r -> luts[q, j, w] = q_j.w (the
      flat table), consts = q.c;
    - euclidean: -||q - c - r||^2 = -||q - c||^2 + 2 (q - c).r - ||r||^2
      -> luts[q, j, w] = 2 (q - c)_j.w - ||w||^2, consts = -||q - c||^2.

    The constants matter: candidates from different cells compete in
    one global cut, so scores must be comparable ACROSS cells.  Flat
    euclidean folds -||q_j||^2 into each subspace's table and keeps
    consts at 0.  ``rotation`` (OPQ) rotates the queries and the
    centroid into the codebooks' space; every identity above holds
    there verbatim (q'.c' = q.c, ||q'-c'|| = ||q-c||)."""
    Qp = _prep(Q, metric)
    c = None if centroid is None else np.asarray(centroid, dtype=np.float64)
    if rotation is not None:
        Qp = Qp @ rotation
        c = None if c is None else c @ rotation
    nq = Qp.shape[0]
    m, ks, _ = codebooks.shape
    luts = np.empty((nq, m, ks), dtype=np.float64)
    if metric in ("cosine", "dot"):
        for j in range(m):
            luts[:, j, :] = Qp[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T
        consts = np.zeros(nq) if c is None else Qp @ c
    elif metric == "euclidean":
        QC = Qp if c is None else Qp - c[None, :]
        for j in range(m):
            cb = codebooks[j]
            qs = QC[:, j * dsub : (j + 1) * dsub]
            luts[:, j, :] = 2.0 * (qs @ cb.T) - (cb * cb).sum(axis=1)[None, :]
            if c is None:
                luts[:, j, :] -= (qs * qs).sum(axis=1)[:, None]
        consts = np.zeros(nq) if c is None else -(QC * QC).sum(axis=1)
    else:
        raise ValueError(f"unknown metric: {metric}")
    return luts, consts


def _adc_scores(
    luts: np.ndarray, consts: np.ndarray, codes: np.ndarray
) -> np.ndarray:
    """(nq, n) ADC scores of ``codes`` (n, m): consts[q] + sum_j
    luts[q, j, codes[:, j]] — the one scorer of every ADC scan."""
    s = np.broadcast_to(consts[:, None], (len(consts), len(codes))).copy()
    for j in range(luts.shape[1]):
        s += luts[:, j, codes[:, j]]
    return s


def pq_train(
    df: DataFrame,
    m: int = 8,
    ks: int = 256,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 50_000,
    iters: int = 15,
    seed: int = 42,
    opq_iters: int = 0,
) -> PQModel:
    """Fit PQ codebooks on a deterministic hash-sample of the corpus.

    The sample is ``xxhash64(id) % step == 0`` (order-independent, so
    re-runs on re-partitioned data pick the identical rows); its size
    is bounded by ``max_rows`` whatever the corpus size — training cost
    is O(max_rows * ks * dim) on the driver, the 100 TB never moves.

    ``opq_iters > 0`` = OPQ (Ge et al. CVPR 2013, non-parametric):
    alternate (a) fit codebooks on the rotated sample X R, (b) update
    R = argmin_{R orthogonal} ||X R - Y_hat||_F via the orthogonal
    Procrustes solution (SVD of X^T Y_hat).  The learned rotation
    decorrelates and variance-balances the m subspaces, so the same
    m x ks code budget yields materially sharper ADC orderings —
    still O(sample) driver-side control plane, the corpus never moves.
    """
    n = df.count()
    if n == 0:
        raise ValueError("pq_train: empty corpus")
    # ceiling division: with floor, the hash filter passes up to ~2x
    # max_rows and the limit() below cuts the excess partition-layout-
    # dependently; with ceil the expected pass count is <= max_rows and
    # the limit is a rarely-binding safety net
    step = max(1, -(-n // max_rows))
    sample = df
    if step > 1:
        sample = df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0
        )
    # Arrow transfer: .collect() deserializes array rows one by one
    # (measured ~50 s for 50k x 64-d); toPandas moves the same sample
    # in Arrow batches in ~1 s.  The overflow cut is ordered by
    # (xxhash64(id), id) — a deterministic total order, so the trained
    # codebooks are identical across partition layouts even when the
    # limit binds (orderBy+limit = TakeOrderedAndProject: per-task
    # heaps, never a full sort shuffle).
    pdf = (
        sample.select(
            F.col(vec_col),
            F.xxhash64(F.col(id_col)).alias("__h"),
            F.col(id_col).alias("__i"),
        )
        .orderBy("__h", "__i")
        .limit(max_rows)
        .select(vec_col)
        .toPandas()
    )
    mat = _prep(np.stack(pdf[vec_col].to_numpy()), metric)
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    rng = np.random.RandomState(seed)
    if opq_iters <= 0:
        cb0 = _pq_fit(mat, m, ks, iters, rng)
        mse0 = float(
            ((mat - _pq_reconstruct(mat, cb0)) ** 2).sum(axis=1).mean()
        )
        return PQModel(cb0, metric=metric, dim=dim, train_mse=mse0)
    # OPQ-NP alternation.  Each outer round refits the codebooks on the
    # freshly rotated sample (warm-started — a few Lloyd steps suffice
    # mid-alternation) and solves the Procrustes rotation update; the
    # final full-iters fit locks the codebooks to the final rotation.
    R = np.eye(dim, dtype=np.float64)
    cb = None
    inner = max(3, iters // 3)
    for _ in range(opq_iters):
        Y = mat @ R
        cb = _pq_fit(Y, m, ks, inner, rng, C0=cb)
        rec = _pq_reconstruct(Y, cb)
        U, _, Vt = np.linalg.svd(mat.T @ rec)
        R = U @ Vt
    # store/use float32 (codebook precision) so the in-session model
    # and a vault round-trip are bit-identical; fit the final codebooks
    # against the SAME float32 rotation serving will apply
    R32 = R.astype(np.float32)
    matR = mat @ R32.astype(np.float64)
    cb = _pq_fit(matR, m, ks, iters, rng, C0=cb)
    # reconstruction error in the rotated space == in the original
    # space (orthogonal rotation preserves L2), so one formula serves
    # both paths
    mse = float(((matR - _pq_reconstruct(matR, cb)) ** 2).sum(axis=1).mean())
    return PQModel(cb, metric=metric, dim=dim, rotation=R32, train_mse=mse)


def pq_encode(
    df: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_code ARRAY<TINYINT>) — one signed byte per subspace
    (code - 128, so ks=256 fits; decode adds 128 back).  Arrow-batched
    argmin against the broadcast codebooks; linear, shuffle-free."""
    return _encode(
        df.select(id_col, vec_col), model, vec_col, None,
        f"{id_col} long, pq_code array<tinyint>",
    )


def ivf_pq_encode_residual(
    assigned: DataFrame,
    model: PQModel,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell_id, pq_code) with codes quantizing the CELL RESIDUAL
    prep(v) - centroid[cell_id] (see ``_residuals``).  Same
    Arrow-batched shuffle-free kernel as ``pq_encode``; the k_cells
    centroid matrix rides the same broadcast as the codebooks."""
    return _encode(
        assigned.select(id_col, "cell_id", vec_col), model, vec_col,
        _centroid_table(centroids),
        f"{id_col} long, cell_id int, pq_code array<tinyint>",
    )


def _encode(
    frame: DataFrame, model: PQModel, vec_col: str, cells: tuple | None,
    schema: str,
) -> DataFrame:
    """The encode kernel of both faces: every column of ``frame`` but
    ``vec_col`` passes through and ``pq_code`` is appended, typed by
    ``schema``.  ``cells`` = ``_centroid_table`` output for residual
    codes, None for raw ones; OPQ models quantize the rotated vector
    (or residual)."""
    bc = frame.sparkSession.sparkContext.broadcast(
        (model.kernel_state(), cells)
    )
    keep = [c for c in frame.columns if c != vec_col]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        (codebooks, metric, _, rot), cells_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cells_ is None:
                X = _prep(np.stack(pdf[vec_col].to_numpy()), metric)
            else:
                X = _residuals(pdf, vec_col, metric, *cells_)
            if rot is not None:
                X = X @ rot
            codes = _assign_codes(X, codebooks)
            yield pd.DataFrame(
                {
                    **{c: pdf[c].to_numpy() for c in keep},
                    "pq_code": list((codes - 128).astype(np.int8)),
                }
            )

    return frame.mapInPandas(encode, schema=schema)


def _adc_candidates(
    scan: DataFrame,
    model: PQModel,
    query_vector: Sequence[float],
    n_candidates: int,
    id_col: str = "vec_id",
    with_scores: bool = False,
    cells: Sequence[int] | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The one single-query ADC scan: approximate scores over the
    compressed table, global top ``n_candidates``.  Each Arrow batch
    runs the batch faces' ADC kernel (:func:`_make_cogroup_adc_kernel`) against
    the one query, so only its batch-local top survives and the final
    TakeOrdered sees O(partitions * n) rows.

    RESIDUAL codes (``model.residual``; ``cells`` are the probed
    cells, ``centroids`` the IVF centroid table) score per cell with
    that cell's (luts, consts), built on the executors — codes are
    partitioned by cell_id, so a batch touches few cells.  The driver
    never materializes per-cell tables: it broadcasts MODEL-sized
    state, the codebooks plus the PROBED centroids (collected under a
    server-side ``isin`` filter, never the full centroid table).  Under
    the adaptive all-cells fallback, per-cell tables would be
    k_cells*m*ks float64 per query (~1 GB at 65k cells, m=8, ks=256)."""
    spark = scan.sparkSession
    cols, cents = [id_col, "pq_code"], None
    if model.residual:
        cols.append("cell_id")
        cset = sorted({int(c) for c in cells})
        # server-side filter for selective probes; past ~1k cells a
        # giant In-list costs more than collecting the (bounded,
        # model-sized) centroid table and filtering driver-side
        if len(cset) <= 1024:
            src = centroids.filter(F.col("cell_id").isin(cset)).collect()
        else:
            want = set(cset)
            src = [r for r in centroids.collect() if int(r["cell_id"]) in want]
        cents = {
            int(r["cell_id"]): np.asarray(r["centroid"], dtype=np.float64)
            for r in src
        }
    serve = _make_cogroup_adc_kernel(
        spark, model, n_candidates, id_col, "_q", "_qv"
    )
    bc = spark.sparkContext.broadcast(
        (np.asarray(query_vector, dtype=np.float64), cents)
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qv, cents_ = bc.value

        def query(cell=None) -> pd.DataFrame:
            cent = None if cell is None else cents_[cell]
            return pd.DataFrame({"_q": [0], "_qv": [qv], "centroid": [cent]})

        for pdf in batches:
            if cents_ is None:
                yield serve(pdf, query())
                continue
            for c, part in pdf.groupby("cell_id", sort=False):
                yield serve(part, query(int(c)))

    scored = scan.select(*cols).mapInPandas(
        score, schema=f"_q long, {id_col} long, adc_score double"
    )
    top = top_k_rows(scored, n_candidates, (), id_col, "adc_score")
    return top.select(id_col, *(["adc_score"] if with_scores else []))


def pq_candidates(
    encoded: DataFrame,
    model: PQModel,
    query_vector: Sequence[float],
    n_candidates: int,
    id_col: str = "vec_id",
    with_scores: bool = False,
) -> DataFrame:
    """ADC candidates of a flat PQ index: ``(id)``, or ``(id,
    adc_score)`` with ``with_scores`` — see :func:`_adc_candidates`."""
    return _adc_candidates(
        encoded, model, query_vector, n_candidates, id_col=id_col,
        with_scores=with_scores,
    )


def adc_sigma(model: PQModel, query_vector: Sequence[float]) -> float | None:
    """Per-query ADC error scale for dot/cosine models: the ADC score
    of a row errs from its exact score by q . (v - v_hat); under the
    isotropic-residual approximation Var = ||q||^2 * mse / dim, so
    sigma = ||q|| * sqrt(train_mse / dim) (cosine preps q to unit
    norm; residual models measure mse on the residual sample, whose
    reconstruction error is exactly the served quantization error).
    None when the model carries no training MSE (legacy index) or the
    metric is euclidean — the euclidean error bound depends on the
    rank-k DISTANCE, which only exists once the pool is ranked, so
    ``adaptive_refine_cut`` derives it in place when handed the model
    (see its docstring)."""
    if model.train_mse is None or model.metric not in ("cosine", "dot"):
        return None
    q = _prep(np.asarray(query_vector, dtype=np.float64)[None, :],
              model.metric)[0]
    return float(np.linalg.norm(q) * np.sqrt(model.train_mse / model.dim))


def adaptive_refine_cut(
    cand_scored: DataFrame,
    k: int,
    sigma: float | None,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
    id_col: str = "vec_id",
    model: PQModel | None = None,
) -> DataFrame:
    """Shrink an ADC candidate pool to the rows that could still reach
    the exact top-k — the public analogue of FAISS's reorder-list
    sizing, driven by the quantization error bound instead of a fixed
    multiplier: keep rank <= k*refine_min unconditionally (the safety
    floor) plus every candidate whose ADC score is within
    ``sigma_mult * sigma`` of the rank-k ADC score.  A true top-k
    member's ADC estimate errs by ~sigma, so anything further below
    rank k than the error bound cannot displace it; easy queries
    (wide ADC margins) send a near-floor pool to the exact re-rank
    while hard ones keep up to the full ``n_candidates``.

    The pool is BOUNDED (<= k * refine_max rows — the TakeOrdered
    output), so the cut is computed DRIVER-SIDE from one collect and
    the kept ids return as a literal DataFrame: the downstream exact
    re-rank joins a broadcast literal instead of re-executing the ADC
    scan plan a second time for the rank window (a plan-side window +
    cross-join formulation measured ~1.65x the fixed path's wall —
    the scan ran twice).  One extra control-plane job, zero extra
    corpus passes.

    EUCLIDEAN models (``sigma=None`` + ``model`` given): the ADC score
    is -||x_hat - q||^2 while the true score is -||x - q||^2 =
    adc - 2 e.(x_hat - q) - ||e||^2 (e = quantization error), so the
    error scale DEPENDS ON THE RANK-K DISTANCE — it is derived here,
    after ranking, as 2*sqrt(d2_k * mse / dim) (the isotropic
    cross-term at the rank-k radius d2_k = -adc@k) plus the ||e||^2
    bias shift of mse.  ``sigma=None`` with no model (or a legacy
    model) returns the pool unchanged."""
    eucl = (
        sigma is None
        and model is not None
        and model.metric == "euclidean"
        and model.train_mse is not None
    )
    if sigma is None and not eucl:
        return cand_scored
    spark = cand_scored.sparkSession
    rows = cand_scored.collect()  # bounded: the candidate pool
    rows.sort(key=lambda r: (-r["adc_score"], r[id_col]))
    if len(rows) <= int(k):
        kept = rows
    else:
        if eucl:
            mse = float(model.train_mse)
            d2_k = max(-float(rows[int(k) - 1]["adc_score"]), 0.0)
            sigma = 2.0 * float(np.sqrt(d2_k * mse / model.dim)) + mse
        cut = rows[int(k) - 1]["adc_score"] - float(sigma_mult) * float(
            sigma
        )
        floor = int(k) * int(refine_min)
        kept = [
            r for i, r in enumerate(rows)
            if i < floor or r["adc_score"] >= cut
        ]
    return local_frame(
        spark,
        [(int(r[id_col]), float(r["adc_score"])) for r in kept],
        f"{id_col} long, adc_score double",
    )


def adaptive_refine_cut_batch(
    pool: DataFrame,
    k: int,
    model: PQModel | None,
    queries: DataFrame | None = None,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch face of :func:`adaptive_refine_cut`, applied PLAN-SIDE:
    the single-query cut collects its pool, which at |Q| queries would
    serialize |Q| extra driver jobs; here the cut is one window + one
    |Q|-row join inside the batch ranking.

    ``pool`` is ``rank_topk_per_query(..., score_col='adc_score',
    round_scores=False)`` output ``(query_id, id, adc_score, rank)`` —
    the frame the fixed path hands the exact re-rank.  The keep rule
    and sigma are the single face's, per query: cosine uses the
    constant sqrt(train_mse/dim) (the single face's recomputed unit
    norm may differ in the last ulp); dot folds ||q|| from the query
    column (pairwise-vs-fold summation may differ from NumPy in the
    last ulp — the cut is a recall/cost dial, not an oracled face).

    The |Q|-row rank-k join carries no hint: AQE broadcasts it while
    it is small and falls back to a shuffled join at cogrouped-face
    query counts where a broadcast would not fit."""
    if model is None or model.train_mse is None:
        return pool
    if model.metric == "dot" and queries is None:
        raise ValueError(
            "adaptive_refine_cut_batch needs the queries frame for "
            "dot-metric models (per-query norm drives sigma)"
        )
    mse = float(model.train_mse)
    # pin the bounded pool: it feeds BOTH the rank-k extraction and
    # the kept-row filter — without the pin the upstream candidate
    # scan would execute twice (the single-query face's 1.65x plan
    # trap), and the self-join lineage would trip the analyzer
    pool = pool.localCheckpoint(eager=False)
    kth = pool.filter(F.col("rank") == int(k)).select(
        query_id_col, F.col("adc_score").alias("_adc_k")
    )
    joined = pool.join(kth, query_id_col, "left")
    if model.metric == "euclidean":
        d2_k = F.greatest(-F.col("_adc_k"), F.lit(0.0))
        sigma = (
            F.lit(2.0)
            * F.sqrt(d2_k * F.lit(mse) / F.lit(float(model.dim)))
            + F.lit(mse)
        )
    elif model.metric == "dot":
        norms = queries.select(
            query_id_col,
            F.sqrt(
                F.aggregate(
                    F.col(query_vec_col).cast("array<double>"),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
            ).alias("_qn"),
        )
        joined = joined.join(norms, query_id_col, "left")
        sigma = F.col("_qn") * F.lit(float(np.sqrt(mse / model.dim)))
    else:  # cosine
        sigma = F.lit(float(np.sqrt(mse / model.dim)))
    floor = int(k) * int(refine_min)
    # coalesce(..., True): a null sigma (dot-metric pool row whose
    # query_id misses the queries frame -> null _qn from the left
    # join) must keep the row, mirroring the _adc_k-isNull branch —
    # not silently drop everything past the rank floor.
    keep = (
        F.col("_adc_k").isNull()
        | (F.col("rank") <= floor)
        | F.coalesce(
            F.col("adc_score")
            >= F.col("_adc_k") - F.lit(float(sigma_mult)) * sigma,
            F.lit(True),
        )
    )
    return joined.filter(keep).select(
        query_id_col, id_col, "adc_score", "rank"
    )


def pq_topk(
    encoded: DataFrame,
    original: DataFrame,
    query_vector: Sequence[float],
    k: int,
    model: PQModel,
    refine_factor: int = 32,
    strength: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    allowed_ids=None,
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """Two-stage PQ search: ADC candidates (k*refine, compressed scan
    only) -> broadcast id join into the full-precision table -> exact
    re-rank.  Same output contract as ``topk_search``; accuracy is a
    recall property (tests pin >=0.9 @ refine 32 on clustered data),
    exactness within the candidate set is guaranteed by stage 2.

    ``allowed_ids`` = metadata-filtered search (parity with
    ``filtered_topk`` / ``hnsw_query_shards(allowed_ids=)``): the id
    set filters the COMPRESSED scan before ADC scoring — a pushable
    isin predicate for a sequence, a broadcast semi-join for a
    DataFrame allow-list (``operators.filtering``) — so the candidate
    budget is spent entirely inside the filter."""
    from astro_vectordb_spark.operators.filtering import restrict_to_allowed

    scan = encoded
    if allowed_ids is not None:
        scan = restrict_to_allowed(scan, allowed_ids, id_col=id_col)
    return _refine_topk(
        scan, original, query_vector, k, model, refine_factor, strength,
        id_col, vec_col, score_col, adaptive_refine, refine_min, sigma_mult,
    )


def _refine_topk(
    scan: DataFrame,
    original: DataFrame,
    query_vector: Sequence[float],
    k: int,
    model: PQModel,
    refine_factor: int,
    strength: float,
    id_col: str,
    vec_col: str,
    score_col: str,
    adaptive_refine: bool,
    refine_min: int,
    sigma_mult: float,
    cells: Sequence[int] | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The two stages of every single-query PQ face: the ADC scan of
    ``scan`` (:func:`_adc_candidates`; residual codes score per probed
    cell), the optional error-bound pool cut
    (:func:`adaptive_refine_cut` — ``refine_factor`` becomes the
    ceiling), then the exact re-rank: a broadcast id join into the
    full-precision table, scored with the built-in fold expression,
    thresholded by ``strength`` -> TakeOrderedAndProject."""
    cand = _adc_candidates(
        scan, model, query_vector, k * refine_factor, id_col=id_col,
        with_scores=adaptive_refine, cells=cells, centroids=centroids,
    )
    if adaptive_refine:
        cand = adaptive_refine_cut(
            cand, k, adc_sigma(model, query_vector),
            refine_min=refine_min, sigma_mult=sigma_mult, id_col=id_col,
            model=model,
        ).select(id_col)
    # .distinct(): the codes table may hold duplicate id rows (a
    # re-appended batch, an at-least-once streaming retry, or a
    # spill-redundant IVF assignment that stores a vector in several
    # cells); without it the broadcast join would emit the id twice
    # into the final top-k.  Bounded rows (<= k*refine) — cheap.
    return topk_search(
        original.join(F.broadcast(cand.distinct()), id_col),
        vector_literal(query_vector), k, strength=strength,
        metric=model.metric, id_col=id_col, vec_col=vec_col,
        score_col=score_col,
    ).select(id_col, score_col)


def pq_reconstruction_mse(
    df: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error over the corpus (diagnostic;
    distributed, returns one double)."""
    enc = pq_encode(df, model, id_col=id_col, vec_col=vec_col)
    joined = df.select(id_col, vec_col).join(enc, on=id_col)
    bc = df.sparkSession.sparkContext.broadcast(model.kernel_state())

    def err(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codebooks, metric, _, rot = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _prep(np.stack(pdf[vec_col].to_numpy()), metric)
            if rot is not None:  # MSE is rotation-invariant; compare in
                X = X @ rot      # the codebooks' (rotated) space
            rec = _decode_codes(_unpack_codes(pdf["pq_code"]), codebooks)
            se = ((X - rec) ** 2).sum(axis=1)
            yield pd.DataFrame({"se": se, "n": np.ones_like(se)})

    agg = joined.mapInPandas(err, schema="se double, n double").agg(
        F.sum("se").alias("se"), F.sum("n").alias("n")
    ).first()
    return float(agg["se"] / agg["n"])


# ---------------------------------------------------------------------------
# IVF-PQ: cell-partitioned codes — the canonical 100 TB layout.
# Partition pruning (open nprobe/k_cells of the files) multiplies with
# PQ compression (read m bytes per vector in those files): a query
# touches ~ nprobe/k_cells * m/(4*dim) of the float-corpus bytes.
# Codes encode the RAW vector by default (one codebook; the two-stage
# exact re-rank restores full precision); ``residual=True`` encodes the
# cell residual instead (see ``ivf_pq_build``).

def ivf_pq_residual_frame(
    assigned: DataFrame,
    centroids: DataFrame,
    metric: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, residual) = prep(v) - centroid[cell] for every assigned
    row — the residual training corpus shared by :func:`ivf_pq_build`
    and the IVF-PQ ``index.open(...).refresh`` refit.  A bounded
    mapInPandas over the assigned rows (the k_cells centroid matrix
    broadcasts); trained with identity prep downstream — residuals
    must NOT be re-normalized (see ``_residuals``).  Kept apart from
    the residual encode: chaining the two frames would add an Arrow
    round trip per row."""
    bc = assigned.sparkSession.sparkContext.broadcast(
        (_centroid_table(centroids), metric)
    )

    def _resid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        (C, pos), met = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: list(_residuals(pdf, vec_col, met, C, pos)),
                }
            )

    return assigned.select(id_col, "cell_id", vec_col).mapInPandas(
        _resid, schema=f"{id_col} long, {vec_col} array<double>"
    )


def ivf_pq_build(
    df: DataFrame,
    k_cells: int = 16,
    m: int = 8,
    ks: int = 256,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_rows: int = 50_000,
    residual: bool = False,
    opq_iters: int = 0,
):
    """Fit IVF cells + PQ codebooks and encode the corpus.

    Returns ``(encoded, centroids, model)`` where encoded =
    (id, cell_id, pq_code) — write it ``partitionBy("cell_id")`` (or
    via ``vault.save_ivf_pq_index``) so cell probes become file-level
    partition pruning.

    ``residual=True`` = residual encoding (the standard IVF-PQ
    fidelity win): the codebooks train on and the codes quantize
    prep(v) - centroid[cell] instead of the raw vector.  Residual
    variance is a fraction of vector variance, so the same m x ks
    code budget resolves much finer structure — ADC ordering gets
    sharper and the stage-2 ``refine_factor`` (whose exact-re-rank
    join traffic is the term that grows at 100 TB) can drop.  Serving
    reads ``model.residual`` and builds its ADC tables per (query,
    probed cell); raw and residual indexes coexist (the flag persists
    in the vault ``_meta``).

    ``opq_iters > 0`` = OPQ rotation (see ``pq_train``): the learned
    orthogonal rotation composes with EITHER encoding (raw vectors or
    cell residuals rotate before the subspace split) and persists with
    the codebooks, so append/serve paths pick it up transparently."""
    from astro_vectordb_spark.operators.ann import ivf_build_sampled

    assigned, centroids = ivf_build_sampled(
        df, k_cells=k_cells, metric=metric, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    if residual:
        resid_df = ivf_pq_residual_frame(
            assigned, centroids, metric, id_col=id_col, vec_col=vec_col
        )
        base = pq_train(
            resid_df, m=m, ks=ks, metric="dot", vec_col=vec_col,
            id_col=id_col, max_rows=max_rows, seed=seed,
            opq_iters=opq_iters,
        )
        model = PQModel(
            base.codebooks, metric=metric, dim=base.dim, residual=True,
            rotation=base.rotation, train_mse=base.train_mse,
        )
        encoded = ivf_pq_encode_residual(
            assigned, model, centroids, id_col=id_col, vec_col=vec_col
        )
        return encoded, centroids, model
    model = pq_train(
        df, m=m, ks=ks, metric=metric, vec_col=vec_col, id_col=id_col,
        max_rows=max_rows, seed=seed, opq_iters=opq_iters,
    )
    codes = pq_encode(df, model, id_col=id_col, vec_col=vec_col)
    encoded = assigned.select(id_col, "cell_id").join(codes, on=id_col)
    return encoded, centroids, model


def ivf_pq_topk(
    encoded: DataFrame,
    centroids: DataFrame,
    original: DataFrame,
    query_vector: Sequence[float],
    k: int,
    model: PQModel,
    nprobe: int | None = 4,
    refine_factor: int = 32,
    strength: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    allowed_ids=None,
    n_total: int | None = None,
    max_probe_frac: float | None = None,
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """IVF-PQ search: rank cells driver-side (k_cells rows — it
    parameterizes scan pruning), ADC-scan ONLY the probed cells'
    codes (``cell_id IN (...)`` = PartitionFilters on a
    cell-partitioned table), exact-rerank the survivors.

    Cells come from the IVF probe policy (``ann.probe``, the
    rule ``ivf_search`` uses; centroid distances carry the identical
    signal here, the codes just quantize the members): fixed
    ``nprobe``, or ``nprobe=None`` for the adaptive profile rule — a
    query with no standout cell ADC-scans every cell (stage 2 still
    re-ranks exactly).

    ``allowed_ids`` = metadata-filtered search: the probed cells'
    codes are restricted to the allowed set (sequence -> isin;
    DataFrame -> broadcast semi-join, see ``operators.filtering``)
    BEFORE the ADC ranking, with the probe count widened by
    1/selectivity exactly as in ``ivf_search``; ``n_total`` skips the
    corpus count when the caller knows it (the facade reads it from
    ``_meta``)."""
    from astro_vectordb_spark.operators.ann import probe

    probed, cells = probe(
        encoded, centroids, query_vector, nprobe, model.metric,
        max_probe_frac, allowed_ids, n_total, id_col,
    )
    return _refine_topk(
        probed, original, query_vector, k, model, refine_factor, strength,
        id_col, vec_col, score_col, adaptive_refine, refine_min, sigma_mult,
        cells=cells, centroids=centroids,
    )


def _make_cogroup_adc_kernel(
    spark, model: PQModel, n_local: int, id_col: str, query_id_col: str,
    query_vec_col: str,
):
    """The ADC serve kernel of every PQ face: ``fn(codes, queries)``
    scores a codes slice (pandas) against query rows, building the
    slice's ADC tables worker-side from one broadcast of
    ``model.kernel_state()``, and emits the slice-local top ``n_local``
    per query.  The batch faces call it per cogroup, the single-query
    scan per Arrow batch.  Query-sliced scoring: a (|Q|, |block|)
    float64 matrix at large |Q| is multi-GB of temporaries per
    j-gather (measured: 18 workers at 4 GB RES each, >50% SYSTEM cpu
    = allocator churn, at 50k x 6k); 512-query slices cap the temp at
    ~25 MB with identical float64 math (per-query sums are
    independent).

    Residual codes: the query side carries the slice's cell centroid
    in a ``centroid`` column (a slice is one cell, or one salt of one
    cell, so the column is constant within it) and the tables build
    per (query, cell) — scores stay comparable across cells because
    every slice adds its own exact constant."""
    bc = spark.sparkContext.broadcast(model.kernel_state())
    residual = model.residual

    def _serve(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "adc_score": []}
            ).astype(
                {query_id_col: "int64", id_col: "int64", "adc_score": "float64"}
            )
        codebooks, metric, dsub, rot = bc.value
        codes = _unpack_codes(cpdf["pq_code"])
        ids = cpdf[id_col].to_numpy()
        # id-ascending column order: with it, every boundary-tie pick
        # below is "first by id", making the local cut a deterministic
        # (score desc, id asc) total order — required for the salted
        # and unsalted groupings to yield identical global candidates
        # (a subgroup's top-n is then provably a superset restriction
        # of the cell's top-n), and for run-to-run stability under ADC
        # ties regardless of shuffle arrival order
        idorder = np.argsort(ids, kind="stable")
        ids = ids[idorder]
        codes = codes[idorder]
        qids_all = qpdf[query_id_col].to_numpy()
        qmat_all = np.stack(qpdf[query_vec_col].to_numpy()).astype(np.float64)
        cent = (
            np.asarray(qpdf["centroid"].iloc[0], dtype=np.float64)
            if residual
            else None
        )
        out_q, out_i, out_s = [], [], []
        q_slice = 512
        for lo in range(0, len(qids_all), q_slice):
            qids = qids_all[lo : lo + q_slice]
            s = _adc_scores(
                *_adc_tables(
                    codebooks, metric, dsub, qmat_all[lo : lo + q_slice],
                    rot, cent,
                ),
                codes,
            )
            if s.shape[1] > n_local:
                # O(B) partition for the threshold, then exact
                # boundary-tie resolution by id (columns are
                # id-ascending, so nonzero order IS id order) — same
                # asymptotics as bare argpartition, deterministic cut
                part = np.argpartition(-s, n_local - 1, axis=1)
                keep_rows = []
                for r in range(s.shape[0]):
                    sr = s[r]
                    thr = sr[part[r, n_local - 1]]
                    better = np.nonzero(sr > thr)[0]
                    ties = np.nonzero(sr == thr)[0][: n_local - better.size]
                    keep_rows.append(np.concatenate([better, ties]))
                keep2d = np.stack(keep_rows)
            else:
                keep2d = np.tile(np.arange(s.shape[1]), (len(qids), 1))
            k_eff = keep2d.shape[1]
            out_q.append(np.repeat(qids, k_eff))
            out_i.append(ids[keep2d.ravel()])
            out_s.append(np.take_along_axis(s, keep2d, axis=1).ravel())
        return pd.DataFrame(
            {
                query_id_col: np.concatenate(out_q),
                id_col: np.concatenate(out_i),
                "adc_score": np.concatenate(out_s),
            }
        )

    return _serve


def pq_batch_topk_cogrouped(
    encoded: DataFrame,
    original: DataFrame,
    queries: DataFrame,
    k: int,
    model: PQModel,
    refine_factor: int = 32,
    strength: float = 0.0,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    score_col: str = "score",
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """Batch face of ``pq_topk`` (same options; each query's rows
    equal its ``pq_topk`` call — the equivalence tests pin this),
    WITHOUT driver-side query materialization: no single machine ever
    holds the query set or its LUT tensor, so |Q| is unbounded.
    Output: (query_id, id, score, rank) — same contract as
    ``batch_topk``.

    Shape: the compact codes table is hash-blocked on id, queries are
    replicated once per block (|Q| x n_blocks rows — data-parallel, no
    single-machine copy), and a cogroup pairs each block's codes with
    its full query slice; the task builds the slice's LUTs from raw
    query vectors (tiny: m*ks*dsub flops per query) and emits the
    block-local ADC top ``k*refine_factor`` per query; the candidate
    cut and exact re-rank follow (:func:`_cogrouped_topk`).  Cost:
    one shuffle of the m-bytes-per-vector codes table (not the float
    corpus) + |Q| x n_blocks query replication."""
    spark = encoded.sparkSession
    if n_blocks is None:
        n_blocks = max(2, spark.sparkContext.defaultParallelism)
    codes_b = encoded.select(id_col, "pq_code").withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    q_rep = queries.select(query_id_col, query_vec_col).crossJoin(
        F.broadcast(
            local_frame(spark, [(b,) for b in range(n_blocks)], "__blk int")
        )
    )
    return _cogrouped_topk(
        codes_b, q_rep, ["__blk"], original, queries, k, model,
        k * refine_factor, strength, id_col, vec_col, query_id_col,
        query_vec_col, score_col, adaptive_refine, refine_min, sigma_mult,
    )


def _cogrouped_topk(
    codes: DataFrame,
    q_side: DataFrame,
    keys: list[str],
    original: DataFrame,
    queries: DataFrame,
    k: int,
    model: PQModel,
    n_local: int,
    strength: float,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    score_col: str,
    adaptive_refine: bool,
    refine_min: int,
    sigma_mult: float,
) -> DataFrame:
    """The stages both cogrouped PQ faces share once each has paired
    its ``codes`` with their queries ``q_side`` on ``keys``: the ADC
    kernel per cogroup (local top ``n_local`` per query), the global
    candidate cut in the single-query scan's (score desc, id asc)
    order per query (the prereduce keeps the exchange at |partitions|
    x |Q| x n rows), the optional per-query error-bound cut
    (:func:`adaptive_refine_cut_batch` — inside the plan, no driver
    collect, so it composes with unbounded |Q|), then the exact
    re-rank by plain (AQE-planned) joins — no broadcast of the
    candidate or query frames, which at large |Q| would not fit."""
    hits = (
        codes.groupBy(*keys)
        .cogroup(q_side.groupBy(*keys))
        .applyInPandas(
            _make_cogroup_adc_kernel(
                codes.sparkSession, model, n_local, id_col, query_id_col,
                query_vec_col,
            ),
            f"{query_id_col} long, {id_col} long, adc_score double",
        )
    )
    pool = rank_topk_per_query(
        hits, n_local, id_col=id_col, query_id_col=query_id_col,
        score_col="adc_score", num_salts=8, round_scores=False,
    )
    if adaptive_refine:
        pool = adaptive_refine_cut_batch(
            pool, k, model, queries=queries, refine_min=refine_min,
            sigma_mult=sigma_mult, id_col=id_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
    # spill-redundant copies of one id rank adjacently at equal scores;
    # distinct() collapses them before the re-rank
    cand = pool.select(query_id_col, id_col).distinct()
    exact = (
        original.join(cand, id_col)
        .join(queries.select(query_id_col, query_vec_col), query_id_col)
        .withColumn(
            score_col,
            similarity(F.col(vec_col), F.col(query_vec_col), model.metric),
        )
        .filter(F.col(score_col) > threshold_from_strength(strength))
    )
    return rank_topk_per_query(
        exact, k, id_col=id_col, query_id_col=query_id_col,
        score_col=score_col, num_salts=8,
    )


def ivf_pq_batch_topk_cogrouped(
    encoded: DataFrame,
    centroids: DataFrame,
    original: DataFrame,
    queries: DataFrame,
    k: int,
    model: PQModel,
    nprobe: int | None = 4,
    refine_factor: int = 32,
    strength: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    score_col: str = "score",
    allowed_ids=None,
    n_total: int | None = None,
    max_group_rows: int | None = None,
    cell_counts: DataFrame | None = None,
    max_probe_frac: float | None = None,
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """Cell-probed batch IVF-PQ — the batch face of ``ivf_pq_topk``:
    every query ADC-scans ONLY its probed cells' codes instead of the
    whole table, cutting the ADC flops to the probed fraction
    (nprobe / k_cells) at any |Q|.  Probing (``nprobe``,
    ``max_probe_frac``) and filtering (``allowed_ids``, ``n_total``)
    follow the single face's policy, so each query's rows equal its
    ``ivf_pq_topk`` call.

    Shape: the distributed probe table (``ann.probe_table_batch`` —
    the single face's probe policy as per-query windows) pairs each
    query with its cells; a cogroup on
    ``cell_id`` serves each cell's codes against exactly the queries
    probing it (the same worker-side LUT kernel as the hash-blocked
    face — nothing materializes on the driver, |Q| unbounded); the
    global candidate cut and exact re-rank are the hash-blocked
    face's.  With spill-redundant assignment a copy probed via
    two cells scores identically in both, and the post-cut
    ``distinct()`` collapses it.

    ``max_group_rows`` = SKEW-BOUNDED cogroups: without it, one giant
    cell (a skewed corpus) or one hot cell (every query probing it)
    concentrates that cell's whole ADC scan in ONE cogroup task — the
    straggler/OOM shape that kills a 1000-executor run.  With it, each
    cell is salted into ``ceil(cell_rows / max_group_rows)`` sub-groups
    (codes by id hash; each probing query replicated across the cell's
    salts), so no task ever materializes more than ~``max_group_rows``
    codes AND a hot cell's ADC work spreads over its salt count.
    Results are IDENTICAL to the unsalted face: each sub-group emits
    its local top ``k*refine_factor``, a superset of the per-cell top
    (any per-cell top row is also top within its own sub-group), and
    both unions contain the true global ADC top — the shared global
    cut then picks the same candidate set, ties and all.  Salt counts
    come from ``cell_counts`` ``(cell_id, _cn)`` when the caller has
    them (k_cells rows — control-plane metadata) or one column-pruned
    count over the codes otherwise.

    Returns ``(query_id, vec_id, score, rank)``, exact scores, at
    most ``k`` rows per query.
    """
    from astro_vectordb_spark.operators.ann import probe_batch

    encoded, q_cells = probe_batch(
        encoded, centroids, queries, nprobe, model.metric, max_probe_frac,
        allowed_ids, n_total, id_col, query_id_col, query_vec_col,
    )
    if model.residual:
        # each cogroup is one cell (or one salt of one cell): ride the
        # cell's centroid on the query side (k_cells-row broadcast) so
        # the kernel can build its per-(query, cell) residual tables
        q_cells = q_cells.join(
            F.broadcast(centroids.select("cell_id", "centroid")), "cell_id"
        )
    codes, keys = encoded.select(id_col, "pq_code", "cell_id"), ["cell_id"]
    if max_group_rows is not None:
        counts = cell_counts
        if counts is None:
            counts = codes.groupBy("cell_id").agg(
                F.count(F.lit(1)).alias("_cn")
            )
        # k_cells rows — broadcastable control plane; ceil split keeps
        # every sub-group at ~max_group_rows (id-hash uniformity)
        salts = counts.select(
            "cell_id",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("_cn") / F.lit(int(max_group_rows))),
            ).cast("int").alias("_nsalt"),
        )
        codes = codes.join(F.broadcast(salts), "cell_id").withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsalt")).cast("int"),
        )
        # distinct column name on the query side — both sides join the
        # same salts frame and the analyzer rejects the self-join
        # lineage otherwise
        salts_q = salts.select(
            "cell_id", F.col("_nsalt").alias("_nsalt_q")
        )
        q_cells = q_cells.join(F.broadcast(salts_q), "cell_id").withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.col("_nsalt_q") - 1))
        )
        keys.append("_salt")
    return _cogrouped_topk(
        codes, q_cells, keys, original, queries, k, model,
        k * refine_factor, strength, id_col, vec_col, query_id_col,
        query_vec_col, score_col, adaptive_refine, refine_min, sigma_mult,
    )
