"""Distributed HNSW: per-partition graphs + global top-K merge.

The reference IS an HNSW implementation (hnsw.ts — insert
``addPoint``/``addNodeToGraphOptimized`` hnsw.ts:82-173, search
``searchKNNOptimized``/``searchLayer`` hnsw.ts:241-375, per
Malkov & Yashunin, arXiv:1603.09320).  A single shared pointer graph
cannot be distributed, so the Spark-native shape (SURVEY.md §1.3
option d) is:

  * shard the corpus by partition;
  * inside ``mapInPandas``, build an in-memory NumPy HNSW over the
    partition's rows and run the whole query batch against it;
  * merge per-partition top-K globally (salted rank).

Union-of-shards preserves recall: every row is in exactly one
sub-index, so the only approximation is HNSW's own beam search within
each shard — no corpus subset is ever skipped (unlike IVF-nprobe).
Build is embarrassingly parallel; nothing driver-side but the (small)
query set, exactly like the reference's user-supplied query vector.

Implementation notes (behavior re-derived from the paper + the
reference's observable semantics, not ported):
- level draw: geometric via floor(-ln(U) * 1/ln(M)) — the *intended*
  semantics of the reference's broken ``selectLevel`` (hnsw.ts:68-77
  always returns the top level; SURVEY.md O13), implemented correctly.
- search: greedy descent through upper layers (ef=1), ef-beam at layer
  0 with a visited set and best-candidate early termination
  (hnsw.ts:335-339's stop rule).
- neighbor selection: simple top-M by similarity (the reference's
  ``selectNeighbors`` variant, hnsw.ts:419-427), bidirectional links
  with overflow shrink (hnsw.ts:436-489).
"""

from __future__ import annotations

import heapq
import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame


def _quantize_np(vec) -> tuple[np.ndarray, float]:
    """Per-vector symmetric int8 codes — the SAME math as
    ``operators.quantize`` (scale = max|x|/127 with the 1e-30 guard,
    code = floor(x/s + 0.5)), so graph rows and the quantized table
    carry bit-identical codes and re-quantizing a dequantized vector
    is a no-op (max|code| is 127 by construction, so the recovered
    scale is exactly the original)."""
    x = np.asarray(vec, dtype=np.float64)
    s = max(float(np.max(np.abs(x))) if x.size else 0.0, 1e-30) / 127.0
    return np.floor(x / s + 0.5).astype(np.int8), s


class NumpyHNSW:
    """In-memory HNSW over float64 vectors (cosine via normalized dot,
    or euclidean mapped to 1/(1+d) similarity).

    ``quantized=True`` (set by ``from_rows`` when the graph rows carry
    ``qvec``/``qscale``, or at build emit time) stores int8 codes plus
    a per-row scale instead of float64 vectors — 8x smaller resident
    memory per shard, which is the serve-cache and shard-size bound.
    Scoring needs no dequantization: for cosine the scale cancels
    (cos = codes.q / |codes|, norms precomputed), for euclidean
    d^2 = s^2|codes|^2 - 2 s (codes.q) + |q|^2 from the same single
    int8 matmul.  Scores differ from the float path by the pinned
    quantization error bound (tests/test_quantize.py)."""

    def __init__(
        self,
        dim: int,
        m: int = 16,
        ef_construction: int = 200,
        metric: str = "cosine",
        seed: int = 42,
        heuristic: bool = True,
    ) -> None:
        self.dim = dim
        self.m = m
        self.ef_construction = ef_construction
        self.metric = metric
        # Malkov Algorithm-4 neighbor selection (see _select_neighbors);
        # False restores the reference's plain top-M truncation
        self.heuristic = heuristic
        self.mult = 1.0 / math.log(m)
        self.rng = np.random.RandomState(seed)
        # vector storage is ONE capacity-doubling 2-D matrix (float64
        # prepped rows, or int8 codes in quantized mode): similarity
        # kernels fancy-index rows directly — profiling showed the
        # previous list-of-arrays np.stack per beam step was ~1/3 of
        # build AND serve time
        self._mat: np.ndarray | None = None
        self._n = 0
        self.ids: list = []
        self.levels: list[int] = []
        # quantized-mode storage: vecs holds int8 code arrays; per-row
        # scale, code-vector norm (cosine) and s^2|codes|^2 (euclidean)
        self.quantized = False
        self.qscales: list[float] = []
        self.qnorms: list[float] = []
        self.qc2: list[float] = []
        self.neighbors: list[list[list[int]]] = []  # [node][level] -> ids
        self.entry = -1
        self.max_level = -1
        # tombstoned local indices (removed nodes stay positionally in
        # vecs/ids/levels so neighbor lists keep meaning; they are
        # unlinked, skipped on emit, and never returned by search)
        self.removed: set[int] = set()
        # similarity-evaluation counter: measures the search's candidate
        # set (the graph-index analogue of IVF's scanned fraction) for
        # the BASELINE.md candidate-reduction obligation
        self.n_sim_evals = 0

    def _prep(self, vec) -> np.ndarray:
        v = np.asarray(vec, dtype=np.float64)
        if self.metric == "cosine":
            n = np.linalg.norm(v)
            if n > 0:
                v = v / n
        return v

    def _sims(self, q: np.ndarray, idxs: list[int]) -> np.ndarray:
        self.n_sim_evals += len(idxs)
        m = self._mat[idxs]
        if not self.quantized:
            if self.metric == "cosine":
                return m @ q
            return 1.0 / (1.0 + np.linalg.norm(m - q, axis=1))
        dots = m.astype(np.float64) @ q
        if self.metric == "cosine":
            norms = np.array([self.qnorms[i] for i in idxs])
            return dots / np.maximum(norms, 1e-30)
        s = np.array([self.qscales[i] for i in idxs])
        c2 = np.array([self.qc2[i] for i in idxs])
        d2 = np.maximum(c2 - 2.0 * s * dots + float(q @ q), 0.0)
        return 1.0 / (1.0 + np.sqrt(d2))

    def _as_query(self, i: int) -> np.ndarray:
        """Node i's vector in query form (dequantized + prepped when
        quantized) — used when a stored node becomes the probe (the
        overflow-shrink re-rank in ``add``)."""
        if not self.quantized:
            return self._mat[i]
        return self._prep(self._mat[i].astype(np.float64) * self.qscales[i])

    def _append_row(self, row: np.ndarray) -> None:
        if self._mat is None:
            cap = max(16, len(row))
            self._mat = np.empty((cap, len(row)), dtype=row.dtype)
        elif self._n == len(self._mat):
            grown = np.empty(
                (2 * len(self._mat), self._mat.shape[1]), dtype=self._mat.dtype
            )
            grown[: self._n] = self._mat
            self._mat = grown
        self._mat[self._n] = row
        self._n += 1

    def _store_vec(self, vec, prepped: np.ndarray) -> None:
        if not self.quantized:
            self._append_row(prepped)
            return
        codes, s = _quantize_np(vec)
        n2 = float(codes.astype(np.float64) @ codes.astype(np.float64))
        self._append_row(codes)
        self.qscales.append(s)
        self.qnorms.append(math.sqrt(n2))
        self.qc2.append(s * s * n2)

    def _search_layer(
        self, q: np.ndarray, entry: int, ef: int, level: int
    ) -> list[tuple[float, int]]:
        """ef-beam search on one layer; returns [(sim, idx)] best-first."""
        s0 = float(self._sims(q, [entry])[0])
        visited = {entry}
        cand: list[tuple[float, int]] = [(-s0, entry)]  # max-heap via neg
        best: list[tuple[float, int]] = [(s0, entry)]  # min-heap of kept
        while cand:
            neg, c = heapq.heappop(cand)
            if -neg < best[0][0] and len(best) >= ef:
                break  # best remaining candidate worse than worst kept
            nbrs = [n for n in self.neighbors[c][level] if n not in visited]
            if not nbrs:
                continue
            visited.update(nbrs)
            for s, n in zip(self._sims(q, nbrs), nbrs):
                s = float(s)
                if len(best) < ef or s > best[0][0]:
                    heapq.heappush(best, (s, n))
                    if len(best) > ef:
                        heapq.heappop(best)
                    heapq.heappush(cand, (-s, n))
        return sorted(best, reverse=True)

    def _pairwise_build_sims(self, idxs: list[int]) -> np.ndarray:
        """All-pairs similarity among stored nodes (build-time only, so
        vectors are full precision) — one matmul, feeds the neighbor-
        selection heuristic."""
        m = self._mat[idxs]
        if self.metric == "cosine":
            return m @ m.T  # vectors stored normalized
        d2 = np.maximum(
            np.sum(m * m, axis=1)[:, None]
            + np.sum(m * m, axis=1)[None, :]
            - 2.0 * (m @ m.T),
            0.0,
        )
        return 1.0 / (1.0 + np.sqrt(d2))

    def _select_neighbors(
        self, cand: list[tuple[float, int]], m: int
    ) -> list[int]:
        """Pick up to m neighbors from similarity-desc candidates.

        Default is Malkov & Yashunin Algorithm 4 (the diversity
        heuristic): admit a candidate only if it is closer to the
        query than to every already-admitted neighbor, then backfill
        with the best pruned candidates (keepPrunedConnections).  The
        reference truncates to the plain top-M (hnsw.ts selectNeighbors
        — SURVEY.md O19), which on clustered corpora keeps only
        intra-cluster edges and DISCONNECTS the graph: measured
        recall@10 = 0.0 for queries in islanded clusters (bench
        clustered fixture, 32-center mixture).  Like the broken
        selectLevel (O13), this is a deliberate correction;
        ``heuristic=False`` restores reference-parity truncation."""
        if len(cand) <= m:
            return [i for _, i in cand]
        if not self.heuristic:
            return [i for _, i in cand[:m]]
        idxs = [i for _, i in cand]
        sims = self._pairwise_build_sims(idxs)
        s_vec = np.array([s for s, _ in cand])
        # vectorized greedy: admitting q kills every candidate closer
        # to q than to the query in ONE mask update (m vector ops
        # total instead of |cand| x m scalar compares)
        alive = np.ones(len(cand), dtype=bool)
        sel_pos: list[int] = []
        for p in range(len(cand)):
            if len(sel_pos) == m:
                break
            if not alive[p]:
                continue
            sel_pos.append(p)
            alive &= sims[:, p] <= s_vec
        if len(sel_pos) < m:  # keepPrunedConnections backfill
            chosen = set(sel_pos)
            for p in range(len(cand)):
                if len(sel_pos) == m:
                    break
                if p not in chosen:
                    sel_pos.append(p)
        return [idxs[p] for p in sel_pos]

    def add(self, uid, vec) -> None:
        v = self._prep(vec)
        idx = self._n
        level = int(math.floor(-math.log(max(self.rng.uniform(), 1e-12)) * self.mult))
        self._store_vec(vec, v)
        self.ids.append(uid)
        self.levels.append(level)
        self.neighbors.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry = idx
            self.max_level = level
            return
        ep = self.entry
        # greedy descent through layers above the insertion level
        for lvl in range(self.max_level, level, -1):
            if lvl <= self.levels[ep]:
                ep = self._search_layer(v, ep, 1, lvl)[0][1]
        # wire into each layer from min(level, max_level) down to 0
        for lvl in range(min(level, self.max_level), -1, -1):
            found = self._search_layer(v, ep, self.ef_construction, lvl)
            picks = self._select_neighbors(found, self.m)
            self.neighbors[idx][lvl] = list(picks)
            for p in picks:
                plist = self.neighbors[p][lvl]
                if idx not in plist:
                    plist.append(idx)
                    if len(plist) > self.m:
                        # overflow shrink goes through the same
                        # selection policy — plain top-M here is
                        # exactly where cluster-bridge edges die
                        sims = self._sims(self._as_query(p), plist)
                        order = np.argsort(-sims)
                        cand = [(float(sims[i]), plist[i]) for i in order]
                        self.neighbors[p][lvl] = self._select_neighbors(
                            cand, self.m
                        )
            ep = found[0][1]
        if level > self.max_level:
            self.max_level = level
            self.entry = idx

    def remove_many(self, uids) -> list:
        """Tombstone-remove nodes by id — the in-graph half of the
        reference's id-stable update (``updatePoint``, hnsw.ts:497-517:
        unlink, then re-insert with the new vector).

        One O(N x M) sweep drops every incoming edge to a removed node
        (edges are not guaranteed symmetric after overflow shrink, so
        the removed node's own adjacency is not enough to find them
        all), then the entry point is re-elected if it was removed.
        Removed nodes stay positionally in the arrays (tombstones) so
        surviving neighbor lists keep meaning; callers skip
        ``self.removed`` when emitting rows.  Returns the ids actually
        removed."""
        target = set(uids)
        hit = {
            i
            for i, u in enumerate(self.ids)
            if u in target and i not in self.removed
        }
        if not hit:
            return []
        self.removed |= hit
        for i in range(len(self.neighbors)):
            if i in self.removed:
                continue
            self.neighbors[i] = [
                [n for n in lvl if n not in hit] for lvl in self.neighbors[i]
            ]
        if self.entry in self.removed:
            alive = [i for i in range(len(self.ids)) if i not in self.removed]
            if alive:
                self.entry = max(alive, key=lambda i: self.levels[i])
                self.max_level = self.levels[self.entry]
            else:
                self.entry = -1
                self.max_level = -1
        return [self.ids[i] for i in hit]

    def search(
        self,
        vec,
        k: int,
        ef: int | None = None,
        allowed=None,
    ) -> list[tuple[float, object]]:
        """Beam search for the top-k most similar ids.

        ``allowed`` (optional set-like of user ids) restricts the
        RESULT set, not the traversal: the beam walks the full graph
        (disallowed nodes still route — restricting traversal
        disconnects the graph under selective filters, the classic
        filtered-ANN failure mode) and the filter applies at result
        collection.  Callers must over-fetch ``ef`` in proportion to
        1/selectivity so enough allowed nodes survive the beam; see
        ``hnsw_query_shards(allowed_ids=...)`` for the policy.
        """
        if self.entry < 0:
            return []
        q = self._prep(vec)
        ef = ef or max(self.ef_construction, k)
        ep = self.entry
        for lvl in range(self.max_level, 0, -1):
            ep = self._search_layer(q, ep, 1, lvl)[0][1]
        found = self._search_layer(q, ep, max(ef, k), 0)
        if allowed is not None:
            found = [(s, i) for s, i in found if self.ids[i] in allowed]
        return [(s, self.ids[i]) for s, i in found[:k]]


    @classmethod
    def from_rows(cls, rows: pd.DataFrame, m: int, metric: str) -> "NumpyHNSW":
        """Rebuild a graph from persisted rows (id, level, neighbors as
        vec-id lists per level, embedding, is_entry) — direct adjacency
        load, no re-insertion (the fromJSON analogue, hnsw.ts:794-810,
        but the metric is supplied by the caller from index metadata
        instead of silently reset)."""
        quantized = "qvec" in rows.columns
        vec_col = "qvec" if quantized else "embedding"
        idx = cls(dim=len(rows.iloc[0][vec_col]), m=m, metric=metric)
        idx.quantized = quantized
        ids = [int(v) for v in rows["vec_id"].tolist()]
        id_to_local = {v: i for i, v in enumerate(ids)}
        # column-at-a-time lists, not iterrows: adjacency load is the
        # serve path's constant factor (a 250k-row shard loads per query
        # task), and iterrows is ~100x slower than list iteration
        idx.ids = ids
        if quantized:
            mat = np.asarray(rows["qvec"].tolist(), dtype=np.int8)
            idx._mat = mat
            idx._n = len(mat)
            idx.qscales = [float(s) for s in rows["qscale"].tolist()]
            m64 = mat.astype(np.float64)
            n2 = (m64 * m64).sum(axis=1)
            idx.qnorms = np.sqrt(n2).tolist()
            idx.qc2 = (n2 * np.asarray(idx.qscales) ** 2).tolist()
        else:
            # bulk load straight into the matrix; vectorized normalize
            # is the same per-row float64 division as _prep
            mat = np.asarray(rows["embedding"].tolist(), dtype=np.float64)
            if metric == "cosine":
                norms = np.linalg.norm(mat, axis=1)
                nz = norms > 0
                mat[nz] = mat[nz] / norms[nz, None]
            idx._mat = mat
            idx._n = len(mat)
        idx.levels = [int(lv) for lv in rows["level"].tolist()]
        try:
            idx.neighbors = [
                [[id_to_local[int(n)] for n in lvl] for lvl in node_nbrs]
                for node_nbrs in rows["neighbors"].tolist()
            ]
        except KeyError as e:
            raise ValueError(
                "graph rows reference a vec_id not present in this "
                f"batch ({e}) — a shard was split across input "
                "partitions; reload with clustered=False"
            ) from e
        for i, flag in enumerate(rows["is_entry"].tolist()):
            if bool(flag):
                idx.entry = i
                idx.max_level = idx.levels[i]
        return idx


def auto_num_shards(
    n_rows: int,
    target_rows_per_shard: int = 250_000,
    min_parallelism: int = 1,
) -> int:
    """Shard count sized to the corpus — the scale dial.

    Each shard is one in-memory NumPy graph (~(M * 8 + dim * 8) bytes
    per row), so ~250k rows/shard keeps a shard under ~200 MB at 64-d
    and search cost per shard at O(ef * log shard_rows).  A 100 TB
    corpus gets thousands of shards, each built in parallel; a 2k-row
    test corpus gets ONE (a fixed shard count would multiply query cost
    by num_shards for no recall gain — every shard is beam-searched).

    ``min_parallelism`` floors the count for BUILD-side parallelism:
    shards build independently, so a corpus small enough for one shard
    still benefits from splitting across idle cores when the caller is
    build-latency-bound.  More shards cost query-side evaluations —
    leave the floor at 1 when measuring per-query candidate cost."""
    return max(1, min_parallelism, -(-n_rows // target_rows_per_shard))


GRAPH_SCHEMA = (
    "shard_id int, vec_id long, level int, "
    "neighbors array<array<long>>, embedding array<float>, is_entry boolean"
)

# Quantized graph rows: int8 codes + per-row scale instead of the
# float32 embedding — ~4x smaller shard files (IO, storage) and 8x
# smaller rebuilt in-memory indexes (the serve-cache memory bound).
# Detection is by column presence: every loader/serve path checks for
# ``qvec`` and no separate metadata flag can go stale.
GRAPH_SCHEMA_Q = (
    "shard_id int, vec_id long, level int, "
    "neighbors array<array<long>>, qvec array<tinyint>, qscale float, "
    "is_entry boolean"
)

# Worker-global cache of rebuilt shard indexes, keyed by
# (cache_token, shard_id, n_rows).  Python workers are reused across
# tasks (spark.python.worker.reuse, default true), so repeated serves
# of the SAME persisted index skip the adjacency rebuild — the
# dominant per-task constant at 250k-row shards.  The token comes from
# index metadata derived from the graph FILES (load_hnsw_index:
# path + max mtime + file count), so any append/rebalance/rewrite
# changes the token and stale entries are never served; they age out
# of the small LRU.  Opt-in: no token, no caching.
#
# Memory budget: EVERY Python worker holds its own cache, and one
# 250k-row / 64-d shard index is ~100-200 MB (float64 vectors +
# adjacency lists), so per-executor footprint is
# cores x cap x shard_size.  The conservative default (4) assumes
# serving workloads route each worker to a handful of shards; raise
# it only with the arithmetic done for your executor memory.
# Quantized graphs (GRAPH_SCHEMA_Q) cut the vector term 8x (int8
# codes vs float64), so the same cap holds ~8x more corpus — or the
# cap can grow accordingly.
_SHARD_INDEX_CACHE: dict[tuple, "NumpyHNSW"] = {}
_SHARD_INDEX_CACHE_CAP = 4


def _cached_from_rows(
    rows: pd.DataFrame,
    m: int,
    metric: str,
    token: str | None,
    shard_id: int,
    accums=None,
    cap: int | None = None,
) -> "NumpyHNSW":
    if token is None:
        return NumpyHNSW.from_rows(rows, m=m, metric=metric)
    # (m, metric) belong in the key: the same persisted graph (same
    # token) can legitimately be served with different parameters, and
    # an index built with the other call's metric scores wrong.
    key = (token, int(shard_id), len(rows), int(m), metric)
    # cap rides the task closure (a driver-side module-global change
    # would never reach already-spawned reused workers)
    cap = _SHARD_INDEX_CACHE_CAP if cap is None else int(cap)
    idx = _SHARD_INDEX_CACHE.get(key)
    if idx is None:
        if accums is not None:
            accums[1].add(1)
        idx = NumpyHNSW.from_rows(rows, m=m, metric=metric)
        while len(_SHARD_INDEX_CACHE) >= cap:
            _SHARD_INDEX_CACHE.pop(next(iter(_SHARD_INDEX_CACHE)))
    else:
        if accums is not None:
            accums[0].add(1)
        # LRU, not FIFO: refresh recency on hit so a working set just
        # above the cap doesn't evict the hottest shard every serve.
        del _SHARD_INDEX_CACHE[key]
    _SHARD_INDEX_CACHE[key] = idx
    return idx


def _broadcast_queries(sc, queries, query_id_col: str, query_vec_col: str):
    """Ship the query batch to executors as ONE torrent broadcast of a
    compact (ids ndarray, float64 matrix) pair, instead of
    closure-capturing a Python list into every task (which reserializes
    the whole set per task and holds it per-task in memory — the
    driver-side bottleneck past ~1e5 queries).  Each executor holds one
    shared copy; tasks read ``bc.value`` zero-copy.

    A DataFrame batch is materialized on the driver once to build the
    broadcast (mirroring the reference's user-supplied query vector,
    hnsw.ts:241-250); for query sets too big for any single machine,
    cogroup queries x shards instead.  A driver-side sequence of
    vectors (query ids 0..n-1) broadcasts directly, with no job —
    rounded through float32 exactly as an ``array<float>`` query
    column would round it."""
    if isinstance(queries, DataFrame):
        qrows = queries.select(query_id_col, query_vec_col).collect()
        ids = np.array([r[query_id_col] for r in qrows])
        mat = np.array([[float(x) for x in r[query_vec_col]] for r in qrows])
    else:
        mat = np.asarray(queries, dtype=np.float32).astype(np.float64)
        ids = np.arange(len(mat), dtype=np.int64)
    return sc.broadcast((ids, mat))


def _answer(
    index, qids, qvecs, k: int, ef: int, query_id_col: str, id_col: str,
    allowed=None,
) -> pd.DataFrame:
    """The per-query core of every HNSW serving face: beam-search each
    query against one built ``index`` -> ``(query_id, id, score)``
    rows, score rounded to 6 decimals."""
    out_q, out_i, out_s = [], [], []
    for qid, qv in zip(qids, qvecs):
        for s, uid in index.search(qv, k, ef=ef, allowed=allowed):
            out_q.append(qid)
            out_i.append(uid)
            out_s.append(round(s, 6))
    return pd.DataFrame({query_id_col: out_q, id_col: out_i, "score": out_s})


def hnsw_build_shards(
    corpus: DataFrame,
    num_shards: int = 8,
    m: int = 16,
    ef_construction: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantize: bool = False,
) -> DataFrame:
    """Build per-shard HNSW graphs and emit them as ROWS — the persisted
    form of the index (the toJSON analogue, hnsw.ts:781-792, as a
    table: SURVEY.md §1.3 'store as STRUCT<id, level, neighbors>').

    One mapInPandas pass per shard; deterministic (level RNG seeded per
    shard).  Write with ``save_hnsw_index`` partitioned by shard.

    ``quantize=True`` stores int8 codes + per-row scale in place of the
    float embedding (GRAPH_SCHEMA_Q): ~4x smaller shard files and 8x
    smaller rebuilt serve indexes.  The graph is still CONSTRUCTED at
    full precision (wiring quality is unaffected); only storage — and
    therefore serve-time scoring — is quantized, with the error bound
    pinned in tests/test_quantize.py.
    """
    from pyspark import TaskContext

    corpus = corpus.select(id_col, vec_col).repartition(num_shards)

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # partitionId is the id within the STAGE: when several build
        # plans execute as one unioned stage (a rebalance splitting
        # multiple shards), each branch's ids are offset by the
        # preceding branches' partition counts.  The branch owns
        # exactly num_shards CONSECUTIVE stage partitions (repartition
        # above), and any num_shards consecutive integers mod
        # num_shards form a complete residue system — so the modulo
        # recovers a bijection onto 0..num_shards-1 per branch.  For a
        # standalone build (ids 0..num_shards-1) it is the identity.
        shard = TaskContext.get().partitionId() % num_shards
        ids: list = []
        vecs: list = []
        for pdf in batches:
            ids.extend(pdf[id_col].tolist())
            vecs.extend(pdf[vec_col].tolist())
        if not ids:
            return
        index = NumpyHNSW(
            dim=len(vecs[0]), m=m, ef_construction=ef_construction,
            metric=metric, seed=seed + shard,
        )
        for uid, v in zip(ids, vecs):
            index.add(int(uid), v)
        base = {
            "shard_id": shard,
            "vec_id": index.ids,
            "level": index.levels,
            "neighbors": [
                [[index.ids[n] for n in lvl] for lvl in node_nbrs]
                for node_nbrs in index.neighbors
            ],
        }
        # insertion order == ids/vecs order, so vecs aligns with
        # index.ids; columns emitted in schema order (Arrow conversion
        # is positional)
        if quantize:
            qs = [_quantize_np(v) for v in vecs]
            base["qvec"] = [c for c, _ in qs]
            base["qscale"] = [s for _, s in qs]
        else:
            base["embedding"] = [[float(x) for x in v] for v in vecs]
        base["is_entry"] = [i == index.entry for i in range(len(index.ids))]
        yield pd.DataFrame(base)

    return corpus.mapInPandas(
        _build, GRAPH_SCHEMA_Q if quantize else GRAPH_SCHEMA
    )


def hnsw_insert_shards(
    graph: DataFrame,
    new_rows: DataFrame,
    m: int = 16,
    ef_construction: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    on_conflict: str = "skip",
    shard_ids: Sequence[int] | None = None,
) -> DataFrame:
    """Insert a batch of new vectors into EXISTING per-shard graphs —
    the reference's live-index ``addPoint``/``updatePoint``
    (hnsw.ts:82-173, 497-517) at index level, without a rebuild.

    On a one-shard index every row routes to that shard, with no
    lookup.  Otherwise new rows route to the shard that already holds
    their id when one does (home-shard lookup — see the routing comment
    below; anything else duplicates updated ids across shards), by id
    hash otherwise (shards carry no semantic locality — any
    deterministic routing of NEW ids is correct).  A shard that gets
    no rows emits nothing, so an empty batch touches no shard.  Each
    touched
    shard's adjacency is loaded (``NumpyHNSW.from_rows``, no
    re-insertion of existing nodes), the new vectors are inserted with
    the normal wiring/shrink/entry-promotion path, and the shard's rows
    are re-emitted.  Returns updated graph rows for ONLY the touched
    shards — write them back with a dynamic partition overwrite
    (``index.open(...).append``) so untouched shards keep
    their files.  Cost: O(batch x log shard_rows) insert work plus a
    rewrite of touched shards, vs the reference's full-snapshot rewrite
    per mutation (driver/driver.ts:147).

    ``id_col``/``vec_col`` name the columns of ``new_rows``; they are
    aliased to the graph schema (``vec_id``/``embedding``) before the
    union, so any caller naming works.

    ``on_conflict`` controls an arriving id that already exists in the
    shard (always judged against the STORED vector — an existing node's
    embedding is never silently replaced):

    - ``"skip"`` (default): the row is ignored, stored vector kept —
      idempotent micro-batch replay (foreachBatch retries) never
      duplicates nodes or mutates the graph.
    - ``"update"``: if the arriving vector differs, the node is
      tombstone-unlinked (``NumpyHNSW.remove_many``) and re-inserted
      with the new vector — the reference's id-stable ``updatePoint``
      (hnsw.ts:497-517) without a rebuild.  An identical vector is
      skipped, so replaying an update batch is still idempotent.
    - ``"error"``: a differing vector raises ValueError (strict mode
      for pipelines where a conflicting id means data corruption).

    ``shard_ids`` is the graph's shard-id list; pass it when known
    (``load_hnsw_index`` returns it from index ``_meta``) and the call
    issues NO control-plane Spark job — the routed batch joins the
    graph lazily.  ``None`` falls back to a one-off distinct-collect
    of the graph's shard column (correct for any in-memory graph, but
    one extra job per micro-batch).
    """
    if on_conflict not in ("skip", "update", "error"):
        raise ValueError(
            f"on_conflict must be 'skip', 'update' or 'error', got {on_conflict!r}"
        )
    if shard_ids is None:
        shard_ids = sorted(
            r["shard_id"] for r in graph.select("shard_id").distinct().collect()
        )
    else:
        shard_ids = sorted(int(s) for s in shard_ids)
    if not shard_ids:
        raise ValueError("hnsw_insert_shards: empty graph — build first")
    quantized = "qvec" in graph.columns
    routed = new_rows.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("level"),  # marks "new"
        F.lit(None).cast("array<array<long>>").alias("neighbors"),
        F.lit(None).cast("boolean").alias("is_entry"),
    )
    if quantized:
        # union carries BOTH representations: stored rows keep their
        # codes (never re-derived — emission is lossless), arriving
        # rows carry the float vector they will be inserted with
        graph = graph.withColumn("embedding", F.lit(None).cast("array<float>"))
        routed = routed.withColumn(
            "qvec", F.lit(None).cast("array<tinyint>")
        ).withColumn("qscale", F.lit(None).cast("float"))
        cols = [
            "shard_id", "vec_id", "level", "neighbors",
            "qvec", "qscale", "embedding", "is_entry",
        ]
    else:
        cols = ["shard_id", "vec_id", "level", "neighbors", "embedding", "is_entry"]
    if len(shard_ids) == 1:
        # one shard is every row's home: no lookup, and the whole
        # graph is the touched shard (it emits nothing when the batch
        # is empty, see _insert)
        routed = routed.withColumn("shard_id", F.lit(shard_ids[0]))
        existing = graph.select(*cols)
    else:
        # HOME-SHARD routing: an id that already lives in the graph
        # MUST route to the shard that holds it — hash routing alone
        # silently duplicates the node in another shard whenever the
        # id's home doesn't match its hash (true for every build-time
        # id, since the build distributes round-robin, and for every
        # row moved by a rebalance split), breaking both
        # skip-idempotency and update semantics.  The home lookup is a
        # column-pruned scan of the graph's (vec_id, shard_id)
        # semi-joined against the broadcast batch ids; an id lives in
        # one shard, and a semi-join ignores duplicate keys on its
        # build side, so neither side needs a distinct or an
        # aggregate.  Only genuinely new ids fall through to the hash
        # route.
        hash_route = F.element_at(
            F.array(*[F.lit(s) for s in shard_ids]),
            (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(len(shard_ids))) + 1)
            .cast("int"),
        )
        id_home = graph.select(
            "vec_id", F.col("shard_id").alias("_home_shard")
        ).join(F.broadcast(routed.select("vec_id")), "vec_id", "semi")
        routed = (
            routed.join(F.broadcast(id_home), "vec_id", "left")
            .withColumn(
                "shard_id",
                F.coalesce(F.col("_home_shard"), hash_route).cast("int"),
            )
            .drop("_home_shard")
        )
        # keep only touched shards' existing rows via a LAZY semi-join
        # against the broadcast routed shard ids — no collect job;
        # untouched shard partitions are pruned at scan time when the
        # graph is the shard-partitioned table
        existing = graph.select(*cols).join(
            F.broadcast(routed.select("shard_id")), "shard_id", "semi"
        )
    both = existing.unionByName(routed.select(*cols))

    def _insert(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf[pdf["level"].isna()].sort_values("vec_id")
        if new.empty:
            return pd.DataFrame()  # no arriving rows: shard untouched
        shard = int(pdf["shard_id"].iloc[0])
        old = pdf[pdf["level"].notna()]
        # a batch carrying the same id twice would otherwise insert
        # duplicate nodes — keep one row per id
        new = new.drop_duplicates(subset=["vec_id"], keep="first")
        old_ids = set(old["vec_id"].astype(int))
        # stored vectors win: raw is built from the OLD rows plus only
        # the rows actually inserted below, so a replayed batch carrying
        # an existing id with a different vector can never swap the
        # stored embedding out from under its graph wiring.  Quantized
        # graphs keep stored CODES instead (emission reads them back
        # from index state — lossless; an arriving vector is judged by
        # code equality, the identity the storage actually preserves).
        if quantized:
            raw = None
        else:
            raw = dict(
                zip(
                    (int(v) for v in old["vec_id"].tolist()),
                    old["embedding"].tolist(),
                )
            )
        index = NumpyHNSW.from_rows(old, m=m, metric=metric)
        index.ef_construction = ef_construction
        index.rng = np.random.RandomState(seed + shard)
        local_of = {uid: i for i, uid in enumerate(index.ids)}
        fresh = new[~new["vec_id"].isin(old_ids)]
        dup = new[new["vec_id"].isin(old_ids)]
        to_update: list[tuple[int, object]] = []
        if len(dup) and on_conflict != "skip":
            for uid, vec in zip(dup["vec_id"].tolist(), dup["embedding"].tolist()):
                uid = int(uid)
                if quantized:
                    codes, s = _quantize_np(
                        np.asarray(vec, dtype=np.float32).astype(np.float64)
                    )
                    li = local_of[uid]
                    same = (
                        np.array_equal(codes, index._mat[li])
                        and abs(s - index.qscales[li]) <= 1e-12 * max(s, 1e-30)
                    )
                else:
                    same = np.array_equal(
                        np.asarray(raw[uid], dtype=np.float32),
                        np.asarray(vec, dtype=np.float32),
                    )
                if same:
                    continue  # replayed no-op update
                if on_conflict == "error":
                    raise ValueError(
                        f"hnsw_insert_shards: id {uid} already exists in "
                        f"shard {shard} with a different vector "
                        "(on_conflict='error')"
                    )
                to_update.append((uid, vec))
        if to_update:
            index.remove_many([uid for uid, _ in to_update])
        for uid, vec in zip(fresh["vec_id"].tolist(), fresh["embedding"].tolist()):
            if raw is not None:
                raw[int(uid)] = vec
            index.add(int(uid), vec)
        for uid, vec in sorted(to_update, key=lambda t: t[0]):
            if raw is not None:
                raw[uid] = vec
            index.add(uid, vec)
        alive = [i for i in range(len(index.ids)) if i not in index.removed]
        out = {
            "shard_id": shard,
            "vec_id": [index.ids[i] for i in alive],
            "level": [index.levels[i] for i in alive],
            "neighbors": [
                [[index.ids[n] for n in lvl] for lvl in index.neighbors[i]]
                for i in alive
            ],
        }
        if quantized:
            out["qvec"] = [index._mat[i] for i in alive]
            out["qscale"] = [index.qscales[i] for i in alive]
        else:
            out["embedding"] = [
                [float(x) for x in raw[int(index.ids[i])]] for i in alive
            ]
        out["is_entry"] = [i == index.entry for i in alive]
        return pd.DataFrame(out)

    return both.groupBy("shard_id").applyInPandas(
        _insert, GRAPH_SCHEMA_Q if quantized else GRAPH_SCHEMA
    )


def hnsw_remove_shards(
    graph: DataFrame,
    remove_ids,
    m: int = 16,
    metric: str = "cosine",
) -> DataFrame:
    """Edge-sweep removal from EXISTING per-shard graphs — the cheap
    counterpart of a touched-shard rebuild: each touched shard's
    adjacency is loaded (``NumpyHNSW.from_rows``, no re-insertion),
    ``remove_many`` tombstones the ids and drops every incoming edge
    (one O(rows x M) sweep per shard; the entry point re-elects if
    removed), and the shard's surviving rows are re-emitted.  Returns
    updated rows for ONLY the touched shards — write back with a
    dynamic partition overwrite.  A shard holding none of the ids
    emits nothing, but it is still scanned and grouped: pass only the
    shards known to hold ids (``index.open(...).remove`` filters
    ``graph`` to them, which prunes the scan at the file listing).

    Cost: a scan + sweep of touched shards instead of a full graph
    rebuild — the right tool for SMALL removals.  Repeated sweeps
    erode wiring quality the same way ``on_conflict='update'`` batches
    do (pruned incoming edges are never re-wired); pair with
    ``index.open(...).rebalance(min_degree_frac=...)`` for periodic
    repair, or use the rebuild mode of ``index.open(...).remove`` when a
    shard loses a large fraction of its rows.

    ``remove_ids``: iterable of longs (bounded — it ships to workers
    in the task closure).
    """
    rm = {int(x) for x in remove_ids}
    quantized = "qvec" in graph.columns

    def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if not pdf["vec_id"].isin(rm).any():
            return pd.DataFrame()  # untouched shard: nothing to rewrite
        shard = int(pdf["shard_id"].iloc[0])
        index = NumpyHNSW.from_rows(pdf, m=m, metric=metric)
        index.remove_many(list(rm))
        alive = [i for i in range(len(index.ids)) if i not in index.removed]
        out = {
            "shard_id": shard,
            "vec_id": [index.ids[i] for i in alive],
            "level": [index.levels[i] for i in alive],
            "neighbors": [
                [[index.ids[n] for n in lvl] for lvl in index.neighbors[i]]
                for i in alive
            ],
        }
        if quantized:
            out["qvec"] = [index._mat[i] for i in alive]
            out["qscale"] = [index.qscales[i] for i in alive]
        else:
            raw = dict(
                zip(
                    (int(v) for v in pdf["vec_id"].tolist()),
                    pdf["embedding"].tolist(),
                )
            )
            out["embedding"] = [
                [float(x) for x in raw[int(index.ids[i])]] for i in alive
            ]
        out["is_entry"] = [i == index.entry for i in alive]
        return pd.DataFrame(out)

    return graph.groupBy("shard_id").applyInPandas(
        _sweep, GRAPH_SCHEMA_Q if quantized else GRAPH_SCHEMA
    )


def hnsw_shard_health(
    graph: DataFrame,
    m: int = 16,
    min_degree_frac: float = 0.5,
) -> DataFrame:
    """Per-shard wiring-health statistics — the measurement edge-sweep
    deletes were missing: ``hnsw_remove_shards`` erodes wiring quality
    (a removed node's pruned incoming edges are never re-wired), and
    without a metric a churn-heavy deployment silently loses recall
    until someone remembers to rebalance.  Reference analogue: the
    graph-cleaning TODO the reference never solved (README.md:78-81).

    One pure-codegen aggregation over the graph rows (level-0
    out-degree = ``size(neighbors[1])``; no Python, no adjacency load):

    - ``mean_degree``: average level-0 out-degree.
    - ``frac_below``: fraction of nodes whose level-0 out-degree is
      under ``min_degree_frac * m`` — the per-node view that catches a
      degraded REGION of an otherwise-healthy shard.
    - ``needs_repair``: the SAME verdict rule ``rebalance(
      min_degree_frac=...)`` uses to pick shards to rebuild (mean
      degree below the floor; shards with ``n_rows <= m`` exempt —
      their degree is bounded by n-1, not m), so the metric and the
      repair op agree by construction.

    Returns ``(shard_id, n_rows, mean_degree, frac_below,
    needs_repair)``.  Scale: output is |shards| rows; the input scan is
    column-pruned to (shard_id, neighbors)."""
    floor_deg = float(min_degree_frac) * m
    deg = F.size(F.element_at("neighbors", 1))
    return (
        graph.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg(deg).alias("mean_degree"),
            F.avg(
                F.when(deg < F.lit(floor_deg), 1.0).otherwise(0.0)
            ).alias("frac_below"),
        )
        .withColumn(
            "needs_repair",
            (F.col("n_rows") > F.lit(int(m)))
            & (F.col("mean_degree") < F.lit(floor_deg)),
        )
    )


def hnsw_query_shards(
    graph: DataFrame,
    queries,
    k: int,
    m: int = 16,
    ef_search: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    clustered: bool = False,
    index_cache_token: str | None = None,
    allowed_ids=None,
    ef_oversample: float = 4.0,
    cache_accums=None,
    cache_cap: int | None = None,
) -> DataFrame:
    """Answer a query batch from PERSISTED graph rows: group rows by
    shard inside each task, rebuild the sub-index (adjacency load, no
    re-insertion), search, merge globally.

    ``queries`` is a DataFrame ``(query_id long, query_vec
    array<float>)``, collected once on the driver, or a driver-side
    sequence of query vectors (query ids 0..n-1), which ships to the
    shard tasks without a job — the single-query serving path.

    ``allowed_ids`` (optional) turns this into filtered ANN: a bounded
    collection of permitted ids (e.g. ids matching a metadata
    predicate) ships to executors as one torrent broadcast frozenset;
    each shard's beam filters at RESULT collection while traversal
    stays unrestricted (restricting traversal disconnects the graph
    under selective filters).  The beam is widened so its EXPECTED
    allowed survivors cover ``k * ef_oversample``:
    ``ef = clamp(ceil(k * ef_oversample / shard_selectivity),
    ef_search, shard_size)`` with the selectivity counted exactly per
    shard (one O(n_shard) hash pass); a shard holding zero allowed ids
    is skipped.  For filters too large to broadcast, pre-filter the
    corpus and use the exact ``topk_search`` path instead.

    ``cache_accums`` (optional ``(hit_acc, miss_acc)`` pair of Spark
    accumulators) counts worker-level index-cache hits/misses for
    observability — used by the scale probe to measure steady-state
    hit rate; zero cost when None.  ``cache_cap`` overrides the
    per-worker cache capacity for THIS call (rides the task closure —
    editing the module global never reaches already-spawned reused
    workers); size it with the per-executor memory math documented at
    the cache definition.

    ``clustered=True`` skips the shard re-shuffle.  Pass it when the
    graph was read from the shard-partitioned parquet written by
    ``save_hnsw_index`` AND no shard's file exceeds
    ``spark.sql.files.maxPartitionBytes`` (a split shard would build a
    partial graph with dangling neighbor ids).  Default False keeps the
    unconditional repartition — correct for any input layout.

    ``index_cache_token`` (opt-in) enables the worker-level rebuilt-
    index cache for repeated serving: pass ``meta["cache_token"]``
    from ``load_hnsw_index`` — it changes whenever any graph file
    changes, so a mutated index can never serve stale graphs."""
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    sc = graph.sparkSession.sparkContext
    bc = _broadcast_queries(sc, queries, query_id_col, query_vec_col)
    bc_allowed = (
        sc.broadcast(frozenset(int(x) for x in allowed_ids))
        if allowed_ids is not None
        else None
    )

    out_schema = f"{query_id_col} long, {id_col} long, score double"
    if not clustered:
        graph = graph.repartition("shard_id")

    def _query(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        all_rows = pd.concat(parts, ignore_index=True)
        if len(all_rows) == 0:
            return
        qids, qmat = bc.value
        allowed = bc_allowed.value if bc_allowed is not None else None
        for sid, rows in all_rows.groupby("shard_id"):
            index = _cached_from_rows(
                rows, m=m, metric=metric,
                token=index_cache_token, shard_id=int(sid),
                accums=cache_accums, cap=cache_cap,
            )
            ef = ef_search
            if allowed is not None:
                # exact shard-local selectivity: one O(n_shard) hash
                # count — negligible next to the adjacency rebuild.
                # Beam sized so the EXPECTED allowed survivors cover
                # k * ef_oversample, capped at the shard size (a very
                # selective filter degrades to an exhaustive beam, not
                # an empty result); a shard with zero allowed ids is
                # skipped outright.
                n_shard = max(len(rows), 1)
                n_allow = sum(1 for uid in rows[id_col] if int(uid) in allowed)
                if n_allow == 0:
                    continue
                sel = n_allow / n_shard
                ef = int(min(
                    max(ef_search, math.ceil(k * ef_oversample / sel)),
                    n_shard,
                ))
            yield _answer(
                index, qids, qmat, k, ef, query_id_col, id_col, allowed
            )

    hits = graph.mapInPandas(_query, out_schema)
    return rank_topk_per_query(
        hits, k, id_col=id_col, query_id_col=query_id_col, num_salts=1
    )


def hnsw_query_shards_cogrouped(
    graph: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 16,
    ef_search: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    shard_ids: Sequence[int] | None = None,
) -> DataFrame:
    """Serve a query batch from persisted graph rows WITHOUT any
    driver-side materialization of the queries — the very-large-|Q|
    path (``hnsw_query_shards`` broadcasts the query set, which needs
    it collected on the driver first; past ~1e6 queries that single
    machine is the bottleneck).  Pass ``shard_ids`` (from index
    ``_meta`` via ``load_hnsw_index``) to skip the control-plane
    distinct-collect.

    Shape: queries are replicated once per shard (a |Q| x num_shards
    row shuffle — data-parallel, no single-machine copy), then
    cogrouped with the graph on shard_id: each task gets one shard's
    adjacency plus that shard's full query slice, builds the in-memory
    graph once, answers its slice.  Global merge is the usual salted
    rank.  Replication cost beats broadcast exactly when the query set
    outgrows executor memory; below that, prefer
    ``hnsw_query_shards``."""
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    # tiny control-plane read (one int per shard) when not supplied —
    # building the replication frame from a plain Python list also
    # breaks the graph/shard_ids self-join lineage that would make the
    # cogroup's shard_id ambiguous
    if shard_ids is None:
        shard_ids = sorted(
            r["shard_id"] for r in graph.select("shard_id").distinct().collect()
        )
    q_rep = queries.select(query_id_col, query_vec_col).crossJoin(
        F.broadcast(
            local_frame(
                graph.sparkSession,
                [(int(s),) for s in shard_ids], "shard_id int"
            )
        )
    )
    out_schema = f"{query_id_col} long, {id_col} long, score double"

    def _serve(gpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(gpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "score": []}
            ).astype({query_id_col: "int64", id_col: "int64", "score": "float64"})
        return _answer(
            NumpyHNSW.from_rows(gpdf, m=m, metric=metric),
            qpdf[query_id_col].tolist(), qpdf[query_vec_col].tolist(), k,
            ef_search, query_id_col, id_col,
        )

    hits = (
        graph.groupBy("shard_id")
        .cogroup(q_rep.groupBy("shard_id"))
        .applyInPandas(_serve, out_schema)
    )
    return rank_topk_per_query(
        hits, k, id_col=id_col, query_id_col=query_id_col, num_salts=1
    )


def hnsw_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 16,
    ef_construction: int = 100,
    ef_search: int = 100,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_shards: int | None = None,
) -> DataFrame:
    """Approximate per-query top-K via sharded HNSW graphs.

    Each shard (partition) builds its own graph in one ``mapInPandas``
    pass and answers the whole (broadcast) query batch; shard results
    merge with the salted global rank.  Returns
    (query_id, id, score, rank) like batch_topk.
    """
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    bc = _broadcast_queries(
        corpus.sparkSession.sparkContext, queries, query_id_col, query_vec_col
    )

    if num_shards is not None:
        corpus = corpus.repartition(num_shards)

    out_schema = f"{query_id_col} long, {id_col} long, score double"

    def _shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids: list = []
        vecs: list = []
        for pdf in batches:
            ids.extend(pdf[id_col].tolist())
            vecs.extend(pdf[vec_col].tolist())
        if not ids:
            return
        index = NumpyHNSW(
            dim=len(vecs[0]), m=m, ef_construction=ef_construction, metric=metric
        )
        for uid, v in zip(ids, vecs):
            index.add(uid, v)
        qids, qmat = bc.value
        yield _answer(index, qids, qmat, k, ef_search, query_id_col, id_col)

    shard_hits = corpus.select(id_col, vec_col).mapInPandas(_shard, out_schema)
    return rank_topk_per_query(
        shard_hits, k, id_col=id_col, query_id_col=query_id_col, num_salts=1
    )
