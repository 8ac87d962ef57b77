"""The benchmark's workloads.  Each drives the library only through its
public functions, on inputs from ``gen``, with one closed-loop client:
every call, and the ``collect()`` that runs its plan, ends before the
next call starts."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.metrics import CheckFailed, Recorder, check_topk, dir_bytes

K = gen.K

# sizes per workload; README.md quotes them
SIZES = {
    "serve": {"vectors": 1000, "docs": 500, "hnsw_shards": 2},
    # one shard: each HNSW append or remove rewrites every shard it
    # touches, and a single shard keeps a cycle short enough for two in
    # a run
    "churn": {"vectors": 1000, "docs": 500, "hnsw_shards": 1,
              "append_rows": 16, "remove_rows": 8, "ingest_docs": 16},
}
MINHASH_HASHES, MINHASH_BANDS, MINHASH_THRESHOLD = 16, 4, 0.7


def _modules():
    """The library's layers, imported on first use so a checkout without
    the library fails in ``run.py`` before any work."""
    from astro_vectordb_spark import index, neardup, search
    from astro_vectordb_spark.functions import embed
    from astro_vectordb_spark.operators import hnsw, keyword
    from astro_vectordb_spark.sources import vault

    return dict(index=index, neardup=neardup, search=search, embed=embed,
                hnsw=hnsw, keyword=keyword, vault=vault)


class Workload:
    """Shared set-up: the seeded corpus persisted as a vector table (the
    exact index) plus the indexes a workload asks for."""

    name = ""
    # fewest steps a run measures, however long they take
    min_steps = 1

    def __init__(self, seed: int, work: str, rec: Recorder, tracer) -> None:
        self.spark = None
        self.work, self.rec, self.tracer = work, rec, tracer
        self.m = _modules()
        self.size = SIZES[self.name]
        self.corpus, self.rng = gen.make_corpus(
            seed, self.size["vectors"], self.size["docs"])
        self.queries = gen.perturbed_queries(self.rng, self.corpus.vectors,
                                             256)
        self.text_queries = gen.text_queries(self.rng, self.corpus.texts, 64)
        self.paths: dict[str, str] = {}
        # seconds per set-up phase, for the config line
        self.setup_phases: dict[str, float] = {}
        self._i = 0

    # -- frames and paths -----------------------------------------------
    def vec_frame(self, ids, vectors):
        pdf = pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64),
                            "embedding": list(np.asarray(vectors,
                                                         np.float32))})
        return self.spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>")

    def doc_frame(self, ids, texts):
        pdf = pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                            "text": list(texts)})
        return self.spark.createDataFrame(pdf, "doc_id long, text string")

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        self.paths[name] = p
        return p

    # -- set-up steps ---------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def ingest(self) -> None:
        """Persist the vector table.  The documents stay a frame: BM25
        stores statistics only, so every lexical read passes the corpus
        in."""
        v, c = self.m["vault"], self.corpus
        self.tracer.user_bytes += c.user_bytes()
        v.save_embeddings(self.vec_frame(c.vec_ids, c.vectors),
                          self.path("vectors"))
        self.vectors = v.load_embeddings(self.spark, self.paths["vectors"])
        self.docs = self.doc_frame(c.doc_ids, c.texts)

    def build(self, kind: str) -> None:
        with self.phase(f"build[{kind}]"):
            self._build(kind)

    def _build(self, kind: str) -> None:
        m, v = self.m, self.vectors
        if kind == "hnsw":
            graph = m["hnsw"].hnsw_build_shards(
                v, num_shards=self.size["hnsw_shards"], ef_construction=40)
            m["vault"].save_hnsw_index(graph, self.path("hnsw"), m=16,
                                       metric="cosine")
        elif kind == "bm25":
            ts, cs = m["keyword"].bm25_term_stats(self.docs)
            m["vault"].save_bm25_index(ts, cs, self.path("bm25"))
        elif kind == "minhash":
            m["vault"].save_minhash_index(
                self.docs, self.path("minhash"), num_hashes=MINHASH_HASHES,
                bands=MINHASH_BANDS)
        else:
            raise ValueError(kind)

    def live_user_bytes(self) -> int:
        return self.corpus.user_bytes()

    def report(self) -> dict:
        """Workload-specific facts for the config line."""
        return {}

    def space_amp(self) -> float:
        """Bytes under every persisted index directory over live user
        bytes."""
        stored = sum(dir_bytes(p) for p in self.paths.values())
        return stored / self.live_user_bytes()

    # -- reads ----------------------------------------------------------
    def vector_read(self, kind: str, q, live_ids: np.ndarray,
                    live_vecs: np.ndarray, must_first: int | None = None,
                    banned=frozenset()) -> None:
        """One single-query ``search.search`` on index ``kind``.  Exact
        reads must match the NumPy answer; ANN reads add to recall."""
        m = self.m
        path = self.paths["vectors" if kind == "exact" else kind]
        qv = [float(x) for x in q]
        truth, tscores = gen.exact_topk(live_ids, live_vecs, q)
        live = set(live_ids.tolist())

        def check(rows):
            ids = check_topk(rows, K, live, "vec_id")
            hit = banned.intersection(ids)
            if hit:
                raise CheckFailed(f"removed ids returned: {sorted(hit)}")
            if must_first is not None and ids[:1] != [must_first]:
                raise CheckFailed(f"appended id {must_first} not first")
            if kind == "exact":
                true = gen.cosine(live_ids, live_vecs, q, ids)
                if len(ids) < min(K, len(live)) or min(
                        true.values()) < float(tscores[-1]) - 1e-5:
                    raise CheckFailed("exact read differs from NumPy top-k")
            if kind != "exact":  # recall is an ANN figure
                self.rec.recall.append(
                    len(set(ids) & set(truth.tolist())) / len(truth))

        self.rec.call(
            "vector", "search", f"search[{kind}]",
            lambda: m["search"].search(self.spark, path, qv, K).collect(),
            check)


class Serve(Workload):
    """Read-only single-call serving over persisted tables, an HNSW
    index and a BM25 index that every in-process cache holds whole."""

    name = "serve"
    # a median of three per call name drops one slow outlier
    min_steps = 3

    def setup(self, spark) -> None:
        self.spark = spark
        with self.phase("ingest"):
            self.ingest()
        self.build("hnsw")
        self.build("bm25")
        m = self.m
        with self.phase("embed_docs"):
            m["vault"].save_embeddings(
                m["embed"].embed_text(self.docs).select(
                    self.docs["doc_id"].alias("vec_id"), "embedding"),
                self.path("doc_vectors"))
        self.doc_ids = set(self.corpus.doc_ids.tolist())
        with self.phase("warm_up"):
            # starts Python workers, fills caches; the second step lets
            # the JVM finish compiling the read paths
            for _ in range(2):
                self.step()

    def step(self) -> None:
        """One call of every read type, on the next query."""
        c, i = self.corpus, self._i
        self._i += 1
        q = self.queries[i % len(self.queries)]
        self.vector_read("exact", q, c.vec_ids, c.vectors)
        self.vector_read("hnsw", q, c.vec_ids, c.vectors)
        text = self.text_queries[i % len(self.text_queries)]
        s, docvec = self.m["search"], self.paths["doc_vectors"]

        def check_hybrid(rows):
            if not rows:
                raise CheckFailed("no hits for terms drawn from a document")
            check_topk(rows, K, self.doc_ids, "doc_id")

        self.rec.call(
            "text", "search", "hybrid_search_text",
            lambda: s.hybrid_search_text(self.spark, docvec,
                                         self.paths["bm25"], self.docs,
                                         text, K).collect(),
            check_hybrid)


class Churn(Workload):
    """Writes beside reads on serve-sized indexes: every write is
    followed by the read that proves it landed."""

    name = "churn"
    # a median of two per call name; the first cycle also warms the
    # write paths
    min_steps = 2

    def setup(self, spark) -> None:
        self.spark = spark
        with self.phase("ingest"):
            self.ingest()
        self.build("hnsw")
        self.build("minhash")
        c = self.corpus
        # the live sets the benchmark keeps beside the library's: the
        # vector table only grows, the HNSW index also loses rows
        self.all_ids, self.all_vecs = c.vec_ids.copy(), c.vectors.copy()
        self.in_hnsw = np.ones(len(c.vec_ids), bool)
        self.doc_text = dict(zip(c.doc_ids.tolist(), c.texts))
        self.next_vec = int(c.vec_ids.max()) + 1
        self.next_doc = int(c.doc_ids.max()) + 1
        self.dups = {"planted": 0, "flagged": 0, "found": 0}

    def live_user_bytes(self) -> int:
        return int(self.all_vecs.nbytes) + sum(
            len(t.encode()) for t in self.doc_text.values())

    def step(self) -> None:
        """One cycle: vector append, document checks, vector remove."""
        cycle = self._i
        self._i += 1
        self.vector_append(cycle)
        self.doc_checks()
        self.vector_remove(cycle)

    def _hnsw(self):
        return self.m["index"].open(self.spark, self.paths["hnsw"])

    def vector_append(self, cycle: int) -> None:
        n = self.size["append_rows"]
        ids = np.arange(self.next_vec, self.next_vec + n, dtype=np.int64)
        self.next_vec += n
        vecs = gen.perturbed_queries(self.rng, self.all_vecs, n, noise=0.2)
        batch = self.vec_frame(ids, vecs)
        self.tracer.user_bytes += int(vecs.nbytes)
        ok = self.rec.call("write", "index", "append[hnsw]",
                           lambda: self._hnsw().append(batch, seed=cycle))
        self.rec.call("write", "sources.vault", "save_embeddings[append]",
                      lambda: self.m["vault"].save_embeddings(
                          batch, self.paths["vectors"], mode="append"))
        self.all_ids = np.concatenate([self.all_ids, ids])
        self.all_vecs = np.concatenate([self.all_vecs, vecs])
        self.in_hnsw = np.concatenate([self.in_hnsw,
                                       np.full(n, ok is not None)])
        self.vector_read("exact", vecs[0], self.all_ids, self.all_vecs,
                         must_first=int(ids[0]))

    def vector_remove(self, cycle: int) -> None:
        pos = self.rng.choice(np.flatnonzero(self.in_hnsw),
                              self.size["remove_rows"], replace=False)
        gone = self.all_ids[pos].tolist()
        if self.rec.call("write", "index", "remove[hnsw]",
                         lambda: self._hnsw().remove(gone)) is not None:
            self.in_hnsw[pos] = False
        self.vector_read("hnsw", self.all_vecs[pos[0]],
                         self.all_ids[self.in_hnsw],
                         self.all_vecs[self.in_hnsw], banned=set(gone))

    def doc_checks(self) -> None:
        """The near-dup check a batch of new documents passes before it
        is written: near-duplicates of live documents among novel ones,
        which the near-dup index should flag."""
        m, rng, words = self.m, self.rng, self.corpus.words
        live_ids = sorted(self.doc_text)
        ids = list(range(self.next_doc,
                         self.next_doc + self.size["ingest_docs"]))
        self.next_doc = ids[-1] + 1
        texts, planted = [], set()
        for j, did in enumerate(ids):
            if j % 4 == 3:
                toks = self.doc_text[int(rng.choice(live_ids))].split()
                toks[int(rng.integers(0, len(toks)))] = words[
                    int(rng.integers(0, len(words)))]
                texts.append(" ".join(toks))
                planted.add(did)
            else:
                texts.append(gen.documents(rng, words, 1, dup_rate=0.0)[1][0])
        batch = self.doc_frame(ids, texts)

        def check_pairs(rows):
            bad = [r for r in rows if r["new_id"] not in ids
                   or r["hist_id"] not in self.doc_text
                   or r["est_jaccard"] < MINHASH_THRESHOLD]
            if bad:
                raise CheckFailed(f"bad near-dup pairs: {bad[:3]}")

        pairs = self.rec.call(
            "check", "neardup", "match[minhash]",
            lambda: m["neardup"].open(self.spark, self.paths["minhash"])
            .match(batch, threshold=MINHASH_THRESHOLD).collect(),
            check_pairs)
        flagged = {r["new_id"] for r in pairs or ()}
        self.dups["planted"] += len(planted)
        self.dups["flagged"] += len(flagged)
        self.dups["found"] += len(planted & flagged)

    def report(self) -> dict:
        return {"near_dups": self.dups}


WORKLOADS = {"serve": Serve, "churn": Churn}


def measure(wl: Workload, seconds: float) -> float:
    """Run whole steps until ``seconds`` have passed and at least
    ``wl.min_steps`` steps have run; returns the measured wall time."""
    t0 = time.perf_counter()
    steps = 0
    while True:
        wl.step()
        steps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and steps >= wl.min_steps:
            return elapsed
