"""Seeded inputs for the benchmark.

Everything the library receives is made here from one integer seed with
NumPy: clustered vectors, query vectors that are perturbed corpus
members, documents with planted near-duplicate families, text queries
drawn from the document vocabulary, and the exact top-10 answers that
recall is scored against.  Nothing here touches Spark, so the same seed
gives byte-identical inputs on any host.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

DIM = 64
K = 10

_SYLLABLES = [
    "ka", "lo", "mi", "ser", "tan", "vu", "pre", "dor", "el", "qui",
    "ros", "bal", "fen", "gar", "hil", "jo", "nek", "pau", "ri", "sto",
    "tre", "ul", "ven", "wa", "xo", "yen", "zu", "ash", "bri", "cor",
]


@dataclass
class Corpus:
    """Vectors (float32, one row per id) plus documents with their
    planted near-duplicate families."""

    vec_ids: np.ndarray
    vectors: np.ndarray
    doc_ids: np.ndarray
    texts: list[str]
    words: list[str]
    # (original doc id, near-duplicate doc id) for every planted copy
    dup_pairs: list[tuple[int, int]] = field(default_factory=list)

    def user_bytes(self) -> int:
        """Bytes of live user data: float32 vectors plus UTF-8 text."""
        return int(self.vectors.nbytes) + sum(
            len(t.encode("utf-8")) for t in self.texts
        )


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, n)))
    return sorted(words)


def clustered_vectors(
    rng: np.random.Generator, n: int, n_clusters: int = 32,
    spread: float = 0.35,
) -> np.ndarray:
    centers = rng.normal(size=(n_clusters, DIM))
    members = rng.integers(0, n_clusters, n)
    x = centers[members] + spread * rng.normal(size=(n, DIM))
    return x.astype(np.float32)


def perturbed_queries(
    rng: np.random.Generator, vectors: np.ndarray, n: int,
    noise: float = 0.1,
) -> np.ndarray:
    """Queries near corpus members: a member plus small Gaussian noise."""
    picks = rng.integers(0, len(vectors), n)
    q = vectors[picks] + noise * rng.normal(size=(n, DIM))
    return q.astype(np.float32)


def _zipf_weights(n: int, s: float = 1.05) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def documents(
    rng: np.random.Generator, words: list[str], n: int, first_id: int = 0,
    dup_rate: float = 0.1, edit_rate: float = 0.03,
    length: tuple[int, int] = (30, 60),
) -> tuple[np.ndarray, list[str], list[tuple[int, int]]]:
    """``n`` documents with ids from ``first_id``.  A ``dup_rate`` share
    of them are near-duplicates: a copy of an earlier document in the
    same batch with ``edit_rate`` of its tokens replaced.  Returns the
    ids, the texts and the planted (original, copy) pairs."""
    weights = _zipf_weights(len(words))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_rate:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for p in np.flatnonzero(rng.random(len(toks)) < edit_rate):
                toks[p] = words[int(rng.choice(len(words), p=weights))]
            texts.append(" ".join(toks))
            pairs.append((int(ids[j]), int(ids[i])))
            continue
        m = int(rng.integers(length[0], length[1] + 1))
        toks = rng.choice(len(words), m, p=weights)
        texts.append(" ".join(words[t] for t in toks))
    return ids, texts, pairs


def text_queries(
    rng: np.random.Generator, texts: list[str], n: int, n_terms: int = 3,
) -> list[str]:
    """Queries of ``n_terms`` distinct tokens taken from one document."""
    out = []
    for _ in range(n):
        toks = sorted(set(texts[int(rng.integers(0, len(texts)))].split()))
        pick = rng.choice(len(toks), min(n_terms, len(toks)), replace=False)
        out.append(" ".join(toks[p] for p in sorted(pick)))
    return out


def make_corpus(
    seed: int, n_vectors: int, n_docs: int, vocab: int = 3000,
    dup_rate: float = 0.1,
) -> tuple[Corpus, np.random.Generator]:
    """The corpus for one run, and the generator the run keeps drawing
    its queries and write batches from."""
    rng = np.random.default_rng(seed)
    vectors = clustered_vectors(rng, n_vectors)
    words = vocabulary(rng, vocab)
    doc_ids, texts, pairs = documents(rng, words, n_docs, dup_rate=dup_rate)
    corpus = Corpus(
        vec_ids=np.arange(n_vectors, dtype=np.int64), vectors=vectors,
        doc_ids=doc_ids, texts=texts, words=words, dup_pairs=pairs,
    )
    return corpus, rng


def normalize(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return x / np.maximum(np.linalg.norm(x, axis=-1, keepdims=True), 1e-12)


def exact_topk(
    ids: np.ndarray, vectors: np.ndarray, query: np.ndarray, k: int = K,
) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-``k`` over the live set, ties broken by ascending id:
    returns (ids, scores) best first."""
    scores = normalize(vectors) @ normalize(query)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def cosine(ids: np.ndarray, vectors: np.ndarray, query: np.ndarray,
           want: list[int]) -> dict[int, float]:
    """True cosine scores of the ``want`` ids against ``query``."""
    pos = {int(v): i for i, v in enumerate(ids)}
    rows = [pos[w] for w in want if w in pos]
    s = normalize(vectors[rows]) @ normalize(query)
    return {int(ids[r]): float(v) for r, v in zip(rows, s)}
