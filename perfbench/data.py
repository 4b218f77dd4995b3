"""Seeded inputs for the benchmark workloads, and their exact answers.

Everything here is driver-side numpy/pyarrow. The program under test only
ever sees the files these functions write; the exact answers stay in the
harness and are computed outside every timed region.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIGMA = 0.02  # per-dimension noise around a cluster centre


def clustered(rng: np.random.Generator, n: int,
              centers: np.ndarray) -> np.ndarray:
    """`n` float32 rows spread round-robin over `centers` with uniform
    noise of +-SIGMA per dimension; row i belongs to cluster
    i % len(centers)."""
    labels = np.arange(n) % len(centers)
    noise = rng.uniform(-SIGMA, SIGMA, (n, centers.shape[1]))
    return (centers[labels] + noise).astype(np.float32)


def queries(rng: np.random.Generator, centers: np.ndarray,
            nq: int) -> np.ndarray:
    """Queries drawn from the data's own mixture (held-out points of
    randomly chosen clusters): the distribution the indexes' probe and
    beam calibrations sample, as in a real query log over the corpus."""
    picks = rng.integers(0, len(centers), nq)
    noise = rng.uniform(-SIGMA, SIGMA, (nq, centers.shape[1]))
    return (centers[picks] + noise).astype(np.float32)


def f32_lists(mat: np.ndarray) -> pa.ListArray:
    """(n, dim) float32 matrix → Arrow list<float>, one list per row."""
    n, dim = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * dim),
        pa.array(np.ascontiguousarray(mat, dtype=np.float32).ravel()))


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray,
                  n_files: int) -> None:
    """(vec_id long, embedding array<float>) parquet, split into
    `n_files` files so the scan starts at full parallelism."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(np.array_split(np.arange(len(ids)), n_files)):
        tbl = pa.table({"vec_id": pa.array(ids[rows], pa.int64()),
                        "embedding": f32_lists(mat[rows])})
        pq.write_table(tbl, os.path.join(path, f"part-{i:04d}.parquet"))


def write_docs(path: str, ids: np.ndarray, texts: list, emb: np.ndarray,
               n_files: int) -> None:
    """(doc_id long, text string, embedding array<float>) parquet."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(np.array_split(np.arange(len(ids)), n_files)):
        tbl = pa.table({
            "doc_id": pa.array(ids[rows], pa.int64()),
            "text": pa.array([texts[j] for j in rows], pa.string()),
            "embedding": f32_lists(emb[rows]),
        })
        pq.write_table(tbl, os.path.join(path, f"part-{i:04d}.parquet"))


# -- documents -------------------------------------------------------

STOP = ("the", "a", "and", "of", "to", "is", "in", "it", "for", "on", "with")
FOREIGN = ("el", "la", "los", "de", "y", "que", "una")
_SYLL = ("ka", "lo", "ri", "te", "su", "mi", "po", "na", "ve", "du", "sa", "ko")
# 144 two-syllable content words: alphabetic, so the quality gate's
# alpha ratio holds, and none is a language marker
CONTENT = tuple(a + b for a in _SYLL for b in _SYLL)


def documents(rng: np.random.Generator, n_docs: int):
    """Seeded corpus → (ids, texts, exact_dup_pairs).

    About 8% of documents are written with Spanish markers, so the
    language gate removes them. About 3% repeat an earlier document's
    text word for word (an exact duplicate, listed in the returned
    pairs as (earlier id, later id)), and about 3% repeat it with one
    word changed (a near duplicate)."""
    kind = rng.random(n_docs)
    kind[:20] = 0.5  # the first documents are English originals
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    lengths = rng.integers(20, 80, n_docs)
    content = np.array(CONTENT)
    texts: list[str] = []
    dups: list[tuple[int, int]] = []
    for i in range(n_docs):
        if kind[i] < 0.03:
            texts.append(texts[src[i]])
            dups.append((int(src[i]), i))
            continue
        if kind[i] < 0.06:
            words = texts[src[i]].split()
            words[int(rng.integers(0, len(words)))] = str(
                content[rng.integers(0, len(content))])
            texts.append(" ".join(words))
            continue
        markers = np.array(FOREIGN if kind[i] > 0.92 else STOP)
        n = int(lengths[i])
        words = np.where(rng.random(n) < 0.25,
                         markers[rng.integers(0, len(markers), n)],
                         content[rng.integers(0, len(content), n)])
        texts.append(" ".join(words.tolist()))
    return np.arange(n_docs, dtype=np.int64), texts, dups


# -- exact answers ---------------------------------------------------

def sq_dists(mat: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(nq, n) squared L2 distances in float64."""
    m = mat.astype(np.float64)
    q = np.atleast_2d(queries).astype(np.float64)
    return ((m * m).sum(1)[None, :] - 2.0 * (q @ m.T)
            + (q * q).sum(1)[:, None])


def topk_sets(mat: np.ndarray, ids: np.ndarray, queries: np.ndarray,
              k: int, rel_tol: float = 1e-5) -> list[frozenset]:
    """Per query, the ids an exact top-k may legitimately hold: every id
    whose distance is within `rel_tol` of the k-th smallest. When several
    rows tie at the k-th place, any of them is a correct answer, and the
    float32 engines may round a near-tie either way."""
    out = []
    kk = min(k, len(ids))
    for lo in range(0, len(queries), 256):
        for row in sq_dists(mat, queries[lo:lo + 256]):
            kth = np.partition(row, kk - 1)[kk - 1]
            out.append(
                frozenset(ids[row <= kth + rel_tol * abs(kth)].tolist()))
    return out
