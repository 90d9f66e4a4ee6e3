"""Seeded inputs for the benchmark, made without any engine code.

Everything a workload feeds the engine comes from here: the
Gaussian-blob corpus, the Zipf-skewed queries near stored points, the
delete-id stream and the insert vectors. The engine's own generators
(``operators.workload``) are deliberately not used, so a change to the
engine cannot change its own inputs.

The corpus, and which blobs are hot, belong to the workload: they depend
on its size and a fixed corpus seed (the reference demo's 7), so every
run of a workload measures the same index. The run's ``seed`` draws
everything the client sends: the queries, the delete order and the
insert vectors.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

D = 64
N_BLOBS = 60
ZIPF_ALPHA = 1.1
QUERY_NOISE = 0.1
INSERT_ID_BASE = 10_000_000
CORPUS_SEED = 7


@dataclass
class Inputs:
    ids: np.ndarray          # int64 [n]
    vecs: np.ndarray         # float32 [n, d]
    queries: np.ndarray      # float32 [n_batches, batch, d]
    delete_ids: np.ndarray   # int64 [n_batches, n_dml] (distinct, stored)
    insert_ids: np.ndarray   # int64 [n_batches, n_dml] (fresh)
    insert_vecs: np.ndarray  # float32 [n_batches, n_dml, d]


def zipf_weights(n_items: int, alpha: float = ZIPF_ALPHA) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** alpha
    return w / w.sum()


def make_inputs(seed: int, n: int, n_batches: int, batch: int = 50,
                n_dml: int = 0, d: int = D) -> Inputs:
    """Corpus: blob centers ~ N(0, 4²), points = center + N(0, 1).
    Queries: a blob by Zipf(1.1) rank, one of its stored points, plus
    N(0, 0.1²). Deletes: distinct stored ids in a seeded order. Inserts:
    N(0, 1) vectors, as in the reference replay, under ids no stored row
    uses."""
    world = np.random.default_rng([CORPUS_SEED, n, d])
    centers = world.normal(0.0, 4.0, size=(N_BLOBS, d))
    blob = world.integers(0, N_BLOBS, size=n)
    vecs = (centers[blob] + world.normal(0.0, 1.0, size=(n, d))
            ).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    blob_of_rank = world.permutation(N_BLOBS)

    rng = np.random.default_rng([seed, n, d])
    nq = n_batches * batch
    # blob ranks per batch by systematic sampling of the Zipf CDF: every
    # batch holds the Zipf mix to within one query per blob (so batches
    # and seeds differ in points and noise, not in skew), and a seeded
    # offset decides which of the rarer blobs a batch includes
    cdf = np.cumsum(zipf_weights(N_BLOBS))
    u = (rng.random((n_batches, 1)) + np.arange(batch)) / batch
    hot = blob_of_rank[np.minimum(np.searchsorted(cdf, u.ravel()),
                                  N_BLOBS - 1)]
    members = [np.flatnonzero(blob == b) for b in range(N_BLOBS)]
    picks = np.array([m[rng.integers(0, len(m))] if len(m) else
                      rng.integers(0, n) for m in
                      (members[b] for b in hot)], dtype=np.int64)
    queries = (vecs[picks].astype(np.float64)
               + rng.normal(0.0, QUERY_NOISE, size=(nq, d))
               ).astype(np.float32).reshape(n_batches, batch, d)

    n_del = n_batches * n_dml
    if n_del > n:
        raise ValueError(f"{n_del} deletes exceed the corpus of {n}")
    delete_ids = rng.permutation(n)[:n_del].astype(np.int64) \
        .reshape(n_batches, n_dml)
    insert_ids = (INSERT_ID_BASE + np.arange(n_del, dtype=np.int64)) \
        .reshape(n_batches, n_dml)
    insert_vecs = rng.normal(0.0, 1.0, size=(n_batches, n_dml, d)) \
        .astype(np.float32)
    return Inputs(ids, vecs, queries, delete_ids, insert_ids, insert_vecs)
