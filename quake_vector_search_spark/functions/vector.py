"""Vector distance kernels.

Two tiers, mirroring the reference's design (SURVEY.md §2.1 O1/O2):

- **Column expressions** (`l2_squared_col` etc.): pure Catalyst
  (`zip_with` + `aggregate`), whole-stage-codegen'd JVM-side. Right for
  ad-hoc expressions and oracle-matched queries. Accumulates in float64.
  Reference: ``l2(a,b)`` at QUAKE_working_demo.ipynb c1:8-9 /
  adaptive_ivf.mjs:23-30.

- **NumPy batch kernel** (`l2_batch`): the `x²+y²-2xyᵀ` matmul trick for
  all-pairs distances, used inside Arrow-batched operators (the kNN
  operators' shared top-k scan, `operators/knn.py::_scan_topk`).
  Reference: ``l2_batch`` at ipynb c1:11-14 / adaptive_ivf.mjs:32-40.
  This is the hot path for kNN — one BLAS matmul per (partition,
  query-block) instead of a crossJoin, so the shuffle carries only local
  top-k candidates, never the O(n·m) distance matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def l2_squared_col(a, b) -> Column:
    """Squared L2 distance between two array<numeric> columns (float64)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_col(a, b) -> Column:
    """L2 (Euclidean) distance between two array columns."""
    return F.sqrt(l2_squared_col(a, b))


def dot_col(a, b) -> Column:
    """Dot product of two array<numeric> columns (float64)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity_col(a, b) -> Column:
    """Cosine similarity of two array columns (float64, NaN-safe via
    1e-12 epsilon on the norms)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    num = dot_col(a, b)
    den = F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b))
    return num / (den + F.lit(1e-12))


def cosine_similarity_pandas(a, b) -> Column:
    """Vectorized twin of ``cosine_similarity_col`` (round 6): the
    SAME formula — dot / (‖a‖·‖b‖ + 1e-12), float64 — computed as one
    einsum per Arrow batch instead of a per-row interpreted
    higher-order-function fold. At 1M+ candidate pairs (LSH verify)
    the Column expression was the pipeline bottleneck (~6 s for 81 M
    flops); this is milliseconds. Accumulation order differs from the
    sequential fold by ulps — use where values feed a threshold or
    coarse rounding, keep the Column twin where an oracle pins the
    exact fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = (np.sqrt(np.einsum("ij,ij->i", A, A))
               * np.sqrt(np.einsum("ij,ij->i", B, B)))
        return pd.Series(num / (den + 1e-12))

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cos(a.cast("array<double>"), b.cast("array<double>"))


def l2_batch(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """All-pairs squared L2 distance matrix [n, m] via x²+y²−2xyᵀ.

    Float64 accumulation; clipped at 0 to kill negative epsilon from
    cancellation. Mirrors reference semantics (ipynb c1:11-14).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    x2 = (x * x).sum(axis=1)[:, None]
    y2 = (y * y).sum(axis=1)[None, :]
    # per-element expression unchanged — (x2+y2) − (2·xy) in the same
    # order — but built on two [n, m] buffers instead of four: the
    # kernel is memory-bandwidth-bound at these shapes, not FLOP-bound
    d2 = x2 + y2
    xy = x @ y.T
    xy *= 2.0
    d2 -= xy
    np.maximum(d2, 0.0, out=d2)
    return d2


import threading as _threading

_kernel_scratch = _threading.local()


def _scratch_buf(key: str, shape: tuple) -> np.ndarray:
    """Per-thread reusable float64 scratch (round 17): the training
    kernels call the same shapes dozens of times per fit, and a fresh
    ``np.empty`` of 50-200 MB per call costs a page-zeroing pass that
    SERIALIZES across the trainer thread pool on mm locks (measured as
    sys-time). Dirty reuse is safe everywhere these buffers are used:
    every element is written (matmul out= / full-array ufunc out=)
    before it is read. Keyed per NAME; a call with a different shape
    replaces (frees) the previous buffer, so each thread retains at
    most one last-shape buffer per name — bounded at the engine's
    largest assign shapes (~100 MB on the driver main thread for the
    coarse-train assign, ~20 MB per reused executor python worker for
    batch encodes; trainer-pool threads die with their per-call
    pool). Never return views into these buffers to callers."""
    d = getattr(_kernel_scratch, "bufs", None)
    if d is None:
        d = _kernel_scratch.bufs = {}
    b = d.get(key)
    if b is None or b.shape != shape:
        b = d[key] = np.empty(shape, dtype=np.float64)
    return b


def l2_argmin(x: np.ndarray, y: np.ndarray, tile: int = 2048,
              threads: int = 1) -> np.ndarray:
    """``np.argmin(l2_batch(x, y), axis=1)`` without streaming three
    full [n, m] float64 buffers through DRAM (round 17).

    The ``x @ yᵀ`` dgemm stays MONOLITHIC — row-chunked dgemm is NOT
    bit-exact on this OpenBLAS (measured r16/r17: kernel selection
    depends on the row count, even at inner dim 8) — but the
    ``x²+y²−2xy`` assembly and the argmin are per-element/per-row, so
    they run over row TILES on two reused scratch buffers that stay
    cache-resident. Per-element operations and their order are
    IDENTICAL to ``l2_batch`` (same adds, the same ``*2.0``, the same
    0-clamp), so the result is bit-equal to the unfused form; the only
    DRAM traffic is the dgemm's one write + one read of ``xy`` instead
    of ~8 full passes. ``threads > 1`` fans the (disjoint, bit-exact)
    tiles over a thread pool — enable on the driver only, never inside
    an executor task whose cores belong to sibling tasks.

    Reentrant: a nested call on the same thread (a signal handler, a
    callback running under this one) gets fresh buffers instead of the
    per-thread scratch the outer call is still using.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = x.shape[0]
    m = y.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    depth = getattr(_kernel_scratch, "argmin_depth", 0)
    _kernel_scratch.argmin_depth = depth + 1
    try:
        return _l2_argmin(x, y, n, m, tile, threads,
                          _scratch_buf if depth == 0 else _fresh_buf)
    finally:
        _kernel_scratch.argmin_depth = depth


def _fresh_buf(key: str, shape: tuple) -> np.ndarray:
    return np.empty(shape, dtype=np.float64)


def _l2_argmin(x, y, n, m, tile, threads, scratch) -> np.ndarray:
    xy = scratch("l2_argmin_xy", (n, m))
    np.matmul(x, y.T, out=xy)
    x2 = (x * x).sum(axis=1)
    y2 = (y * y).sum(axis=1)[None, :]
    out = np.empty(n, dtype=np.int64)

    def run_span(lo: int, hi: int) -> None:
        width = min(tile, n)
        buf = scratch("l2_argmin_t0", (width, m))
        tmp = scratch("l2_argmin_t1", (width, m))
        for s in range(lo, hi, tile):
            e = min(s + tile, hi)
            t = e - s
            d2 = buf[:t]
            np.add(x2[s:e, None], y2, out=d2)       # x2 + y2
            np.multiply(xy[s:e], 2.0, out=tmp[:t])  # xy * 2.0
            np.subtract(d2, tmp[:t], out=d2)        # d2 -= xy
            np.maximum(d2, 0.0, out=d2)
            out[s:e] = d2.argmin(axis=1)

    if threads > 1 and n > tile:
        from concurrent.futures import ThreadPoolExecutor
        spans = [(lo, min(lo + tile, n)) for lo in range(0, n, tile)]
        with ThreadPoolExecutor(max_workers=threads) as ex:
            list(ex.map(lambda se: run_span(*se), spans))
    else:
        run_span(0, n)
    return out


def topk_indices(arr: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k smallest values, ascending (ties by index asc).

    `argpartition` O(n) selection then a sort of only the candidate set
    — reference `topk_indices` at ipynb c1:16-20 / adaptive_ivf.mjs:50-56.
    Plain `argpartition(...)[:k]` picks ARBITRARILY among values tied at
    the k-boundary, which breaks the (value, index) tie-break contract;
    include every element tied with the boundary value before sorting.
    """
    arr = np.asarray(arr).ravel()
    k = min(k, arr.shape[0])
    if k <= 0:
        return np.empty(0, dtype=np.int64)
    part = np.argpartition(arr, k - 1)
    kth_val = arr[part[k - 1]]
    cand = np.flatnonzero(arr <= kth_val)   # k smallest + boundary ties
    order = np.lexsort((cand, arr[cand]))   # value asc, index asc
    return cand[order][:k]


def topk_cols_2d(vals: np.ndarray, ids: np.ndarray, kk: int,
                 descending: bool = False) -> np.ndarray:
    """Per-row top-kk column positions of ``vals`` [nq, m] under the
    engine-wide tie-break (value asc — or desc — then id asc).

    Reorders columns id-ascending, then a STABLE row argsort, so equal
    values resolve to the smallest id — `argpartition` alone picks
    arbitrarily among values tied at the k-boundary, which breaks
    deterministic output hashing. The log-factor over argpartition is
    noise next to the distance matmul that produced ``vals``.
    """
    id_order = np.argsort(ids, kind="stable")
    v = vals[:, id_order]
    if descending:
        v = -v
    sel = np.argsort(v, axis=1, kind="stable")[:, :kk]
    return id_order[sel]


def arrow_vectors_to_matrix(col) -> np.ndarray:
    """Arrow list<float> column → [n, d] float64 matrix via the flat
    values buffer — no per-row Python objects (np.vstack over an
    object column is 10-50× slower and dominates mapInPandas kernels).
    Assumes fixed-length vectors (enforced by the corpus schema)."""
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(col)
    if n == 0:
        return flat.reshape(0, 0)
    return flat.reshape(n, len(flat) // n)
