"""Brute-force exact kNN over a DataFrame corpus, and the top-k scan
every dense kNN operator shares.

Reference parity: ``exact_topk`` (QUAKE_working_demo.ipynb c1:212-215 /
adaptive_ivf.mjs:364-369) — full-scan ground truth, also the oracle for
the IVF path (O15 in SURVEY.md §2.1).

Scale design (the part the reference, a single-process NumPy loop,
doesn't have): queries are broadcast to every corpus partition; each
Arrow batch is scored with one BLAS matmul per query block (`l2_batch`,
the x²+y²−2xyᵀ trick), and each task merges its batches into one
running top-k per query and emits that one block — so the single
shuffle carries O(tasks · nq · k) candidate rows, never the O(n · nq)
distance matrix, and never a crossJoin. The global stage is a window
`row_number() <= k` with deterministic (dist ASC, vec_id ASC)
tie-break. At 1000 executors this is an embarrassingly-parallel scan +
a tiny shuffle. ``_scan_topk`` is that scan for ``IVFIndex.search``,
``knn_ivf_pq`` and the brute-force / PQ / BQ family alike.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quake_vector_search_spark.functions.vector import (
    arrow_vectors_to_matrix,
    l2_batch,
)

# Queries are collected to the driver and broadcast — the standard ANN
# batch shape (small query block vs huge corpus). Guard against misuse.
MAX_BROADCAST_QUERIES = 100_000


def _collect_queries(queries, query_id_col: str, query_vec_col: str):
    """Normalize queries into (ids: int64[nq], mat: float64[nq, d])."""
    if isinstance(queries, DataFrame):
        rows = queries.select(query_id_col, query_vec_col).collect()
        if len(rows) > MAX_BROADCAST_QUERIES:
            raise ValueError(
                f"{len(rows)} queries exceed broadcast limit "
                f"{MAX_BROADCAST_QUERIES}; chunk the query set into batches")
        qids = np.array([r[0] for r in rows], dtype=np.int64)
        qmat = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    else:  # (ids, matrix) pair
        qids, qmat = queries
        qids = np.asarray(qids, dtype=np.int64)
        qmat = np.asarray(qmat, dtype=np.float64)
    if len(qids) == 0:
        qmat = qmat.reshape(0, qmat.shape[1] if qmat.ndim == 2 else 0)
    return qids, qmat


def _empty_result(spark, score_col: str) -> DataFrame:
    return spark.createDataFrame(
        [], f"query_id long, vec_id long, {score_col} double, rank int")


def _topk_superset(vals: np.ndarray, kk: int) -> tuple:
    """(row, col) of every entry of ``vals`` [nq, n] no larger than its
    row's kk-th smallest value: ties included, so it holds each row's
    top-kk under any tie-break — ``_merge_topk`` cuts it to size."""
    thr = (np.partition(vals, kk - 1, axis=1)[:, kk - 1:kk]
           if vals.shape[1] > kk else np.inf)
    return np.nonzero(vals <= thr)


def _merge_topk(qids: np.ndarray, ids: np.ndarray, dist: np.ndarray,
                kk: int) -> tuple:
    """Each query's top-kk rows of (qids, ids, dist) under the engine's
    (dist asc, id asc) order — the order of the global candidate
    window, so merging before it never changes what it keeps."""
    order = np.lexsort((ids, dist, qids))
    qids, ids, dist = qids[order], ids[order], dist[order]
    first = np.r_[True, qids[1:] != qids[:-1]]
    starts = np.flatnonzero(first)
    rank = np.arange(len(qids)) - starts[np.cumsum(first) - 1]
    keep = rank < kk
    return qids[keep], ids[keep], dist[keep]


def _payload_matrix(col) -> np.ndarray:
    """[rows, width] matrix of an Arrow list column from its flat values
    buffer: float vectors as float64, integer codes in their stored
    dtype."""
    import pyarrow as pa

    if pa.types.is_floating(col.type.value_type):
        return arrow_vectors_to_matrix(col)
    return (col.flatten().to_numpy(zero_copy_only=False)
            .reshape(len(col), -1))


def _scan_topk(df: DataFrame, qids: np.ndarray, kernel, state, kk: int,
               *, id_col: str, score_col: str = "dist",
               descending: bool = False,
               probe_map: dict | None = None) -> DataFrame:
    """The candidate stage of every dense kNN operator: each query's
    top-``kk`` rows of ``df`` (columns id, payload[, partition_id], in
    that order), ranked 1..kk by (score asc — or desc — then id asc) in
    ``rank``; columns query_id, ``id_col``, ``score_col``, rank.

    One ``mapInArrow`` pass: ``(qids, state, probe_map)`` is broadcast
    once. With a ``probe_map`` ({partition id: query positions}) the
    rows of a batch are grouped by partition id, each group scored
    against the queries probing it; without one, the whole batch is
    one group scored against every query (rows and positions
    ``slice(None)``, so the kernel sees views of the full arrays).
    ``kernel(state, payload, positions, partition id)`` yields score
    blocks whose rows are consecutive runs of those query positions,
    in order. Every block goes through ``_topk_superset``; each task
    keeps a running per-query top-kk (``_merge_topk``) and emits it
    once. Descending scores are negated into the merge and back out —
    both exact. The global window then cuts every query to kk."""
    bc = df.sparkSession.sparkContext.broadcast((qids, state, probe_map))

    def scan(batches):
        import pyarrow as pa

        from quake_vector_search_spark.operators.kmeans import (
            _group_slices)

        qids_l, st, pmap = bc.value
        best = (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            x = _payload_matrix(rb.column(1))
            if pmap is None:
                groups = [(None, slice(None), slice(None))]
            else:
                gidx, starts, ends, uniq = _group_slices(
                    rb.column(2).to_numpy(zero_copy_only=False))
                groups = [(int(p), gidx[lo:hi], pmap.get(int(p)))
                          for p, lo, hi in zip(uniq, starts, ends)]
            out = [best]
            for pid, rows, qpos in groups:
                if qpos is None:
                    continue
                gids, qsel, q0 = ids[rows], qids_l[qpos], 0
                for block in kernel(st, x[rows], qpos, pid):
                    if descending:
                        block = -block
                    r, c = _topk_superset(block, kk)
                    out.append((qsel[q0 + r], gids[c], block[r, c]))
                    q0 += block.shape[0]
            if len(out) > 1:
                best = _merge_topk(*(np.concatenate(col)
                                     for col in zip(*out)), kk)
        if len(best[0]):
            q, i, s = best
            yield pa.RecordBatch.from_arrays(
                [pa.array(q), pa.array(i),
                 pa.array(-s if descending else s, pa.float64())],
                ["query_id", id_col, score_col])

    local = df.mapInArrow(
        scan, f"query_id long, {id_col} long, {score_col} double")
    score = F.col(score_col)
    w = (Window.partitionBy("query_id")
         .orderBy(score.desc() if descending else score.asc(),
                  F.col(id_col).asc()))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= kk))


def _l2_kernel(qmat, x, qpos, pid):
    yield l2_batch(qmat[qpos], x)


def _dot_kernel(qmat, x, qpos, pid):
    yield qmat[qpos] @ x.T


def _cosine_kernel(qmat, x, qpos, pid):
    q = qmat[qpos]
    qnorm = np.linalg.norm(q, axis=1) + 1e-12
    vnorm = np.linalg.norm(x, axis=1) + 1e-12
    yield (q @ x.T) / (qnorm[:, None] * vnorm[None, :])


def _exact_topk(corpus_df, queries, k, id_col, vec_col, query_id_col,
                query_vec_col, score_col, kernel, descending=False):
    """The brute-force operators: every query against every row."""
    qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
    if len(qids) == 0:
        return _empty_result(corpus_df.sparkSession, score_col)
    return _scan_topk(corpus_df.select(id_col, vec_col), qids, kernel,
                      qmat, k, id_col="vec_id", score_col=score_col,
                      descending=descending)


def knn_bruteforce(corpus_df: DataFrame,
                   queries,
                   k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "embedding",
                   squared: bool = False) -> DataFrame:
    """Exact top-k nearest neighbors for each query.

    Returns (query_id LONG, vec_id LONG, dist DOUBLE, rank INT), rank
    1..k per query ordered by (dist ASC, vec_id ASC). ``dist`` is L2
    (or squared L2 when ``squared=True``, matching the reference's d2).
    """
    out = _exact_topk(corpus_df, queries, k, id_col, vec_col,
                      query_id_col, query_vec_col, "dist", _l2_kernel)
    if not squared:
        out = out.withColumn("dist", F.sqrt(F.col("dist")))
    return out.select("query_id", "vec_id", "dist", "rank")


def cosine_topk(corpus_df: DataFrame,
                queries,
                k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity (descending), same batch shape as
    `knn_bruteforce`. Tie-break (sim DESC, vec_id ASC)."""
    return _exact_topk(corpus_df, queries, k, id_col, vec_col,
                       query_id_col, query_vec_col, "sim",
                       _cosine_kernel, descending=True) \
        .select("query_id", "vec_id", "sim", "rank")


def dot_topk(corpus_df: DataFrame,
             queries,
             k: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by maximum inner product (descending) — the scoring
    used by unnormalized-embedding retrieval. Same batch shape as
    `knn_bruteforce`: one matmul per (query block, corpus batch), local
    top-k, global windowed top-k. Tie-break (score DESC, vec_id ASC)."""
    return _exact_topk(corpus_df, queries, k, id_col, vec_col,
                       query_id_col, query_vec_col, "score",
                       _dot_kernel, descending=True) \
        .select("query_id", "vec_id", "score", "rank")


def hard_negatives(corpus_df: DataFrame, queries_df: DataFrame,
                   k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id") -> DataFrame:
    """Contrastive hard-negative mining (training-pipeline op, beyond
    the reference): for each query, its exact k nearest corpus vectors
    whose label DIFFERS from the query's — the negatives that sit
    closest to the decision boundary, the standard pick for
    contrastive / triplet training.

    Shape: one `knn_bruteforce` branch per DISTINCT query label over
    the corpus filtered to `label != L` — the per-query predicate
    becomes a per-branch static filter, so each branch keeps the
    broadcast-queries + per-task merged top-k + single tiny
    shuffle plan, and the label filter pushes into the corpus scan.
    Branch count is the query-label cardinality (bounded by the label
    vocabulary, not the query count); the union is plan-level, not a
    materialization barrier.
    """
    labels = [r[0] for r in
              queries_df.select(label_col).distinct().collect()]
    out = None
    for lab in sorted(labels):
        qs = queries_df.where(F.col(label_col) == lab)
        neg = corpus_df.where(F.col(label_col) != lab)
        hits = knn_bruteforce(neg, qs, k=k, id_col=id_col,
                              vec_col=vec_col,
                              query_id_col=query_id_col,
                              query_vec_col=vec_col)
        out = hits if out is None else out.unionAll(hits)
    if out is None:
        return _empty_result(corpus_df.sparkSession, "dist")
    return out


def knn_graph_blocked(emb: DataFrame, k: int = 5,
                      block_col: str = "label",
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """kNN-graph construction (training-pipeline op): the exact k
    nearest neighbors of EVERY vector, blocked by a clustering column
    — the all-pairs sibling of the query-block search above, and the
    input shape for graph-based curation (diversity sampling,
    SemDeDup-style pruning, label propagation, connected-component
    dedup over embedding space).

    A global exact kNN graph is n² by definition; the practical recipe
    blocks by a coarse clustering (k-means cells, IVF partitions — any
    assignment column) and computes exactly within blocks, the same
    Σ|block|² bound the semantic-dedup operator rides. Plan: one
    equi-join on the block key (shuffle moves each block once), the
    distance as a codegen column expression, and a per-source window
    for the top-k — no crossJoin, no broadcast of the corpus, no UDF.

    Returns (src, dst, block, dist, rank), rank 1..k by
    (dist ASC, dst ASC) per src; blocks smaller than k+1 yield fewer
    rows for their members (no padding).
    """
    from quake_vector_search_spark.functions.vector import l2_col

    a = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("src"),
                   F.col(vec_col).alias("_va"))
    b = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("dst"),
                   F.col(vec_col).alias("_vb"))
    w = (Window.partitionBy("src")
         .orderBy(F.col("dist").asc(), F.col("dst").asc()))
    return (a.join(b, ["block"])
            .where(F.col("src") != F.col("dst"))
            .withColumn("dist", l2_col("_va", "_vb"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("src", "dst", "block", "dist", "rank"))


def knn_graph_blocked_blas(emb: DataFrame, k: int = 5,
                           block_col: str = "label",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """BLAS twin of ``knn_graph_blocked`` — identical output contract,
    different physical strategy: one grouped-map (applyInPandas) per
    block computes the whole block's distance matrix with a single
    x²+y²−2xyᵀ matmul and takes each node's top-k in NumPy. The
    relational form keeps the oracle SQL-shaped; this one is the
    production path when blocks are large — the join materializes
    |block|² rows through the interpreted higher-order distance
    expression, while this touches |block|² only inside BLAS and emits
    |block|·k rows. Same (dist ASC, dst ASC) tie-break."""
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "block": [],
                                 "dist": [], "rank": []})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        block = pdf[block_col].iloc[0]
        v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        d2 = l2_batch(v, v)
        np.fill_diagonal(d2, np.inf)
        kk = min(k, n - 1)
        src, dst, dist, rank = [], [], [], []
        for i in range(n):
            row = d2[i]
            # (dist, dst-id) tie-break, exactly like the window form
            order = np.lexsort((ids, row))[:kk]
            src.extend([ids[i]] * kk)
            dst.extend(ids[order])
            dist.extend(np.sqrt(row[order]))
            rank.extend(range(1, kk + 1))
        return pd.DataFrame({"src": src, "dst": dst,
                             "block": [block] * len(src),
                             "dist": dist, "rank": rank})

    out_schema = (f"src long, dst long, block int, "
                  f"dist double, rank int")
    return (emb.select(F.col(id_col), F.col(block_col), F.col(vec_col))
            .groupBy(block_col)
            .applyInPandas(per_block, out_schema))


def range_search_bruteforce(corpus_df: DataFrame, queries,
                            radius: float,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            query_id_col: str = "query_id",
                            query_vec_col: str = "embedding") -> DataFrame:
    """Radius (range) search: ALL corpus vectors within L2 ``radius``
    of each query — the fixed-threshold twin of top-k (duplicate
    blast-radius queries, geo-style neighborhoods, recall-oriented
    retrieval). Same scale shape as knn_bruteforce: queries broadcast
    as a literal array, distances evaluated in-place per partition
    (codegen'd column expression), only matches survive the scan — no
    shuffle at all beyond the final sort the caller may add. Returns
    (query_id, vec_id, dist)."""
    from quake_vector_search_spark.functions.vector import l2_col

    qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
    spark = corpus_df.sparkSession
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, dist double")
    qdf = F.broadcast(spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qmat)],
        f"{query_id_col} long, _qv array<double>"))
    out = (corpus_df.crossJoin(qdf)
           .withColumn("dist", l2_col(F.col(vec_col), F.col("_qv")))
           .where(F.col("dist") <= radius)
           .select(F.col(query_id_col).alias("query_id"),
                   F.col(id_col).alias("vec_id"), "dist"))
    return out
