"""Scalar quantization (SQ8) for embedding columns — a capability the
reference lacks (SURVEY.md §2.2: "no quantization (PQ/SQ)").

At 100 TB the vector scan is bandwidth-bound: SQ8 stores each float32
dimension as one uint8 against per-dimension [min, max] ranges — 4×
less data moved per probe — and search pays a small accuracy cost that
an exact *rerank* of the top candidates cancels.

All pure Catalyst: encode/decode are `transform` expressions (no UDF),
ranges are one tiny aggregate (broadcastable). The rerank pattern is
candidate-k× oversampling → join back to the full-precision vectors →
exact top-k, deterministic tie-breaks throughout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEVELS = 255  # uint8 code points


def dim_ranges(df: DataFrame, vec_col: str = "embedding",
               d: int | None = None) -> tuple[list, list]:
    """Per-dimension [min, max] over the corpus: one aggregate pass
    (posexplode → groupBy dim). Returns (mins, maxs) as Python lists —
    k·d floats, broadcast-scale."""
    if d is None:
        d = len(df.select(vec_col).head()[0])
    agg = (df.select(F.posexplode(vec_col).alias("dim", "x"))
           .groupBy("dim")
           .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
           .collect())
    mins = [0.0] * d
    maxs = [0.0] * d
    for r in agg:
        mins[r["dim"]] = float(r["mn"])
        maxs[r["dim"]] = float(r["mx"])
    return mins, maxs


def _ranges_arrays(mins: list, maxs: list):
    mn = F.array(*[F.lit(float(v)) for v in mins])
    span = F.array(*[F.lit(float(mx - mn) if mx > mn else 1.0)
                     for mn, mx in zip(mins, maxs)])
    return mn, span


def sq8_encode(df: DataFrame, mins: list, maxs: list,
               vec_col: str = "embedding",
               code_col: str = "codes") -> DataFrame:
    """float32 vector → array<int> of uint8 codes (pure expression):
    code_i = round((x_i - min_i) / span_i * 255), clamped to [0, 255]."""
    mn, span = _ranges_arrays(mins, maxs)
    zipped = F.arrays_zip(
        F.col(vec_col).cast("array<double>").alias("v"),
        mn.alias("mn"), span.alias("sp"))
    code = F.transform(
        zipped,
        lambda t: F.greatest(
            F.lit(0),
            F.least(F.lit(LEVELS),
                    F.round((t["v"] - t["mn"]) / t["sp"] * LEVELS)
                     .cast("int"))))
    return df.withColumn(code_col, code)


def sq8_decode_expr(code_col: str, mins: list, maxs: list):
    """Codes → approximate float64 vector: x̂_i = min_i + c_i/255·span_i."""
    mn, span = _ranges_arrays(mins, maxs)
    zipped = F.arrays_zip(F.col(code_col).alias("c"),
                          mn.alias("mn"), span.alias("sp"))
    return F.transform(
        zipped,
        lambda t: t["mn"] + t["c"] / F.lit(float(LEVELS)) * t["sp"])


def knn_sq8(corpus_df: DataFrame, queries, k: int = 10,
            oversample: int = 4,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Approximate kNN over SQ8 codes with exact rerank:

    1. quantize the corpus (ranges from one aggregate pass),
    2. brute-force top-(k·oversample) on the DECODED approximations
       (4× less data to scan at scale — codes travel, floats don't),
    3. join the candidates back to full-precision vectors and take the
       exact top-k (deterministic (dist, id) tie-break).

    With oversample ≥ 4 the exact answer survives quantization noise in
    practice; tests assert a recall floor, not hash equality.
    """
    from quake_vector_search_spark.operators.knn import knn_bruteforce

    mins, maxs = dim_ranges(corpus_df, vec_col)
    enc = sq8_encode(corpus_df.select(id_col, vec_col), mins, maxs,
                     vec_col=vec_col)
    approx_corpus = enc.select(
        F.col(id_col),
        sq8_decode_expr("codes", mins, maxs).alias(vec_col))
    cand = knn_bruteforce(approx_corpus, queries, k=k * oversample,
                          id_col=id_col, vec_col=vec_col)
    return exact_rerank(cand, corpus_df, queries, k,
                        id_col=id_col, vec_col=vec_col)


def exact_rerank(cand: DataFrame, corpus_df: DataFrame, queries,
                 k: int, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Exact top-k over a candidate set: join candidates back to the
    full-precision vectors, recompute true L2 against the broadcast
    queries, window-rank with the (dist, id) tie-break. The candidate
    set is tiny (queries × k × oversample) so both joins broadcast —
    the full corpus is touched only via the id equi-join."""
    from quake_vector_search_spark.functions.vector import l2_col

    full = corpus_df.select(F.col(id_col), F.col(vec_col).alias("_fv"))
    qdf = (queries if isinstance(queries, DataFrame) else None)
    if qdf is None:
        import pandas as pd
        qids, qmat = queries
        spark = corpus_df.sparkSession
        qdf = spark.createDataFrame(
            pd.DataFrame({"query_id": qids,
                          "embedding": [list(map(float, v))
                                        for v in qmat]}))
    qv = qdf.select(F.col("query_id"),
                    F.col("embedding").cast("array<double>").alias("_qv"))
    from pyspark.sql import Window
    rer = (cand.select("query_id", id_col)
           .join(full, id_col)
           .join(F.broadcast(qv), "query_id")
           .withColumn("dist", l2_col("_fv", "_qv")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("dist").asc(), F.col(id_col).asc()))
    return (rer.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", id_col, "dist", "rank"))


# ---------------------------------------------------------------- PQ

def pq_train(corpus_df: DataFrame, m: int = 8, ksub: int = 256,
             iters: int = 10, seed: int = 99, sample_n: int = 100_000,
             vec_col: str = "embedding") -> np.ndarray:
    """Train product-quantization codebooks: split the d dimensions
    into ``m`` contiguous subspaces and run seeded Lloyd's per subspace
    on a bounded deterministic sample (same xxhash64 TakeOrdered scheme
    as coarse k-means — one distributed top-n, never a full collect).
    Returns codebooks ``[m, ksub', dsub]`` (ksub' = min(ksub, sample)).

    Codebook size is m·ksub·dsub floats (d·ksub total) — broadcast
    scale regardless of corpus size.
    """
    from quake_vector_search_spark.operators.kmeans import (
        _seeded_sample, train_subspace_books)

    id_col = _infer_id_col(corpus_df)
    _, samp = _seeded_sample(corpus_df, vec_col, id_col, sample_n, seed)
    # driver-side entry point → the m independent per-chunk fits run on
    # a thread pool (bit-identical per fit; see train_subspace_books)
    return train_subspace_books(samp, m, ksub, iters, seed,
                                parallel=True)


def _infer_id_col(df: DataFrame, default: str = "vec_id") -> str:
    return default if default in df.columns else df.columns[0]


def _eigalloc_rotation(X: np.ndarray, m: int
                       ) -> tuple[np.ndarray, np.ndarray]:
    """PCA + EIGENVALUE ALLOCATION (the parametric OPQ of Ge et al.
    CVPR'13 §4): plain PCA stuffs all variance into the first
    subspace, which a fixed ksub budget quantizes terribly; greedily
    assigning principal directions so each subspace's variance
    PRODUCT is balanced (min log-sum bucket first) equalizes the
    per-subspace quantization load. Returns ``(mean, R)`` with R
    orthogonal (rows = permuted principal directions). Shared by the
    iterative OPQ refiners — plain (``opq_refine_local``) and
    score-aware (``aniso_opq_refine_local``, round 13) — as their
    init, and by the per-cell anisotropic×rotated trainer (round 10)
    where with ``opq_iters = 0`` it is the WHOLE rotation (the loss
    transports exactly through any orthogonal R, so aniso training
    in the rotated space minimizes the original-space loss; see
    aniso_pq_train). With ``opq_iters ≥ 1`` the score-aware
    alternation refines past this init."""
    n, d = X.shape
    dsub = d // m
    mean = X.mean(axis=0)
    Z = X - mean
    cov = (Z.T @ Z) / max(n - 1, 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    eigvals, eigvecs = eigvals[::-1], eigvecs[:, ::-1]   # descending
    buckets: list[list[int]] = [[] for _ in range(m)]
    load = np.zeros(m)
    for i in range(d):
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda b: load[b])
        buckets[b].append(i)
        load[b] += np.log(max(eigvals[i], 1e-12))
    perm = [i for b in buckets for i in b]
    return mean, eigvecs[:, perm].T


def opq_refine_local(samp: np.ndarray, m: int, ksub: int = 256,
                     opq_iters: int = 4, kmeans_iters: int = 4,
                     seed: int = 99,
                     parallel_init: bool = False) -> dict:
    """Iterative OPQ (round 7): refine a PCA-initialized rotation by
    alternating codebook training and an orthogonal-Procrustes update
    (the non-parametric OPQ of Ge et al., CVPR'13). One-shot PCA
    decorrelates subspaces but ignores the quantizer; the alternation
    rotates the space to MINIMIZE actual PQ reconstruction error:

      repeat: train codebooks in the current rotated space →
              decode → R ← argmin_orthogonal ||Z Rᵀ − decoded||_F
              (SVD of ZᵀŶ — the Procrustes solution)

    Driver-side on the bounded seeded sample only (a d×d rotation
    needs a representative sample, not the corpus; each step is a few
    NumPy matmuls + m seeded Lloyd's runs). Lloyd's from a fixed
    seeded init is not an exact argmin, so the running BEST
    configuration by measured error is returned — the refined
    rotation can only match or beat the PCA init. Returns
    {"mean", "components", "books", "errors", "best_error"};
    ``errors[0]`` is the PCA-init reconstruction MSE and
    ``best_error`` (= min(errors)) belongs to the returned config.
    The rotation plugs into the persisted pq_rotation.npz format
    unchanged, so queries, streaming appends, and maintenance refresh
    all pick it up with zero further changes."""
    from quake_vector_search_spark.operators.kmeans import (
        train_subspace_books,
    )

    X = np.asarray(samp, dtype=np.float64)
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"d={d} not divisible by m={m}")
    dsub = d // m
    ksub_eff = min(ksub, n)
    mean, R = _eigalloc_rotation(X, m)
    Z = X - mean

    def _books_for(Y):
        # per-chunk fits are independent; parallel_init threads them
        # on driver-side calls (bit-identical — train_subspace_books)
        return train_subspace_books(Y, m, ksub_eff, kmeans_iters,
                                    seed, parallel=parallel_init)

    def _decode(Y, books):
        codes = pq_encode_local(Y, books)
        out = np.empty_like(Y)
        for j in range(m):
            out[:, j * dsub:(j + 1) * dsub] = books[j][codes[:, j]]
        return out

    best = None
    errors = []
    for _ in range(max(1, opq_iters)):
        Y = Z @ R.T
        books = _books_for(Y)
        Yhat = _decode(Y, books)
        err = float(((Y - Yhat) ** 2).sum() / n)
        errors.append(err)
        if best is None or err < best[0]:
            best = (err, R.copy(), books.copy())
        # Procrustes: R.T <- argmin_Q ||Z Q - Yhat||_F, Q orthogonal
        U, _s, Vt = np.linalg.svd(Z.T @ Yhat)
        R = (U @ Vt).T
    return {"mean": mean, "components": best[1], "books": best[2],
            "errors": errors, "best_error": best[0]}


def pq_encode_local(vecs: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """NumPy PQ encode of one vector block: [n, d] → [n, m] int codes
    (nearest sub-centroid per subspace). The kernel shared by the
    distributed ``pq_encode`` pass and micro-batch streaming appends,
    where a driver-side encode of a few hundred rows beats a Spark job."""
    from quake_vector_search_spark.functions.vector import l2_argmin

    m, _, dsub = codebooks.shape
    vecs = np.asarray(vecs, dtype=np.float64)
    codes = np.empty((vecs.shape[0], m), dtype=np.int64)
    for j in range(m):
        sub = vecs[:, j * dsub:(j + 1) * dsub]
        # fused tiled assign — bit-equal to argmin(l2_batch(...), 1)
        codes[:, j] = l2_argmin(sub, codebooks[j])
    return codes


def pq_encode(corpus_df: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              code_col: str = "pq_codes",
              keep_cols: tuple = ()) -> DataFrame:
    """Vector → m uint8 codes (nearest sub-centroid per subspace).
    Arrow-batched mapInPandas: per batch one l2_batch argmin per
    subspace. Output is (id, array<int> codes) — d/dsub·1 byte of
    payload per vector at scale vs 4·d for the floats (32× smaller at
    m=8, d=64)."""
    spark = corpus_df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(batches):
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = pq_encode_local(vecs, books)
            out = {id_col: pdf[id_col].to_numpy(dtype=np.int64),
                   code_col: list(codes)}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy(dtype=np.int64)
            yield pd.DataFrame(out)

    keep_schema = "".join(f", {c} long" for c in keep_cols)
    return (corpus_df.select(id_col, vec_col, *keep_cols)
            .mapInPandas(encode, f"{id_col} long, {code_col} array<int>"
                                 f"{keep_schema}"))


def knn_pq(corpus_df: DataFrame, queries, k: int = 10,
           m: int = 8, ksub: int = 256, oversample: int = 4,
           seed: int = 99, id_col: str = "vec_id",
           vec_col: str = "embedding") -> DataFrame:
    """Approximate kNN via product quantization with ADC scan + exact
    rerank:

    1. train codebooks on a bounded seeded sample (broadcast-scale),
    2. encode the corpus to m-byte codes (one pass, Arrow-batched),
    3. ADC: per query build the [m, ksub] lookup table of subspace
       distances once, score every code row with m table gathers —
       no float vector is read during the scan,
    4. exact rerank of the top-(k·oversample) candidates on the true
       vectors (deterministic (dist, id) tie-break).

    The scan moves ~m bytes/vector instead of 4·d (32× at d=64, m=8);
    like SQ8, oversample + rerank recovers the exact answer on the
    testdata — the brute-force query is the oracle.
    """
    from quake_vector_search_spark.operators.knn import (
        _collect_queries, _empty_result, _scan_topk)

    spark = corpus_df.sparkSession
    qids, qmat = _collect_queries(queries, "query_id", vec_col)
    if len(qids) == 0:
        return _empty_result(spark, "dist")

    books = pq_train(corpus_df, m=m, ksub=ksub, seed=seed,
                     vec_col=vec_col)
    enc = pq_encode(corpus_df, books, id_col=id_col, vec_col=vec_col)
    cand = _scan_topk(enc.select(id_col, "pq_codes"), qids, _adc_kernel,
                      _pq_luts(qmat, books), k * oversample,
                      id_col=id_col).select("query_id", id_col)
    return exact_rerank(cand, corpus_df, (qids, qmat), k,
                        id_col=id_col, vec_col=vec_col)


def knn_opq(corpus_df: DataFrame, queries, k: int = 10,
            m: int = 8, ksub: int = 256, oversample: int = 4,
            seed: int = 99, id_col: str = "vec_id",
            vec_col: str = "embedding",
            opq_iters: int = 0) -> DataFrame:
    """OPQ-style kNN (round 6): PQ in a PCA-ROTATED space. Product
    quantization's subspace independence assumption breaks when
    dimensions are correlated; rotating by the PCA basis first
    decorrelates them — the non-parametric initialization of Optimized
    Product Quantization (Ge et al., CVPR'13). ``opq_iters > 0``
    (round 7) upgrades the init to the paper's full training —
    eigenvalue allocation + codebooks↔Procrustes alternation via
    ``opq_refine_local`` on a bounded seeded sample.

    Plan: fit rotation (map-only moment pass, or driver refine on the
    sample) → project (map-only matmul; a pure rotation, so L2 is
    preserved exactly in math) → pq_train/encode/ADC entirely in the
    rotated space → exact rerank against the ORIGINAL vectors, so the
    output is bit-compatible with the brute-force oracle regardless of
    rotation round-off. Same bandwidth story as knn_pq: the scan reads
    m bytes/vector.
    """
    from quake_vector_search_spark.operators.knn import (
        _collect_queries, _empty_result, _scan_topk)
    from quake_vector_search_spark.operators.pca import (
        fit_pca, pca_project)

    spark = corpus_df.sparkSession
    qids, qmat = _collect_queries(queries, "query_id", vec_col)
    if len(qids) == 0:
        return _empty_result(spark, "dist")

    if opq_iters > 0:
        from quake_vector_search_spark.operators.kmeans import (
            _seeded_sample,
        )

        _, samp = _seeded_sample(corpus_df, vec_col,
                                 _infer_id_col(corpus_df), 25_000, seed)
        ref = opq_refine_local(samp, m=m, ksub=ksub,
                               opq_iters=opq_iters, seed=seed,
                               parallel_init=True)
        model = {"dim": ref["components"].shape[1], "mean": ref["mean"],
                 "eigvals": np.ones(ref["components"].shape[0]),
                 "components": ref["components"]}
    else:
        model = fit_pca(corpus_df, vec_col=vec_col)
    rot = (pca_project(corpus_df.select(id_col, vec_col), model,
                       out_col="_rot")
           .select(id_col, F.col("_rot").alias(vec_col)))
    qrot = (qmat - model["mean"]) @ model["components"].T

    books = pq_train(rot, m=m, ksub=ksub, seed=seed, vec_col=vec_col)
    enc = pq_encode(rot, books, id_col=id_col, vec_col=vec_col)
    cand = _scan_topk(enc.select(id_col, "pq_codes"), qids, _adc_kernel,
                      _pq_luts(qrot, books), k * oversample,
                      id_col=id_col).select("query_id", id_col)
    return exact_rerank(cand, corpus_df, (qids, qmat), k,
                        id_col=id_col, vec_col=vec_col)


# ------------------------------------------------------- IVF + PQ hybrid

def _rotate_corpus(index, corpus, rot: dict):
    """Project the corpus into the sidecar's PCA-rotated space,
    keeping (id, partition_id) alongside the rotated vector under the
    ORIGINAL vec_col name so the PQ machinery applies unchanged."""
    from quake_vector_search_spark.operators.pca import pca_project

    model = {"dim": rot["components"].shape[1],
             "mean": rot["mean"],
             # unused without whiten=True, but pca_project slices it
             "eigvals": np.ones(rot["components"].shape[0]),
             "components": rot["components"]}
    return (pca_project(
        corpus.select(index.id_col, "partition_id", index.vec_col),
        model, out_col="_rot")
        .select(index.id_col, "partition_id",
                F.col("_rot").alias(index.vec_col)))


def save_residual_snapshot(version_dir: str,
                           cent_by_pid: dict) -> None:
    """Persist the centroids a residual (IVFADC) sidecar was ENCODED
    against. DML moves the live index centroids incrementally while
    existing sidecar codes stay quantized against encode-time
    centroids — so the ADC q − c_p LUTs must come from this snapshot,
    not the drifted live state, or accuracy decays silently between
    sidecar rebuilds (ADVICE r6). Metadata-scale: one vector per
    partition."""
    import os

    pids = sorted(cent_by_pid)
    np.savez(os.path.join(version_dir, "pq_centroids.npz"),
             part_ids=np.asarray(pids, dtype=np.int64),
             centroids=np.stack([cent_by_pid[p] for p in pids])
             if pids else np.zeros((0, 0)))


def load_residual_snapshot(version_dir: str) -> dict:
    """Encode-time centroid snapshot of a residual sidecar, as
    {pid: centroid}. Every residual sidecar writes one, so a missing
    snapshot raises (FileNotFoundError)."""
    import os

    z = np.load(os.path.join(version_dir, "pq_centroids.npz"))
    return {int(p): z["centroids"][i]
            for i, p in enumerate(z["part_ids"])}


def load_ood_stats(version_dir: str) -> dict:
    """Cumulative streamed-append OOD-fallback counter for the
    version's anisotropic sidecar, ``{"n": encoded_rows, "ood":
    fallback_rows}`` since the last sidecar reTRAIN. The ingest
    appenders bump it per batch (round 11, VERDICT r10 #3);
    ``maintain(ood_rebuild_rate=...)`` reads it to decide whether the
    drift warrants RETRAINING the books instead of carrying them
    forward — a long-running stream on drifting data otherwise
    degrades silently until someone rebuilds by hand. Carry-books
    refreshes (split/merge maintenance that re-encodes against the
    SAME books) carry the window forward (round 13, ADVICE r11 #1):
    drift is measured against the books, not the layout, so
    sub-threshold drift keeps accumulating toward the rate trigger
    across maintenance cycles; only an actual retrain
    (``build_pq_sidecar``) starts a clean window.

    APPROXIMATE on the distributed appenders (documented, round 13,
    ADVICE r11 #2): their counts come back through Spark
    accumulators inside transformations, which can over-count when a
    task retries or runs speculatively. The driver micro-batch
    appender counts in-process (exact). The consumer is a coarse
    rate threshold (``ood_rebuild_rate``, typically ~0.3 over ≥50
    rows), so a rare retry-inflated count can only HASTEN a retrain
    the drift already warranted — it cannot suppress one."""
    import json
    import os

    path = os.path.join(version_dir, "ood_stats.json")
    if not os.path.exists(path):
        return {"n": 0, "ood": 0}
    with open(path) as fh:
        s = json.load(fh)
    return {"n": int(s.get("n", 0)), "ood": int(s.get("ood", 0))}


def bump_ood_stats(version_dir: str, n: int, ood: int) -> None:
    """Add one batch's (encoded, fell-back) counts to the version's
    cumulative OOD counter. Driver-side tiny JSON write — the counts
    come back from the encode pass (in-process for the micro-batch
    appender, accumulator-summed for the distributed appenders)."""
    import json
    import os

    if n <= 0:
        return
    s = load_ood_stats(version_dir)
    with open(os.path.join(version_dir, "ood_stats.json"), "w") as fh:
        json.dump({"n": s["n"] + int(n), "ood": s["ood"] + int(ood)},
                  fh)


def reset_ood_stats(version_dir: str) -> None:
    """Zero the OOD counter — every sidecar reTRAIN resets the
    drift window: freshly trained codes start clean."""
    import os

    path = os.path.join(version_dir, "ood_stats.json")
    if os.path.exists(path):
        os.unlink(path)


def carry_ood_stats(prev_dir: str, version_dir: str) -> None:
    """Carry the streamed-OOD drift window across a CARRY-BOOKS
    refresh (round 13, ADVICE r11 #1): the refreshed sidecar encodes
    against the same books, so drift measured against them is still
    live signal. Resetting here — the pre-round-13 behavior — leaked
    sub-threshold drift out of the window at every split/merge, so
    the ``ood_rebuild_rate`` trigger could never accumulate across
    maintenance cycles (contradicting ``load_ood_stats``'s contract).
    Retrain paths don't call this — ``build_pq_sidecar`` resets."""
    import os
    import shutil

    src = os.path.join(prev_dir, "ood_stats.json")
    dst = os.path.join(version_dir, "ood_stats.json")
    if os.path.exists(src):
        shutil.copyfile(src, dst)
    elif os.path.exists(dst):
        os.unlink(dst)


_BOOKS_TBL = "pq_local_books_tbl"


def _books_table_dir(version_dir: str) -> str:
    import os

    return os.path.join(version_dir, _BOOKS_TBL)


def _books_table_files(version_dir: str) -> list[str]:
    import os

    d = _books_table_dir(version_dir)
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def _pids_manifest_path(parquet_file: str) -> str:
    """Sibling pid manifest of one books-table file: the file's sorted
    partition_ids as a raw int64 .npy (8 bytes/cell, no parquet
    decode). Written alongside every table file since round 13;
    readers fall back to the parquet pid column when the sibling is
    missing (tables written before manifests)."""
    return parquet_file + ".pids.npy"


def _save_books_table(version_dir: str, books_by_pid: dict,
                      rots_by_pid: dict | None,
                      append: bool = False) -> None:
    """Write per-cell books (+rotations) as ONE new parquet file in
    the version's books TABLE (columns: partition_id, m, ksub, books
    flat, rot_mean, rot_comps), rows sorted by partition_id so
    row-group min/max stats prune probe-set reads. ``append=False``
    replaces the table; ``append=True`` only ADDS a file — the
    format's whole point: a streamed append of a never-seen cell's
    books is O(new cells), never a rewrite of every existing cell
    (the npz format's ≥10⁵-cell write-path limit). Appends must carry
    only never-seen pids (both appenders do by construction) —
    enforced here WITHOUT parquet reads (round 13, VERDICT r12 perf
    #2 + continuity #4): a duplicate pid would otherwise shadow
    nondeterministically at read time (``_load_books_table`` folds
    files in uuid-sorted filename order), so the contract violation
    fails LOUDLY at write time. Every table file carries a sibling
    pid MANIFEST (sorted int64 .npy — see ``_pids_manifest_path``);
    the guard range-short-circuits on each manifest's ends and
    intersects in memory, so per-append cost is O(existing files)
    tiny raw reads + O(new cells) data, not O(total cells) parquet
    (which re-made the append-only format quadratic over a stream's
    lifetime). Files from tables written BEFORE manifests fall back
    to the previous footer-stats check (row-group min/max; a
    pid-column read only on genuine range overlap)."""
    import os
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _books_table_dir(version_dir)
    if not append:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    pids = sorted(int(p) for p in books_by_pid)
    if append and pids:
        lo, hi = pids[0], pids[-1]
        batch = np.asarray(pids, dtype=np.int64)
        dup: set = set()
        legacy = []   # files written before pid manifests existed
        for f in _books_table_files(version_dir):
            man = _pids_manifest_path(f)
            if not os.path.exists(man):
                legacy.append(f)
                continue
            # mmap: the sorted manifest's ends are the min/max stats
            # — the healthy monotone-append range check touches two
            # pages, not the whole file (a 10⁷-cell base manifest is
            # ~80 MB; reading it per append would re-make the guard
            # O(total cells))
            existing = np.load(man, mmap_mode="r")
            if (existing.size and int(existing[0]) <= hi
                    and lo <= int(existing[-1])):
                # genuine range overlap (error path or interleave):
                # NOW read the manifest and intersect exactly
                dup.update(int(x)
                           for x in np.intersect1d(np.asarray(existing),
                                                   batch))
        overlapping = []
        for f in legacy:
            md = pq.ParquetFile(f).metadata
            pid_leaf = next(
                i for i in range(len(md.schema))
                if md.schema.column(i).path == "partition_id")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(pid_leaf).statistics
                if (st is None or not st.has_min_max
                        or (int(st.min) <= hi and lo <= int(st.max))):
                    overlapping.append(f)
                    break
        if overlapping:
            pid_set = set(pids)
            for f in overlapping:
                t = pq.read_table(
                    f, columns=["partition_id"],
                    filters=[("partition_id", "in", sorted(pid_set))])
                dup.update(int(x)
                           for x in t["partition_id"].to_pylist())
        if dup:
            raise ValueError(
                "books-table append carries pids the table already "
                f"holds ({sorted(dup)[:8]}…): appends must be "
                "never-seen cells only — a duplicate would shadow "
                "nondeterministically at read time")
    rows_m, rows_k, rows_b, rows_rm, rows_rc = [], [], [], [], []
    for p in pids:
        b = np.asarray(books_by_pid[p], dtype=np.float64)
        rows_m.append(int(b.shape[0]))
        rows_k.append(int(b.shape[1]))
        rows_b.append(b.ravel())
        r = (rots_by_pid or {}).get(p)
        rows_rm.append(np.asarray(r["mean"], dtype=np.float64)
                       if r is not None else np.zeros(0))
        rows_rc.append(np.asarray(r["components"],
                                  dtype=np.float64).ravel()
                       if r is not None else np.zeros(0))
    tbl = pa.table({
        "partition_id": pa.array(pids, type=pa.int64()),
        "m": pa.array(rows_m, type=pa.int32()),
        "ksub": pa.array(rows_k, type=pa.int32()),
        "books": pa.array([x.tolist() for x in rows_b],
                          type=pa.list_(pa.float64())),
        "rot_mean": pa.array([x.tolist() for x in rows_rm],
                             type=pa.list_(pa.float64())),
        "rot_comps": pa.array([x.tolist() for x in rows_rc],
                              type=pa.list_(pa.float64())),
    })
    out = os.path.join(d, f"books-{uuid.uuid4().hex}.parquet")
    pq.write_table(tbl, out)
    # sibling pid manifest, parquet first and RENAMED into place: a
    # crash before the write leaves a manifest-less file (readers
    # fall back to the legacy pid-column path), and a crash MID-write
    # leaves only the temp name — never a truncated .pids.npy that
    # os.path.exists would route np.load onto
    man = _pids_manifest_path(out)
    tmp = man + ".tmp.npy"
    np.save(tmp, np.asarray(pids, dtype=np.int64))
    os.replace(tmp, man)


def _load_books_table(version_dir: str, pids=None
                      ) -> tuple[dict, dict] | None:
    """(books_by_pid, rots_by_pid) from the parquet books table, or
    None when the version has no table. ``pids`` pushes a
    partition_id IN (...) filter into the parquet read — row groups
    whose min/max miss the probe set are never decompressed, so a
    narrow probe over a huge table reads only its cells.

    READ-ONLY / ALIASING contract (ADVICE r12): the returned arrays
    are zero-copy views into Arrow buffers — ``flags.writeable`` is
    False, and every cell loaded from one file aliases one backing
    buffer. Callers must treat loaded books/rotations as immutable
    (all current ones do — encode/ADC paths only read); a mutation
    site must ``.copy()`` first or NumPy raises "assignment
    destination is read-only" far from the cause."""
    import pyarrow.parquet as pq

    files = _books_table_files(version_dir)
    if not files:
        return None
    filters = None
    if pids is not None:
        filters = [("partition_id", "in",
                    [int(p) for p in pids])]

    def _list_col(t, name):
        # columnar decode (ADVICE r11): one zero-copy flat buffer +
        # offsets per column per file, never a per-row .as_py()
        arr = t.column(name).combine_chunks()
        flat = arr.values.to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False)
        offs = arr.offsets.to_numpy()
        return flat, offs

    books: dict = {}
    rots: dict = {}
    for f in files:
        t = pq.read_table(f, filters=filters)
        if not t.num_rows:
            continue
        pid_a = t.column("partition_id").to_numpy()
        m_a = t.column("m").to_numpy()
        k_a = t.column("ksub").to_numpy()
        b_flat, b_off = _list_col(t, "books")
        rm_flat, rm_off = _list_col(t, "rot_mean")
        rc_flat, rc_off = _list_col(t, "rot_comps")
        for i in range(t.num_rows):
            p, m, k = int(pid_a[i]), int(m_a[i]), int(k_a[i])
            flat = b_flat[b_off[i]:b_off[i + 1]]
            books[p] = flat.reshape(m, k, flat.size // (m * k))
            rm = rm_flat[rm_off[i]:rm_off[i + 1]]
            if rm.size:
                rc = rc_flat[rc_off[i]:rc_off[i + 1]]
                rots[p] = {"mean": rm,
                           "components": rc.reshape(rm.size,
                                                    rm.size)}
    return books, rots


def save_local_books(version_dir: str, books_by_pid: dict,
                     rots_by_pid: dict | None = None,
                     fmt: str | None = None,
                     new_pids=None) -> None:
    """Persist per-partition (local) PQ codebooks. Two formats:

    ``npz`` (default for new sidecars): ONE npz keyed ``books_{pid}``
    — size is P · m · ksub · dsub doubles, metadata scale at moderate
    partition counts, trivially seekable, atomic with the rotations
    (``rotm_{pid}``/``rotc_{pid}`` ride the same file).

    ``table`` (round 11 — the ≥10⁵-cell write path): a parquet table
    keyed by partition_id. Streamed appends of never-seen cells pass
    ``new_pids`` and only ADD a file holding those cells — existing
    files are never rewritten — while the npz format rewrites the
    whole archive per append. Reads push the probe set into the
    parquet filter (row-group pruning), so the query side is
    probe-proportional in both formats.

    ``fmt=None`` auto-detects: whichever format the version already
    persists wins (so every existing call site — appenders,
    maintenance — keeps the sidecar's build-time format); a fresh
    sidecar defaults to npz."""
    import os

    if fmt is None:
        fmt = ("table" if _books_table_files(version_dir)
               else "npz")
    if fmt == "table":
        if new_pids is not None and _books_table_files(version_dir):
            newb = {int(p): books_by_pid[int(p)] for p in new_pids}
            newr = ({int(p): rots_by_pid[int(p)] for p in new_pids
                     if rots_by_pid and int(p) in rots_by_pid}
                    or None)
            _save_books_table(version_dir, newb, newr, append=True)
        else:
            _save_books_table(version_dir, books_by_pid, rots_by_pid,
                              append=False)
        # a stale npz from a previous format must never shadow
        npz = os.path.join(version_dir, "pq_local_books.npz")
        if os.path.exists(npz):
            os.unlink(npz)
        return
    if new_pids is not None:
        # append semantics on the npz = merge-and-rewrite (its
        # documented limit): the caller's dict may be a LAZY cache
        # holding only the batch's cells, so fold the new cells into
        # the persisted archive rather than trusting the dict to be
        # exhaustive
        existing = load_local_books(version_dir) or {}
        existing_rots = load_local_rots(version_dir) or {}
        for p in new_pids:
            existing[int(p)] = books_by_pid[int(p)]
            if rots_by_pid and int(p) in rots_by_pid:
                existing_rots[int(p)] = rots_by_pid[int(p)]
        books_by_pid = existing
        rots_by_pid = existing_rots or None
    payload = {f"books_{int(p)}": b for p, b in books_by_pid.items()}
    if rots_by_pid:
        for p, r in rots_by_pid.items():
            payload[f"rotm_{int(p)}"] = r["mean"]
            payload[f"rotc_{int(p)}"] = r["components"]
    np.savez(os.path.join(version_dir, "pq_local_books.npz"),
             **payload)
    import shutil

    shutil.rmtree(_books_table_dir(version_dir), ignore_errors=True)


def load_local_book_pids(version_dir: str) -> set | None:
    """The SET of cells the local sidecar has books for — without
    loading any books. Table format: the per-file pid MANIFESTS
    (raw sorted int64 .npy — no parquet decode; the pre-manifest
    pid-column read remains as the fallback for legacy files); npz:
    the key listing (no decompression). Lets the appenders detect
    never-seen cells at O(cells) bytes of pids instead of O(cells)
    books (round 11; manifests round 13)."""
    import os

    files = _books_table_files(version_dir)
    if files:
        import pyarrow.parquet as pq

        out: set = set()
        for f in files:
            man = _pids_manifest_path(f)
            if os.path.exists(man):
                # raw int64 manifest (round 13): 8 bytes/cell, no
                # parquet decode — what keeps a stream's attach-time
                # pid-set load cheap at the ≥10⁷-cell target
                out.update(int(x) for x in np.load(man))
                continue
            t = pq.read_table(f, columns=["partition_id"])
            out.update(int(x) for x in t["partition_id"].to_pylist())
        return out
    path = os.path.join(version_dir, "pq_local_books.npz")
    if not os.path.exists(path):
        return None
    z = np.load(path)
    return {int(k.split("_", 1)[1]) for k in z.files
            if k.startswith("books_")}


def load_local_books(version_dir: str, pids=None) -> dict | None:
    """Per-partition codebooks of a local (LOPQ) sidecar as
    {pid: [m, ksub_p, dsub]}; None when the version has none.
    ``pids`` restricts the load (parquet filter pushdown for the
    table format; lazy per-key npz access otherwise)."""
    import os

    tbl = _load_books_table(version_dir, pids=pids)
    if tbl is not None:
        return tbl[0]
    path = os.path.join(version_dir, "pq_local_books.npz")
    if not os.path.exists(path):
        return None
    z = np.load(path)
    if pids is not None:
        want = {f"books_{int(p)}" for p in pids}
        return {int(k.split("_", 1)[1]): z[k] for k in z.files
                if k in want}
    return {int(k.split("_", 1)[1]): z[k] for k in z.files
            if k.startswith("books_")}


def load_local_rots(version_dir: str, pids=None) -> dict | None:
    """Per-cell rotations of a full-LOPQ sidecar as
    {pid: {"mean", "components"}}; None when the sidecar is unrotated
    (plain per-cell books) or absent."""
    import os

    tbl = _load_books_table(version_dir, pids=pids)
    if tbl is not None:
        return tbl[1] or None
    path = os.path.join(version_dir, "pq_local_books.npz")
    if not os.path.exists(path):
        return None
    z = np.load(path)
    out = {}
    for k in z.files:
        if k.startswith("rotm_"):
            pid = int(k.split("_", 1)[1])
            if pids is not None and pid not in {int(p) for p in pids}:
                continue
            out[pid] = {"mean": z[k], "components": z[f"rotc_{pid}"]}
    return out or None


def fit_sq8_params(res_src: DataFrame, vec_col: str,
                   levels: int = 256) -> dict:
    """Per-dimension scalar-quantizer bounds over the (residual)
    corpus: one narrow map-partitions pass of elementwise min/max
    partials (two d-vectors per task back to the driver — the same
    boundedness class as the PCA moment partials), combined exactly.
    Returns {"vmin": (d,), "scale": (d,), "levels": n} with
    scale = (vmax−vmin)/(levels−1) and constant dimensions pinned to
    scale 1 (their codes are all 0 and decode exactly to vmin).
    ``levels`` (round 15, VERDICT r14 #7) generalizes the quantizer
    to narrower grids — 16 for the 4-bit SQ4 flavor — without
    touching the decode side: the per-dim scale already carries the
    grid, so ``vmin + code·scale`` stays the exact decode for every
    width."""
    def partials(batches):
        lo, hi = None, None
        for pdf in batches:
            if not len(pdf):
                continue
            # filter nulls BEFORE np.stack — stacking an empty
            # sequence raises, so an all-null batch must be skipped
            # here (pca_project does the same; ADVICE r7)
            vals = pdf[vec_col].dropna().to_numpy()
            if not len(vals):
                continue
            X = np.stack(vals)
            bl, bh = X.min(axis=0), X.max(axis=0)
            lo = bl if lo is None else np.minimum(lo, bl)
            hi = bh if hi is None else np.maximum(hi, bh)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo.astype(float)],
                                "hi": [hi.astype(float)]})

    rows = (res_src.select(vec_col).mapInPandas(
        partials, "lo array<double>, hi array<double>").collect())
    if not rows:
        raise ValueError("fit_sq8_params: empty input")
    lo = np.min([np.asarray(r["lo"]) for r in rows], axis=0)
    hi = np.max([np.asarray(r["hi"]) for r in rows], axis=0)
    levels = int(levels)
    if levels < 2:
        raise ValueError(f"fit_sq8_params: levels must be >= 2, "
                         f"got {levels}")
    scale = (hi - lo) / float(levels - 1)
    scale[scale <= 0] = 1.0
    return {"vmin": lo, "scale": scale, "levels": levels}


def sq8_encode_local(vecs: np.ndarray, vmin: np.ndarray,
                     scale: np.ndarray,
                     levels: int = 256) -> np.ndarray:
    """Quantize rows to integer codes: round((x − vmin)/scale),
    clipped to [0, levels−1]. Pure NumPy twin of the distributed
    encoder."""
    codes = np.rint((np.asarray(vecs, dtype=np.float64) - vmin)
                    / scale)
    return np.clip(codes, 0, int(levels) - 1).astype(np.int64)


def _encode_sq8_sidecar(res_src: DataFrame, params: dict,
                        id_col: str, vec_col: str) -> DataFrame:
    spark = res_src.sparkSession
    bc = spark.sparkContext.broadcast((params["vmin"],
                                       params["scale"],
                                       int(params["levels"])))

    def encode(batches):
        vmin, scale, levels = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf[vec_col].to_numpy())
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "pq_codes": list(sq8_encode_local(X, vmin, scale,
                                                  levels)),
                "partition_id": pdf["partition_id"]
                .to_numpy(dtype=np.int64),
            })

    return (res_src.select(id_col, "partition_id", vec_col)
            .mapInPandas(encode, f"{id_col} long, "
                                 "pq_codes array<int>, "
                                 "partition_id long"))


def save_sq8_params(version_dir: str, params: dict) -> None:
    import os

    np.savez(os.path.join(version_dir, "sq8_params.npz"),
             vmin=params["vmin"], scale=params["scale"],
             levels=np.int64(params["levels"]))


def load_sq8_params(version_dir: str) -> dict | None:
    import os

    path = os.path.join(version_dir, "sq8_params.npz")
    if not os.path.exists(path):
        return None
    z = np.load(path)
    return {"vmin": z["vmin"], "scale": z["scale"],
            "levels": int(z["levels"])}


_LOCAL_SIDECAR_CACHE: dict = {}


def _load_local_sidecar_cached(version_dir: str, pids=None):
    """(books, rots) for a local sidecar, cached per version dir and
    keyed by the npz's mtime — serving loops (and any repeated
    ``knn_ivf_pq`` calls against one version) stop re-reading the
    whole books file per call, while streaming appends, which rewrite
    the npz, still invalidate on the mtime change. Bounded: the cache
    keeps only the few most recent version dirs.

    ``pids`` (round 11): materialize ONLY those cells' books and
    rotations — npz entries decompress lazily per key, so the query
    path's driver memory is proportional to the PROBED cells, not the
    index's cell count (the ≥10⁵-partition regime where loading every
    cell's books is itself the bottleneck — save_local_books'
    documented limit). The cache accumulates cells across calls, so a
    serving loop converges to touching only cold cells. ``pids=None``
    keeps the old load-everything behavior (bench decodes, tests).
    Returns rots=None when the npz carries no rotations at all."""
    import os

    tbl_files = _books_table_files(version_dir)
    if tbl_files:
        # table format: staleness tag = the file set + sizes (appends
        # add files; rebuilds replace the set)
        mt = tuple((os.path.basename(f), os.path.getsize(f))
                   for f in tbl_files)
    else:
        mt = os.path.getmtime(os.path.join(version_dir,
                                           "pq_local_books.npz"))
    hit = _LOCAL_SIDECAR_CACHE.get(version_dir)
    if hit is None or hit["mt"] != mt:
        while len(_LOCAL_SIDECAR_CACHE) >= 4:
            _LOCAL_SIDECAR_CACHE.pop(next(iter(_LOCAL_SIDECAR_CACHE)))
        hit = {"mt": mt, "books": {}, "rots": {}, "loaded": set(),
               "full": False, "has_rots": None}
        _LOCAL_SIDECAR_CACHE[version_dir] = hit
    if pids is None:
        if not hit["full"]:
            hit["books"] = load_local_books(version_dir)
            hit["rots"] = load_local_rots(version_dir) or {}
            hit["has_rots"] = bool(hit["rots"])
            hit["full"] = True
    else:
        need = {int(p) for p in pids} - hit["loaded"]
        if need and not hit["full"]:
            if tbl_files:
                # parquet filter pushdown: row groups outside the
                # probe set never decompress — probe-proportional by
                # construction, no per-key-open penalty to special-
                # case (unlike the npz's zip members)
                bks, rts = _load_books_table(version_dir, pids=need)
                hit["books"].update(bks)
                hit["rots"].update(rts)
                if hit["has_rots"] is None:
                    # rotation presence is a whole-sidecar property;
                    # any loaded cell answers it (every cell of a
                    # rotated sidecar has one)
                    hit["has_rots"] = bool(rts) or None
                hit["loaded"] |= need
                return (hit["books"],
                        (hit["rots"] if hit["has_rots"] else None))
            npz_path = os.path.join(version_dir,
                                    "pq_local_books.npz")
            z = np.load(npz_path)
            files = set(z.files)
            if hit["has_rots"] is None:
                hit["has_rots"] = any(k.startswith("rotm_")
                                      for k in files)
            n_cells = sum(1 for k in files if k.startswith("books_"))
            if len(need) >= max(1, n_cells // 2):
                # wide probe set (a big query batch touching most
                # cells): one bulk read beats per-key zip-member
                # opens (~ms each — measured +0.6 s at 251 cells on
                # the 400k serving stack)
                hit["books"] = load_local_books(version_dir)
                hit["rots"] = load_local_rots(version_dir) or {}
                hit["full"] = True
            else:
                for p in need:
                    bk = f"books_{p}"
                    if bk in files:
                        hit["books"][p] = z[bk]
                    rk = f"rotm_{p}"
                    if rk in files:
                        hit["rots"][p] = {"mean": z[rk],
                                          "components": z[f"rotc_{p}"]}
                hit["loaded"] |= need
    return hit["books"], (hit["rots"] if hit["has_rots"] else None)


def _cell_book_seed(seed: int, pid: int) -> int:
    """Deterministic per-cell seed base — a function of (seed, pid)
    only, so training is independent of partition count, row order,
    and which executor the cell lands on."""
    return int(seed + 1_000_003 * (int(pid) + 1))


def train_local_books(res_src: DataFrame, m: int, ksub: int,
                      seed: int, cell_sample_n: int,
                      id_col: str, vec_col: str,
                      iters: int = 8, rotate: bool = False,
                      opq_iters: int = 1,
                      anisotropic: float | None = None,
                      cents: dict | None = None
                      ) -> tuple[dict, dict | None]:
    """Train one PQ codebook set PER PARTITION on that cell's residuals
    — the local product quantization of Kalantidis & Avrithis (LOPQ,
    CVPR'14): a single global codebook must model the union of every
    cell's residual distribution, while per-cell books spend their full
    ksub budget on ONE cell's (far tighter, locally-oriented) residual
    cloud. Training is a grouped-map pass: each cell fits entirely
    in one executor task (cells are the index's partition unit), the
    per-cell sample is capped deterministically by a splitmix-style
    id hash (order- and partitioning-independent), and only the
    codebooks — not the vectors — come back to the driver.

    ``rotate=True`` is FULL LOPQ: each cell additionally learns its
    OWN OPQ rotation (``opq_refine_local`` per cell — eigenvalue-
    allocation init, ``opq_iters`` codebook↔Procrustes alternations)
    before its books are trained, so the subspace decomposition
    itself adapts to the cell's local covariance — the paper's whole
    point is that residual clouds are locally oriented, which a
    per-cell rotation exploits and per-cell books alone cannot.
    Each cell's fit is still driver-free (runs inside the same
    grouped-map task, pure NumPy on the bounded sample) and
    deterministic (seeded per cell via ``_cell_book_seed``).

    ``anisotropic=η`` (round 10 — the aniso × LOPQ rung): each cell
    trains SCORE-AWARE books via the identical ``_aniso_train_local``
    alternation the global trainer runs, with per-row directions
    rebuilt inside the task as normalize(r + c_p) from the broadcast
    ``cents`` snapshot — the per-cell twin of the residual
    composition's direction rule. ``anisotropic + rotate`` (late
    round 10) is the FULL per-cell composition: each cell fits the
    eigenvalue-allocation rotation (``_eigalloc_rotation``) and
    aniso-trains its books in its own rotated space with the
    direction transported x̂_p @ R_pᵀ — exact for orthogonal R_p, per
    cell, by the same argument as the global rotate flavor. With
    ``opq_iters ≥ 1`` (round 13) each cell instead runs the
    SCORE-AWARE iterative alternation (``aniso_opq_refine_local`` —
    aniso books ↔ MM-Procrustes) inside its grouped-map task,
    refining the cell's rotation against the anisotropic loss itself;
    ``opq_iters = 0`` keeps the historical init-only fit bit-for-bit
    (the engagement rule matches the global aniso flavor's, so an
    explicit 1 is never silently ignored).

    Returns ``(books_by_pid, rots_by_pid)`` — books {pid: [m, ksub_p,
    dsub]} with ksub_p = min(ksub, |cell sample|) (a small cell gets
    exactly as many codewords as it has distinct support for, never
    empty clusters); rots {pid: {"mean", "components"}} or None when
    ``rotate`` is off."""
    if anisotropic is not None and cents is None:
        raise ValueError("train_local_books: anisotropic needs the "
                         "encode-time centroid snapshot (cents)")
    from quake_vector_search_spark.operators.kmeans import local_kmeans

    def fit(key, pdf):
        pid = int(key[0])
        n = len(pdf)
        if n == 0:
            return pd.DataFrame({"partition_id": [], "ksub": [],
                                 "books": [], "rot_mean": [],
                                 "rot_comps": []})
        if n > cell_sample_n:
            ids = pdf[id_col].to_numpy(dtype=np.uint64)
            h = (ids * np.uint64(0x9E3779B97F4A7C15)
                 + np.uint64(seed)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            order = np.lexsort((ids, h))[:cell_sample_n]
            pdf = pdf.iloc[order]
            n = cell_sample_n
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        d = X.shape[1]
        dsub = d // m
        ksub_p = min(ksub, n)
        base = _cell_book_seed(seed, pid)
        if anisotropic is not None:
            orig = X + cents[pid]
            dirs = orig / np.maximum(
                np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
            if rotate and opq_iters >= 1:
                # per-cell SCORE-AWARE iterative OPQ (round 13): the
                # same aniso_opq_refine_local alternation the global
                # flavor runs, on this cell's residual sample — the
                # cell's rotation is refined against the anisotropic
                # loss instead of staying at the eigalloc init
                # (opq_iters = 0 keeps the historical init-only path
                # bit-for-bit — what pre-round-13 metas retrain into;
                # ≥ 1 engages, matching the global flavor's rule)
                model = aniso_opq_refine_local(
                    X, dirs, m=m, ksub=ksub_p,
                    eta=float(anisotropic),
                    opq_iters=int(opq_iters),
                    kmeans_iters=iters, seed=base)
                books = model["books"]
                rot_mean = model["mean"]
                rot_comps = model["components"].ravel()
            else:
                if rotate:
                    mean_p, R_p = _eigalloc_rotation(X, m)
                    X = (X - mean_p) @ R_p.T
                    dirs = dirs @ R_p.T   # unit preserved (R_p orth.)
                    rot_mean, rot_comps = mean_p, R_p.ravel()
                else:
                    rot_mean = np.zeros(0)
                    rot_comps = np.zeros(0)
                books = _aniso_train_local(X, dirs, m=m, ksub=ksub_p,
                                           eta=float(anisotropic),
                                           kmeans_iters=iters,
                                           seed=base)
        elif rotate:
            model = opq_refine_local(X, m=m, ksub=ksub_p,
                                     opq_iters=max(1, opq_iters),
                                     kmeans_iters=iters, seed=base)
            books = model["books"]
            rot_mean, rot_comps = (model["mean"],
                                   model["components"].ravel())
        else:
            books = np.empty((m, ksub_p, dsub), dtype=np.float64)
            for j in range(m):
                books[j], _ = local_kmeans(
                    X[:, j * dsub:(j + 1) * dsub], ksub_p, iters,
                    base + j, final_assign=False)
            rot_mean = np.zeros(0)
            rot_comps = np.zeros(0)
        return pd.DataFrame({"partition_id": [pid],
                             "ksub": [int(books.shape[1])],
                             "books": [books.ravel()],
                             "rot_mean": [rot_mean],
                             "rot_comps": [rot_comps]})

    rows = (res_src.select(id_col, "partition_id", vec_col)
            .groupBy("partition_id")
            .applyInPandas(fit, "partition_id long, ksub int, "
                                "books array<double>, "
                                "rot_mean array<double>, "
                                "rot_comps array<double>")
            .collect())
    out = {}
    rots = {}
    for r in rows:
        flat = np.asarray(r["books"], dtype=np.float64)
        dsub = flat.size // (m * r["ksub"])
        pid = int(r["partition_id"])
        out[pid] = flat.reshape(m, r["ksub"], dsub)
        if rotate:
            mean = np.asarray(r["rot_mean"], dtype=np.float64)
            d = mean.size
            rots[pid] = {
                "mean": mean,
                "components": np.asarray(
                    r["rot_comps"], dtype=np.float64).reshape(d, d)}
    return out, (rots if rotate else None)


def _encode_local_sidecar(res_src: DataFrame, books_by_pid: dict,
                          id_col: str, vec_col: str,
                          rots_by_pid: dict | None = None,
                          anisotropic: float | None = None,
                          cents: dict | None = None) -> DataFrame:
    """Encode residuals against each row's OWN partition's codebooks
    (broadcast dict, one pq_encode_local kernel call per (batch, pid)
    run) — the per-cell twin of ``pq_encode``. With ``rots_by_pid``
    (full LOPQ) each cell's residuals are first projected through that
    cell's own rotation — ``(x_res − mean_p) @ R_pᵀ`` — so codes live
    in the per-cell rotated space the books were trained in. Rows from
    a partition with no trained books (can't happen in the supported
    build / refresh / streaming flows, which keep the books
    exhaustive) are dropped rather than mis-encoded."""
    spark = res_src.sparkSession
    bc = spark.sparkContext.broadcast(
        (books_by_pid, rots_by_pid, cents))
    m = next(iter(books_by_pid.values())).shape[0]

    def encode(batches):
        books, rots, cnts = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pids = pdf["partition_id"].to_numpy(dtype=np.int64)
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            keep = np.ones(len(pdf), dtype=bool)
            for pid in np.unique(pids):
                mask = pids == pid
                bk = books.get(int(pid))
                if bk is None:
                    keep[mask] = False
                    continue
                Xp = X[mask]
                rot = rots.get(int(pid)) if rots else None
                dirs = None
                if anisotropic is not None:
                    # per-cell score-aware direction from the
                    # UNROTATED residual (the rotation transports it
                    # below); batch encode is PURE score-aware — the
                    # streamed-append guard lives in the streaming
                    # path only
                    orig = Xp + cnts[int(pid)]
                    dirs = orig / np.maximum(
                        np.linalg.norm(orig, axis=1, keepdims=True),
                        1e-12)
                if rot is not None:
                    Xp = (Xp - rot["mean"]) @ rot["components"].T
                    if dirs is not None:
                        dirs = dirs @ rot["components"].T
                if anisotropic is not None:
                    codes[mask] = _aniso_encode_local(
                        Xp, bk, float(anisotropic), dirs=dirs)
                else:
                    codes[mask] = pq_encode_local(Xp, bk)
            yield pd.DataFrame({
                id_col: ids[keep],
                "pq_codes": list(codes[keep]),
                "partition_id": pids[keep],
            })

    return (res_src.select(id_col, "partition_id", vec_col)
            .mapInPandas(encode, f"{id_col} long, pq_codes array<int>, "
                                 "partition_id long"))


def _residual_corpus(index, corpus, cent_by_pid: dict | None = None):
    """Subtract each row's partition centroid (closure-broadcast —
    centroid state is metadata-scale) so PQ encodes RESIDUALS: the
    canonical IVFADC formulation (Jégou et al., TPAMI'11). Residual
    magnitudes are a fraction of the raw vectors', so the same m bytes
    quantize a much tighter distribution."""
    if cent_by_pid is None:
        cent_by_pid = {int(p): index.centroids[i].copy()
                       for i, p in enumerate(index.part_ids)}
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent_by_pid)
    id_col, vec_col = index.id_col, index.vec_col

    def gen(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            pids = pdf["partition_id"].to_numpy(dtype=np.int64)
            C = np.stack([cents[int(p)] for p in pids])
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "partition_id": pids,
                vec_col: list(X - C),
            })

    return corpus.select(id_col, "partition_id", vec_col).mapInPandas(
        gen, f"{id_col} long, partition_id long, "
             f"{vec_col} array<double>")


_SIDECAR_FILES = ("pq_codebooks.npy", "pq_rotation.npz",
                  "pq_local_books.npz", "sq8_params.npz",
                  "pq_centroids.npz")


def _load_sidecar(version_dir: str, pids=None
                  ) -> tuple[dict | None, dict]:
    """The PQ sidecar of one version dir as ``(meta, artifacts)`` — the
    ONE reader of the on-disk format (``_publish_sidecar`` is the one
    writer). ``meta`` is pq_meta.json; ``(None, {})`` when the version
    has no sidecar, after a single existence check. The flavor comes
    from the meta; only a global flavor's rotation is told by its
    file's presence (the plain flavors' meta never recorded
    ``rotate``). Artifacts:

    - ``books`` (global codebooks) and ``rotation`` ({mean,
      components}; rotated global flavors only);
    - ``sq8``: the scalar quantizer's {vmin, scale, levels};
    - ``local_books`` / ``local_rots`` (None when unrotated): per-cell
      books and rotations, through the query-side cache;
    - ``snapshot``: a residual flavor's encode-time centroids
      {pid: c}. A residual sidecar without one raises.

    Per-cell state (local books and rotations, snapshot centroids)
    loads only for ``pids``: ``None`` loads every cell, an empty
    collection none — a refresh reads just the meta and the global
    artifacts, a query just its probed cells."""
    import json
    import os

    path = os.path.join(version_dir, "pq_meta.json")
    if not os.path.exists(path):
        return None, {}
    with open(path) as fh:
        meta = json.load(fh)
    art: dict = {}
    if meta.get("sq8"):
        art["sq8"] = load_sq8_params(version_dir)
    elif not meta.get("local"):
        art["books"] = np.load(os.path.join(version_dir,
                                            "pq_codebooks.npy"))
        rot_path = os.path.join(version_dir, "pq_rotation.npz")
        if os.path.exists(rot_path):
            z = np.load(rot_path)
            art["rotation"] = {"mean": z["mean"],
                               "components": z["components"]}
    if pids is not None and not len(pids):
        return meta, art
    if meta.get("local"):
        art["local_books"], art["local_rots"] = (
            _load_local_sidecar_cached(version_dir, pids))
    if meta.get("residual"):
        snap = load_residual_snapshot(version_dir)
        art["snapshot"] = (snap if pids is None else
                           {int(p): snap[int(p)] for p in pids
                            if int(p) in snap})
    return meta, art


def _sidecar_tag(version_dir: str) -> tuple | None:
    """Staleness tag of a version's sidecar for caches that outlive a
    call (the ingest appenders' books cache); None without a sidecar.
    It covers the params files (mtime, size), an md5 of the first
    64 KiB of the first one, and an md5 of pq_meta.json: a same-flavor
    rebuild into the same version dir must invalidate, and two
    rebuilds inside the filesystem timestamp granularity defeat mtime
    alone (ADVICE r7/r8). Retrained books practically never share
    their leading bytes; a books table's appends add files."""
    import hashlib
    import json
    import os

    meta_path = os.path.join(version_dir, "pq_meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path, "rb") as fh:
        raw = fh.read()
    meta = json.loads(raw)
    files = ((meta.get("local") and _books_table_files(version_dir))
             or [os.path.join(version_dir,
                              "sq8_params.npz" if meta.get("sq8")
                              else "pq_local_books.npz"
                              if meta.get("local")
                              else "pq_codebooks.npy")])
    with open(files[0], "rb") as fh:
        head = hashlib.md5(fh.read(65536)).hexdigest()
    return (tuple((f, os.path.getmtime(f), os.path.getsize(f))
                  for f in files), head, hashlib.md5(raw).hexdigest())


def _publish_sidecar(index, meta: dict, artifacts: dict,
                     codes_df: DataFrame) -> None:
    """Write the index's current version's PQ sidecar — the ONE writer
    of the format ``_load_sidecar`` reads. The codes land partitioned
    exactly like the corpus (same partition_id pruning); then every
    other sidecar file is deleted, so a rebuild into the same version
    dir never leaves a previous flavor's file behind; then the
    artifacts present (keys as the loader returns them); pq_meta.json
    last."""
    import json
    import os
    import shutil

    vd = index.version_dir
    (codes_df.write.mode("overwrite").partitionBy("partition_id")
        .parquet(os.path.join(vd, "pq")))
    for f in _SIDECAR_FILES:
        if os.path.exists(os.path.join(vd, f)):
            os.unlink(os.path.join(vd, f))
    shutil.rmtree(_books_table_dir(vd), ignore_errors=True)
    a = artifacts
    if "books" in a:
        np.save(os.path.join(vd, "pq_codebooks.npy"), a["books"])
    if "rotation" in a:
        np.savez(os.path.join(vd, "pq_rotation.npz"),
                 mean=a["rotation"]["mean"],
                 components=a["rotation"]["components"])
    if "local_books" in a:
        save_local_books(vd, a["local_books"],
                         rots_by_pid=a["local_rots"],
                         fmt=meta["books_format"])
    if "sq8" in a:
        save_sq8_params(vd, a["sq8"])
    if "snapshot" in a:
        save_residual_snapshot(vd, a["snapshot"])
    with open(os.path.join(vd, "pq_meta.json"), "w") as fh:
        json.dump(meta, fh)


def _encode_sidecar(index, src: DataFrame, meta: dict,
                    art: dict) -> DataFrame:
    """Codes of ``src`` — the corpus, or its residuals against
    ``art["snapshot"]`` for residual flavors — under the flavor's
    artifacts; shared by the build and the carry refresh."""
    id_col, vec_col = index.id_col, index.vec_col
    if meta.get("sq8"):
        return _encode_sq8_sidecar(src, art["sq8"], id_col, vec_col)
    if meta.get("local"):
        return _encode_local_sidecar(src, art["local_books"], id_col,
                                     vec_col,
                                     rots_by_pid=art["local_rots"],
                                     anisotropic=meta.get("anisotropic"),
                                     cents=art["snapshot"])
    if meta.get("anisotropic") is not None:
        # the rotation applies INSIDE the encoder: the score-parallel
        # direction is rebuilt from the unrotated rows (+ snapshot)
        return aniso_pq_encode(src, art["books"],
                               eta=float(meta["anisotropic"]),
                               id_col=id_col, vec_col=vec_col,
                               keep_cols=("partition_id",),
                               cents=art.get("snapshot"),
                               rot=art.get("rotation"))
    if "rotation" in art:
        src = _rotate_corpus(index, src, art["rotation"])
    return pq_encode(src, art["books"], id_col=id_col, vec_col=vec_col,
                     keep_cols=("partition_id",))


# Scale-default boundaries (round 13, VERDICT r12 missing #1 / r11
# #3). Below them the resolved defaults are EXACTLY the historical
# ones (driver-bounded trainer, npz books), so every bit-pinned
# artifact built at test scale stays valid; at or above them the
# scale path engages automatically — a 100 TB user following the
# README no longer needs to know the flags.
AUTO_DISTRIBUTED_TRAIN_ROWS = 2_000_000   # ≳20× the default sample_n
AUTO_BOOKS_TABLE_CELLS = 10_000           # npz rewrites whole archive


def _resolve_scale_defaults(n_rows: int, n_cells: int, local: bool,
                            distributed_train: bool | None,
                            books_format: str | None,
                            trains_global_books: bool = True
                            ) -> tuple[bool, str]:
    """Resolve the two scale-sensitive ``build_pq_sidecar`` knobs when
    the caller left them at ``None`` (= auto). Explicit values are
    never overridden. Auto picks the distributed codebook trainer
    once the corpus outgrows what the driver-bounded sampler can
    represent well (``AUTO_DISTRIBUTED_TRAIN_ROWS``), and the
    append-only parquet books table once a LOCAL sidecar's cell count
    makes npz archive rewrites the dominant append cost
    (``AUTO_BOOKS_TABLE_CELLS``). ``trains_global_books=False``
    (local/sq8 flavors — nothing downstream reads the
    flag) suppresses the distributed auto-select and its advisory: a
    warning about a trainer that never runs is noise. Pure function —
    the boundary is pinned by tests without building threshold-sized
    indexes."""
    import warnings

    if distributed_train is None:
        distributed_train = (trains_global_books
                             and n_rows >= AUTO_DISTRIBUTED_TRAIN_ROWS)
        if distributed_train:
            warnings.warn(
                f"build_pq_sidecar: corpus has {n_rows} rows ≥ "
                f"{AUTO_DISTRIBUTED_TRAIN_ROWS}; auto-selecting "
                "distributed_train=True (driver-bounded sampler "
                "would cap training quality at this scale) — pass "
                "distributed_train=False to override")
    if books_format is None:
        books_format = ("table"
                        if local and n_cells >= AUTO_BOOKS_TABLE_CELLS
                        else "npz")
        if books_format == "table":
            warnings.warn(
                f"build_pq_sidecar: local sidecar spans {n_cells} "
                f"cells ≥ {AUTO_BOOKS_TABLE_CELLS}; auto-selecting "
                "books_format='table' (npz rewrites the whole "
                "archive per streamed append at this cell count) — "
                "pass books_format='npz' to override")
    return bool(distributed_train), books_format


def build_pq_sidecar(index, m: int = 8, ksub: int = 256,
                     seed: int = 99, sample_n: int = 100_000,
                     rotate: bool = False,
                     residual: bool = False,
                     opq_iters: int = 0,
                     local: bool = False,
                     cell_sample_n: int = 20_000,
                     sq8: bool = False,
                     sq_bits: int = 8,
                     anisotropic: float | None = None,
                     ood_min_explained: float = 0.05,
                     ood_rebuild_rate: float | None = None,
                     distributed_train: bool | None = None,
                     books_format: str | None = None):
    """Build a PQ codes *sidecar* for a published IVF index version:
    train codebooks on a bounded sample of the live corpus, encode every
    vector, and write the codes Parquet partitioned exactly like the
    corpus (same partition_id layout → same pruning applies). The
    codebooks land next to it as .npy (m·ksub·dsub floats).

    ``rotate=True`` (round 6) trains and encodes in the PCA-ROTATED
    space (the OPQ non-parametric initialization — decorrelated
    subspaces repair PQ's independence assumption); the rotation
    persists as pq_rotation.npz next to the codebooks and
    ``knn_ivf_pq`` applies it to queries automatically. The rerank is
    always in the original space, so accuracy semantics are unchanged
    — only ADC candidate quality improves. ``opq_iters > 0`` (round 7)
    refines that init with the full iterative OPQ alternation
    (``opq_refine_local``) before encoding — same persisted format,
    measurably lower quantization error on correlated data.

    ``residual=True`` (round 6) encodes ``x − centroid(partition)``
    instead of ``x`` — the canonical IVFADC formulation: residuals
    inside a cell span a far tighter distribution than raw vectors,
    so the same code budget carries more precision. ``knn_ivf_pq``
    then builds its ADC lookup tables per (query, probed partition)
    from ``q − c_p`` automatically (flag persisted in pq_meta.json).

    ``rotate + residual`` together (round 7) is the full
    OPQ→IVF→ADC composition (the FAISS-standard index recipe): the
    rotation is fitted ON THE RESIDUALS and codes quantize
    ``((x − c_p) − mean) @ Rᵀ``; the ADC side rotates queries with the
    mean and centroids linearly, so ``q_rot − c_rot`` lands in exactly
    the encode space. Streaming appends already subtract-then-rotate
    in that order.

    ``local=True`` (round 7) trains codebooks PER PARTITION on that
    cell's residuals — locally-optimized PQ (Kalantidis & Avrithis,
    CVPR'14): one global book must model the union of all cells'
    residual clouds, while per-cell books spend the whole ksub budget
    on one cell's tighter, locally-oriented distribution. Implies the
    residual encoding (LOPQ is defined on residuals). Books persist as
    pq_local_books.npz; ``knn_ivf_pq`` builds its ADC tables per
    (query, probed partition) from that partition's books, and only
    the PROBED partitions' books ride the broadcast. Unlike global
    codebooks, per-cell books are LAYOUT-BOUND: maintenance retrains
    them (see ``refresh_pq_sidecar``), and streaming appends train
    books for partitions the sidecar has never seen.

    ``local=True, rotate=True`` is FULL LOPQ (the paper's complete
    recipe): each cell learns its OWN OPQ rotation on its residuals
    (``opq_iters`` alternations; 1 = eigenvalue-allocation init only)
    before training its books — residual clouds are locally ORIENTED,
    so even the subspace decomposition should be per-cell. Rotations
    persist inside pq_local_books.npz (``rotm_/rotc_`` keys — one
    file keeps books+rotations atomic); the ADC stage projects
    ``q − c_p`` through the probed cell's rotation, and streaming
    appends fit a rotation for partitions born after the build.

    The sidecar belongs to ONE index version: maintenance (split/merge)
    publishes a new version dir, so its sidecar must be rebuilt — the
    same compaction contract any secondary structure has.

    Streaming-append contract for ``anisotropic`` sidecars (round 10):
    the batch encoder here always uses the pure score-aware
    assignment, but STREAMED appends go through
    ``aniso_encode_streamed``, which falls back to the plain
    MSE-optimal code for out-of-distribution rows whose score-aware
    code would retain less than ``ood_min_explained`` (default 5%) of
    their residual energy — otherwise a fresh streamed vector could
    be unreachable through ADC candidates until the next sidecar
    rebuild (see that function's docstring for the measured failure).
    The threshold persists in pq_meta.json so a serving team can tune
    it per sidecar (0.0 = never fall back / pure score-aware; 1.0 =
    streamed appends always take the MSE code); the
    ``aniso_mips_n40k.streamed_ood`` bench point is the measurement
    hook.
    """
    from quake_vector_search_spark.operators.pca import fit_pca

    corpus = index.read_corpus()
    # scale-default auto-select (round 13): None = auto; explicit
    # values always win. Row/cell counts come from the index's own
    # driver-side bookkeeping — no extra scan. (getattr: the
    # validation-gate tests drive this with a bare fake index.)
    # The caller's INTENT (None vs explicit) is recorded in pq_meta
    # so maintenance retrains re-resolve auto against the GROWN
    # corpus instead of pinning the build-time resolution forever.
    _dt_intent, _fmt_intent = distributed_train, books_format
    _sizes = getattr(index, "sizes", ())
    distributed_train, books_format = _resolve_scale_defaults(
        int(np.sum(_sizes)) if len(_sizes) else 0,
        len(getattr(index, "part_ids", ())),
        local, distributed_train, books_format,
        trains_global_books=not local and not sq8)
    if books_format not in ("npz", "table"):
        raise ValueError(f"books_format must be 'npz' or 'table', "
                         f"got {books_format!r}")
    if books_format == "table" and not local:
        raise ValueError("books_format='table' applies to LOCAL "
                         "(per-cell) sidecars — global flavors keep "
                         "one broadcast-scale codebook file")
    if anisotropic is not None:
        # ANISOTROPIC flavor (round 8): score-aware books + codes for
        # COSINE indexes — the corpus is unit-normalized there, so the
        # dot ordering the anisotropic loss preserves IS the L2
        # ordering the ADC stage ranks by; raw-L2 indexes gain nothing
        # from a score-parallel weighting and are refused.
        # ``residual=True`` composes (encode r = x − c_p, direction =
        # the ORIGINAL x̂ rebuilt from r + c_p — measured at 8 bytes,
        # η=5 on clustered unit vectors: candidate recall@50 0.832 vs
        # 0.629 for direction-less residual codes).
        # ``rotate=True`` (round 9) composes too: for orthogonal R the
        # anisotropic loss transports EXACTLY into the rotated space —
        # e_orig = e_rot @ R, so training score-aware books on
        # ``(v − mean) @ Rᵀ`` with direction x̂ @ Rᵀ minimizes the
        # original-space loss (see aniso_pq_train). ``opq_iters``
        # (round 13) composes on BOTH rotated flavors: globally,
        # aniso_opq_refine_local alternates score-aware books with an
        # MM-Procrustes rotation update that descends the anisotropic
        # loss itself; with ``local=True`` the same alternation runs
        # inside each cell's grouped-map fit (``train_local_books``,
        # opq_iters ≥ 1 engages — ≤ 0 keeps the eigalloc-init-only
        # fit bit-for-bit). sq8 stays an explicit error.
        if sq8:
            raise ValueError(
                "anisotropic composes with residual=, rotate=, "
                "local= and opq_iters (global rotate) — but not "
                "sq8: a scalar quantizer has no codebooks for the "
                "score-aware alternation to train")
        if opq_iters and not rotate:
            raise ValueError(
                "anisotropic × opq_iters requires rotate=True: the "
                "score-aware Procrustes alternation refines a "
                "rotation — without one the parameter would be "
                "silently ignored (global: one rotation; local: one "
                "per cell, opq_iters ≥ 1 runs the alternation inside "
                "each cell's grouped-map fit)")
        if opq_iters and rotate and float(anisotropic) < 1.0:
            # driver-side twin of aniso_opq_refine_local's eta >= 1
            # refusal (ADVICE r14 low): with local=True that check
            # fires inside per-cell grouped-map EXECUTOR tasks, so
            # the refusal would surface as a mid-job worker
            # PythonException instead of a call-site ValueError
            raise ValueError(
                "anisotropic × rotate × opq_iters requires "
                f"anisotropic (eta) >= 1, got {anisotropic!r}: the "
                "MM-Procrustes surrogate bound needs etaI - W_i PSD "
                "(eta - 1 >= 0); with eta < 1 the rotation update "
                "is not a descent step — use the non-iterative "
                "rotate flavor (opq_iters=0, eigenvalue-allocation "
                "init) instead")
        if index.metric != "cosine":
            raise ValueError(
                "anisotropic sidecars require a cosine index: on "
                "unit vectors dot ordering == L2 ordering, which is "
                "what the score-aware loss preserves")
    if sq8 and (rotate or local or opq_iters):
        raise ValueError(
            "sq8 composes with none of rotate/local/opq_iters — "
            "it has no subspaces to rotate and no codebooks")
    if sq8 and int(sq_bits) not in (4, 8):
        # 4 bits (16 levels, d/2 logical bytes — the SQ4 flavor,
        # round 15 / VERDICT r14 #7) or the classic 8; other widths
        # have no byte-accounting story worth a flavor
        raise ValueError(f"sq_bits must be 4 or 8, got {sq_bits!r}")
    if local and opq_iters and not rotate:
        raise ValueError(
            "local + opq_iters requires rotate=True: iterative "
            "OPQ refines a per-cell ROTATION — without one the "
            "parameter would be silently ignored")
    # every (re)build resets the streamed-OOD drift window (the counter
    # measures appends against THESE books; round 11) — after the
    # gates, so refusals don't touch the index state
    reset_ood_stats(index.version_dir)
    eta = None if anisotropic is None else float(anisotropic)
    cents = None
    if residual or local or sq8:
        # freeze the encode-time centroids: DML drifts the live ones,
        # and the ADC LUTs must match what the codes were quantized
        # against (see save_residual_snapshot). Local and sq8
        # sidecars are always residual-encoded.
        cents = {int(p): index.centroids[i].copy()
                 for i, p in enumerate(index.part_ids)}
    src = corpus if cents is None else _residual_corpus(index, corpus,
                                                        cents)
    art: dict = {} if cents is None else {"snapshot": cents}
    if sq8:
        # IVF+SQ8 (the FAISS IVFScalarQuantizer point on the ladder):
        # one code PER DIMENSION instead of m sub-codes; per-dim
        # bounds are distribution-bound — maintenance carries them
        # forward like global codebooks
        art["sq8"] = out = fit_sq8_params(src, index.vec_col,
                                          levels=1 << int(sq_bits))
        meta = {"residual": True, "sq8": True, "sq_bits": int(sq_bits),
                "m": int(len(out["vmin"])), "ksub": int(out["levels"])}
    elif local:
        # aniso semantics (round 13): opq_iters N ≥ 1 = run the
        # score-aware alternation with N outer iterations, 0 = the
        # flavor-native init (per-cell eigalloc). The non-aniso
        # full-LOPQ path keeps its historical ≥1 coercion
        # (opq_refine_local's 1 = eigalloc-init-only contract).
        out, art["local_rots"] = train_local_books(
            src, m=m, ksub=ksub, seed=seed, cell_sample_n=cell_sample_n,
            id_col=index.id_col, vec_col=index.vec_col, rotate=rotate,
            opq_iters=(int(opq_iters) if eta is not None
                       else max(1, opq_iters)),
            anisotropic=anisotropic, cents=cents)
        art["local_books"] = out
        meta = {"residual": True, "local": True, "m": m,
                "ksub": int(ksub), "seed": int(seed),
                "rotate": bool(rotate),
                # recorded verbatim so retrains and streamed born
                # cells re-run the same per-cell fit
                "opq_iters": ((int(opq_iters)
                               if rotate and int(opq_iters) >= 1 else 0)
                              if eta is not None
                              else (int(max(1, opq_iters))
                                    if rotate else 0)),
                "cell_sample_n": int(cell_sample_n),
                "books_format": books_format,
                # auto intent: maintenance retrains re-run the scale
                # auto-select on the grown index
                "books_format_auto": _fmt_intent is None}
    else:
        # global codebooks. The rotation (OPQ init, or an iterative
        # refinement on a bounded seeded sample — a d×d rotation
        # needs far fewer rows than ksub·m centroids) is fitted on
        # the ENCODE source: residuals when residual=True, since
        # their distribution is what the books model.
        out = None
        if rotate and eta is not None and opq_iters:
            Xs, Xhs = _aniso_sample(src, index.vec_col, seed, 25_000,
                                    cents)
            model = aniso_opq_refine_local(Xs, Xhs, m=m, ksub=ksub,
                                           eta=eta,
                                           opq_iters=int(opq_iters),
                                           seed=seed, parallel_init=True)
            # the joint refinement already trained books on the same
            # bounded sample aniso_pq_train would draw
            out = model["books"]
        elif rotate and opq_iters > 0:
            from quake_vector_search_spark.operators.kmeans import (
                _seeded_sample,
            )

            _, samp = _seeded_sample(src, index.vec_col, index.id_col,
                                     min(sample_n, 25_000), seed)
            model = opq_refine_local(samp, m=m, ksub=ksub,
                                     opq_iters=opq_iters, seed=seed,
                                     parallel_init=True)
        elif rotate:
            model = fit_pca(src, vec_col=index.vec_col)
        if rotate:
            art["rotation"] = {"mean": model["mean"],
                               "components": model["components"]}
        rot = art.get("rotation")
        if eta is None:
            # Lloyd's over a bounded (or, distributed, a hash-stride)
            # sample of the rotated encode source
            trainer = pq_train_distributed if distributed_train else pq_train
            out = trainer(src if rot is None
                          else _rotate_corpus(index, src, rot),
                          m=m, ksub=ksub, seed=seed, sample_n=sample_n,
                          vec_col=index.vec_col)
        elif distributed_train:
            # round 11 (VERDICT r10 #4): sample and alternations stay
            # distributed; a refined rotation is held fixed and the
            # books retrain in its space
            out = aniso_pq_train_distributed(
                src, m=m, ksub=ksub, eta=eta, seed=seed,
                vec_col=index.vec_col, cents=cents, rot=rot)
        elif out is None:
            out = aniso_pq_train(src, m=m, ksub=ksub, eta=eta,
                                 seed=seed, vec_col=index.vec_col,
                                 cents=cents, rot=rot)
        art["books"] = out
        meta = {"residual": bool(residual), "m": m,
                "ksub": int(out.shape[1])}
        if eta is not None:
            meta.update(rotate=bool(rotate), seed=int(seed))
            if opq_iters:
                # maintenance retrains re-run the score-aware
                # alternation from this
                meta["opq_iters"] = int(opq_iters)
        if _dt_intent is not None:
            # EXPLICIT trainer choice carries through maintenance
            # retrains; auto (no key) re-resolves at retrain time
            meta["distributed_train"] = bool(_dt_intent)
    if eta is not None:
        meta.update(anisotropic=eta,
                    ood_min_explained=float(ood_min_explained))
        if ood_rebuild_rate is not None:
            # persisted maintenance knob (round 11): maintain() reads
            # it to decide when streamed-OOD drift warrants a
            # retraining rebuild instead of carrying books forward
            meta["ood_rebuild_rate"] = float(ood_rebuild_rate)
    _publish_sidecar(index, meta, art, _encode_sidecar(index, src, meta,
                                                       art))
    return out


def knn_ivf_pq(index, queries, k: int = 10, target_recall: float = 0.9,
               max_probe: int = 64, oversample: int = 16,
               books: np.ndarray | None = None,
               policy: str = "reference",
               allowed: DataFrame | None = None,
               route_cells: int | None = None):
    """ANN search combining BOTH pruning axes: IVF/APS chooses which
    partitions to read (row pruning), PQ codes shrink what each read
    moves (byte pruning — m codes/vector, stored as ``array<int>``,
    i.e. 4·m bytes before Parquet's encoding, vs 4·d bytes of float32).
    At 100 TB the scan cost drops multiplicatively: (probed fraction) ×
    (m / d).

    Probe selection mirrors IVFIndex.search (APS softmax + adaptive
    nprobe); the scan reads the codes sidecar with the same
    partition_id pruning and the same task sizing; ADC scores per
    (partition, query) on Arrow batches, and each task merges its
    partitions' candidates into every query's top-(k·oversample); the
    global top-(k·oversample) candidates rerank at full precision
    against the live corpus (tombstoned ids drop out at the rerank
    join). Returns (DataFrame(query_id, vec_id, dist, rank), meta) like
    IVFIndex.search.

    ``allowed`` (round 7): optional single-column id DataFrame — the
    pre-filter pattern on the COMPRESSED path. The id set semi-joins
    the codes scan ahead of the ADC kernel, so the filter pays 8-byte
    rows, not full vectors, and candidate slots are never wasted on
    disallowed ids.

    ``route_cells`` (round 7): the same two-level APS restriction as
    IVFIndex.search — scoring and probing restricted to each query's
    nearest coarse cells, for partition counts where even the full
    centroid scan per query is a cost. Composes with a matching
    routed calibration fit; mismatched restrictions refuse (shared
    rule with search()). Out-of-route neighbors are unreachable by
    design.
    """
    import os

    from quake_vector_search_spark.operators.knn import (
        _collect_queries, _empty_result, _scan_topk)

    if index.metric not in ("l2", "cosine"):
        raise NotImplementedError(
            f"PQ sidecar supports l2|cosine, got {index.metric!r}")
    spark = index.spark
    qids, qmat = _collect_queries(queries, "query_id", index.vec_col)
    if index.metric == "cosine" and len(qids):
        # cosine = L2 on unit vectors: the corpus (hence the codebooks
        # and codes) is already normalized at build; normalizing the
        # query makes the whole ADC + rerank pipeline a pure L2 kernel,
        # converted back to similarity at the end
        qmat = qmat / (np.linalg.norm(qmat, axis=1, keepdims=True)
                       + 1e-12)
    if len(qids) == 0:
        return _empty_result(spark, "dist"), index._probe_meta([], {}, 0)

    # the same probe plan as IVFIndex.search, incl. the calibrated
    # rule and the two-level ``route_cells`` restriction
    nprobe, probe_map, scanned = index._plan_probes(
        qmat, target_recall, max_probe, policy, route_cells,
        caller="knn_ivf_pq")

    # the sidecar, with only the PROBED cells' per-cell state (local
    # books and rotations, snapshot centroids — round 11: driver memory
    # ∝ probed cells, never the index's cell count)
    meta, art = _load_sidecar(index.version_dir, pids=set(probe_map))
    if meta is None:
        raise FileNotFoundError(
            f"no PQ sidecar in {index.version_dir} — build_pq_sidecar "
            "first")
    local = bool(meta.get("local"))
    if books is not None:
        art["local_books" if local else "books"] = books
    # a rotated (OPQ) sidecar carries its rotation next to the
    # codebooks; the LUTs must be built in the same space the codes
    # live in. The rerank below stays in the original space.
    rot = art.get("rotation")
    rot_R = None if rot is None else rot["components"]
    qmat_adc = qmat if rot is None else (qmat - rot["mean"]) @ rot_R.T
    if meta["residual"]:
        # residual sidecars (IVFADC) quantize x − c_p, so the ADC
        # tables come from q − c_p PER PROBED PARTITION, built inside
        # the kernel against the ENCODE-TIME centroids (the snapshot,
        # not the live ones DML has drifted; partitions created after
        # it use their live one). Only probed cells' state rides the
        # broadcast.
        snap = art["snapshot"]
        cents = {int(p): snap.get(int(p), index.centroids[i])
                 for i, p in enumerate(index.part_ids)
                 if int(p) in probe_map}
        if rot_R is not None:
            # rotated-residual (OPQ→IVF→ADC): codes live in
            # ((x − c_p) − mean) @ Rᵀ space; qmat_adc already carries
            # (q − mean) @ Rᵀ, so rotating the centroids LINEARLY puts
            # q_rot − c_rot exactly in the encode space
            cents = {p: c @ rot_R.T for p, c in cents.items()}
        bks, rots = art.get("books"), None
        if local:
            bks = {p: b for p, b in art["local_books"].items()
                   if p in probe_map}
            rots = {p: r for p, r in (art["local_rots"] or {}).items()
                    if p in probe_map}
        kernel = _residual_adc_kernel
        state = (qmat_adc, bks, cents, rots, art.get("sq8"))
    else:
        kernel, state = _adc_kernel, _pq_luts(qmat_adc, art["books"])
    id_col = index.id_col
    ids_sql = ",".join(str(p) for p in sorted(probe_map))
    codes = (spark.read.parquet(os.path.join(index.version_dir, "pq"))
             .where(F.expr(f"partition_id IN ({ids_sql})"))
             .select(id_col, "pq_codes", "partition_id"))
    # filtered hybrid search: the id set prunes the CODES scan itself,
    # so disallowed vectors never enter candidate generation; one
    # task per ROWS_PER_TASK probed rows, like search()'s scan
    codes = index._coalesce_probed(
        index._semi_allowed(codes, allowed, "knn_ivf_pq"), probe_map)
    cand = _scan_topk(codes, qids, kernel, state, k * oversample,
                      id_col=id_col, probe_map=probe_map)
    out = exact_rerank(cand.select("query_id", id_col),
                       index.read_corpus(), (qids, qmat), k,
                       id_col=id_col, vec_col=index.vec_col)
    if index.metric == "cosine":
        # unit vectors: dist² = 2 - 2·cos → cos = 1 - dist²/2; rank by
        # dist asc ≡ sim desc, tie-break unchanged
        out = (out.withColumn(
            "sim", 1 - (F.col("dist") * F.col("dist")) / 2)
            .select("query_id", id_col, "sim", "rank"))
    return out, index._probe_meta(nprobe, probe_map, scanned)


def _pq_luts(qmat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """[m, nq, ksub] squared-L2 ADC tables of ``qmat`` against PQ
    codebooks [m, ksub, dsub]."""
    from quake_vector_search_spark.functions.vector import l2_batch

    dsub = books.shape[2]
    return np.stack([l2_batch(qmat[:, j * dsub:(j + 1) * dsub], books[j])
                     for j in range(books.shape[0])])


def _adc_kernel(luts, codes, qpos, pid):
    """ADC scores for ``_scan_topk``: per query, the sum over subspaces
    of its table entry at each row's code."""
    lq = luts[:, qpos]
    approx = np.zeros((lq.shape[1], codes.shape[0]))
    for j in range(lq.shape[0]):
        approx += lq[j][:, codes[:, j]]
    yield approx


def _residual_adc_kernel(state, codes, qpos, pid):
    """Residual ADC scores for ``_scan_topk``: tables from q − c_p of
    the probed partition — its own books (and rotation) for a local
    sidecar; an SQ8 sidecar decodes the codes to residuals instead."""
    from quake_vector_search_spark.functions.vector import l2_batch

    qmat, books, cents, rots, sq8 = state
    qres = qmat[qpos] - cents[pid]
    if sq8 is not None:
        # one multiply-add per dim, exact squared L2 against q − c_p
        yield l2_batch(qres, codes * sq8["scale"] + sq8["vmin"])
        return
    bk = books.get(pid) if isinstance(books, dict) else books
    if bk is None:
        return
    rot = rots.get(pid) if rots else None
    if rot is not None:
        # full LOPQ: codes live in THIS cell's rotated space
        qres = (qres - rot["mean"]) @ rot["components"].T
    dsub = bk.shape[2]
    approx = np.zeros((qres.shape[0], codes.shape[0]))
    for j in range(bk.shape[0]):
        approx += l2_batch(qres[:, j * dsub:(j + 1) * dsub],
                           bk[j])[:, codes[:, j]]
    yield approx


def refresh_pq_sidecar(index, books: np.ndarray | None = None,
                       force_retrain: bool = False) -> bool:
    """Republish the PQ sidecar for the index's CURRENT version from
    the previous version's (maintenance moved rows between partitions
    and bumped the version). Returns False — after one existence
    check — if the previous version had no sidecar. Called by
    maintenance.maintain() so the hybrid search path survives
    split/merge without manual rebuilds.

    Global codebooks, rotations and scalar bounds model the data
    DISTRIBUTION, not the layout: they carry forward unchanged
    (``books`` overrides the carried global codebooks), residual
    flavors re-encode against — and snapshot — the new layout's
    centroids, and the streamed-OOD drift window carries forward too
    (round 13, ADVICE r11 #1: drift is measured against the books, so
    sub-threshold drift must keep accumulating toward the
    ``ood_rebuild_rate`` trigger across maintenance cycles).

    Per-cell (LOPQ) books are LAYOUT-BOUND — split/merge changed the
    cells, so carrying them would pair codes with the wrong residual
    distributions — and ``force_retrain`` (round 11, VERDICT r10 #3:
    maintenance passes it when the streamed-OOD fallback rate says
    the carried books no longer model the drifted data) asks for new
    books outright. Both rebuild through ``build_pq_sidecar`` with the
    hyperparameters in the previous pq_meta.json: explicit
    ``distributed_train`` / ``books_format`` choices are kept, unset
    ones re-resolve against the corpus as it is now, and a global
    flavor that never recorded ``rotate`` takes it from the presence
    of its rotation."""
    import os

    prev_dir = os.path.join(index.workdir, f"v{index.version - 1:04d}")
    meta, art = _load_sidecar(prev_dir, pids=())
    if meta is None:
        return False
    if meta.get("local") or force_retrain:
        build_pq_sidecar(
            index, m=int(meta["m"]), ksub=int(meta["ksub"]),
            seed=int(meta.get("seed", 99)),
            residual=bool(meta["residual"]),
            rotate=bool(meta.get("rotate", "rotation" in art)),
            opq_iters=int(meta.get("opq_iters", 0)),
            local=bool(meta.get("local")),
            cell_sample_n=int(meta.get("cell_sample_n", 20_000)),
            sq8=bool(meta.get("sq8")),
            # a drift-retrained SQ4 sidecar refits on ITS grid
            sq_bits=int(meta.get("sq_bits", 8)),
            anisotropic=meta.get("anisotropic"),
            ood_min_explained=float(meta.get("ood_min_explained", 0.05)),
            ood_rebuild_rate=meta.get("ood_rebuild_rate"),
            distributed_train=meta.get("distributed_train"),
            books_format=(None if meta.get("books_format_auto")
                          else meta.get("books_format")))
        return True
    if books is not None:
        art["books"] = books
    src = index.read_corpus()
    if meta["residual"]:
        art["snapshot"] = {int(p): index.centroids[i].copy()
                           for i, p in enumerate(index.part_ids)}
        src = _residual_corpus(index, src, art["snapshot"])
    _publish_sidecar(index, meta, art, _encode_sidecar(index, src, meta,
                                                       art))
    carry_ood_stats(prev_dir, index.version_dir)
    return True


# ------------------------------------------------- binary quantization

def bq_encode(corpus_df: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding",
              dim: int | None = None) -> DataFrame:
    """1-bit binary quantization: each vector becomes its sign
    bit-pattern, packed ⌈d/64⌉ bits-per-long — 1 bit per dimension vs
    32 (a 32× scan-bandwidth cut below even PQ's 8 bytes at d=64,
    m=8). Unlike SQ8/PQ there is nothing to train: the code is a pure
    per-row Catalyst expression (shift/or over the array), so encoding
    rides whole-stage codegen inside any scan, and hamming distance
    between codes is xor + popcount — the cheapest prerank that
    exists. The quality/bandwidth ladder is BQ(1 bit) < PQ(m bytes) <
    SQ8(d bytes) < float(4d bytes), each with the same exact-rerank
    top."""
    if dim is None:
        nn = (corpus_df.where(F.col(vec_col).isNotNull())
              .select(F.size(F.col(vec_col)).alias("d")).first())
        if nn is None:
            raise ValueError("bq_encode: no non-null vector to infer "
                             "dim from")
        dim = int(nn["d"])
    nwords = -(-dim // 64)
    words = []
    for w in range(nwords):
        lo, hi = w * 64, min(dim, (w + 1) * 64)
        word = F.expr(
            f"aggregate(sequence({lo}, {hi - 1}), 0L, (acc, i) -> "
            f"acc + IF(element_at({vec_col}, i + 1) >= 0, "
            f"shiftleft(1L, i - {lo}), 0L))")
        words.append(word)
    return corpus_df.select(F.col(id_col),
                            F.array(*words).alias("bq_code"))


def knn_bq(corpus_df: DataFrame, queries, k: int = 10,
           oversample: int = 8, id_col: str = "vec_id",
           vec_col: str = "embedding") -> DataFrame:
    """Approximate kNN via binary quantization + exact rerank:

    1. encode the corpus to sign codes (narrow, codegen, no training),
    2. prerank by hamming distance code⊕query-code — packed uint64
       XOR + byte-LUT popcount in NumPy (``_hamming_kernel``) on the
       shared top-k scan (``knn._scan_topk``), like the PQ ADC: each
       task merges its Arrow batches into one top-(k·oversample) per
       query under the engine tie-break (ham asc, id asc); the global
       window then ranks only the ≤ tasks·k·oversample survivors per
       query,
    3. exact rerank of the top-(k·oversample) per query.

    Scale note (VERDICT r7): the previous shape windowed ALL n·nq
    hamming rows — a full shuffle keyed on the (inherently skewed)
    query_id. At 10⁹ vectors × 50 queries that shuffles ~1 TB to keep
    k·oversample·nq rows; the local top-k sheds it map-side, and the
    result is hash-identical (same total order).

    Like the PQ path, corpus-scaled oversample keeps the rerank
    empirically exact on the testdata (brute force is the oracle);
    hamming-on-signs is the coarsest prerank in the family, so it
    needs the largest candidate fraction — the price of 1-bit codes.
    """
    from quake_vector_search_spark.operators.knn import (
        _collect_queries, _empty_result, _scan_topk)

    spark = corpus_df.sparkSession
    qids, qmat = _collect_queries(queries, "query_id", vec_col)
    if len(qids) == 0:
        return _empty_result(spark, "dist")
    dim = qmat.shape[1]
    nwords = -(-dim // 64)

    # driver-side query codes under the SAME sign rule (>= 0)
    qcodes = []
    for qv in qmat:
        ws = []
        for w in range(nwords):
            acc = 0
            for i in range(w * 64, min(dim, (w + 1) * 64)):
                if qv[i] >= 0:
                    acc += 1 << (i - w * 64)
            # wrap to signed 64-bit (bit 63 set → negative long)
            ws.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
        qcodes.append(ws)
    qwords = np.asarray(qcodes, dtype=np.int64).view(np.uint64)
    enc = bq_encode(corpus_df, id_col=id_col, vec_col=vec_col, dim=dim)
    cand = _scan_topk(enc.select(id_col, "bq_code"), qids, _hamming_kernel,
                      qwords, k * oversample, id_col=id_col)
    return exact_rerank(cand.select("query_id", id_col), corpus_df,
                        (qids, qmat), k, id_col=id_col, vec_col=vec_col)


_POPCOUNT = np.array([bin(i).count("1") for i in range(256)],
                     dtype=np.uint8)


def _hamming_kernel(qwords, codes, qpos, pid):
    """Hamming distances code ⊕ query code for ``_scan_topk``: packed
    uint64 XOR, popcount via a 256-entry byte LUT (numpy<2 has no
    bitwise_count), summed over the 8·nwords bytes. The LUT gather and
    the hamming block run per ≤64-query block (ADVICE r8: a full
    [nq, n] int64 matrix is multi-GB at 100k+ collected queries), so
    peak extra memory is the block's 64·n·nwords·64 B ≈ 40 MB at
    default Arrow batch sizes, independent of the collected query-set
    size; per-block top-k selects the same rows as whole-matrix top-k —
    selection is per query row."""
    qw, codes = qwords[qpos], codes.view(np.uint64)
    for q0 in range(0, len(qw), 64):
        x = qw[q0:q0 + 64, None, :] ^ codes[None, :, :]
        yield _POPCOUNT[x.view(np.uint8)].reshape(
            x.shape[0], len(codes), -1).sum(axis=2, dtype=np.int64)


# ------------------------------------------- anisotropic (score-aware) PQ

def _aniso_encode_local(X: np.ndarray, books: np.ndarray, eta: float,
                        passes: int = 2,
                        init_codes: np.ndarray | None = None,
                        dirs: np.ndarray | None = None,
                        threads: int = 1) -> np.ndarray:
    """Score-aware PQ assignment (Guo et al., ICML'20 — ScaNN's
    anisotropic loss): codes minimize

        ℓ(x, codes) = ‖e‖² + (η−1)·(eᵀx̂)² ,  e = x − decode(codes)

    with x̂ the FULL-vector direction — quantization error PARALLEL to
    the datapoint perturbs its inner-product score directly, while
    orthogonal error mostly cancels, so η>1 spends the byte budget
    where MIPS/cosine ranking actually loses. The parallel term
    couples subspaces, so assignment is coordinate descent over
    chunks: per pass, chunk j re-picks its codeword given the running
    residual's ‖e_other‖² and t_other = e_otherᵀx̂ (both maintained
    incrementally — each pass is m [n, ksub] matrix sweeps, same cost
    class as plain encoding × passes). η=1 reduces exactly to plain
    per-chunk argmin. Deterministic: depends only on (x, books, η).

    ``dirs`` overrides the score-parallel direction per row — the
    RESIDUAL composition (IVFADC) encodes r = x − c_p but the score a
    query reads is q·x, so the direction that matters is still the
    ORIGINAL vector's x̂, not the residual's. Measured on clustered
    unit vectors at 8 bytes (plain-trained books, η=5): candidate
    recall@50 0.832 vs 0.629 direction-less residual encoding.

    ``threads`` (round 17) fans the per-row-tile loss assembly over a
    thread pool — rows are independent in coordinate descent and every
    tile op is per-element/per-row, so the result is bit-identical in
    any interleaving (the two dgemms stay monolithic and serial —
    row-chunked dgemm is NOT bit-exact on this BLAS). Driver-side
    callers only; executor tasks keep the default 1."""
    from quake_vector_search_spark.functions.vector import l2_argmin

    m, ksub, dsub = books.shape
    n, d = X.shape
    if dirs is not None:
        Xh = np.asarray(dirs, dtype=np.float64)
    else:
        r = np.linalg.norm(X, axis=1, keepdims=True)
        Xh = X / np.maximum(r, 1e-12)
    codes = init_codes.copy() if init_codes is not None else None
    if codes is None:
        codes = np.empty((n, m), dtype=np.int64)
        for j in range(m):
            Xj = X[:, j * dsub:(j + 1) * dsub]
            # fused tiled assign — bit-equal to argmin(l2_batch(...))
            codes[:, j] = l2_argmin(Xj, books[j])
    if eta == 1.0:
        return codes
    dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                         axis=1)
    E = X - dec
    t = (E * Xh).sum(axis=1)
    e2 = (E ** 2).sum(axis=1)
    # Round 17 (guide §5, VERDICT r16 #1): the coordinate-descent loss
    # used to be assembled on two FULL [n, ksub] float64 buffers per
    # (pass, j) — ~16 DRAM passes over ~50-80 MB each. The two dgemms
    # must stay monolithic (row-chunked dgemm is NOT bit-exact on this
    # OpenBLAS — measured, r16 and re-verified r17), but every other
    # op is per-element/per-row, so the loss assembly + argmin now run
    # over row TILES on reused scratch buffers that stay cache-
    # resident. Per-element expression AND order are IDENTICAL to the
    # r16 form (same adds, same in-place multiplies, same clamp):
    #   max((x2+y2) − 2·xy, 0) + e2_other + (η−1)·((px − sh) + t_o)²
    # so codes are bit-equal; only the DRAM traffic changes (each
    # [n, ksub] buffer is written/read ONCE by its dgemm instead of
    # ~8 times by the assembly). NOTE: the pass-invariant LUT *cache*
    # (keeping XY/SH across passes) was tried in r16 and measured as a
    # memory-bandwidth REGRESSION — this is not that: the buffers are
    # recomputed per (pass, j) exactly as before, just consumed tile-
    # wise from cache instead of re-streamed.
    from quake_vector_search_spark.functions.vector import _scratch_buf

    tile = 2048
    XY = _scratch_buf("aniso_xy", (n, ksub))
    SH = _scratch_buf("aniso_sh", (n, ksub))
    y2 = np.empty(ksub)
    new = np.empty(n, dtype=np.int64)
    pool = None
    spans = None
    if threads > 1 and n > 4 * tile:
        from concurrent.futures import ThreadPoolExecutor
        pool = ThreadPoolExecutor(max_workers=threads)
        per = -(-n // threads)              # ⌈n / threads⌉
        step = max(tile, -(-per // tile) * tile)   # round up to a tile
        spans = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
    try:
        for _ in range(passes):
            for j in range(m):
                Xj = X[:, j * dsub:(j + 1) * dsub]
                Xhj = Xh[:, j * dsub:(j + 1) * dsub]
                C = books[j]
                cur = C[codes[:, j]]
                ej = Xj - cur
                e2_other = e2 - (ej ** 2).sum(axis=1)
                t_other = t - (ej * Xhj).sum(axis=1)
                np.matmul(Xj, C.T, out=XY)             # [n, ksub]
                np.matmul(Xhj, C.T, out=SH)            # [n, ksub]
                x2 = (Xj * Xj).sum(axis=1)
                np.sum(C * C, axis=1, out=y2)
                px = (Xj * Xhj).sum(axis=1)

                def run_span(lo: int, hi: int) -> None:
                    # disjoint row tiles; per-thread scratch — every
                    # element is written before read, so dirty reuse
                    # is safe and each span is bit-equal to the full-
                    # array assembly (all ops are per-element/per-row)
                    width = min(tile, n)
                    buf = _scratch_buf("aniso_t0", (width, ksub))
                    tmp = _scratch_buf("aniso_t1", (width, ksub))
                    for s in range(lo, hi, tile):
                        e = min(s + tile, hi)
                        tl = e - s
                        Dj = buf[:tl]
                        Sj = tmp[:tl]
                        # Dj := l2_batch(Xj, C)[s:e] — same op order
                        np.add(x2[s:e, None], y2[None, :], out=Dj)
                        np.multiply(XY[s:e], 2.0, out=Sj)
                        np.subtract(Dj, Sj, out=Dj)
                        np.maximum(Dj, 0.0, out=Dj)
                        # Sj := (η−1)·((px − SH) + t_o)², r16 op order
                        np.subtract(px[s:e, None], SH[s:e], out=Sj)
                        Sj += t_other[s:e, None]
                        np.multiply(Sj, Sj, out=Sj)
                        Sj *= (eta - 1.0)
                        Dj += e2_other[s:e, None]
                        Dj += Sj
                        # deterministic tie-break: smallest index wins
                        new[s:e] = Dj.argmin(axis=1)

                if pool is not None:
                    list(pool.map(lambda se: run_span(*se), spans))
                else:
                    run_span(0, n)
                ej_new = Xj - C[new]
                e2 = e2_other + (ej_new ** 2).sum(axis=1)
                t = t_other + (ej_new * Xhj).sum(axis=1)
                codes[:, j] = new
    finally:
        if pool is not None:
            pool.shutdown()
    return codes


def aniso_encode_streamed(X: np.ndarray, books: np.ndarray,
                          eta: float,
                          dirs: np.ndarray | None = None,
                          min_explained: float = 0.05,
                          stats: dict | None = None) -> np.ndarray:
    """Score-aware encode with a CANDIDATE-SURFACING guard, used by
    the STREAMING append path only (``streaming/ingest.py::
    _append_pq_codes``) — the batch encoder never falls back.

    Product contract (round 10, closing the rotated-aniso streaming
    seam): the anisotropic loss deliberately tolerates quantization
    error orthogonal to the datapoint — correct for the
    in-distribution corpus the books were trained on, but a freshly
    streamed OUT-OF-DISTRIBUTION vector can be assigned a code that
    retains almost none of its residual energy (measured on the
    rotated×residual composition: the streamed vector's own-code ADC
    distance 0.942 vs 0.659 for the nearest corpus code — the vector
    can never surface in any reasonable ADC candidate set until the
    next sidecar rebuild re-trains on it). Guard: rows whose
    score-aware code explains less than ``min_explained`` of the
    encode vector's energy (err² > (1−min_explained)·‖enc‖²) are
    re-encoded with the plain MSE-optimal per-chunk argmin (η=1),
    which is the best reachable reconstruction under the existing
    books, keeping the streamed vector ADC-reachable. In-distribution
    streamed rows (the common case) take the score-aware code
    unchanged, so streamed ≡ batch encoding still holds for them.

    ``stats`` (round 11, VERDICT r10 #3): when given, the dict's
    ``n``/``ood`` counters are bumped by (rows encoded, rows that
    fell back) so the ingest path can persist a cumulative
    OOD-fallback rate per sidecar (``bump_ood_stats``) — the signal
    ``maintain(ood_rebuild_rate=...)`` watches to schedule a
    retraining rebuild on drifting streams."""
    codes = _aniso_encode_local(X, books, eta, dirs=dirs)
    if stats is not None:
        stats["n"] = stats.get("n", 0) + len(X)
        stats.setdefault("ood", 0)
    if eta == 1.0 or min_explained <= 0.0:
        # min_explained <= 0.0 is the documented "never fall back /
        # pure score-aware" setting; the err² > (1−0)·‖enc‖² form
        # could still fire when the code's error exceeds the vector's
        # energy (ADVICE r10), so skip the guard outright
        return codes
    m = books.shape[0]
    dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                         axis=1)
    err2 = ((X - dec) ** 2).sum(axis=1)
    e2 = (X ** 2).sum(axis=1)
    ood = err2 > (1.0 - min_explained) * e2
    if ood.any():
        codes[ood] = _aniso_encode_local(X[ood], books, 1.0)
        if stats is not None:
            stats["ood"] += int(ood.sum())
    return codes


def _aniso_train_local(X: np.ndarray, Xh: np.ndarray | None,
                       m: int, ksub: int, eta: float,
                       alts: int = 3, kmeans_iters: int = 8,
                       cd_passes: int = 2, seed: int = 99,
                       parallel_init: bool = False) -> np.ndarray:
    """The anisotropic-training core on an in-memory sample — plain
    per-chunk Lloyd's init, then ``alts`` alternations of score-aware
    assignment (``_aniso_encode_local``) with the closed-form weighted
    codeword solve. Factored out of ``aniso_pq_train`` (round 10) so
    the PER-CELL trainer (aniso × LOPQ) can run the identical
    procedure inside a grouped-map task: one cell's residual sample +
    that cell's directions in, that cell's score-aware books out —
    driver-free, deterministic for a given (X, Xh, seed).

    ``parallel_init`` threads the m independent per-chunk Lloyd's fits
    (bit-identical per fit — ``train_subspace_books``); driver-side
    callers enable it, the per-cell grouped-map path must not (the
    executor's cores already belong to sibling tasks). It also fans
    the encode's per-row-tile loss assembly over the same thread
    budget (disjoint row tiles, per-element ops — bit-identical in any
    interleaving; see ``_aniso_encode_local``)."""
    from quake_vector_search_spark.operators.kmeans import (
        train_subspace_books,
    )

    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"d={d} not divisible by m={m}")
    dsub = d // m
    ksub_eff = min(ksub, X.shape[0])
    books = train_subspace_books(X, m, ksub, kmeans_iters, seed,
                                 parallel=parallel_init)
    if eta == 1.0:
        return books
    if Xh is None:
        r = np.linalg.norm(X, axis=1, keepdims=True)
        Xh = X / np.maximum(r, 1e-12)
    # tile-thread budget derived from the box like the trainer pool
    # (pure elementwise tiles — no BLAS inside — so cpu/4 rather than
    # the dgemm-bearing pool's cpu/8; 8 at the measured 32-cpu box)
    import os as _os
    enc_threads = (min(8, max(2, (_os.cpu_count() or 8) // 4))
                   if parallel_init else 1)
    for _ in range(alts):
        codes = _aniso_encode_local(X, books, eta, passes=cd_passes,
                                    dirs=Xh, threads=enc_threads)
        dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                             axis=1)
        t = ((X - dec) * Xh).sum(axis=1)
        for j in range(m):
            Xj = X[:, j * dsub:(j + 1) * dsub]
            Xhj = Xh[:, j * dsub:(j + 1) * dsub]
            cur = books[j][codes[:, j]]
            ej = Xj - cur
            t_other = t - (ej * Xhj).sum(axis=1)
            proj_x = (Xj * Xhj).sum(axis=1)
            newb = books[j].copy()
            # group rows per codeword with ONE stable argsort instead
            # of ksub O(n) np.where scans; each group's indices ascend
            # exactly like np.where's, so every solve sees identical
            # inputs (absent codewords keep the old codeword as before)
            from quake_vector_search_spark.operators.kmeans import (
                _group_slices,
            )
            gidx, starts, ends, uniq = _group_slices(codes[:, j])
            eye = np.eye(dsub)
            for s, e, c in zip(starts, ends, uniq):
                idx = gidx[s:e]
                Mh = Xhj[idx]
                A = (len(idx) * eye
                     + (eta - 1.0) * (Mh.T @ Mh))
                rhs = (Xj[idx].sum(axis=0)
                       + (eta - 1.0) * ((t_other[idx] + proj_x[idx])
                                        [:, None] * Mh).sum(axis=0))
                newb[c] = np.linalg.solve(A, rhs)
            ej_new = Xj - newb[codes[:, j]]
            t = t_other + (ej_new * Xhj).sum(axis=1)
            books[j] = newb
    return books


def _aniso_sample(corpus_df: DataFrame, vec_col: str, seed: int,
                  sample_n: int, cents: dict | None
                  ) -> tuple[np.ndarray, np.ndarray | None]:
    """Bounded xxhash64-seeded driver sample for the anisotropic
    trainers: encode-space rows X plus their score-parallel unit
    directions Xh. With ``cents`` (the residual composition) the
    sampled rows are RESIDUALS and the direction is the ORIGINAL
    vector x = r + c_p (unit on cosine indexes), reconstructed from
    the row's own partition — so the sample carries partition_id
    along. Without it, Xh is None (callers normalize X on demand)."""
    from quake_vector_search_spark.operators.kmeans import (
        _seeded_sample,
    )

    id_col = _infer_id_col(corpus_df)
    if cents is not None:
        # Arrow-path collect: same sorted-limit plan, same float64
        # values, minus the per-row pickle cost of .collect()
        pdf = (corpus_df.select(id_col, vec_col, "partition_id")
               .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
               .limit(sample_n)
               .select(vec_col, "partition_id")
               .toPandas())
        X = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec_col].to_numpy()])
        pid_s = pdf["partition_id"].to_numpy().astype(np.int64)
        orig = X + np.stack([cents[int(p)] for p in pid_s])
        Xh = orig / np.maximum(
            np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
        return X, Xh
    _, X = _seeded_sample(corpus_df, vec_col, id_col, sample_n, seed)
    return X, None


def aniso_opq_refine_local(X: np.ndarray, Xh: np.ndarray | None,
                           m: int, ksub: int, eta: float,
                           opq_iters: int = 3, alts: int = 2,
                           kmeans_iters: int = 8, cd_passes: int = 2,
                           mm_steps: int = 2, seed: int = 99,
                           parallel_init: bool = False) -> dict:
    """Score-aware OPQ (round 13 — closes the aniso × opq_iters
    refusal): jointly refine an orthogonal rotation AND anisotropic
    codebooks against the anisotropic loss itself, alternating

      1. score-aware books in the current rotated space
         (``_aniso_train_local`` — Guo et al., ICML'20) and their
         coordinate-descent assignment, then
      2. a SCORE-AWARE Procrustes rotation update (the step iterative
         OPQ was missing under η): for fixed codes/books, descend

           f(R) = Σᵢ ‖eᵢ‖² + (η−1)(eᵢᵀx̂ᵢ)² ,  eᵢ = zᵢ − ŷᵢR

         over orthogonal R. The (η−1) term breaks the classic SVD
         solution (per-sample weights Wᵢ = I + (η−1)x̂ᵢx̂ᵢᵀ don't
         factor out), so the update is majorize-minimize: since
         ηI − Wᵢ = (η−1)(I − x̂ᵢx̂ᵢᵀ) ⪰ 0, the concave part is
         linearized at the current error e⁰ᵢ, giving the surrogate

           f(R) ≤ Σᵢ η‖zᵢ − ŷᵢR‖² − 2uᵢᵀ(zᵢ − ŷᵢR) + const,
           uᵢ = (η−1)(e⁰ᵢ − (e⁰ᵢᵀx̂ᵢ)x̂ᵢ)

         whose orthogonal minimizer IS a Procrustes problem:
         R = ŪV̄ᵀ from the SVD of M = Ŷᵀ(ηZ − U). Each MM step
         monotonically non-increases f for the fixed codes; at η=1,
         u = 0 and M = ŶᵀZ — exactly the plain OPQ update
         (``opq_refine_local``, Ge et al., CVPR'13).

    Driver-side on the bounded sample like every trainer here.
    Seeded Lloyd's restarts make per-iteration loss non-monotone
    across alternations (same caveat as ``opq_refine_local``), so
    the running BEST (rotation, books) by measured original-space
    anisotropic loss is returned — the refinement can only match or
    beat the eigenvalue-allocation init that the non-iterative
    rotate flavor uses. Returns {"mean", "components", "books",
    "losses", "best_loss"}; ``losses[0]`` is the init's loss.

    Requires ``eta >= 1`` (ADVICE r13): the MM surrogate is a bound
    only because ηI − Wᵢ = (η−1)(I − x̂ᵢx̂ᵢᵀ) ⪰ 0 — with η < 1 the
    inequality flips and the "descent" step can ascend, so the
    composition is refused here rather than silently degrading to
    whatever the best-loss tracking salvages (η < 1 also de-weights
    the score-parallel error, the opposite of what an anisotropic
    sidecar is for — the plain flavors tolerate it, the iterative
    rotation refinement does not)."""
    if float(eta) < 1.0:
        raise ValueError(
            f"aniso_opq_refine_local requires eta >= 1, got {eta!r}: "
            "the MM-Procrustes surrogate bound needs etaI - W_i PSD "
            "(eta - 1 >= 0); with eta < 1 the rotation update is not "
            "a descent step — use the non-iterative rotate flavor "
            "(opq_iters=0, eigenvalue-allocation init) instead")
    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    if Xh is None:
        Xh = X / np.maximum(
            np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    else:
        Xh = np.asarray(Xh, dtype=np.float64)
    mean, R = _eigalloc_rotation(X, m)
    Z = X - mean

    best = None
    losses = []
    n_it = max(1, opq_iters)
    for it in range(n_it):
        Y = Z @ R.T
        XhR = Xh @ R.T          # unit-norm preserved (R orthogonal)
        books = _aniso_train_local(Y, XhR, m=m, ksub=ksub, eta=eta,
                                   alts=alts,
                                   kmeans_iters=kmeans_iters,
                                   cd_passes=cd_passes, seed=seed,
                                   parallel_init=parallel_init)
        import os as _os
        _thr = (min(8, max(2, (_os.cpu_count() or 8) // 4))
                if parallel_init else 1)
        codes = _aniso_encode_local(Y, books, eta, passes=cd_passes,
                                    dirs=XhR, threads=_thr)
        mm = books.shape[0]
        Yhat = np.concatenate([books[j][codes[:, j]]
                               for j in range(mm)], axis=1)
        # original-space anisotropic loss (e_orig = e_rot @ R exactly
        # for orthogonal R — same transport as aniso_pq_train)
        E = Z - Yhat @ R
        t = (E * Xh).sum(axis=1)
        loss = float(((E ** 2).sum() + (eta - 1.0) * (t ** 2).sum())
                     / n)
        losses.append(loss)
        if best is None or loss < best[0]:
            best = (loss, R.copy(), books.copy())
        if it == n_it - 1:
            # the best config is already tracked; a rotation update
            # here would feed no further alternation — skip the
            # mm_steps SVDs (they'd be discarded; per-cell this runs
            # inside every grouped-map fit)
            break
        for _ in range(max(1, mm_steps)):
            E0 = Z - Yhat @ R
            U_mat = (eta - 1.0) * (
                E0 - (E0 * Xh).sum(axis=1, keepdims=True) * Xh)
            M = Yhat.T @ (eta * Z - U_mat)
            Us, _s, Vt = np.linalg.svd(M)
            R = Us @ Vt
    return {"mean": mean, "components": best[1], "books": best[2],
            "losses": losses, "best_loss": best[0]}


def aniso_pq_train(corpus_df: DataFrame, m: int = 8, ksub: int = 256,
                   eta: float = 3.0, alts: int = 3,
                   kmeans_iters: int = 8, cd_passes: int = 2,
                   seed: int = 99, sample_n: int = 25_000,
                   vec_col: str = "embedding",
                   cents: dict | None = None,
                   rot: dict | None = None) -> np.ndarray:
    """Anisotropic PQ codebooks: alternate score-aware assignment
    (``_aniso_encode_local``) with the closed-form weighted codeword
    update. For chunk j's codeword c over its members the stationarity
    condition is

        (n·I + (η−1)·Σ x̂_j x̂_jᵀ) c = Σ x_j + (η−1)·Σ (t_other + x_jᵀx̂_j)·x̂_j

    — a dsub×dsub solve per codeword (dsub=8 at d=64/m=8: trivial).
    Init = plain per-chunk Lloyd's, so η→1 recovers ``pq_train``
    exactly. Driver-side on the same bounded xxhash64 sample as every
    trainer in this module (codebooks are broadcast-scale; the corpus
    never collects). Measured on clustered normalized vectors at 8
    bytes/vector: candidate recall@10·oversample 0.539 vs 0.489 plain
    (oversample 10), 0.341 vs 0.301 (oversample 5) — the byte budget
    moves to score-parallel error, which is what MIPS ranking sees.

    ``rot`` transports the loss through an OPQ rotation (round 9):
    books are trained on ``(x − mean) @ Rᵀ`` with the score-parallel
    direction rotated consistently — for orthogonal R the error maps
    as e_orig = e_rot @ R, so e_orig·x̂ = e_rot·(x̂ @ Rᵀ) exactly: the
    anisotropic loss in the rotated space with direction x̂ @ Rᵀ IS
    the original-space loss, no approximation. Composes with
    ``cents`` (rotated residuals, original-vector direction)."""
    X, Xh = _aniso_sample(corpus_df, vec_col, seed, sample_n, cents)
    if rot is not None:
        if Xh is None:
            Xh = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        X = (X - rot["mean"]) @ rot["components"].T
        Xh = Xh @ rot["components"].T   # unit-norm preserved (R orth.)
    return _aniso_train_local(X, Xh, m=m, ksub=ksub, eta=eta,
                              alts=alts, kmeans_iters=kmeans_iters,
                              cd_passes=cd_passes, seed=seed,
                              parallel_init=True)


def pq_train_distributed(corpus_df: DataFrame, m: int = 8,
                         ksub: int = 256, iters: int = 10,
                         seed: int = 99, sample_n: int = 100_000,
                         init_n: int = 20_000,
                         vec_col: str = "embedding") -> np.ndarray:
    """DISTRIBUTED plain-PQ trainer (round 11, extending VERDICT r10
    #4 beyond the aniso flavor): per-chunk Lloyd's where the sample
    never collects to the driver. Same shape as
    ``aniso_pq_train_distributed`` — hash-stride sample (a FILTER, no
    top-n shuffle), init from a bounded ``init_n`` driver subsample,
    then ``iters`` passes, each ONE mapInPandas over the sample
    emitting per-(chunk, codeword) (count, Σx) partials for ALL m
    chunks at once (plain Lloyd's update is already Jacobi — the mean
    of members — so one pass per iteration is the exact driver
    algorithm, just on a sample the driver could never hold). Empty
    codewords keep their previous position, matching
    ``local_kmeans``'s keep-old rule. Deterministic given the
    sample's task layout (content-sorted combine)."""
    from quake_vector_search_spark.operators.kmeans import (
        _seeded_sample, local_kmeans)

    id_col = _infer_id_col(corpus_df)
    src = corpus_df.select(id_col, vec_col)
    total = src.count()
    stride = max(1, total // max(1, sample_n))
    samp_df = (src.where(F.pmod(F.xxhash64(F.col(id_col),
                                           F.lit(seed)),
                                F.lit(stride)) == 0)
               if stride > 1 else src)
    # persist the ~sample_n-row filtered sample across the ``iters``
    # passes (round 17, guide §5) — same pattern as kmeans_fit: the
    # un-cached form re-scanned the FULL corpus parquet every
    # iteration (measured at n=4M/505 cells: the 10 re-scans were the
    # whole cost of the auto-selected distributed train). persist
    # materializes the same scan layout once, so every per-task
    # partial is bit-identical to the re-scanning form.
    from pyspark import StorageLevel
    samp_df = samp_df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _, Xi = _seeded_sample(samp_df, vec_col, id_col,
                               min(init_n, sample_n), seed)
        d = Xi.shape[1]
        if d % m != 0:
            raise ValueError(f"d={d} not divisible by m={m}")
        dsub = d // m
        ksub_eff = min(ksub, Xi.shape[0])
        books = np.empty((m, ksub_eff, dsub), dtype=np.float64)
        for j in range(m):
            # 0 refinement iters: seeded init only — the distributed
            # passes below ARE the Lloyd iterations
            books[j], _ = local_kmeans(Xi[:, j * dsub:(j + 1) * dsub],
                                       ksub_eff, 0, seed + 1 + j,
                                       final_assign=False)

        spark = corpus_df.sparkSession
        for _ in range(iters):
            bc = spark.sparkContext.broadcast(books)

            def partials(batches):
                from quake_vector_search_spark.functions.vector import (
                    l2_argmin,
                )
                bks = bc.value
                mm, kk, ds = bks.shape
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.vstack(pdf[vec_col].to_numpy()).astype(
                        np.float64)
                    out_j, out_c, out_n, out_s = [], [], [], []
                    from quake_vector_search_spark.operators.kmeans \
                        import _group_slices
                    for j in range(mm):
                        Xj = X[:, j * ds:(j + 1) * ds]
                        a = l2_argmin(Xj, bks[j])
                        # grouped slices: same ascending row sets as the
                        # per-codeword boolean masks, bit-equal sums
                        gidx, starts, ends, uniq = _group_slices(a)
                        for s0, e0, c in zip(starts, ends, uniq):
                            sel = gidx[s0:e0]
                            out_j.append(j)
                            out_c.append(int(c))
                            out_n.append(len(sel))
                            out_s.append(Xj[sel].sum(axis=0))
                    yield pd.DataFrame({"chunk": out_j, "code": out_c,
                                        "n": out_n, "stat": out_s})

            def combine(key, pdf):
                order = sorted(range(len(pdf)),
                               key=lambda i: (int(pdf["n"].iloc[i]),
                                              tuple(pdf["stat"].iloc[i])))
                s = np.zeros(dsub)
                n = 0
                for i in order:
                    n += int(pdf["n"].iloc[i])
                    s = s + np.asarray(pdf["stat"].iloc[i],
                                       dtype=np.float64)
                return pd.DataFrame({"chunk": [int(key[0])],
                                     "code": [int(key[1])],
                                     "n": [n], "stat": [s]})

            rows = (samp_df
                    .mapInPandas(partials,
                                 "chunk int, code int, n long, "
                                 "stat array<double>")
                    .groupBy("chunk", "code")
                    .applyInPandas(combine,
                                   "chunk int, code int, n long, "
                                   "stat array<double>")
                    .collect())
            newb = books.copy()
            for r in sorted(rows, key=lambda r: (r["chunk"], r["code"])):
                if int(r["n"]) > 0:
                    newb[int(r["chunk"])][int(r["code"])] = (
                        np.asarray(r["stat"], dtype=np.float64)
                        / int(r["n"]))
            books = newb
    finally:
        samp_df.unpersist()
    return books


def aniso_pq_train_distributed(corpus_df: DataFrame, m: int = 8,
                               ksub: int = 256, eta: float = 3.0,
                               alts: int = 3, kmeans_iters: int = 8,
                               cd_passes: int = 2, seed: int = 99,
                               sample_n: int = 100_000,
                               init_n: int = 20_000,
                               vec_col: str = "embedding",
                               cents: dict | None = None,
                               rot: dict | None = None) -> np.ndarray:
    """DISTRIBUTED anisotropic-PQ trainer (round 11, VERDICT r10 #4):
    the driver trainer (``aniso_pq_train``) funnels one
    driver-memory-bounded sample and runs every alternation in driver
    NumPy — at 100 TB that caps both codebook quality (sample can't
    grow past the driver) and training throughput. This twin keeps
    the TRAINING SAMPLE distributed end-to-end:

    - sample = a deterministic hash-stride filter
      (``xxhash64(id, seed) % L == 0`` with L sized from the corpus
      count) — a narrow FILTER, no top-n shuffle, no collect; raising
      ``sample_n`` costs executor memory, never driver memory.
    - each alternation is ONE mapInPandas pass: rows re-encode
      against the broadcast books (same ``_aniso_encode_local``
      kernel) and emit per-(chunk, codeword) sufficient statistics —
      count, Σx_j, Σx̂_jx̂_jᵀ, Σ(t_other+x_jᵀx̂_j)·x̂_j — the exact
      terms of the closed-form stationarity solve; a grouped combine
      reduces them to m·ksub rows (metadata scale at any corpus
      size) and the driver solves m·ksub dsub×dsub systems.
    - only the INIT (plain per-chunk Lloyd's) runs on a driver-side
      seeded subsample, capped at ``init_n`` — a fixed bound, not a
      function of corpus size.

    One deliberate variant vs the driver trainer: codeword updates
    are JACOBI (every chunk solves from the same pre-update decode
    state) instead of the driver's Gauss-Seidel chunk sweep, whose
    per-chunk ``t`` update is inherently sequential — Jacobi makes
    each alternation a single distributed pass. Books therefore
    differ numerically from ``aniso_pq_train``'s on the same data
    (both minimize the same score-aware loss; candidate-recall parity
    is pinned in tests). Deterministic given the sample's task
    layout: the combine sums each group's partials in content-sorted
    order (the ``_refresh_partitions`` trick)."""
    from quake_vector_search_spark.operators.kmeans import (
        _seeded_sample, local_kmeans)

    id_col = _infer_id_col(corpus_df)
    cols = [id_col, vec_col] + (["partition_id"]
                                if cents is not None else [])
    src = corpus_df.select(*cols)
    total = src.count()
    stride = max(1, total // max(1, sample_n))
    samp_df = (src.where(F.pmod(F.xxhash64(F.col(id_col),
                                           F.lit(seed)),
                                F.lit(stride)) == 0)
               if stride > 1 else src)
    # persist the filtered sample across the ``alts`` passes (round
    # 17, guide §5) — the un-cached form re-scanned the full corpus
    # parquet per alternation; persist keeps the identical scan
    # layout, so every per-task partial is bit-equal (see the plain
    # trainer's note)
    from pyspark import StorageLevel
    samp_df = samp_df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ---- init: plain per-chunk Lloyd's on a bounded driver sample
        _, Xi = _seeded_sample(samp_df, vec_col, id_col,
                               min(init_n, sample_n), seed)
        if rot is not None:
            Xi = (Xi - rot["mean"]) @ rot["components"].T
        d = Xi.shape[1]
        if d % m != 0:
            raise ValueError(f"d={d} not divisible by m={m}")
        dsub = d // m
        ksub_eff = min(ksub, Xi.shape[0])
        from quake_vector_search_spark.operators.kmeans import (
            train_subspace_books,
        )
        # driver-side init → threaded independent per-chunk fits
        books = train_subspace_books(Xi, m, ksub, kmeans_iters, seed,
                                     parallel=True)
        if eta == 1.0:
            return books

        spark = corpus_df.sparkSession
        stat_width = dsub * dsub + 2 * dsub
        for _ in range(alts):
            bc = spark.sparkContext.broadcast((books, cents, rot))

            def partials(batches):
                bks, cnts, rt = bc.value
                mm, kk, ds = bks.shape
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.vstack(pdf[vec_col].to_numpy()).astype(
                        np.float64)
                    if cnts is not None:
                        pids_b = pdf["partition_id"].to_numpy(
                            dtype=np.int64)
                        orig = X + np.stack([cnts[int(p)]
                                             for p in pids_b])
                        Xh = orig / np.maximum(
                            np.linalg.norm(orig, axis=1, keepdims=True),
                            1e-12)
                    else:
                        Xh = X / np.maximum(
                            np.linalg.norm(X, axis=1, keepdims=True),
                            1e-12)
                    if rt is not None:
                        X = (X - rt["mean"]) @ rt["components"].T
                        Xh = Xh @ rt["components"].T
                    codes = _aniso_encode_local(X, bks, eta,
                                                passes=cd_passes, dirs=Xh)
                    dec = np.concatenate(
                        [bks[j][codes[:, j]] for j in range(mm)], axis=1)
                    t = ((X - dec) * Xh).sum(axis=1)
                    out_j, out_c, out_n, out_s = [], [], [], []
                    for j in range(mm):
                        Xj = X[:, j * ds:(j + 1) * ds]
                        Xhj = Xh[:, j * ds:(j + 1) * ds]
                        cur = bks[j][codes[:, j]]
                        ej = Xj - cur
                        t_other = t - (ej * Xhj).sum(axis=1)
                        w = t_other + (Xj * Xhj).sum(axis=1)
                        # grouped slices (one stable argsort) instead of a
                        # boolean mask per codeword — identical ascending
                        # row sets per group, so every stat is bit-equal
                        from quake_vector_search_spark.operators.kmeans \
                            import _group_slices
                        gidx, starts, ends, uniq = _group_slices(
                            codes[:, j])
                        for s0, e0, c in zip(starts, ends, uniq):
                            sel = gidx[s0:e0]
                            Mh = Xhj[sel]
                            stat = np.concatenate([
                                (Mh.T @ Mh).ravel(),
                                Xj[sel].sum(axis=0),
                                (w[sel, None] * Mh).sum(axis=0)])
                            out_j.append(j)
                            out_c.append(int(c))
                            out_n.append(len(sel))
                            out_s.append(stat)
                    yield pd.DataFrame({"chunk": out_j, "code": out_c,
                                        "n": out_n, "stat": out_s})

            def combine(key, pdf):
                # content-sorted summation: deterministic given the
                # multiset of per-task partials
                order = sorted(range(len(pdf)),
                               key=lambda i: (int(pdf["n"].iloc[i]),
                                              tuple(pdf["stat"].iloc[i])))
                s = np.zeros(stat_width)
                n = 0
                for i in order:
                    n += int(pdf["n"].iloc[i])
                    s = s + np.asarray(pdf["stat"].iloc[i],
                                       dtype=np.float64)
                return pd.DataFrame({"chunk": [int(key[0])],
                                     "code": [int(key[1])],
                                     "n": [n], "stat": [s]})

            rows = (samp_df
                    .mapInPandas(partials,
                                 "chunk int, code int, n long, "
                                 "stat array<double>")
                    .groupBy("chunk", "code")
                    .applyInPandas(combine,
                                   "chunk int, code int, n long, "
                                   "stat array<double>")
                    .collect())
            newb = books.copy()
            for r in sorted(rows, key=lambda r: (r["chunk"], r["code"])):
                j, c, n = int(r["chunk"]), int(r["code"]), int(r["n"])
                if n == 0:
                    continue
                stat = np.asarray(r["stat"], dtype=np.float64)
                HH = stat[:dsub * dsub].reshape(dsub, dsub)
                sum_x = stat[dsub * dsub:dsub * dsub + dsub]
                sum_wh = stat[dsub * dsub + dsub:]
                A = n * np.eye(dsub) + (eta - 1.0) * HH
                rhs = sum_x + (eta - 1.0) * sum_wh
                newb[j][c] = np.linalg.solve(A, rhs)
            books = newb
    finally:
        samp_df.unpersist()
    return books


def aniso_pq_encode(corpus_df: DataFrame, books: np.ndarray,
                    eta: float = 3.0, cd_passes: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    code_col: str = "pq_codes",
                    keep_cols: tuple = (),
                    cents: dict | None = None,
                    rot: dict | None = None) -> DataFrame:
    """Distributed score-aware encoding: books broadcast once, each
    Arrow batch coordinate-descends its own rows (row-local, so the
    result is partition-layout-independent and deterministic).

    ``cents`` switches on the RESIDUAL composition: rows hold
    residuals r = x − c_p, and the per-row score-parallel direction
    is rebuilt as normalize(r + c_p) from the row's partition_id and
    the broadcast encode-time centroid snapshot — the direction the
    query's score actually reads.

    ``rot`` (round 9): rows are UNROTATED (residuals or raw); the
    kernel encodes ``(v − mean) @ Rᵀ`` with the direction rotated to
    x̂ @ Rᵀ — the exact loss transport (see ``aniso_pq_train``).
    Always pass the unrotated source with ``rot``; pre-rotating
    upstream would double-apply."""
    spark = corpus_df.sparkSession
    bc = spark.sparkContext.broadcast((books, cents, rot))
    need_pid = cents is not None and "partition_id" not in keep_cols

    def encode(batches):
        bks, cnts, rt = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            dirs = None
            if cnts is not None:
                pids_b = pdf["partition_id"].to_numpy(dtype=np.int64)
                orig = vecs + np.stack([cnts[int(p)] for p in pids_b])
                dirs = orig / np.maximum(
                    np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
            if rt is not None:
                if dirs is None:
                    dirs = vecs / np.maximum(
                        np.linalg.norm(vecs, axis=1, keepdims=True),
                        1e-12)
                vecs = (vecs - rt["mean"]) @ rt["components"].T
                dirs = dirs @ rt["components"].T
            codes = _aniso_encode_local(vecs, bks, eta,
                                        passes=cd_passes, dirs=dirs)
            out = {id_col: pdf[id_col].to_numpy(dtype=np.int64),
                   code_col: list(codes)}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy(dtype=np.int64)
            yield pd.DataFrame(out)

    keep_schema = "".join(f", {c} long" for c in keep_cols)
    extra = ("partition_id",) if need_pid else ()
    return (corpus_df.select(id_col, vec_col, *keep_cols, *extra)
            .mapInPandas(encode,
                         f"{id_col} long, {code_col} array<int>"
                         f"{keep_schema}"))


def knn_pq_mips(corpus_df: DataFrame, queries, k: int = 10,
                m: int = 8, ksub: int = 256, eta: float = 3.0,
                oversample: int = 8, seed: int = 99,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                books: np.ndarray | None = None) -> DataFrame:
    """Approximate maximum-inner-product top-k via ANISOTROPIC product
    quantization (the score-aware ladder rung above plain PQ for
    MIPS/cosine workloads):

    1. train codebooks under the anisotropic loss (driver-side bounded
       sample, codebooks broadcast-scale),
    2. encode the corpus with score-aware coordinate descent (one
       Arrow-batched pass),
    3. ADC: per-query [m, ksub] INNER-PRODUCT LUTs, every code row
       scored with m gathers on the shared top-k scan
       (``knn._scan_topk``): one merged top-(k·oversample) per query
       per task under (score desc, id asc), global window over the
       survivors,
    4. exact dot-product rerank of the candidates.

    Same plan shape as ``knn_pq`` — no full-corpus window, no
    cross join; only the scan's 8-byte codes and the candidate ids
    move. With a corpus-scaled oversample the rerank is empirically
    exact (brute-force ``dot_topk`` is the oracle). Pass ``books``
    from a prior ``aniso_pq_train`` (with the SAME eta — assignment
    and training share the loss) to amortize training across query
    batches."""
    from quake_vector_search_spark.operators.knn import (
        _collect_queries, _empty_result, _scan_topk)

    spark = corpus_df.sparkSession
    qids, qmat = _collect_queries(queries, "query_id", vec_col)
    if len(qids) == 0:
        return _empty_result(spark, "score")
    if books is None:
        books = aniso_pq_train(corpus_df, m=m, ksub=ksub, eta=eta,
                               seed=seed, vec_col=vec_col)
    enc = aniso_pq_encode(corpus_df, books, eta=eta, id_col=id_col,
                          vec_col=vec_col)
    dsub = books.shape[2]
    luts = np.stack([qmat[:, j * dsub:(j + 1) * dsub] @ books[j].T
                     for j in range(books.shape[0])])   # [m, nq, ksub]
    cand = (_scan_topk(enc.select(id_col, "pq_codes"), qids, _adc_kernel,
                       luts, k * oversample, id_col=id_col,
                       score_col="score", descending=True)
            .select("query_id", id_col))
    # exact MIPS rerank over the candidate-bounded set
    from pyspark.sql import Window

    from quake_vector_search_spark.functions.vector import dot_col
    full = corpus_df.select(F.col(id_col), F.col(vec_col).alias("_fv"))
    qdf = spark.createDataFrame(pd.DataFrame({
        "query_id": np.asarray(qids, dtype=np.int64),
        "embedding": [list(map(float, v)) for v in qmat]}))
    qv = qdf.select("query_id",
                    F.col("embedding").cast("array<double>")
                    .alias("_qv"))
    rer = (cand.join(full, id_col)
           .join(F.broadcast(qv), "query_id")
           .withColumn("score", dot_col("_fv", "_qv")))
    w2 = (Window.partitionBy("query_id")
          .orderBy(F.col("score").desc(), F.col(id_col).asc()))
    return (rer.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))
